"""M2 — extraction operators (SURVEY.md §2.2 E1/E3/E5/E6/E7).

One vectorized pandas/Arrow UDF wraps the deterministic rule module
(:mod:`graphiti_spark.rules`) — the Spark-side stand-in for the
reference's LLM prompt programs ``extract_nodes``
(``utils/maintenance/node_operations.py:69-175``) and ``extract_edges`` +
edge-date resolution (``utils/maintenance/edge_operations.py:110-244`` +
``temporal_operations.py:33-69``). :func:`extract_combined` scans each
episode's content once and returns its mentions and triples together;
:func:`mentions_from_combined` and :func:`edges_from_combined` ``explode``
them into the mention and raw-edge tables. A custom ontology (E6) binds
into the same UDF, so every rule set takes the same single-scan path.
:func:`embed_udf` ≙ the embedder client (``embedder/client.py:29-37``).

Entity/edge uuids are pure functions of content (sha1), computed JVM-side,
so downstream joins need no driver-side uuid_map dict — the reference's
``uuid_map`` (``bulk_utils.py:420-427``) becomes a column expression + one
canonicalization join.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphiti_spark import rules
from graphiti_spark.functions import text as tx
from graphiti_spark.operators.episodes import stable_id_cols
from graphiti_spark.schema import MENTION, TRIPLE

EMBED_DIM = tx.EMBED_DIM


# mentions + triples from one scan of the content
COMBINED = T.StructType([
    T.StructField("mentions", T.ArrayType(MENTION), False),
    T.StructField("triples", T.ArrayType(TRIPLE), False),
])


def _extract_udf(ontology):
    """The extraction UDF bound to ``ontology`` (None = the built-in
    rules). The ontology object (compiled regexes included) pickles into
    the UDF closure and ships to executors once per stage.

    ``prev_context``: array<string> of previous-episode contents (the
    reference's ``previous_episodes`` window) — empty/null for the
    pronoun-free hot path; rules.extract_all consumes it lazily, only
    when a coref pronoun actually needs a cross-episode antecedent."""
    @F.pandas_udf(COMBINED)
    def _udf(content: pd.Series, ts: pd.Series, source: pd.Series,
             prev_context: pd.Series) -> pd.DataFrame:
        mentions, triples = [], []
        for c, t, s, pc in zip(content, ts, source, prev_context):
            t_aware = (None if pd.isna(t)
                       else pd.Timestamp(t).tz_localize("UTC"))
            ms, rows = rules.extract_all(
                c or "", t_aware, s or rules.SOURCE_MESSAGE, ontology,
                prev_context=None if pc is None or len(pc) == 0
                else list(pc))
            mentions.append(ms)
            triples.append([
                {**r, "valid_at": _naive_utc(r["valid_at"]),
                 "invalid_at": _naive_utc(r["invalid_at"])}
                for r in rows])
        return pd.DataFrame({"mentions": mentions, "triples": triples})
    return _udf


def _naive_utc(dt) -> datetime | None:
    if dt is None or (isinstance(dt, float) and pd.isna(dt)):
        return None
    t = pd.Timestamp(dt)
    if t.tzinfo is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return t.to_pydatetime()


@F.pandas_udf(T.ArrayType(T.FloatType()))
def embed_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda s: tx.embed_text(s or "").tolist())


def norm_name_col(col):
    """JVM-side rules.normalize_name: lower, trim, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def _prev_ctx_col(episodes: DataFrame):
    """prev_context column if the episodes carry one (assemble_episodes,
    hydrate_context), else an empty array so the UDF signature stays
    uniform (null → no cross-episode seeding)."""
    if "prev_context" in episodes.columns:
        return F.col("prev_context")
    # non-foldable empty array (see assemble_episodes: the F.array()
    # literal as a UDF arg under Generate trips a Catalyst pruning bug)
    return F.slice(F.array(F.col("content")), 1, 0)


def extract_combined(episodes: DataFrame, ontology=None) -> DataFrame:
    """One UDF pass per episode → (episode meta, mentions[], triples[]).
    The pipeline persists THIS and derives both the mentions and raw-edge
    tables from it, so content is scanned by Python exactly once.
    ``ontology`` (E6) swaps in a custom rule set."""
    udf = _extract_udf(ontology)
    return (episodes
            .select("group_id", F.col("uuid").alias("episode_uuid"),
                    "turn_idx", "valid_at",
                    udf(F.col("content"), F.col("valid_at"), F.col("source"),
                        _prev_ctx_col(episodes)).alias("x")))


def mentions_from_combined(combined: DataFrame) -> DataFrame:
    """→ exploded mentions (group_id, episode_uuid, turn_idx, name,
    name_norm, entity_type_id, entity_uuid). One row per distinct
    mention per episode."""
    return (combined
            .select("group_id", "episode_uuid", "turn_idx",
                    F.explode("x.mentions").alias("m"))
            .select("group_id", "episode_uuid", "turn_idx",
                    F.col("m.name").alias("name"),
                    norm_name_col(F.col("m.name")).alias("name_norm"),
                    F.col("m.entity_type_id").alias("entity_type_id"))
            .withColumn("entity_uuid",
                        stable_id_cols(F.lit("entity"), F.col("group_id"),
                                       F.col("name_norm"))))


def edges_from_combined(combined: DataFrame, run_ts) -> DataFrame:
    """→ raw (pre-canonicalization) entity edges.

    Endpoint uuids are computed directly (sha1 of normalized surface form),
    matching the mention-side ids — the reference's resolve-by-index join
    (``edge_operations.py:182-209``) collapses into column expressions.
    Negation rows ("no longer ...") carry invalid_at and a null valid_at.
    """
    subj_norm = norm_name_col(F.col("subj"))
    obj_norm = norm_name_col(F.col("obj"))
    return (
        combined
        .select("group_id", "episode_uuid", "turn_idx",
                F.explode("x.triples").alias("t"))
        .select("group_id", "episode_uuid", "turn_idx",
                "t.subj", "t.pred", "t.obj", "t.fact",
                F.col("t.valid_at").alias("valid_at"),
                F.col("t.invalid_at").alias("invalid_at"),
                F.col("t.attributes").alias("attributes"))
        .withColumn("source_node_uuid",
                    stable_id_cols(F.lit("entity"), F.col("group_id"), subj_norm))
        .withColumn("target_node_uuid",
                    stable_id_cols(F.lit("entity"), F.col("group_id"), obj_norm))
        .where(F.col("source_node_uuid") != F.col("target_node_uuid"))
        .withColumn("uuid",
                    stable_id_cols(F.lit("edge"), F.col("group_id"),
                                   F.col("source_node_uuid"), F.col("pred"),
                                   F.col("target_node_uuid"),
                                   norm_name_col(F.col("fact")),
                                   F.col("turn_idx").cast("string")))
        .withColumn("created_at", F.lit(run_ts).cast("timestamp"))
    )


def extract_mentions(episodes: DataFrame, ontology=None) -> DataFrame:
    """episodes → exploded mentions (see :func:`mentions_from_combined`)."""
    return mentions_from_combined(extract_combined(episodes, ontology))


def extract_edges(episodes: DataFrame, run_ts: datetime,
                  ontology=None) -> DataFrame:
    """episodes → raw entity edges (see :func:`edges_from_combined`)."""
    return edges_from_combined(extract_combined(episodes, ontology), run_ts)


def raw_entities(mentions: DataFrame, run_ts: datetime) -> DataFrame:
    """Distinct pre-dedup entities per group, with deterministic tie-breaks:
    surface form / type = those of the first mention (min turn_idx)."""
    first = F.min(F.struct("turn_idx", "name", "entity_type_id")).alias("f")
    return (
        mentions
        .groupBy("group_id", "entity_uuid", "name_norm")
        .agg(first,
             F.min("turn_idx").alias("first_turn"))
        .select(
            F.col("entity_uuid").alias("uuid"),
            F.col("f.name").alias("name"),
            "group_id",
            F.array(F.col("f.entity_type_id")).alias("labels"),
            F.lit(run_ts).cast("timestamp").alias("created_at"),
            "name_norm",
            "first_turn",
        )
        # No embedding here: dedup verifies JVM-side (token cosine), so the
        # pipeline embeds only canonical entities, once, at the final stage.
    )
