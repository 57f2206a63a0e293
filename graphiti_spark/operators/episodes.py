"""M1 — episode assembly (SURVEY.md §2.1 S1-S3).

transcripts(conv_id, turn_idx, role, text, tool, ts) → episodes DataFrame.

Reference semantics reproduced:
  * content = ``role || ': ' || text`` — the message episode format
    (``prompts/extract_nodes.py:96``; eval harness
    ``tests/evals/eval_e2e_graph_building.py:53``). This is the per-row
    invariant: per-turn text equality under stable (conv_id, turn_idx) order.
  * previous-episode context = prior ``EPISODE_WINDOW_LEN = 3`` turns
    (``utils/maintenance/graph_data_operations.py:28,84-135``). The build
    reads it inside its extraction kernel from the conversation's
    turn-sorted rows (:func:`graphiti_spark.operators.extract.
    extract_combined`); :func:`hydrate_context` is the same window as a
    Spark join, kept for callers outside the build.
  * ``valid_at`` = turn ts (document time), ``created_at`` = fixed run_ts
    (ingestion time) — the bi-temporal split (``nodes.py:151-153``).

Everything is JVM-side column expressions (whole-stage codegen; no Python).
"""

from __future__ import annotations

import re
from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EPISODE_WINDOW_LEN = 3  # graph_data_operations.py:28

SEP = "\x1f"


def stable_id_cols(*cols):
    """JVM-side equivalent of rules.stable_id: sha1 of 0x1f-joined parts,
    first 32 hex chars. Keeps id generation in codegen (no UDF)."""
    return F.substring(F.sha1(F.concat_ws(SEP, *cols)), 1, 32)


def assemble_episodes(transcripts: DataFrame, run_ts: datetime) -> DataFrame:
    """transcripts → one episode row per turn.

    ``prev_context`` starts empty: the build's extraction kernel reads
    the previous turns from the sorted rows itself, and
    :func:`hydrate_context` fills the column for other callers. Context
    retrieval for the read path is :func:`retrieve_episodes`.
    """
    # EpisodeType routing (``nodes.py:45-70``): an optional `source` column
    # on the transcripts selects the episode kind per row; 'message'
    # content is "role: text", 'text'/'json' pass the payload through
    # verbatim (the reference formats only message episodes,
    # ``bulk_utils.py:57-63`` RawEpisode.content is raw otherwise).
    if "source" in transcripts.columns:
        source = F.coalesce(F.col("source"), F.lit("message"))
    else:
        source = F.lit("message")
    msg_content = F.concat_ws(": ", F.col("role"),
                              F.coalesce(F.col("text"), F.lit("")))
    content = F.when(source == "message", msg_content) \
               .otherwise(F.coalesce(F.col("text"), F.lit("")))
    # The empty context is deliberately NON-foldable (an empty slice of
    # a content-dependent array, not the F.array() literal): a foldable
    # empty-array argument to a pandas UDF under a Generate trips a
    # Catalyst INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in column pruning on
    # Spark 4.1 (BindReferences: "Could not find turn_idx in
    # [group_id, m]").
    prev_ctx = F.slice(F.array(F.col("content")), 1, 0)
    return (
        transcripts
        .withColumn("_source", source)
        .withColumn("content", content)
        .withColumn("prev_context", prev_ctx)
        .select(
            stable_id_cols(F.lit("episode"), F.col("conv_id"),
                           F.col("turn_idx").cast("string")).alias("uuid"),
            F.concat_ws("-", F.col("conv_id"),
                        F.col("turn_idx").cast("string")).alias("name"),
            F.col("conv_id").alias("group_id"),
            F.col("_source").alias("source"),
            F.coalesce(F.col("tool"), F.lit("")).alias("source_description"),
            F.col("content"),
            F.col("ts").alias("valid_at"),
            F.lit(run_ts).cast("timestamp").alias("created_at"),
            F.col("turn_idx"),
            F.col("prev_context"),
        )
    )


#: JVM-side superset of "this episode might consume a cross-episode
#: antecedent". The UDF's lazy seeding decides whether the context is
#: actually used; this predicate only decides whether it is WORTH
#: SHIPPING — a false positive costs a few prev-turn strings in one
#: Arrow batch, a false negative would silently drop a resolvable
#: coreference. So the pattern is a deliberately loose word-boundary
#: superset of every consumable shape in rules.extract_all: a
#: capitalized _COREF_PRONOUNS form in EITHER template slot (She/He/
#: They/Her/Him/Them — _NAME accepts any capitalized token, so object
#: slots consume too), a lowercase object-pronoun tail (her/him/them —
#: clause splitting can leave the tail mid-content, so no punctuation
#: anchor), and the _ELLIPSIS "does too" form, which seeds its VP the
#: same lazy way. Anchored variants (": She ", " her.") were measured
#: to miss punctuation-less and newline-split shapes the rules resolve
#: — tests/test_rules.py::test_trigger_is_superset_of_consumable holds
#: the superset property against randomized compositions. The same
#: string drives the Spark rlike (Java regex) and the Python twin
#: below; it uses only the dialect-shared subset (\b, alternation).
COREF_TRIGGER_PATTERN = \
    r"\b(?:She|He|They|Her|Him|Them|her|him|them|does too)\b"

#: Python twin of the JVM trigger, for tests and pure-Python callers:
#: True if rules.extract_all COULD consume prev_context for `content`.
might_consume_context = re.compile(COREF_TRIGGER_PATTERN).search


def _coref_trigger():
    # built lazily: Column construction needs an active SparkContext.
    # coalesce(false): pipeline-assembled content is never null
    # (concat_ws), but hydrate_context splits the corpus on BOTH this
    # predicate and its negation — a null rlike would drop the row from
    # both branches for any caller that hands in raw episodes.
    return F.coalesce(F.col("content").rlike(COREF_TRIGGER_PATTERN),
                      F.lit(False))


def hydrate_context(episodes: DataFrame,
                    window_len: int = EPISODE_WINDOW_LEN) -> DataFrame:
    """Attach ``prev_context`` (previous ``window_len`` turns, the
    reference's ``previous_episodes`` window,
    ``graph_data_operations.py:28,84-135``) to the episodes that might
    need it — WITHOUT a full-corpus window shuffle. The build does not
    call it: its extraction kernel reads the same window from the
    conversation's turn-sorted rows in the task that extracts.

    The scale design: a per-row window over (conv_id, turn_idx) would
    shuffle and sort the whole transcript corpus and triple the bytes
    every downstream stage carries, to serve a feature only
    pronoun-bearing episodes consume. Instead the corpus splits on the
    cheap JVM-side trigger predicate: the UNTRIGGERED branch is a pure
    filter over the (persisted) episodes stage — no join, no shuffle,
    the exact pre-hydration plan — and only the TRIGGERED branch (size
    proportional to pronoun density) is ranged-self-joined back to the
    corpus for its previous turns, then unioned back in. On a
    pronoun-free corpus the triggered branch is empty, so hydration
    costs one extra filter scan and nothing else (an earlier draft
    left-joined the ctx onto the FULL episodes table, which forced a
    full-corpus shuffle even at zero hits — measured +55% on the warm
    sf0.1 pipeline, 10.5 → 16.3 s best-of-4). Correctness does not
    depend on the trigger (it is a strict superset of what
    rules.extract_all can consume); only cost does. Downstream stages
    are row-order-insensitive (deterministic content-derived ids), so
    the union's ordering is safe.
    """
    if "prev_context" not in episodes.columns:
        # non-foldable empty array — see assemble_episodes
        episodes = episodes.withColumn(
            "prev_context", F.slice(F.array(F.col("content")), 1, 0))
    out_cols = episodes.columns
    trig_rows = episodes.where(_coref_trigger())
    rest_rows = episodes.where(~_coref_trigger())
    prev = episodes.select(F.col("group_id").alias("p_gid"),
                           F.col("turn_idx").alias("p_idx"),
                           F.col("content").alias("p_content"))
    ctx = (trig_rows.select(F.col("uuid").alias("t_uuid"),
                            F.col("group_id").alias("t_gid"),
                            F.col("turn_idx").alias("t_idx"))
           .join(prev, (F.col("t_gid") == F.col("p_gid"))
                 & (F.col("p_idx") >= F.col("t_idx") - window_len)
                 & (F.col("p_idx") < F.col("t_idx")))
           .groupBy("t_uuid")
           .agg(F.array_sort(F.collect_list(
               F.struct("p_idx", "p_content"))).alias("s"))
           .select(F.col("t_uuid").alias("uuid"),
                   F.col("s.p_content").alias("_hydrated")))
    hydrated = (trig_rows.join(ctx, "uuid", "left")
                .withColumn("prev_context",
                            F.coalesce(F.col("_hydrated"),
                                       F.col("prev_context")))
                .select(*out_cols))
    return rest_rows.select(*out_cols).unionByName(hydrated)


def retrieve_episodes(episodes: DataFrame, reference_time, last_n: int = 10,
                      group_ids: list[str] | None = None) -> DataFrame:
    """S3 — last-n episodes with valid_at <= reference_time per group,
    returned chronologically (``graph_data_operations.py:84-135``)."""
    df = episodes.where(F.col("valid_at") <= F.lit(reference_time))
    if group_ids:
        df = df.where(F.col("group_id").isin(group_ids))
    w = Window.partitionBy("group_id").orderBy(F.col("valid_at").desc(),
                                               F.col("turn_idx").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= last_n).drop("_rn")
              .orderBy("group_id", "valid_at", "turn_idx"))
