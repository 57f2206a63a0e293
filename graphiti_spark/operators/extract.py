"""M2 — the build's extraction kernel (SURVEY.md §2.2 E1/E3/E5/E6/E7).

One ``mapInPandas`` over episodes clustered by ``group_id`` and sorted by
``turn_idx`` runs, per conversation, everything before versioning: the
previous-turn context, the deterministic rule module
(:mod:`graphiti_spark.rules` — the Spark-side stand-in for the
reference's LLM prompt programs ``extract_nodes``,
``utils/maintenance/node_operations.py:69-175``, and ``extract_edges`` +
edge-date resolution, ``utils/maintenance/edge_operations.py:110-244`` +
``temporal_operations.py:33-69``) and the in-group union-find of entity
canonicalization (:func:`graphiti_spark.operators.dedup.canonical_uuids`).
:func:`extract_combined` emits one flat row per mention and per triple;
:func:`mentions_from_combined`, :func:`edges_from_combined` and
:func:`raw_entities` are projections of it. A custom ontology (E6) binds
into the same kernel. :func:`embed_udf` ≙ the embedder client
(``embedder/client.py:29-37``).

Entity/edge uuids are pure functions of content (sha1). The kernel
computes them in Python with the exact twins of the JVM expressions
(:func:`norm_name`, :func:`graphiti_spark.operators.episodes.
stable_id_cols`), so the reference's ``uuid_map`` remap
(``bulk_utils.py:420-427``) happens inside the kernel: mentions carry
their ``canonical_uuid`` and triples their canonical endpoints.
"""

from __future__ import annotations

import functools
import re
from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphiti_spark import rules
from graphiti_spark.functions import text as tx
from graphiti_spark.operators import dedup
from graphiti_spark.operators.episodes import _context

_S, _TS = T.StringType(), T.TimestampType()
# (name, type) of the kernel's output after (group_id, episode_uuid,
# turn_idx). A mention row fills the first block and a triple row the
# second; the other block is NULL.
MENTION_FIELDS = [("name", _S), ("name_norm", _S), ("entity_type_id", _S),
                  ("entity_uuid", _S), ("canonical_uuid", _S),
                  # the entity's first mention in its group: min
                  # (turn_idx, name, entity_type_id)
                  ("first_mention", T.BooleanType())]
TRIPLE_FIELDS = [("subj", _S), ("pred", _S), ("obj", _S), ("fact", _S),
                 ("valid_at", _TS), ("invalid_at", _TS),
                 ("attributes", T.MapType(_S, _S)),
                 # uuid from the raw endpoints, endpoints canonical
                 ("uuid", _S), ("source_node_uuid", _S),
                 ("target_node_uuid", _S)]
_NO_MENTION = (None,) * len(MENTION_FIELDS)
_NO_TRIPLE = (None,) * len(TRIPLE_FIELDS)


def kernel_schema(turn_type: T.DataType = T.IntegerType()) -> T.StructType:
    """Output schema of :func:`extract_combined`; ``turn_idx`` keeps the
    input's type."""
    fields = ([("group_id", _S), ("episode_uuid", _S), ("turn_idx", turn_type)]
              + MENTION_FIELDS + TRIPLE_FIELDS)
    return T.StructType([T.StructField(n, t) for n, t in fields])


_JVM_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def norm_name(name: str) -> str:
    """Python twin of :func:`norm_name_col`: Spark's ``trim`` strips only
    spaces and Java's ``\\s`` is ASCII whitespace, unlike
    :func:`graphiti_spark.rules.normalize_name`."""
    return _JVM_SPACE.sub(" ", name.strip(" ").lower())


def _sid(*parts) -> str:
    """Python twin of ``stable_id_cols``: ``concat_ws`` skips NULLs."""
    return rules.stable_id(*(p for p in parts if p is not None))


def extract_group(group_id, turns: list, episode_uuids: list,
                  contents: list, valid_ats: list, sources: list,
                  ontology=None) -> list[list]:
    """The kernel for ONE conversation, rows sorted by ``turn_idx``: the
    columns of :func:`kernel_schema` as lists.

    Each episode is extracted by :func:`rules.extract_all` with its
    previous-turn context (:func:`episodes._context
    <graphiti_spark.operators.episodes._context>`); the group's distinct
    mentioned entities are then canonicalized by the shared in-group
    union-find (:func:`dedup.canonical_uuids`). A triple whose canonical
    endpoints coincide is dropped (``edge_operations.py:73-74``); an
    endpoint no mention names keeps its own uuid."""
    turns = [None if pd.isna(t) else int(t) for t in turns]
    found = []
    for i, (c, ts, src) in enumerate(zip(contents, valid_ats, sources)):
        t_aware = None if pd.isna(ts) else pd.Timestamp(ts).tz_localize("UTC")
        found.append(rules.extract_all(
            c or "", t_aware, src or rules.SOURCE_MESSAGE, ontology,
            prev_context=_context(turns, contents, i) or None))

    # entity uuid -> (first-mention sort key, mention row index)
    first: dict[str, tuple] = {}
    mentions = []
    for t, ep, (ms, _) in zip(turns, episode_uuids, found):
        for m in ms:
            nn = norm_name(m["name"])
            u = _sid("entity", group_id, nn)
            key = (t is not None, t or 0, m["name"], m["entity_type_id"])
            if u not in first or key < first[u][0]:
                first[u] = (key, len(mentions))
            mentions.append((ep, t, m["name"], nn, m["entity_type_id"], u))
    uuids = sorted(first)
    names = [mentions[first[u][1]][3] for u in uuids]
    canon = dict(zip(uuids, dedup.canonical_uuids(uuids, names)))
    firsts = {i for _, i in first.values()}

    rows = [(group_id, ep, t, name, nn, typ, u, canon[u], k in firsts)
            + _NO_TRIPLE
            for k, (ep, t, name, nn, typ, u) in enumerate(mentions)]
    for t, ep, (_, triples) in zip(turns, episode_uuids, found):
        for r in triples:
            src = _sid("entity", group_id, norm_name(r["subj"]))
            dst = _sid("entity", group_id, norm_name(r["obj"]))
            c_src, c_dst = canon.get(src, src), canon.get(dst, dst)
            if c_src == c_dst:
                continue
            uuid = _sid("edge", group_id, src, r["pred"], dst,
                        norm_name(r["fact"]), None if t is None else str(t))
            rows.append((group_id, ep, t) + _NO_MENTION + (
                r["subj"], r["pred"], r["obj"], r["fact"],
                _naive_utc(r["valid_at"]), _naive_utc(r["invalid_at"]),
                r.get("attributes"), uuid, c_src, c_dst))
    if not rows:
        return [[] for _ in range(3 + len(MENTION_FIELDS)
                                  + len(TRIPLE_FIELDS))]
    return [list(col) for col in zip(*rows)]


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


def extract_combined(episodes: DataFrame, ontology=None) -> DataFrame:
    """The build kernel: ONE ``mapInPandas`` over ``episodes`` clustered by
    ``group_id`` and sorted by ``turn_idx`` (the build clusters its
    transcripts that way already, so Spark plans the clustering away),
    running :func:`extract_group` once per conversation. The output is
    flat: one row per mention and one per kept triple
    (:func:`kernel_schema`). The pipeline persists THIS and projects the
    mention, raw-edge, raw-entity and uuid-map tables from it, so content
    is scanned by Python exactly once and no join remaps endpoints.
    ``ontology`` (E6) swaps in a custom rule set."""
    rows = episodes.select("group_id", "turn_idx",
                           F.col("uuid").alias("episode_uuid"),
                           "content", "valid_at", "source")
    return dedup.map_groups(
        rows, functools.partial(extract_group, ontology=ontology),
        kernel_schema(episodes.schema["turn_idx"].dataType))


def mentions_from_combined(combined: DataFrame) -> DataFrame:
    """→ mentions (group_id, episode_uuid, turn_idx, name, name_norm,
    entity_type_id, entity_uuid, canonical_uuid, first_mention). One row
    per distinct mention per episode."""
    return (combined.where(F.col("entity_uuid").isNotNull())
            .select("group_id", "episode_uuid", "turn_idx",
                    *(n for n, _ in MENTION_FIELDS)))


def edges_from_combined(combined: DataFrame, run_ts) -> DataFrame:
    """→ raw entity edges with canonical endpoints, before dedup and
    versioning. Negation rows ("no longer ...") carry invalid_at and a
    null valid_at."""
    return (combined.where(F.col("uuid").isNotNull())
            .select("group_id", "episode_uuid", "turn_idx", "subj", "pred",
                    "obj", "fact", "valid_at", "invalid_at", "attributes",
                    "source_node_uuid", "target_node_uuid", "uuid",
                    F.lit(run_ts).cast("timestamp").alias("created_at")))


def extract_mentions(episodes: DataFrame, ontology=None) -> DataFrame:
    """episodes → mentions (see :func:`mentions_from_combined`)."""
    return mentions_from_combined(extract_combined(episodes, ontology))


def extract_edges(episodes: DataFrame, run_ts: datetime,
                  ontology=None) -> DataFrame:
    """episodes → raw entity edges (see :func:`edges_from_combined`)."""
    return edges_from_combined(extract_combined(episodes, ontology), run_ts)


def raw_entities(mentions: DataFrame, run_ts: datetime) -> DataFrame:
    """Distinct pre-dedup entities per group with their kernel-solved
    ``canonical_uuid``: the row of each entity's first mention (min
    turn_idx, then name and type) gives surface form, type and
    ``first_turn``."""
    return mentions.where(F.col("first_mention")).select(
        F.col("entity_uuid").alias("uuid"), "name", "group_id",
        F.array("entity_type_id").alias("labels"),
        F.lit(run_ts).cast("timestamp").alias("created_at"),
        "name_norm", F.col("turn_idx").alias("first_turn"),
        "canonical_uuid")
