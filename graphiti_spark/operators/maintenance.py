"""Graph-maintenance API surface (SURVEY.md §2.1 S6-S8, §2.3 J7, §2.9 Q11,
§2.10 incremental semantics).

Point lookups, pagination, traversal semi-joins, manual triplets, and the
touched-group replace that every incremental write goes through
(:func:`replace_groups`: the reference's ``add_episode`` semantics,
``graphiti.py:352-551``, re-expressed as a rebuild of the groups a write
touches — SURVEY §2.10).

:func:`stored_edges_to_raw` re-slices stored edges back to raw rows so a
group's edges can re-enter ``dedupe_edges`` + ``apply_versioning``
together with new rows — the re-merge behind :func:`add_triplet` and
:func:`replace_groups`. Exactness of the re-slice: a stored positive
edge re-enters the merge with its resolved ``invalid_at`` treated as
explicit. That is still exact, because every fresh T1 candidate (lead
over the superset slice, negation min) is ``<=`` the previously resolved
value — the successor that produced the old value is still in the slice
— and ``least()`` therefore lands on the full-rebuild answer. Ordering
ties are exact too: the stored row carries the winning raw row's
``(t, turn_idx, uuid)`` ordering key (``versioning.dedupe_edges`` keeps
``turn_idx``).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# -- S7: point lookups + cursor pagination ----------------------------------

def get_by_uuids(df: DataFrame, uuids: list[str]) -> DataFrame:
    """``get_by_uuid(s)`` (nodes.py:177-262): partition-prunable IN filter."""
    return df.where(F.col("uuid").isin(uuids))


def get_by_group_ids(df: DataFrame, group_ids: list[str],
                     limit: int | None = None,
                     uuid_cursor: str | None = None) -> DataFrame:
    """``get_by_group_ids`` with uuid-cursor pagination
    (nodes.py:221-237): uuid < cursor, ORDER BY uuid DESC LIMIT n."""
    out = df.where(F.col("group_id").isin(group_ids))
    if uuid_cursor is not None:
        out = out.where(F.col("uuid") < uuid_cursor)
    out = out.orderBy(F.col("uuid").desc())
    return out.limit(limit) if limit else out


def get_edges_by_node(edges: DataFrame, node_uuid: str) -> DataFrame:
    """S8 ``get_by_node_uuid`` (edges.py:327-341): undirected endpoint
    match."""
    return edges.where((F.col("source_node_uuid") == node_uuid)
                       | (F.col("target_node_uuid") == node_uuid))


# -- J7: traversal semi-joins -----------------------------------------------

def get_mentioned_nodes(episodic_edges: DataFrame, entities: DataFrame,
                        episode_uuids: list[str]) -> DataFrame:
    """Entities mentioned by the given episodes
    (``search_utils.py:85-103``)."""
    mentions = (episodic_edges
                .where(F.col("source_node_uuid").isin(episode_uuids))
                .select(F.col("target_node_uuid").alias("uuid")))
    return entities.join(mentions, "uuid", "left_semi")


def get_episodes_by_mentions(episodic_edges: DataFrame, episodes: DataFrame,
                             entity_uuids: list[str]) -> DataFrame:
    """Episodes mentioning the given entities (``search_utils.py:106-121``)."""
    eps = (episodic_edges
           .where(F.col("target_node_uuid").isin(entity_uuids))
           .select(F.col("source_node_uuid").alias("uuid")))
    return episodes.join(eps, "uuid", "left_semi")


def get_nodes_and_edges_by_episode(episodic_edges: DataFrame,
                                   entities: DataFrame, edges: DataFrame,
                                   episode_uuids: list[str]
                                   ) -> tuple[DataFrame, DataFrame]:
    """``graphiti.py:965-977``: the (nodes, edges) bundle for a list of
    episodes — entities mentioned by them plus the entity edges whose
    provenance (``episodes`` array) references any of them. The uuid list
    is a literal (API argument), so both filters are scan predicates —
    one flat arrays_overlap against an array literal for the provenance
    (not an O(n)-deep OR chain: wide boolean trees cost Catalyst analysis
    time per action), no explode/shuffle."""
    nodes = get_mentioned_nodes(episodic_edges, entities, episode_uuids)
    if episode_uuids:
        prov = F.arrays_overlap(F.col("episodes"),
                                F.lit([str(u) for u in episode_uuids]))
    else:
        prov = F.lit(False)
    return nodes, edges.where(prov)


# -- S6: deletion by group --------------------------------------------------

def clear_groups(df: DataFrame, group_ids: list[str]) -> DataFrame:
    """S6 ``clear_data`` by group (graph_data_operations.py:66-81) — at the
    table layer this is a partition drop; at the DataFrame layer an
    anti-filter."""
    return df.where(~F.col("group_id").isin(group_ids))


# -- Q11: add_triplet --------------------------------------------------------

def stored_edges_to_raw(edges: DataFrame) -> DataFrame:
    """Inverse of the ``dedupe_edges`` merge, for re-slicing: explode the
    ``episodes`` array back to per-episode rows carrying the winner's
    ``(t, turn_idx, uuid)`` ordering key and payload. Resolved
    ``invalid_at`` re-enters as explicit — exact per the module
    docstring's least() argument."""
    return edges.select(
        "group_id", "source_node_uuid", "target_node_uuid",
        F.col("name").alias("pred"),
        "subj", "obj", "fact", "uuid", "attributes",
        "valid_at", "invalid_at", "created_at", "turn_idx",
        # explode_OUTER: a manual triplet (api.add_triplet) has an EMPTY
        # episodes array — plain explode would silently drop it from the
        # re-slice and the re-merge would delete the edge; the outer row
        # carries a NULL episode_uuid, which collect_list skips on the
        # way back, preserving the empty provenance exactly
        F.explode_outer("episodes").alias("episode_uuid"))


def utc_naive(ts: datetime) -> datetime:
    """Naive UTC wall-clock time of ``ts`` (the tables' timestamp form):
    an aware datetime is converted to UTC, not stripped of its offset."""
    if ts.tzinfo is None:
        return ts
    return ts.astimezone(timezone.utc).replace(tzinfo=None)


def remerge_edges(edges: DataFrame | None, raw: DataFrame, run_ts: datetime,
                  ontology=None) -> DataFrame:
    """Resolve extra ``raw`` edge rows against a group's stored ``edges``:
    the stored rows are re-sliced to raw (:func:`stored_edges_to_raw`) and
    everything re-runs ``dedupe_edges`` + ``apply_versioning``. Exact: a
    stored edge re-enters with its resolved ``invalid_at`` as explicit,
    and every added row can only lower it (``least()``). The versioning
    stage emits embedding-less rows, so ``fact_embedding`` is re-derived
    when the stored edges carry one."""
    from graphiti_spark.operators import versioning

    if edges is not None:
        raw = stored_edges_to_raw(edges).unionByName(
            raw, allowMissingColumns=True)
    out = versioning.apply_versioning(versioning.dedupe_edges(raw), run_ts,
                                      ontology=ontology)
    if edges is not None and "fact_embedding" in edges.columns:
        from graphiti_spark.operators.extract import embed_udf
        out = out.withColumn("fact_embedding", embed_udf(F.col("fact")))
    return out


def add_triplet(spark, group_id: str, subj: str, pred: str, obj: str,
                fact: str, run_ts: datetime, valid_at=None) -> DataFrame:
    """Manual triple insert (graphiti.py:979-1017): the edge row is built
    DIRECTLY from (subj, pred, obj, fact) — the reference's add_triplet
    accepts arbitrary triples, so this must not depend on the extraction
    templates matching the fact text — then merged through the same
    dedupe + temporal-versioning stages as extracted edges.

    The edge has NULL episode provenance (an empty ``episodes`` array): a
    manual triplet is created by no episode, which is how
    :func:`replace_groups` tells it apart from extracted edges. Resolving
    it against a populated group is ``replace_groups`` with this edge as
    the manual state."""
    from graphiti_spark import rules

    subj_c, obj_c = rules.clean_text(subj), rules.clean_text(obj)
    if not subj_c or not obj_c or \
            rules.normalize_name(subj_c) == rules.normalize_name(obj_c):
        raise ValueError("add_triplet needs two distinct non-empty entities")
    src = rules.entity_uuid(group_id, subj_c)
    dst = rules.entity_uuid(group_id, obj_c)
    raw = spark.createDataFrame(
        [(group_id, None, 0,
          subj_c, pred, obj_c, rules.clean_text(fact) or fact,
          utc_naive(valid_at or run_ts), None, src, dst,
          rules.edge_uuid(group_id, src, pred, dst, fact, 0),
          utc_naive(run_ts))],
        "group_id string, episode_uuid string, turn_idx int, subj string,"
        " pred string, obj string, fact string, valid_at timestamp,"
        " invalid_at timestamp, source_node_uuid string,"
        " target_node_uuid string, uuid string, created_at timestamp")
    return remerge_edges(None, raw, run_ts)


# -- §2.10: the touched-group replace ----------------------------------------

TURN_KEY = ["conv_id", "turn_idx"]


def merge_turns(old: DataFrame | None, batch: DataFrame) -> DataFrame:
    """The stored transcripts after a write of ``batch``: a re-supplied
    ``(conv_id, turn_idx)`` takes the batch's row, every other old turn
    is kept. The old turns are anti-joined on the batch's keys first,
    because ``dropDuplicates`` over old ∪ batch would keep an arbitrary
    shuffle winner. Raises ``ValueError`` on a NULL ``conv_id`` or
    ``turn_idx`` (such a turn never matches the key joins, so it could
    be neither replaced nor rebuilt) and on a key the batch repeats
    (which of its rows is the turn is undefined). Both checks are one
    Spark job: over one coalesced partition the key aggregate needs no
    exchange, which adaptive execution would run as a job of its own."""
    bad = (batch.select(*TURN_KEY).coalesce(1).groupBy(*TURN_KEY).count()
           .where(F.col("conv_id").isNull() | F.col("turn_idx").isNull()
                  | (F.col("count") > 1))
           .limit(1).collect())
    if bad:
        conv_id, turn_idx, n = bad[0]
        if conv_id is None or turn_idx is None:
            raise ValueError("conv_id and turn_idx must not be NULL")
        raise ValueError(f"turn key (conv_id={conv_id!r}, "
                         f"turn_idx={turn_idx!r}) repeats {n} times in "
                         "one batch")
    if old is None:
        return batch
    kept = old.join(batch.select(*TURN_KEY).distinct(), TURN_KEY,
                    "left_anti")
    return kept.unionByName(batch)


def replace_groups(edges: DataFrame | None, entities: DataFrame | None,
                   old_edges: DataFrame | None,
                   old_entities: DataFrame | None, run_ts: datetime,
                   ontology=None) -> tuple[DataFrame, DataFrame]:
    """The one incremental write step. Every dedup/versioning rule is
    scoped by ``group_id`` (episodes → edges → entities is an acyclic
    foreign-key chain keyed by group), so a write rebuilds only the
    groups it touches and carries the rest over.

    ``edges``/``entities`` are the touched groups' rebuilt tables (None
    when nothing was rebuilt); ``old_edges``/``old_entities`` are the same
    groups' rows before the write (None when there is no prior state).
    A rebuild from transcripts cannot reproduce manual edges — the ones
    with empty episode provenance — so they are folded back in through
    :func:`remerge_edges`, with their raw ``invalid_at`` (always NULL for
    :func:`add_triplet`) restored so a removed invalidating episode no
    longer closes them. The entities those edges point at that the
    rebuild did not produce are carried over. Returns the touched
    groups' (edges, entities): a fresh build over their turns plus their
    manual triplets. With no old manual edges nothing is folded and the
    rebuild is returned unchanged."""
    if old_edges is None:
        return edges, entities
    manual = old_edges.where(F.size(F.coalesce(
        "episodes", F.array().cast("array<string>"))) == 0)
    if manual.isEmpty():
        return edges, entities
    raw = stored_edges_to_raw(manual).withColumn(
        "invalid_at", F.lit(None).cast("timestamp"))
    edges = remerge_edges(edges, raw, run_ts, ontology=ontology)
    ends = (manual.select(F.col("source_node_uuid").alias("uuid"))
            .union(manual.select(F.col("target_node_uuid").alias("uuid"))))
    carried = old_entities.join(ends, "uuid", "left_semi")
    if entities is None:
        return edges, carried
    carried = carried.join(entities.select("uuid"), "uuid", "left_anti")
    return edges, entities.unionByName(carried, allowMissingColumns=True)
