"""M7 — community detection + summarization (SURVEY.md §2.4 A4/A5).

Label propagation (``/root/reference/graphiti_core/utils/maintenance/
community_operations.py:77-122``): each node adopts the plurality
community among its neighbors weighted by edge multiplicity, ties broken
toward the larger label (``:102-108``), iterated to fixpoint. The
reference holds one group's neighbor projection in memory (``:44-62``)
and iterates it in-process; ours aggregates the (group_id, src, dst,
edge_count) projection once from the edges table and runs the same
per-group fixpoint in one cogrouped ``applyInPandas`` over ``group_id``.

Community summarization replaces the pairwise-LLM summarize-reduce
(``community_operations.py:125-190``) with a deterministic ordered
concat-truncate aggregation, and community names with the top-degree
member's name.
"""

from __future__ import annotations

import itertools
from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphiti_spark.operators.episodes import stable_id_cols

MAX_COMMUNITY_ROUNDS = 20
SUMMARY_MAX_WORDS = 250


def neighbor_projection(edges: DataFrame) -> DataFrame:
    """(group_id, src, dst, edge_count) undirected multiplicity projection
    (``community_operations.py:44-62``)."""
    sym = (edges.select("group_id",
                        F.col("source_node_uuid").alias("src"),
                        F.col("target_node_uuid").alias("dst"))
           .unionByName(edges.select(
               "group_id",
               F.col("target_node_uuid").alias("src"),
               F.col("source_node_uuid").alias("dst"))))
    return (sym.where(F.col("src") != F.col("dst"))
            .groupBy("group_id", "src", "dst")
            .agg(F.count("*").alias("edge_count")))


def label_propagation(entities: DataFrame, edges: DataFrame,
                      max_rounds: int = MAX_COMMUNITY_ROUNDS,
                      mode: str = "monotone") -> DataFrame:
    """→ (uuid, group_id, community) with community = a stable label id.

    Initial label = own uuid; each round a node adopts a neighbor
    plurality label (Σ edge_count weighting, argmax ties → larger label,
    ``community_operations.py:102-108``); isolated nodes keep their own
    label; synchronous rounds to fixpoint.
    Rounds are group-local, so the whole fixpoint runs per group in
    memory (:func:`_grouped_lpa`) — the reference's own unit of work —
    with no driver loop per round and a fixed number of Spark jobs.

    ``mode`` picks the update rule:

    * ``"monotone"`` (default, the scale mode): self-vote of weight 1 is
      added and a node adopts the plurality label only when LARGER than
      its current one. Labels are non-decreasing per node → the
      synchronous parallel update provably cannot oscillate (naive
      Jacobi LPA does on symmetric pulls), so the rounds run until no
      label changes, with no cap: each label can only grow to one of
      the group's finitely many uuids. The partition can differ from the
      reference's on some graphs.
    * ``"reference"``: the exact update of
      ``community_operations.py:77-122`` — no self-vote; a node takes
      the plurality candidate when its vote weight exceeds 1, otherwise
      ``max(candidate, current)``; synchronous rounds to fixpoint. The
      reference's integer labels come from dict-enumeration order; using
      each node's uuid as its own label is the order-isomorphic
      deterministic instantiation (labels are only compared/counted, so
      the emitted PARTITION matches a port that enumerates sorted
      uuids). The reference's ``while True`` can in principle oscillate
      forever on adversarial symmetric graphs; this mode alone stops at
      ``max_rounds`` (tested to fixpoint on seeded random graphs against
      a pure-Python port, tests/test_communities.py). ``max_rounds`` has
      no effect on the monotone mode.
    """
    if mode not in ("monotone", "reference"):
        raise ValueError(f"unknown LPA mode {mode!r}")
    return _grouped_lpa(entities, neighbor_projection(edges), mode,
                        max_rounds)


def _grouped_lpa(entities: DataFrame, proj: DataFrame, mode: str,
                 max_rounds: int) -> DataFrame:
    """Per-group in-memory LPA fixpoint (cogrouped applyInPandas): the
    direct Spark expression of the reference's per-group loop
    (``community_operations.py:44-122``) under either update rule of
    :func:`label_propagation`. A NULL ``group_id`` is one more cogroup
    key, so its entities keep their rows. Label/tie comparisons are Python
    ``str`` order == Spark UTF8 binary order on the ASCII hex uuids the
    pipeline emits."""
    import pandas as pd

    def fn(key, nodes_pdf: pd.DataFrame, proj_pdf: pd.DataFrame
           ) -> pd.DataFrame:
        nodes = nodes_pdf["uuid"].tolist()
        if not nodes:
            return pd.DataFrame({"uuid": [], "group_id": [],
                                 "community": []})
        in_group = set(nodes)
        nbrs: dict[str, list[tuple[str, int]]] = {}
        for s, d, w in zip(proj_pdf["src"], proj_pdf["dst"],
                           proj_pdf["edge_count"]):
            # endpoints outside the group's entity set carry no label
            # to vote with
            if s in in_group and d in in_group:
                nbrs.setdefault(s, []).append((d, int(w)))
        community = {u: u for u in nodes}
        monotone = mode == "monotone"
        for _ in (itertools.count() if monotone else range(max_rounds)):
            new, change = {}, False
            for u in nodes:
                cur = community[u]
                cand: dict[str, int] = {}
                for v, w in nbrs.get(u, ()):
                    lbl = community[v]
                    cand[lbl] = cand.get(lbl, 0) + w
                if monotone:
                    cand[cur] = cand.get(cur, 0) + 1
                    _, lbl = max((c, l) for l, c in cand.items())
                    newl = lbl if lbl > cur else cur
                elif cand:
                    votes, lbl = max((c, l) for l, c in cand.items())
                    newl = lbl if votes > 1 else max(lbl, cur)
                else:
                    newl = cur
                new[u] = newl
                change |= newl != cur
            community = new
            if not change:
                break
        return pd.DataFrame({"uuid": nodes,
                             "group_id": key[0],
                             "community": [community[u] for u in nodes]})

    # Re-alias every column on both cogroup sides: entities and proj
    # usually share plan lineage (both derive from the same pipeline
    # build), so their group_id columns carry the SAME attribute id and
    # Spark's ambiguous-self-join check rejects the cogroup outright.
    # An Alias mints fresh attribute ids at zero runtime cost (the
    # Project collapses).
    fresh = lambda df: df.select(                       # noqa: E731
        [F.col(c).alias(c) for c in df.columns])
    return (fresh(entities.select("uuid", "group_id")).groupBy("group_id")
            .cogroup(fresh(proj).groupBy("group_id"))
            .applyInPandas(fn, "uuid string, group_id string, "
                               "community string"))


def _community_rows(members: DataFrame, run_ts: datetime) -> DataFrame:
    """Aggregate member rows (uuid, name, group_id, summary, degree,
    community_uuid) into CommunityNode rows. name = top-degree member's
    name, degree ties broken by min uuid (min over struct(-degree, uuid)
    = max degree then lexicographic-min uuid); summary = uuid-ordered
    concat of member summaries truncated to 250 words
    (``community_operations.py:125-190`` semantics, deterministic)."""
    pick = F.min(F.struct((-F.col("degree")).alias("_nd"),
                          F.col("uuid").alias("_u"),
                          F.col("name"))).alias("top")
    agg = (members.groupBy("group_id", "community_uuid")
           .agg(pick,
                F.count("*").alias("n_members"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("uuid").alias("u"),
                                     F.coalesce("summary", F.lit(""))
                                      .alias("s")))),
                        lambda s: s["s"]), " ").alias("_summary")))
    words = F.split(F.col("_summary"), " ")
    summary = F.when(F.size(words) > SUMMARY_MAX_WORDS,
                     F.array_join(F.slice(words, 1, SUMMARY_MAX_WORDS), " ")
                     ).otherwise(F.col("_summary"))
    return agg.select(
        F.col("community_uuid").alias("uuid"),
        F.col("top.name").alias("name"),
        "group_id",
        summary.alias("summary"),
        F.col("n_members"),
        F.lit(run_ts).cast("timestamp").alias("created_at"))


def _degree(edges: DataFrame) -> DataFrame:
    return (neighbor_projection(edges)
            .groupBy("src").agg(F.sum("edge_count").alias("degree"))
            .withColumnRenamed("src", "uuid"))


def _member_edge_rows(members: DataFrame, run_ts: datetime) -> DataFrame:
    """HAS_MEMBER thin edges (``edges.py:344``) from member rows."""
    return members.select(
        stable_id_cols(F.lit("member"), F.col("group_id"),
                       F.col("community_uuid"), F.col("uuid")).alias("uuid"),
        "group_id",
        F.col("community_uuid").alias("source_node_uuid"),
        F.col("uuid").alias("target_node_uuid"),
        F.lit(run_ts).cast("timestamp").alias("created_at"))


def build_communities(entities: DataFrame, edges: DataFrame,
                      run_ts: datetime,
                      mode: str = "monotone") -> tuple[DataFrame,
                                                      DataFrame]:
    """→ (communities, community_edges) — CommunityNode rows (uuid, name,
    group_id, summary, created_at) + HAS_MEMBER thin edges. ``mode``
    passes through to :func:`label_propagation` (monotone scale default
    or the reference-semantics synchronous vote), which runs the per-group
    in-memory fixpoint.

    The inputs are cut with an eager ``localCheckpoint`` first: the
    label propagation, the degree aggregate and the member join all read
    them, and each would otherwise re-analyze and re-execute the full
    upstream plan."""
    entities = entities.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    labels = label_propagation(entities, edges, mode=mode)
    members = (entities.join(labels.select("uuid", "community"), "uuid")
               .join(_degree(edges), "uuid", "left").na.fill({"degree": 0})
               .withColumn("community_uuid",
                           stable_id_cols(F.lit("community"),
                                          F.col("group_id"),
                                          F.col("community")))
               # both outputs read the members: cut once, so reading
               # both runs the label propagation once
               .localCheckpoint(eager=True))
    return (_community_rows(members, run_ts),
            _member_edge_rows(members, run_ts))


# -- J7 third traversal semi-join + incremental maintenance -----------------

def get_communities_by_nodes(community_edges: DataFrame,
                             communities: DataFrame,
                             node_uuids: list[str]) -> DataFrame:
    """Communities having any of the given entities as members
    (``search_utils.py:121-139``): membership semi-join."""
    mem = (community_edges
           .where(F.col("target_node_uuid").isin(node_uuids))
           .select(F.col("source_node_uuid").alias("uuid")))
    return communities.join(mem.distinct(), "uuid", "left_semi")


def determine_entity_communities(community_edges: DataFrame,
                                 edges: DataFrame,
                                 entity_uuids: list[str]) -> DataFrame:
    """→ (uuid, community_uuid, is_new) per entity — the batch form of
    ``determine_entity_community`` (``community_operations.py:228-284``):
    an entity already in a community keeps it (is_new=false); otherwise it
    adopts the mode community among its RELATES_TO neighbors
    (is_new=true); entities with no communal neighbors are absent from the
    result. Tie-break: min community uuid (the reference takes the first
    max-count in dict order — nondeterministic; ours is stable)."""
    spark = community_edges.sparkSession
    ids = spark.createDataFrame([(u,) for u in entity_uuids], ["uuid"])
    existing = (community_edges
                .join(ids.withColumnRenamed("uuid", "target_node_uuid"),
                      "target_node_uuid", "left_semi")
                .groupBy(F.col("target_node_uuid").alias("uuid"))
                .agg(F.min("source_node_uuid").alias("community_uuid"))
                .withColumn("is_new", F.lit(False)))
    missing = ids.join(existing.select("uuid"), "uuid", "left_anti")
    nbr = (edges.select(F.col("source_node_uuid").alias("uuid"),
                        F.col("target_node_uuid").alias("nbr"))
           .unionByName(edges.select(
               F.col("target_node_uuid").alias("uuid"),
               F.col("source_node_uuid").alias("nbr")))
           .join(F.broadcast(missing), "uuid"))
    votes = (nbr.join(community_edges
                      .select(F.col("target_node_uuid").alias("nbr"),
                              F.col("source_node_uuid")
                               .alias("community_uuid")), "nbr")
             .groupBy("uuid", "community_uuid")
             .agg(F.count("*").alias("votes")))
    w = Window.partitionBy("uuid").orderBy(F.col("votes").desc(),
                                           F.col("community_uuid"))
    adopted = (votes.withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1)
               .select("uuid", "community_uuid",
                       F.lit(True).alias("is_new")))
    return existing.unionByName(adopted)


def update_communities(entities: DataFrame, edges: DataFrame,
                       communities: DataFrame, community_edges: DataFrame,
                       entity_uuids: list[str], run_ts: datetime
                       ) -> tuple[DataFrame, DataFrame]:
    """Incremental community maintenance (``update_community``,
    ``community_operations.py:287-311``): assign each touched entity a
    community (existing or adopted), append the new HAS_MEMBER edges, and
    re-summarize ONLY the affected communities — cost ∝ touched
    communities' member count, not graph size."""
    assign = determine_entity_communities(community_edges, edges,
                                          entity_uuids)
    new_members = (assign.where(F.col("is_new"))
                   .join(entities.select("uuid", "group_id"), "uuid")
                   .select("uuid", "group_id", "community_uuid"))
    new_edges = _member_edge_rows(new_members, run_ts)
    community_edges2 = (community_edges.unionByName(new_edges)
                        .dropDuplicates(["uuid"]))

    affected = assign.select(F.col("community_uuid").alias("uuid")).distinct()
    aff_members = (community_edges2
                   .join(F.broadcast(affected),
                         community_edges2.source_node_uuid == affected.uuid,
                         "left_semi")
                   .select(F.col("target_node_uuid").alias("uuid"),
                           F.col("source_node_uuid").alias("community_uuid")))
    members = (aff_members
               .join(entities.select("uuid", "name", "group_id", "summary"),
                     "uuid")
               .join(_degree(edges), "uuid", "left").na.fill({"degree": 0}))
    rebuilt = _community_rows(members, run_ts)
    kept = communities.join(F.broadcast(affected), "uuid", "left_anti")
    return kept.unionByName(rebuilt.select(kept.columns)), community_edges2
