"""M3 — entity canonicalization: in-group blocking + connected components.

Replaces the reference's O(n²) Python candidate loops + LLM dedup + in-memory
union-find (``/root/reference/graphiti_core/utils/bulk_utils.py:201-285,
377-414``) with:

  1. **Blocking** (candidate generation, J1): per conversation, inside
     the build's extraction kernel (:func:`canonical_uuids`). Dedup never
     crosses ``group_id`` (the reference scopes all dedup reads by group,
     ``nodes.py:84``), and a group is conversation-sized, so its distinct
     entities are compared pairwise. A group past ``MAX_FULL_PAIRWISE``
     members takes token blocks instead: the reference's word-overlap
     branch (``bulk_utils.py:227-234``) is a shared-token match, and each
     token's block is capped at ``MAX_BLOCK`` members.
  2. **Verify**: the duplicate rule in plain Python on the candidate's
     alnum-run token sets: normalized-equal, token subset, or token-set
     cosine |A∩B| / √(|A|·|B|) ≥ 0.8. The cosine branch
     (``bulk_utils.py:236-241``) uses token cosine because, for our
     signed-feature-hash embeddings (functions/text.py), it equals the
     embedding cosine up to hash collisions (each shared distinct token
     contributes exactly 1 to the dot product), so no embedding is
     computed or shipped for dedup. Token blocking has full recall for
     every branch: equal, subset and token-cosine > 0 all need a shared
     token.
  3. **Connected components**: one in-group union-find
     (:func:`canonical_uuids`; components never span groups). The build
     runs it inside its extraction kernel, in the task that extracts the
     conversation (:func:`graphiti_spark.operators.extract.
     extract_combined`), so no join remaps edge endpoints afterwards.
     Precomputed pairs (the ``dedup_resolve`` query) are solved by the
     same union-find in one ``mapInPandas`` over group-sorted partitions
     (:func:`pair_components`).
     Canonical = lexicographic-min uuid in the component — exactly the
     reference's ``compress_uuid_map`` tie-break
     (``bulk_utils.py:399-414``), which keeps outputs identical across
     partitionings and cluster sizes.

Skew note: token blocks are capped (``MAX_BLOCK``) — a stop-token shared by
millions of names would otherwise create a quadratic block; the reference
never reaches that scale. Hot canonical keys in later groupBys are handled
by two-phase salted aggregation (:mod:`graphiti_spark.operators.skew`).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphiti_spark import rules

MAX_BLOCK = 64          # max members of one blocking bucket considered
MAX_FULL_PAIRWISE = 200  # larger groups take token-blocked candidates


def _min_components(uuids: list, links) -> list:
    """Union-find over the indices of ``uuids`` joined by the ``(i, j)``
    index pairs of ``links`` → each index's canonical uuid: the
    lexicographic-min uuid of its component, exactly the reference's
    ``compress_uuid_map`` tie-break (``bulk_utils.py:377-414``)."""
    parent = list(range(len(uuids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in links:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    canon_by_root: dict[int, str] = {}
    for i, u in enumerate(uuids):
        r = find(i)
        c = canon_by_root.get(r)
        if c is None or u < c:
            canon_by_root[r] = u
    return [canon_by_root[find(i)] for i in range(len(uuids))]


def group_partitions(spark) -> int:
    """Width of every group-clustered shuffle: the default parallelism, so
    the kernel runs as one wave of tasks, one per core. Each extra Python
    task is not cheap: pyspark's per-task file setup invalidates the import
    caches, which re-reads the directory of every zip on the worker's path
    (0.13-0.42 s per task, measured on a 4-core host in local mode under
    Python 3.11). The build clusters its transcripts at this width, so a
    later ``repartition(group_partitions(spark), "group_id")`` over the
    same rows is a no-op that Spark plans away."""
    return spark.sparkContext.defaultParallelism


def split_groups(batches, solve, out_names: list[str]):
    """Split group-sorted pandas batches (``group_id`` first) into groups
    and run ``solve(group_id, *column_lists)`` once per group; ``solve``
    returns one list per name of ``out_names``. Yields one output frame
    per input batch that completes a group.

    Groups are split out of each Arrow batch by hand: millions of
    conversation-sized groups make per-group pandas dispatch
    (applyInPandas) the bottleneck; here each batch handles thousands of
    groups with plain-list slicing. A group straddling two batches is
    carried over (state persists across yields within one partition)."""
    import pandas as pd

    carry_g, carry = None, None
    for pdf in batches:
        gs = pdf["group_id"].tolist()
        vals = [pdf[c].tolist() for c in pdf.columns[1:]]
        outs: list[list] = [[] for _ in out_names]
        i, n = 0, len(gs)
        while i < n:
            j, g = i, gs[i]
            while j < n and gs[j] == g:
                j += 1
            part = [v[i:j] for v in vals]
            if carry is not None:
                if carry_g == g:
                    part = [c + p for c, p in zip(carry, part)]
                else:
                    for o, r in zip(outs, solve(carry_g, *carry)):
                        o += r
                carry = None
            if j == n:
                carry_g, carry = g, part    # may continue next batch
            else:
                for o, r in zip(outs, solve(g, *part)):
                    o += r
            i = j
        if outs[0]:
            yield pd.DataFrame(dict(zip(out_names, outs)))
    if carry is not None:
        last = solve(carry_g, *carry)
        if last[0]:
            yield pd.DataFrame(dict(zip(out_names, last)))


def map_groups(rows: DataFrame, solve, schema: T.StructType) -> DataFrame:
    """Run ``solve`` once per ``group_id`` in ONE ``mapInPandas`` over
    partitions clustered by ``group_id`` and sorted by the first two
    columns of ``rows`` (``group_id`` first). See :func:`split_groups`."""
    names = schema.fieldNames()
    return (rows.repartition(group_partitions(rows.sparkSession),
                             "group_id")
            .sortWithinPartitions(*rows.columns[:2])
            .mapInPandas(lambda it: split_groups(it, solve, names), schema))


def pair_components(vertices: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components of known duplicate pairs → (uuid, component),
    one row per vertex, component = lexicographic-min uuid reachable.

    ``vertices`` is (group_id, uuid) and ``pairs`` (group_id, uuid_a,
    uuid_b); components never cross ``group_id``. Both inputs become one
    union of (group_id, uuid, other) rows (``other`` NULL on a vertex
    row) solved by the same in-group union-find as the build's kernel
    (:func:`_min_components`): one shuffle and a fixed job count whatever
    the components' diameter. A union needs no re-aliasing when both
    inputs share lineage (pairs derived from the vertex table), unlike a
    cogroup."""
    rows = (vertices.select("group_id", "uuid",
                            F.lit(None).cast("string").alias("other"))
            .unionByName(pairs.select("group_id",
                                      F.col("uuid_a").alias("uuid"),
                                      F.col("uuid_b").alias("other"))))

    def solve(_g, uuids: list, others: list) -> tuple[list, list]:
        idx: dict[str, int] = {}
        for u in uuids + others:
            if u is not None:
                idx.setdefault(u, len(idx))
        links = [(idx[u], idx[o]) for u, o in zip(uuids, others)
                 if o is not None]
        canon = dict(zip(idx, _min_components(list(idx), links)))
        verts = list(dict.fromkeys(u for u, o in zip(uuids, others)
                                   if o is None))
        return verts, [canon[u] for u in verts]

    return map_groups(rows, solve, T.StructType(
        [T.StructField(n, T.StringType()) for n in ("uuid", "component")]))


_ALNUM = re.compile(r"[a-z0-9]+")


def canonical_uuids(uuids: list, names: list,
                    max_full_pairwise: int = MAX_FULL_PAIRWISE) -> list:
    """One group's entities (uuids, normalized names) → each entity's
    canonical uuid under the duplicate rule (normalized-equal, token
    subset, or token-cosine ≥ 0.8, the twin of
    :func:`graphiti_spark.rules.node_is_duplicate`), solved by
    :func:`_min_components`.

    Groups are conversation-sized (tens of entities) and are compared
    pairwise; a group with more than ``max_full_pairwise`` members takes
    token-blocked candidates instead, capped per token like
    :data:`MAX_BLOCK`."""
    # same alnum-run tokenization as rules.name_tokens
    toks = [set(_ALNUM.findall(n)) for n in names]
    k = len(uuids)

    def dup(i, j):
        if names[i] == names[j]:
            return True
        ti, tj = toks[i], toks[j]
        if not ti or not tj:
            return False
        if ti <= tj or tj <= ti:
            return True
        cos = len(ti & tj) / math.sqrt(len(ti) * len(tj))
        return cos >= rules.NODE_COSINE_THRESHOLD

    if k <= max_full_pairwise:
        cand = ((i, j) for i in range(k) for j in range(i + 1, k))
    else:
        blocks: dict[str, list[int]] = {}
        for i, ts in enumerate(toks):
            for t in ts:
                b = blocks.setdefault(t, [])
                if len(b) < MAX_BLOCK:
                    b.append(i)
        cand = {(m[a], m[b]) for m in blocks.values()
                for a in range(len(m)) for b in range(a + 1, len(m))}
    return _min_components(uuids, [(i, j) for i, j in cand if dup(i, j)])


def canonicalize_entities(entities: DataFrame,
                          run_ts) -> tuple[DataFrame, DataFrame]:
    """→ (canonical_entities, uuid_map).

    uuid_map: (uuid, canonical_uuid) for every raw entity. Canonical row
    keeps the canonical member's surface form; labels = distinct union
    (reference keeps resolved node's fields, ``node_operations.py:258-284``)
    in the order of the members' ``(first_turn, uuid)``, so ``labels[0]``
    is the type of the component's first mention whatever the physical
    plan; ``member_uuids`` lists the sorted member uuids. Embeddings are
    NOT computed here — the pipeline embeds canonical names once,
    downstream, so the merge shuffle stays narrow.

    ``entities`` carry the ``canonical_uuid`` that the build's extraction
    kernel solved in-group (:func:`canonical_uuids`, run by
    :func:`graphiti_spark.operators.extract.extract_combined`), so only
    the merge runs here."""
    uuid_map = entities.select("uuid", "canonical_uuid")

    by_first = F.array_sort(F.collect_list(
        F.struct("first_turn", "uuid", "labels")))
    merged = (
        entities
        .groupBy("group_id", "canonical_uuid")
        .agg(
            # min by uuid (unique) — trailing fields ride along.
            F.min(F.struct("uuid", "name", "name_norm")).alias("canon"),
            F.array_distinct(F.flatten(F.transform(
                by_first, lambda m: m["labels"]))).alias("labels"),
            F.min("created_at").alias("created_at"),
            F.min("first_turn").alias("first_turn"),
            F.array_sort(F.collect_list("uuid")).alias("member_uuids"),
        )
        .select(
            F.col("canonical_uuid").alias("uuid"),
            F.col("canon.name").alias("name"),
            "group_id", "labels", "created_at",
            F.col("canon.name_norm").alias("name_norm"),
            "first_turn", "member_uuids",
        )
    )
    return merged, uuid_map


def resolve_edge_pointers(edges: DataFrame, uuid_map: DataFrame) -> DataFrame:
    """J8 — remap edge endpoints through the canonical map
    (``bulk_utils.py:420-427``): two joins + coalesce. The build remaps
    inside its extraction kernel instead; this serves other callers.

    Only genuine renames join: the left-join + coalesce already treats an
    absent key as identity, and most entities are singletons
    (canonical_uuid == uuid), so filtering the map to changed rows shrinks
    the join side from |entities| to |duplicates| — small enough for AQE
    to broadcast, which removes both edge-table shuffles. At 100 TB the
    rename set is the only part of the entity table an edge remap ever
    needs to move."""
    renames = uuid_map.where(F.col("canonical_uuid") != F.col("uuid"))
    src_map = renames.select(F.col("uuid").alias("source_node_uuid"),
                             F.col("canonical_uuid").alias("_src_c"))
    dst_map = renames.select(F.col("uuid").alias("target_node_uuid"),
                             F.col("canonical_uuid").alias("_dst_c"))
    return (
        edges
        .join(src_map, "source_node_uuid", "left")
        .join(dst_map, "target_node_uuid", "left")
        .withColumn("source_node_uuid",
                    F.coalesce(F.col("_src_c"), F.col("source_node_uuid")))
        .withColumn("target_node_uuid",
                    F.coalesce(F.col("_dst_c"), F.col("target_node_uuid")))
        .drop("_src_c", "_dst_c")
        .where(F.col("source_node_uuid") != F.col("target_node_uuid"))
    )
