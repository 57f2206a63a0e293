"""M3 — entity canonicalization: blocking join + connected components.

Replaces the reference's O(n²) Python candidate loops + LLM dedup + in-memory
union-find (``/root/reference/graphiti_core/utils/bulk_utils.py:201-285,
377-414``) with:

  1. **Blocking** (candidate generation, J1): a token equi-join — the
     reference's word-overlap branch (``bulk_utils.py:227-234``) IS an
     equi-join on a shared token. Self-joins are per ``group_id`` (the
     reference scopes all dedup reads by group, ``nodes.py:84``), so blocks
     never cross conversations and the join co-partitions on
     (group_id, token).
  2. **Verify**: the duplicate decision entirely in whole-stage codegen.
     The cosine≥0.8 branch (``bulk_utils.py:236-241``) is computed as
     token-set cosine |A∩B| / √(|A|·|B|) — for our signed-feature-hash
     embeddings (functions/text.py) this equals the embedding cosine up to
     hash collisions (each shared distinct token contributes exactly 1 to
     the dot product), so no Python/pandas pass and no 1024-float shuffle
     is needed in the hot path. Blocking by shared token has full recall
     for every branch: equal, subset, and token-cosine > 0 all require a
     shared token.
  3. **Connected components**: one in-group union-find
     (:func:`canonical_uuids`; components never span groups). The build
     runs it inside its extraction kernel, in the task that extracts the
     conversation (:func:`graphiti_spark.operators.extract.
     extract_combined`), so no join remaps edge endpoints afterwards.
     The opt-in embedding path solves its precomputed pairs with the same
     union-find in one ``mapInPandas`` over group-sorted partitions
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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphiti_spark import rules

MAX_BLOCK = 64          # max members of one blocking bucket considered
MAX_FULL_PAIRWISE = 200  # larger groups take token-blocked candidates


def _tok(col) -> F.Column:
    """Distinct alnum-run tokens of a normalized name — the JVM twin of
    :func:`graphiti_spark.rules.name_tokens` (punctuated aliases like
    'coca-cola' / 'coca cola' tokenize identically)."""
    return F.array_distinct(F.array_remove(F.split(col, "[^a-z0-9]+"), ""))


def candidate_pairs(entities: DataFrame) -> DataFrame:
    """J1 blocking: (group_id, uuid_a, uuid_b, name_a, name_b) candidate
    duplicate pairs, uuid_a < uuid_b, from a per-group token self-join."""
    keyed = (entities
             .select("group_id", "uuid", "name_norm",
                     F.explode(_tok(F.col("name_norm"))).alias("block_key")))
    # Cap pathological blocks (stop-token buckets) deterministically.
    w = Window.partitionBy("group_id", "block_key").orderBy("uuid")
    keyed = (keyed.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") <= MAX_BLOCK).drop("_rn"))

    a = keyed.select("group_id", "block_key",
                     F.col("uuid").alias("uuid_a"),
                     F.col("name_norm").alias("name_a"))
    b = keyed.select("group_id", "block_key",
                     F.col("uuid").alias("uuid_b"),
                     F.col("name_norm").alias("name_b"))
    return (
        a.join(b, ["group_id", "block_key"])
         .where(F.col("uuid_a") < F.col("uuid_b"))
         .drop("block_key")
         .dropDuplicates(["group_id", "uuid_a", "uuid_b"])
    )


def duplicate_decision(name_a, name_b) -> F.Column:
    """The deterministic duplicate rule as a boolean Column — the JVM twin
    of :func:`graphiti_spark.rules.node_is_duplicate`: normalized-equal,
    token-subset (alias 'bob' ⊂ 'bob smith'), or token-cosine ≥ 0.8."""
    ta, tb = _tok(name_a), _tok(name_b)
    inter = F.size(F.array_intersect(ta, tb)).cast("double")
    cos = inter / F.sqrt(F.size(ta).cast("double") * F.size(tb).cast("double"))
    subset = (F.size(F.array_except(ta, tb)) == 0) | \
             (F.size(F.array_except(tb, ta)) == 0)
    return ((name_a == name_b) | subset
            | (cos >= F.lit(rules.NODE_COSINE_THRESHOLD)))


def cosine_cols(a, b) -> F.Column:
    """Pairwise cosine of two array<float> columns, entirely JVM-side
    (zip_with dot product + aggregate norms — F4, no Python)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(bd, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def duplicate_pairs(entities: DataFrame,
                    emb_col: str | None = None) -> DataFrame:
    """Blocking + verify → confirmed duplicate pairs.

    Default (``emb_col=None``): token blocking + token-cosine verify,
    whole-stage codegen, no Python in the path. For our hash embeddings
    token-cosine equals embedding-cosine by construction, but an EXTERNAL
    embedding model breaks that identity (``bulk_utils.py:236-241``
    verifies with real embedding cosine) — so when an embedding column is
    supplied the verify branch uses pairwise JVM ``cosine_cols`` at the
    reference's 0.8 node threshold (``bulk_utils.py:208``), and the
    candidate set is widened with sign-LSH buckets over the embeddings
    (``operators/ann.py``): a real-embedding duplicate may share NO name
    token ('IBM' vs 'International Business Machines'), which the token
    block alone would miss. Both blocks stay group-scoped equi-joins —
    the 100 TB-safe shape."""
    cand = candidate_pairs(entities)
    if emb_col is None:
        return (cand.where(duplicate_decision(F.col("name_a"),
                                              F.col("name_b")))
                    .select("group_id", "uuid_a", "uuid_b"))

    from graphiti_spark.operators import ann
    buckets = (ann.signlsh_buckets(entities, n_planes=12, id_col="uuid",
                                   emb_col=emb_col)
               .join(entities.select("uuid", "group_id"), "uuid"))
    ba = buckets.select("group_id", "bucket", F.col("uuid").alias("uuid_a"))
    bb = buckets.select("group_id", "bucket", F.col("uuid").alias("uuid_b"))
    lsh_cand = (ba.join(bb, ["group_id", "bucket"])
                .where(F.col("uuid_a") < F.col("uuid_b"))
                .drop("bucket"))
    names = entities.select("uuid", "name_norm")
    lsh_cand = (lsh_cand
                .join(names.select(F.col("uuid").alias("uuid_a"),
                                   F.col("name_norm").alias("name_a")),
                      "uuid_a")
                .join(names.select(F.col("uuid").alias("uuid_b"),
                                   F.col("name_norm").alias("name_b")),
                      "uuid_b"))
    all_cand = (cand.select("group_id", "uuid_a", "uuid_b",
                            "name_a", "name_b")
                .unionByName(lsh_cand.select("group_id", "uuid_a", "uuid_b",
                                             "name_a", "name_b"))
                .dropDuplicates(["group_id", "uuid_a", "uuid_b"]))
    embs = entities.select("uuid", emb_col)
    all_cand = (all_cand
                .join(embs.select(F.col("uuid").alias("uuid_a"),
                                  F.col(emb_col).alias("_ea")), "uuid_a")
                .join(embs.select(F.col("uuid").alias("uuid_b"),
                                  F.col(emb_col).alias("_eb")), "uuid_b"))
    ta, tb = _tok(F.col("name_a")), _tok(F.col("name_b"))
    subset = (F.size(F.array_except(ta, tb)) == 0) | \
             (F.size(F.array_except(tb, ta)) == 0)
    is_dup = ((F.col("name_a") == F.col("name_b")) | subset
              | (cosine_cols(F.col("_ea"), F.col("_eb"))
                 >= F.lit(rules.NODE_COSINE_THRESHOLD)))
    return all_cand.where(is_dup).select("group_id", "uuid_a", "uuid_b")


def edge_duplicate_pairs(edges: DataFrame,
                         emb_col: str = "fact_embedding") -> DataFrame:
    """J2 with real embeddings: duplicate-edge candidates ONLY between
    edges with identical (source, target) endpoints (the pair guard,
    ``bulk_utils.py:318-321``) verified by fact-embedding cosine ≥ 0.6
    (``bulk_utils.py:297``) or fact word overlap. A pure equi-join on
    (group_id, src, dst) + JVM cosine predicate — no O(n²), no Python."""
    keyed = edges.select("group_id", "source_node_uuid", "target_node_uuid",
                         "uuid", "fact", F.col(emb_col))
    a = keyed.select("group_id", "source_node_uuid", "target_node_uuid",
                     F.col("uuid").alias("uuid_a"),
                     F.col("fact").alias("fact_a"),
                     F.col(emb_col).alias("_ea"))
    b = keyed.select("group_id", "source_node_uuid", "target_node_uuid",
                     F.col("uuid").alias("uuid_b"),
                     F.col("fact").alias("fact_b"),
                     F.col(emb_col).alias("_eb"))
    ta, tb = _tok(F.lower(F.col("fact_a"))), _tok(F.lower(F.col("fact_b")))
    overlap = F.size(F.array_intersect(ta, tb)) > 0
    return (a.join(b, ["group_id", "source_node_uuid", "target_node_uuid"])
            .where(F.col("uuid_a") < F.col("uuid_b"))
            .where(overlap
                   | (cosine_cols(F.col("_ea"), F.col("_eb"))
                      >= F.lit(rules.EDGE_COSINE_THRESHOLD)))
            .select("group_id", "source_node_uuid", "target_node_uuid",
                    "uuid_a", "uuid_b"))


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
    """Width of every group-clustered shuffle: 2× the default parallelism,
    at least 8. The build clusters its transcripts at this width, so a
    later ``repartition(group_partitions(spark), "group_id")`` over the
    same rows is a no-op that Spark plans away."""
    return max(2 * spark.sparkContext.defaultParallelism, 8)


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
    inputs share lineage (``duplicate_pairs(entities)`` beside
    ``entities``), unlike a cogroup."""
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
    canonical uuid under the duplicate rule of
    :func:`duplicate_decision` (normalized-equal, token subset, or
    token-cosine ≥ 0.8), solved by :func:`_min_components`.

    Groups are conversation-sized (tens of entities) and are compared
    pairwise; a group with more than ``max_full_pairwise`` members takes
    token-blocked candidates instead, capped per token like
    :data:`MAX_BLOCK`."""
    # same alnum-run tokenization as rules.name_tokens / _tok
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


def canonicalize_entities(entities: DataFrame, run_ts,
                          emb_col: str | None = None
                          ) -> tuple[DataFrame, DataFrame]:
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
    kernel solved in-group (:func:`graphiti_spark.operators.extract.
    extract_combined`), so only the merge runs here.

    ``emb_col`` (opt-in) re-solves the components with the duplicate
    verify switched to REAL embedding cosine at the 0.8 threshold
    (``bulk_utils.py:208,236-241``) and sign-LSH blocking — use when
    ``entities`` carries an external model's embeddings, whose cosine is
    NOT the token cosine. Its pairs come from :func:`duplicate_pairs`
    (group-scoped blocking joins) and are solved by the same in-group
    union-find (:func:`pair_components`)."""
    if emb_col is not None:
        entities = entities.drop("canonical_uuid")
        pairs = duplicate_pairs(entities, emb_col=emb_col)
        entities = entities.join(
            pair_components(entities, pairs).select(
                "uuid", F.col("component").alias("canonical_uuid")),
            "uuid")
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
