"""Generic graph analytics over the KG edge tables — PageRank, triangles.

The reference ranks graph nodes only indirectly (community membership,
mention counts, node-distance reranking); a training-data / analytics user
of the same tables also wants a global importance score. PageRank is the
canonical one, and on Spark it is a pure DataFrame fixpoint: each
iteration is ONE partitioned join (edges ⋈ ranks on the source key) plus
ONE aggregation (contributions summed per destination), with an eager
localCheckpoint per round so the plan never grows with the iteration
count.

Scale shape (the part that matters at 100 TB):

* Edges are symmetrized/deduped ONCE, repartitioned by the join key, and
  persisted — every iteration shuffles only the (small) rank table, never
  the edge table.
* Per-``key`` graphs (e.g. ``group_id`` = one conversation) rank
  independently: N, degrees, and the teleport base are all per-key, so
  one run ranks millions of small graphs in the same jobs, no driver loop
  over graphs.
* Dangling nodes (out-degree 0 — possible in directed mode only) keep the
  teleport base and their mass is dropped rather than redistributed; the
  undirected default has no dangling nodes, so there the result is the
  exact textbook iteration. Documented, test-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank", "triangle_count"]


def triangle_count(edges: DataFrame, key: str | None = "group_id",
                   src: str = "source_node_uuid",
                   dst: str = "target_node_uuid") -> DataFrame:
    """→ (key, n_triangles): undirected triangle count per ``key`` graph
    (clustering / community cohesion — the standard graph statistic next
    to PageRank; pass ``key=None`` for one global graph).

    Scale shape — degree-ordered orientation (Cohen 2009 / Suri-Vassilvitskii
    "last reducer" fix): every undirected edge is oriented from its
    lower-(degree, id) endpoint to the higher one, so each node's
    out-degree is O(√m) regardless of skew — a celebrity node with 10⁷
    neighbors contributes wedges only through the few higher-degree
    nodes above it, not 10¹⁴ pairs. The plan is two hash joins:
    wedge build (oriented ⋈ oriented on the common LOW endpoint, pair
    normalized by rank so each candidate is generated once) and wedge
    close (⋈ oriented edge set on the (v, w) pair), both keyed by
    (key, node-pair) — shuffle-partitioned, AQE-skew-splittable, no
    cartesian term anywhere. Exact (not approximate); the driver
    query's DuckDB oracle counts a<b<c id-ordered closed triples, which
    equals this count independent of the orientation used.
    """
    kc = [key] if key else []
    if not key:
        edges = edges.withColumn("_k", F.lit(0))
        kc, key = ["_k"], "_k"
    # canonical undirected edge set: (a, b) with a < b, deduped
    e = (edges.select(*kc, F.least(src, dst).alias("a"),
                      F.greatest(src, dst).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    deg = (e.select(key, F.col("a").alias("node"))
           .unionAll(e.select(key, F.col("b").alias("node")))
           .groupBy(key, "node").agg(F.count("*").alias("deg")))
    # orientation rank = (deg, node): a total order, so ties are safe
    withrk = (e.join(deg.withColumnRenamed("node", "a"), [key, "a"])
              .withColumnRenamed("deg", "deg_a")
              .join(deg.select(F.col(key).alias(key),
                               F.col("node").alias("b"),
                               F.col("deg").alias("deg_b")), [key, "b"]))
    lo_first = F.struct(F.col("deg_a"), F.col("a")) \
        < F.struct(F.col("deg_b"), F.col("b"))
    rk_b = F.struct(F.col("deg_b").alias("d"), F.col("b").alias("n"))
    rk_a = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("n"))
    ori = withrk.select(
        key,
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lo_first, rk_b).otherwise(rk_a).alias("v_rk"))
    x, y = ori.alias("x"), ori.alias("y")
    wedges = (x.join(y, (F.col(f"x.{key}") == F.col(f"y.{key}"))
                     & (F.col("x.u") == F.col("y.u"))
                     & (F.col("x.v_rk") < F.col("y.v_rk")))
              .select(F.col(f"x.{key}").alias(key),
                      F.col("x.v").alias("u"), F.col("y.v").alias("v")))
    closed = wedges.join(ori.select(key, "u", "v"), [key, "u", "v"])
    out = closed.groupBy(key).agg(F.count("*").alias("n_triangles"))
    if key == "_k":
        return out.select("n_triangles")
    return out


def pagerank(edges: DataFrame, iters: int = 10, damping: float = 0.85,
             key: str | None = "group_id",
             src: str = "source_node_uuid", dst: str = "target_node_uuid",
             undirected: bool = True) -> DataFrame:
    """(key, node, rank) after ``iters`` synchronous PageRank rounds.

    ``rank_0 = 1/N``; ``rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v}
    rank_t(u)/outdeg(u)`` with N and the sum scoped to ``key`` (pass
    ``key=None`` for one global graph). Determinism caveat: the per-
    destination contribution sum is floating-point, and double addition
    is commutative but NOT associative, so low-order bits can vary with
    partial-aggregation order on nodes with 3+ in-neighbors; consumers
    that hash values must quantize first (the driver query rounds to
    9 dp — comfortably above the ulp jitter, far below rank gaps).
    """
    kc = [key] if key else []
    if not key:
        edges = edges.withColumn("_k", F.lit(0))
        kc, key = ["_k"], "_k"
    e = edges.select(*kc, F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.union(e.select(key, F.col("dst").alias("src"),
                             F.col("src").alias("dst")))
    e = e.distinct()
    # One shuffle up front; every per-iteration join reuses this layout.
    e = e.repartition(key, "src").persist()

    nodes = (e.select(key, F.col("src").alias("node"))
             .union(e.select(key, F.col("dst").alias("node")))
             .distinct())
    n_per_key = nodes.groupBy(key).agg(F.count("*").alias("_n"))
    base = (nodes.join(n_per_key, key)
            .select(key, "node",
                    ((F.lit(1.0) - F.lit(damping)) / F.col("_n"))
                    .alias("_base"),
                    (F.lit(1.0) / F.col("_n")).alias("rank")))
    base = base.localCheckpoint(eager=True)

    deg = e.groupBy(key, "src").agg(F.count("*").alias("_deg"))
    # (key, src, deg) is edge-table-sized at worst; persist beside e.
    e_deg = e.join(deg, [key, "src"]).persist()

    ranks = base.select(key, "node", "rank")
    for _ in range(max(0, iters)):
        contribs = (e_deg.join(ranks.withColumnRenamed("node", "src"),
                               [key, "src"])
                    .groupBy(key, F.col("dst").alias("node"))
                    .agg(F.sum(F.col("rank") / F.col("_deg"))
                          .alias("_in")))
        ranks = (base.select(key, "node", "_base")
                 .join(contribs, [key, "node"], "left")
                 .select(key, "node",
                         (F.col("_base")
                          + F.lit(damping) * F.coalesce("_in", F.lit(0.0)))
                         .alias("rank")))
        # Cut lineage every round: the loop otherwise compounds a join+agg
        # per iteration into one unplannable DAG (same fix as CC).
        ranks = ranks.localCheckpoint(eager=True)
    e.unpersist()
    e_deg.unpersist()
    if key == "_k":
        return ranks.select("node", "rank")
    return ranks
