"""Approximate nearest-neighbor search over embedding columns.

Three tiers, all pure DataFrame ops:

  * :func:`brute_force_knn` — exact cosine top-k; the correctness baseline
    (quantized integer dot product, order-independent and engine-exact —
    same trick as queries.q_embedding_knn).
  * :func:`build_ivf` / :func:`ivf_knn` — IVF: coarse centroids from a
    deterministic k-means-- (single Lloyd step from hash-seeded picks),
    broadcast to prune candidates to ``nprobe`` cells, exact rerank inside.
    At 100 TB the cell assignment is the partition key: each probe touches
    nprobe/ncells of the data instead of all of it.
  * :func:`signlsh_buckets` — random-hyperplane (SimHash-for-vectors) LSH:
    bucket key = sign pattern of d·h_i with deterministic hash-derived
    hyperplanes; near-duplicate pairs come from a bucket equi-join, the
    embedding-space twin of MinHash-LSH for token sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _qvec(col: str = "embedding") -> str:
    return (f"transform({col}, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0)"
            " AS BIGINT))")


def _dot(a: str, b: str) -> F.Column:
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
                  " CAST(0 AS BIGINT), (acc, v) -> acc + v)")


def quantize_int8(embeddings: DataFrame, emb_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Per-vector symmetric int8 quantization — the standard 4× memory
    cut for a served / IVF-resident vector corpus (float32 → int8 +
    one scale per vector). ``q[i] = round(x[i] · 127 / max|x|)`` ∈
    [-127, 127]; an all-zero (or empty) vector quantizes to zeros with
    scale 0. Reconstruction ``q · mx / 127`` has per-element error
    ≤ mx/254 (pytest-checked vs numpy).

    Returns ``(id_col, mx DOUBLE, q ARRAY<INT>)``. A narrow map riding
    the scan — zero shuffles, zero UDFs; at 100 TB this is
    embarrassingly parallel and IO-bound. ``mx`` is computed as its own
    column BEFORE the quantizing transform so the lambda reads a bound
    row slot; inlining the array_max subexpression into the lambda body
    would re-evaluate it per element (the lambda-CSE trap documented in
    operators/keywords._tf_pairs_sql — O(d²) per row at dim d).
    """
    withmx = embeddings.withColumn(
        "mx", F.expr(f"array_max(transform({emb_col}, "
                     "x -> abs(CAST(x AS DOUBLE))))"))
    q = ("IF(mx IS NULL OR mx = CAST(0 AS DOUBLE), "
         f"transform({emb_col}, x -> 0), "
         f"transform({emb_col}, "
         "x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS INT)))")
    return withmx.select(
        id_col, F.coalesce("mx", F.lit(0.0)).alias("mx"),
        F.expr(q).alias("q"))


def brute_force_knn(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id", emb_col: str = "embedding"
                    ) -> DataFrame:
    """Exact top-k by quantized dot product. queries: (query_id, embedding).
    Broadcast the (small) query side; scan the corpus once."""
    corpus = embeddings.select(F.col(id_col).alias("neighbor_id"),
                               F.expr(_qvec(emb_col)).alias("nv"))
    probes = queries.select(F.col("query_id"),
                            F.expr(_qvec(emb_col)).alias("qv"))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("score_q").desc(), F.col("neighbor_id")))
    return (F.broadcast(probes).crossJoin(corpus)
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", _dot("qv", "nv").alias("score_q"))
            .withColumn("rn", F.row_number().over(w).cast("int"))
            .where(F.col("rn") <= k))


def build_ivf(embeddings: DataFrame, n_cells: int = 16,
              id_col: str = "vec_id", emb_col: str = "embedding"
              ) -> tuple[DataFrame, DataFrame]:
    """→ (centroids, assignments).

    Deterministic coarse quantizer: seed centroids are the vectors whose
    id hashes to the smallest values (order-free pick), then one Lloyd
    refinement (mean per cell). Returns
    centroids(cell_id, cv: array<bigint>) and assignments(id, cell_id).
    """
    q = embeddings.select(F.col(id_col).alias("_id"),
                          F.expr(_qvec(emb_col)).alias("qv"))
    # Seed pick = the n_cells smallest id-hashes via sort().limit() — a
    # distributed TakeOrdered over the corpus, NOT a global row_number
    # Window (which would rank every row through one task at 100 TB). The
    # rank window below runs over the already-limited n_cells rows only.
    picked = (q.withColumn("_h", F.crc32(F.col("_id").cast("string")))
              .orderBy("_h", "_id").limit(n_cells))
    w = Window.orderBy("_h", "_id")
    seeds = (picked.withColumn("cell_id", F.row_number().over(w) - 1)
             .select("cell_id", F.col("qv").alias("cv")))

    assign0 = _assign(q, seeds)
    cents = (assign0.join(q, "_id")
             .select("cell_id", F.posexplode("qv"))
             .groupBy("cell_id", "pos")
             .agg(F.avg("col").cast("bigint").alias("v"))
             .groupBy("cell_id")
             .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("s"))
             .select("cell_id",
                     F.expr("transform(s, x -> x.v)").alias("cv")))
    return cents, _assign(q, cents).withColumnRenamed("_id", id_col)


def _assign(q: DataFrame, cents: DataFrame) -> DataFrame:
    w = Window.partitionBy("_id").orderBy(F.col("d").desc(), F.col("cell_id"))
    return (q.crossJoin(F.broadcast(cents))
            .select("_id", "cell_id", _dot("qv", "cv").alias("d"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).select("_id", "cell_id"))


def ivf_index(embeddings: DataFrame, assignments: DataFrame,
              id_col: str = "vec_id", emb_col: str = "embedding"
              ) -> DataFrame:
    """The stored IVF layout: corpus rows tagged with their cell_id,
    repartitioned BY CELL — built once, queried many times. On a real
    deployment this is the cell-partitioned (bucketed) table; probing
    nprobe cells then prunes the scan to nprobe/n_cells of the files.
    → (neighbor_id, nv, cell_id)."""
    return (embeddings.select(F.col(id_col).alias("neighbor_id"),
                              F.expr(_qvec(emb_col)).alias("nv"))
            .join(assignments.withColumnRenamed(id_col, "neighbor_id"),
                  "neighbor_id")
            .repartition("cell_id"))


def ivf_knn(embeddings: DataFrame, queries: DataFrame,
            centroids: DataFrame, assignments: DataFrame,
            k: int = 5, nprobe: int = 4,
            id_col: str = "vec_id", emb_col: str = "embedding",
            indexed: DataFrame | None = None) -> DataFrame:
    """Probe the ``nprobe`` closest cells per query, exact-rerank inside.
    Candidate volume ≈ nprobe/n_cells of the corpus — the scan-pruning
    that makes 100 TB ANN tractable (cells = partition key). Pass
    ``indexed`` (a persisted :func:`ivf_index`) to query the stored
    layout instead of re-deriving the corpus⋈assignments join per call."""
    probes = queries.select("query_id", F.expr(_qvec(emb_col)).alias("qv"))
    wq = Window.partitionBy("query_id").orderBy(F.col("d").desc(), "cell_id")
    probe_cells = (F.broadcast(probes).crossJoin(F.broadcast(centroids))
                   .select("query_id", "cell_id", "qv",
                           _dot("qv", "cv").alias("d"))
                   .withColumn("_rn", F.row_number().over(wq))
                   .where(F.col("_rn") <= nprobe)
                   .select("query_id", "cell_id", "qv"))
    corpus = indexed if indexed is not None else (
        embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.expr(_qvec(emb_col)).alias("nv"))
        .join(assignments.withColumnRenamed(id_col, "neighbor_id"),
              "neighbor_id"))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("score_q").desc(), F.col("neighbor_id")))
    return (probe_cells.join(corpus, "cell_id")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    _dot("qv", "nv").alias("score_q"))
            .withColumn("rn", F.row_number().over(w).cast("int"))
            .where(F.col("rn") <= k))


#: hex digits with odd low bit — h(i,j) = +1 iff the last md5 hex digit of
#: "i:j" is odd. md5 parity (not crc32) so a DuckDB oracle can recompute
#: the identical planes (SQL_EMBEDDING_NEAR_DUP in queries.py).
_ODD_HEX = "('1','3','5','7','9','b','d','f')"


def signlsh_buckets(embeddings: DataFrame, n_planes: int = 16,
                    id_col: str = "vec_id", emb_col: str = "embedding"
                    ) -> DataFrame:
    """Random-hyperplane LSH bucket key per vector: bit_i = sign(Σ_j qv_j ·
    h(i,j)) with h a deterministic ±1 md5-parity hash and qv the
    integer-quantized vector (×1000) — integer sums are order-independent
    and engine-exact, so the bucket key is reproducible in any engine.
    Cosine-similar vectors share buckets w.h.p. Returns (id, bucket)."""
    bits = []
    for i in range(n_planes):
        proj = F.expr(
            "aggregate(zip_with({qv}, sequence(0, size({v}) - 1),"
            " (x, j) -> x * (CASE WHEN substring(md5(CAST(concat('{i}:',"
            " CAST(j AS STRING)) AS BINARY)), 32, 1) IN {odd}"
            " THEN 1 ELSE -1 END)),"
            " CAST(0 AS BIGINT), (acc, t) -> acc + t)".format(
                qv=_qvec(emb_col), v=emb_col, i=i, odd=_ODD_HEX))
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return embeddings.select(F.col(id_col),
                             F.concat(*bits).alias("bucket"))


def near_dup_pairs_lsh(embeddings: DataFrame, n_planes: int = 12,
                       id_col: str = "vec_id",
                       max_bucket: int = 100) -> DataFrame:
    """Embedding near-duplicate candidates via sign-LSH bucket equi-join,
    mega-bucket-capped like :func:`minhash_candidate_pairs`: on clustered
    corpora whole clusters share sign bits, so an uncapped bucket join
    would emit O(cluster²) pairs per bucket — a bucket with more than
    ``max_bucket`` members is a density artifact, not a near-dup set.
    The cap rides a bucket-partitioned count window on the shuffle the
    self-join already needs."""
    b = signlsh_buckets(embeddings, n_planes, id_col)
    b = (b.withColumn("_bn", F.count("*").over(Window.partitionBy("bucket")))
         .where(F.col("_bn") <= max_bucket).drop("_bn"))
    a = b.select(F.col(id_col).alias("id_a"), "bucket")
    c = b.select(F.col(id_col).alias("id_b"), "bucket")
    return (a.join(c, "bucket").where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def minhash_band_keys(docs: DataFrame, id_col: str = "doc_id",
                      toks_col: str = "toks", n_hashes: int = 8,
                      bands: int = 2) -> DataFrame:
    """→ (id_col, bk): one LSH band key per (doc, band) — the signature
    step behind the batch self-join (:func:`minhash_candidate_pairs`).
    Engine-portable hashes (md5 of 'seed:token'), so the same doc always
    produces the same keys on any engine/run."""
    rows_per_band = n_hashes // bands
    tok = docs.select(id_col, F.explode(toks_col).alias("tok"))
    seeds = docs.sparkSession.range(n_hashes).select(
        F.col("id").cast("int").alias("seed"))
    sigs = (tok.crossJoin(F.broadcast(seeds))
            .select(id_col, "seed",
                    F.md5(F.concat_ws(":", F.col("seed"), F.col("tok")))
                     .alias("h"))
            .groupBy(id_col, "seed").agg(F.min("h").alias("mh")))
    per_doc = (sigs.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(F.struct("seed", "mh")))
                     .alias("sig")))
    band = lambda i, j: F.md5(F.concat_ws(
        "", *[F.col("sig")[k]["mh"] for k in range(i, j)]))
    return per_doc.select(
        id_col,
        F.explode(F.array(*[
            F.concat(F.lit(f"b{b}:"),
                     band(b * rows_per_band,
                          (b + 1) * rows_per_band))
            for b in range(bands)])).alias("bk"))


def minhash_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                            toks_col: str = "toks", n_hashes: int = 8,
                            bands: int = 2,
                            max_bucket: int = 100) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (shingle → minhash → band →
    bucket equi-join), engine-portable (md5 of 'seed:token') and
    mega-bucket-capped: a band bucket holding more than ``max_bucket``
    docs is a degenerate low-entropy collision, not a near-dup cluster —
    dropping it bounds join fan-out to O(#buckets · max_bucket²) at any
    corpus size. ``docs`` carries (id_col, toks_col: array<string> of
    DISTINCT tokens). The cap count rides a bucket-partitioned window on
    the same shuffle the self-join needs."""
    keyed = (minhash_band_keys(docs, id_col, toks_col, n_hashes, bands)
             .withColumn("_bn", F.count("*").over(Window.partitionBy("bk")))
             .where(F.col("_bn") <= max_bucket).drop("_bn"))
    a = keyed.select(F.col(id_col).alias("doc_a"), "bk")
    b = keyed.select(F.col(id_col).alias("doc_b"), "bk")
    return (a.join(b, "bk").where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
