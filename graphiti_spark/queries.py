"""Named queries for the driver contract (``__spark_entry__.py``).

Each entry maps a SURVEY.md §2 operator (or a document/embedding op) to
(a) an idiomatic Spark DataFrame implementation and (b) an equivalent ANSI
SQL oracle DuckDB can run on the same parquet tables. Conventions keeping
the value-hash compare exact across engines:

  * aggregates over floating columns go through DECIMAL (exact) and are cast
    to double afterwards, or use integer-quantized math (e.g. the dot
    product in :func:`q_embedding_knn` quantizes to round(x*1000) so every
    partial sum is an integer-valued double — order-independent and
    bit-identical in any engine);
  * rank/size columns are cast to the same width on both sides;
  * every computed column is aliased identically in both implementations.

The kg_* queries intentionally route through the real extraction pandas
UDFs (the reference's LLM stand-ins) over transcripts derived
deterministically from the TPC-H-ish tables, with a regex/join SQL oracle —
so the driver's gate covers the UDF path, not just relational plans.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

RUN_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Episode / window operators (S1/S3/W1/W6 — SURVEY §2.1, §2.5)
# ---------------------------------------------------------------------------

def q_episode_assembly(spark, sf_dir):
    """S1/M1: window over (conv, turn) → content + previous-3 context.
    Events stand in for transcript turns (conv = user_id)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    content = F.concat_ws(": ", "event_type", "props")
    df = ev.withColumn("content", content)
    return df.select(
        "user_id",
        F.row_number().over(w).cast("int").alias("turn_seq"),
        "content",
        F.concat_ws(" | ", F.lag("content", 3).over(w),
                    F.lag("content", 2).over(w),
                    F.lag("content", 1).over(w)).alias("prev_ctx"),
    )


SQL_EPISODE_ASSEMBLY = """
WITH e AS (
  SELECT user_id, ts, event_id,
         concat_ws(': ', event_type, props) AS content
  FROM events
)
SELECT user_id,
       CAST(row_number() OVER w AS INTEGER) AS turn_seq,
       content,
       concat_ws(' | ', lag(content, 3) OVER w, lag(content, 2) OVER w,
                 lag(content, 1) OVER w) AS prev_ctx
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_episode_retrieval(spark, sf_dir):
    """S3/W1: last-5 rows per group with ts <= reference_time, chronological
    (graph_data_operations.py:84-135 semantics)."""
    ev = load(spark, sf_dir, "events")
    cutoff = "2024-01-15 00:00:00"
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").desc(), F.col("event_id").desc()))
    return (ev.where(F.col("ts") <= F.lit(cutoff).cast("timestamp"))
            .withColumn("rn", F.row_number().over(w).cast("int"))
            .where(F.col("rn") <= 5)
            .select("user_id", "event_id", "ts", "event_type", "rn"))


SQL_EPISODE_RETRIEVAL = """
SELECT user_id, event_id, ts, event_type, rn
FROM (
  SELECT user_id, event_id, ts, event_type,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC)
              AS INTEGER) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
) WHERE rn <= 5
"""


def q_window_versioning(spark, sf_dir):
    """W6/T1: temporal edge versioning as window dedup — per key ordered by
    event time, invalid_at = lead(valid_at) (edge_operations.py:345-375
    re-expressed; the engine's versioning core on neutral data)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_type", "event_id",
        F.col("ts").alias("valid_at"),
        F.lead("ts").over(w).alias("invalid_at"),
    )


SQL_WINDOW_VERSIONING = """
SELECT user_id, event_type, event_id, ts AS valid_at,
       lead(ts) OVER (PARTITION BY user_id, event_type
                      ORDER BY ts, event_id) AS invalid_at
FROM events
"""


def q_sessionize(spark, sf_dir):
    """Streaming-style sessionization (gap > 30 min ⇒ new session): the
    batch equivalent of a session window over the events stream."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES")),
        F.lit(1)).otherwise(F.lit(0))
    df = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
         .cast("bigint"))
    return (df.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("t_start"), F.max("ts").alias("t_end")))


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS t_start, max(ts) AS t_end
FROM s GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Join operators (J6/J7/J8/J9 — SURVEY §2.3)
# ---------------------------------------------------------------------------

def q_anti_join_orphans(spark, sf_dir):
    """J6/S9 anti-join: customers with no orders (orphan GC shape)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (c.join(o.select(F.col("o_custkey").alias("c_custkey")),
                   "c_custkey", "left_anti")
            .select("c_custkey", "c_name"))


SQL_ANTI_JOIN_ORPHANS = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_semi_join_mentions(spark, sf_dir):
    """J7 semi-join: orders having at least one returned lineitem."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (o.join(li.where(F.col("l_returnflag") == "R")
                    .select(F.col("l_orderkey").alias("o_orderkey")),
                   "o_orderkey", "left_semi")
            .select("o_orderkey", "o_custkey", "o_orderstatus"))


SQL_SEMI_JOIN_MENTIONS = """
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
"""


def q_canonical_remap(spark, sf_dir):
    """J8 resolve_edge_pointers shape (bulk_utils.py:420-427): remap keys
    through a canonical map (min custkey per nation) with join + coalesce."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    cmap = (c.groupBy("c_nationkey")
            .agg(F.min("c_custkey").alias("canonical_custkey")))
    mapping = (c.join(F.broadcast(cmap), "c_nationkey")
               .select(F.col("c_custkey").alias("o_custkey"),
                       "canonical_custkey"))
    return (o.join(F.broadcast(mapping), "o_custkey", "left")
            .select("o_orderkey",
                    F.coalesce("canonical_custkey", "o_custkey")
                     .alias("resolved_custkey")))


SQL_CANONICAL_REMAP = """
WITH cmap AS (
  SELECT c_nationkey, min(c_custkey) AS canonical_custkey
  FROM customer GROUP BY c_nationkey
), m AS (
  SELECT c.c_custkey AS o_custkey, cmap.canonical_custkey
  FROM customer c JOIN cmap ON c.c_nationkey = cmap.c_nationkey
)
SELECT o.o_orderkey,
       coalesce(m.canonical_custkey, o.o_custkey) AS resolved_custkey
FROM orders o LEFT JOIN m ON o.o_custkey = m.o_custkey
"""


def q_bfs_2hop(spark, sf_dir):
    """J9 BFS: parts within 2 hops of part 1 in the co-order graph
    (iterative frontier self-join, depth bounded like MAX_SEARCH_DEPTH)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    origin = F.lit(1)
    h1 = (li.where(F.col("l_partkey") == origin).select("l_orderkey")
          .join(li, "l_orderkey")
          .where(F.col("l_partkey") != origin)
          .select("l_partkey").distinct())
    frontier = h1.select(F.col("l_partkey").alias("p"))
    h2 = (li.join(frontier, li.l_partkey == frontier.p)
          .select("l_orderkey").distinct()
          .join(li, "l_orderkey")
          .where(F.col("l_partkey") != origin)
          .select("l_partkey").distinct()
          .join(h1, "l_partkey", "left_anti"))
    return (h1.select("l_partkey", F.lit(1).cast("int").alias("hops"))
            .unionByName(h2.select("l_partkey",
                                   F.lit(2).cast("int").alias("hops"))))


SQL_BFS_2HOP = """
WITH h1 AS (
  SELECT DISTINCT l2.l_partkey
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey = 1 AND l2.l_partkey <> 1
), h2 AS (
  SELECT DISTINCT l2.l_partkey
  FROM h1
  JOIN lineitem l1 ON l1.l_partkey = h1.l_partkey
  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l2.l_partkey <> 1
    AND l2.l_partkey NOT IN (SELECT l_partkey FROM h1)
)
SELECT l_partkey, CAST(1 AS INTEGER) AS hops FROM h1
UNION ALL
SELECT l_partkey, CAST(2 AS INTEGER) AS hops FROM h2
"""


# ---------------------------------------------------------------------------
# Aggregation / ranking / set ops (A2/A3/W2/W3/W7/U1 — SURVEY §2.4-2.6)
# ---------------------------------------------------------------------------

RRF_CANDIDATES = 200   # per-method candidate-list bound (reference fans
                       # out 2×limit per method — ranked lists are bounded)


def q_rrf_fusion(spark, sf_dir):
    """A2 reciprocal rank fusion (search_utils.py:875-890): each method
    contributes a BOUNDED candidate list — top-200 via sort().limit()
    (distributed TakeOrdered), ranked within the bounded set, missing
    membership contributes 0 — then score = Σ 1/(60+rank), top 20. Never
    ranks an unbounded table through a global window (the reference ranks
    per-method result lists, not corpora)."""
    o = load(spark, sf_dir, "orders")

    def top(order_cols, rank_name):
        lim = (o.select("o_orderkey", *[c for c in
                                        ("o_totalprice", "o_orderdate")])
               .orderBy(*order_cols).limit(RRF_CANDIDATES))
        w = Window.orderBy(*order_cols)   # over ≤ RRF_CANDIDATES rows
        return lim.select("o_orderkey",
                          F.row_number().over(w).alias(rank_name))

    ra = top([F.col("o_totalprice").desc(), F.col("o_orderkey")], "ra")
    rb = top([F.col("o_orderdate").asc(), F.col("o_orderkey")], "rb")
    fused = (ra.join(rb, "o_orderkey", "full_outer")
             .select("o_orderkey",
                     (F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("ra")),
                                 F.lit(0.0))
                      + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rb")),
                                   F.lit(0.0))).alias("rrf_score")))
    return (fused.orderBy(F.col("rrf_score").desc(), F.col("o_orderkey"))
            .limit(20))


SQL_RRF_FUSION = f"""
WITH la AS (
  SELECT o_orderkey, row_number() OVER
           (ORDER BY o_totalprice DESC, o_orderkey) AS ra
  FROM (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT {RRF_CANDIDATES})
), lb AS (
  SELECT o_orderkey, row_number() OVER
           (ORDER BY o_orderdate ASC, o_orderkey) AS rb
  FROM (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        ORDER BY o_orderdate ASC, o_orderkey LIMIT {RRF_CANDIDATES})
)
SELECT coalesce(la.o_orderkey, lb.o_orderkey) AS o_orderkey,
       coalesce(1.0 / (60 + ra), 0.0) + coalesce(1.0 / (60 + rb), 0.0)
         AS rrf_score
FROM la FULL OUTER JOIN lb ON la.o_orderkey = lb.o_orderkey
ORDER BY rrf_score DESC, o_orderkey LIMIT 20
"""


def q_top_k_per_group(spark, sf_dir):
    """W3 per-probe top-k: top-3 orders per customer by price."""
    o = load(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")))
    return (o.withColumn("rn", F.row_number().over(w).cast("int"))
            .where(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "rn"))


SQL_TOP_K_PER_GROUP = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_cursor_pagination(spark, sf_dir):
    """W7/S7 uuid-cursor pagination: key < cursor, desc, limit."""
    o = load(spark, sf_dir, "orders")
    return (o.where(F.col("o_orderkey") < 500)
            .orderBy(F.col("o_orderkey").desc())
            .limit(10)
            .select("o_orderkey", "o_custkey", "o_totalprice"))


SQL_CURSOR_PAGINATION = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_orderkey < 500 ORDER BY o_orderkey DESC LIMIT 10
"""


def q_union_dedup(spark, sf_dir):
    """U1 multi-method result union deduped by key."""
    o = load(spark, sf_dir, "orders")
    a = o.where(F.col("o_totalprice") > 150000).select("o_orderkey")
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return a.unionByName(b).dropDuplicates(["o_orderkey"])


SQL_UNION_DEDUP = """
SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
UNION
SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped aggregation with map-side partial aggregation;
    DECIMAL-exact sums cast to double (order-independent)."""
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("count_order"),
                 F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"))
            )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus, count(*) AS count_order,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_mention_count(spark, sf_dir):
    """A3/A6 mention counting: events per (user, type) — the
    episode_mentions reranker aggregation shape."""
    ev = load(spark, sf_dir, "events")
    return (ev.groupBy("user_id", "event_type")
            .agg(F.count("*").alias("n_mentions"),
                 F.min("event_id").alias("first_event"),
                 F.max("event_id").alias("last_event")))


SQL_MENTION_COUNT = """
SELECT user_id, event_type, count(*) AS n_mentions,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM events GROUP BY user_id, event_type
"""


# ---------------------------------------------------------------------------
# Document / embedding ops (dedup, kNN, rerank, search)
# ---------------------------------------------------------------------------

_TOKS = "split(lower(trim(text)), '\\\\s+')"


def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content-prefix hash (first 10 tokens): canonical =
    min doc_id per hash; hash-groupBy, the exact-dedup primitive."""
    d = load(spark, sf_dir, "documents")
    sig = F.md5(F.concat_ws(" ", F.slice(F.expr(_TOKS), 1, 10)))
    return (d.withColumn("sig", sig)
            .groupBy("sig")
            .agg(F.min("doc_id").alias("canonical_doc_id"),
                 F.count("*").alias("n_members"))
            .where(F.col("n_members") > 1))


SQL_DEDUP_EXACT = """
SELECT md5(array_to_string(string_split_regex(lower(trim(text)), '\\s+')[1:10],
           ' ')) AS sig,
       min(doc_id) AS canonical_doc_id, count(*) AS n_members
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


JACCARD_MAX_DF = 100   # stop-token cap: tokens in more docs than this are
                       # excluded from the similarity vocabulary


def q_dedup_jaccard(spark, sf_dir):
    """Token-set Jaccard near-dup pairs ≥ 0.5 over a sampled slice: token
    equi-join blocking → shared-count agg → exact Jaccard over the
    stop-token-filtered vocabulary. Tokens appearing in > JACCARD_MAX_DF
    docs are dropped from BOTH the blocking join and the token sets —
    without the cap a stop token shared by millions of docs makes the
    self-join quadratic at 100 TB (same guard as operators/dedup.py
    MAX_BLOCK, expressed as a df-frequency filter so the SQL oracle can
    mirror it exactly)."""
    d = (load(spark, sf_dir, "documents")
         .where(F.col("doc_id") % 5 == 0)
         .select("doc_id", F.array_distinct(F.expr(_TOKS)).alias("toks")))
    ex = d.select("doc_id", F.explode("toks").alias("tok"))
    keep = (ex.groupBy("tok").agg(F.count("*").alias("df"))
            .where(F.col("df") <= JACCARD_MAX_DF).select("tok"))
    ex = ex.join(keep, "tok")
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    a = ex.select(F.col("doc_id").alias("doc_a"), "tok")
    b = ex.select(F.col("doc_id").alias("doc_b"), "tok")
    pairs = (a.join(b, "tok").where(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("shared")))
    pairs = (pairs
             .join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("n_toks").alias("na")), "doc_a")
             .join(sizes.select(F.col("doc_id").alias("doc_b"),
                                F.col("n_toks").alias("nb")), "doc_b"))
    jac = (F.col("shared").cast("double")
           / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"))
    return (pairs.withColumn("jaccard", jac)
            .where(F.col("jaccard") >= 0.5)
            .select("doc_a", "doc_b", "jaccard"))


SQL_DEDUP_JACCARD = f"""
WITH d AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
  FROM documents WHERE doc_id % 5 = 0
), ex0 AS (
  SELECT doc_id, unnest(toks) AS tok FROM d
), keep AS (
  SELECT tok FROM ex0 GROUP BY tok HAVING count(*) <= {JACCARD_MAX_DF}
), ex AS (
  SELECT doc_id, ex0.tok FROM ex0 JOIN keep ON ex0.tok = keep.tok
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM ex GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sized AS (
  SELECT p.doc_a, p.doc_b, p.shared, sa.n_toks AS na, sb.n_toks AS nb
  FROM pairs p
  JOIN sizes sa ON p.doc_a = sa.doc_id
  JOIN sizes sb ON p.doc_b = sb.doc_id
)
SELECT doc_a, doc_b,
       CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE) AS jaccard
FROM sized
WHERE CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE) >= 0.5
"""


#: Stop-bucket cap for MinHash-LSH: a band bucket holding more docs than
#: this is a degenerate low-entropy collision (on this corpus two buckets
#: hold 2692/2311 of 5000 docs and alone emit ~5.2M of the candidate
#: pairs), not a near-dup cluster — the same guard as JACCARD_MAX_DF.
#: Pair fan-out per bucket is bounded by cap²/2, so the join output is
#: O(#buckets·cap²) instead of O(n²) at 100 TB.
MINHASH_MAX_BUCKET = 100


def q_dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-dup candidates: 8 md5-minhashes → 2 bands of 4 →
    band-key equi-join (shingle→minhash→band→bucket-join), mega-buckets
    dropped at MINHASH_MAX_BUCKET via a bk-partitioned count window (rides
    the same bk shuffle the self-join needs — no extra scan). Engine-
    portable because the hash is md5 of 'seed:token' (identical in any
    engine). Plan lives in operators/ann.minhash_candidate_pairs."""
    from graphiti_spark.operators.ann import minhash_candidate_pairs
    d = (load(spark, sf_dir, "documents")
         .select("doc_id", F.array_distinct(F.expr(_TOKS)).alias("toks")))
    return minhash_candidate_pairs(d, max_bucket=MINHASH_MAX_BUCKET)


SQL_DEDUP_MINHASH = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+')))
           AS tok
  FROM documents
), sigs AS (
  SELECT doc_id, seed, min(md5(concat(seed, ':', tok))) AS mh
  FROM tok, (SELECT unnest(range(8)) AS seed)
  GROUP BY doc_id, seed
), per_doc AS (
  SELECT doc_id,
         md5(string_agg(CASE WHEN seed < 4 THEN mh END, '' ORDER BY seed))
           AS band0,
         md5(string_agg(CASE WHEN seed >= 4 THEN mh END, '' ORDER BY seed))
           AS band1
  FROM sigs GROUP BY doc_id
), keyed AS (
  SELECT doc_id, bk FROM (
    SELECT doc_id, 'b0:' || band0 AS bk FROM per_doc
    UNION ALL
    SELECT doc_id, 'b1:' || band1 AS bk FROM per_doc)
  QUALIFY count(*) OVER (PARTITION BY bk) <= 100
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM keyed a JOIN keyed b ON a.bk = b.bk AND a.doc_id < b.doc_id
"""


_QVEC = ("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0)"
         " AS BIGINT))")


def q_embedding_knn(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline: quantized integer dot product
    (exact in any summation order), top-5 neighbors per query vector."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QVEC).alias("q"))
    queries = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv"))
    dot = F.expr("aggregate(zip_with(qv, q, (x, y) -> x * y),"
                 " CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("score_q").desc(), F.col("neighbor_id")))
    return (F.broadcast(queries).crossJoin(e)
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    dot.alias("score_q"))
            .withColumn("rn", F.row_number().over(w).cast("int"))
            .where(F.col("rn") <= 5))


SQL_EMBEDDING_KNN = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 10
), n AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS nv
  FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         CAST(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[i] * nv[i])) AS BIGINT) AS score_q
  FROM q, n WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, score_q, rn FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score_q DESC, neighbor_id) AS INTEGER) AS rn
  FROM scored
) WHERE rn <= 5
"""


def q_embedding_centroid(spark, sf_dir):
    """Per-label quantized centroid numerators (the IVF coarse-quantizer
    training agg): element-wise integer sums via posexplode."""
    e = load(spark, sf_dir, "embeddings")
    return (e.select("label", F.posexplode(F.expr(_QVEC)))
            .select("label", (F.col("pos") + 1).cast("int").alias("dim"),
                    F.col("col").alias("qval"))
            .groupBy("label", "dim")
            .agg(F.sum("qval").alias("sum_q"),
                 F.count("*").alias("n_vecs")))


SQL_EMBEDDING_CENTROID = """
SELECT label, CAST(i AS INTEGER) AS dim,
       CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000, 0) AS BIGINT))
            AS BIGINT) AS sum_q,
       count(*) AS n_vecs
FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
GROUP BY label, i
"""


def q_embedding_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization (ann.quantize_int8) — the
    4× memory cut for a served vector corpus. The driver compare avoids
    array-typed columns (pandas renders JVM and DuckDB arrays
    differently), so the query pins each quantized vector through
    exact-integer summaries: component sum, absolute sum, non-zero
    count, and max magnitude (127 for any non-zero vector by
    construction). mx is a single cast of the stored float — identical
    IEEE value in both engines; everything else is BIGINT."""
    from graphiti_spark.operators.ann import quantize_int8
    e = load(spark, sf_dir, "embeddings")
    qz = quantize_int8(e)
    agg = ("aggregate(q, named_struct('s', CAST(0 AS BIGINT), "
           "'a', CAST(0 AS BIGINT), 'n', CAST(0 AS BIGINT), "
           "'m', CAST(0 AS BIGINT)), "
           "(acc, v) -> named_struct('s', acc.s + v, 'a', acc.a + abs(v), "
           "'n', acc.n + IF(v = 0, 0L, 1L), "
           "'m', greatest(acc.m, CAST(abs(v) AS BIGINT))))")
    return qz.select(
        "vec_id", "mx",
        F.expr(f"{agg}.s").alias("sum_q"),
        F.expr(f"{agg}.a").alias("sum_abs_q"),
        F.expr(f"{agg}.n").alias("nnz"),
        F.expr(f"{agg}.m").alias("max_abs_q"))


SQL_EMBEDDING_INT8 = """
WITH b AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS mx,
         embedding
  FROM embeddings
), qz AS (
  SELECT vec_id, coalesce(mx, 0.0) AS mx,
         CASE WHEN mx IS NULL OR mx = 0 THEN
           list_transform(embedding, x -> 0)
         ELSE
           list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx, 0) AS INTEGER))
         END AS q
  FROM b
)
SELECT vec_id, mx,
       CAST(list_sum(q) AS BIGINT) AS sum_q,
       CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT)
         AS sum_abs_q,
       CAST(len(list_filter(q, v -> v <> 0)) AS BIGINT) AS nnz,
       CAST(coalesce(list_max(list_transform(q, v -> abs(v))), 0) AS BIGINT)
         AS max_abs_q
FROM qz
"""


def q_cross_encoder_rerank(spark, sf_dir):
    """Q7 cross_encoder reranker stand-in (operators/search.py
    cross_encoder_rank): lexical-overlap score of each document vs a fixed
    query, top-5 per source. The rank window is PARTITIONED (per source) —
    bounded candidate lists, never a global single-task sort."""
    d = load(spark, sf_dir, "documents")
    q_arr = F.array(F.lit("spark"), F.lit("window"), F.lit("agg"),
                    F.lit("join"))
    toks = F.array_distinct(F.expr(_TOKS))
    w = (Window.partitionBy("source")
         .orderBy(F.col("overlap").desc(), "doc_id"))
    return (d.select("source", "doc_id",
                     F.size(F.array_intersect(toks, q_arr)).cast("int")
                      .alias("overlap"))
            .withColumn("rn", F.row_number().over(w).cast("int"))
            .where(F.col("rn") <= 5))


SQL_CROSS_ENCODER_RERANK = """
WITH s AS (
  SELECT source, doc_id,
         CAST(len(list_intersect(
             list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
             ['spark', 'window', 'agg', 'join'])) AS INTEGER) AS overlap
  FROM documents
)
SELECT source, doc_id, overlap, rn FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY source
            ORDER BY overlap DESC, doc_id) AS INTEGER) AS rn
  FROM s
) WHERE rn <= 5
"""


def q_composite_search(spark, sf_dir):
    """Q9 composite 4-layer search() (operators/composite_search.py,
    mirroring the reference's search/search.py fan-out): ONE call runs the
    edge/node/episode/community layers of COMBINED_HYBRID_SEARCH_RRF —
    bm25+cosine per layer (episode layer bm25-only per the preset), RRF
    fuse, shared limit — and the query unions the four hydrated outputs
    under a `layer` tag. Layer tables are doc_id%4 slices of documents ⋈
    embeddings; the query vector is vec 0's embedding, so the oracle can
    replay cosine from the same view. All reranker scores are RRF
    reciprocal-rank sums (exact IEEE rationals → hash-stable); method
    rankings are stable across engines because distinct docs' bm25/cosine
    scores differ far above ulp and exact ties break on uuid in both."""
    from graphiti_spark.operators.composite_search import (
        COMBINED_HYBRID_SEARCH_RRF, search)
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    # All four layer slices and every bm25/cosine subtree derive from this
    # one join — persist it so the ~16 downstream uses scan it once.
    de = (d.join(e, d["doc_id"] == e["vec_id"])
          .select(F.col("doc_id").alias("uuid"), "text", "embedding")
          .persist())
    qvec = [float(x) for x in
            e.where(F.col("vec_id") == 0).select("embedding").head()[0]]

    def slice_(k, text_alias, emb_alias=None):
        cols = [F.col("uuid"), F.col("text").alias(text_alias)]
        if emb_alias:
            cols.append(F.col("embedding").alias(emb_alias))
        return de.where(F.col("uuid") % 4 == k).select(*cols)

    res = search("spark window agg", qvec, COMBINED_HYBRID_SEARCH_RRF,
                 edges=slice_(0, "fact", "fact_embedding"),
                 nodes=slice_(1, "name", "name_embedding"),
                 episodes=slice_(2, "content"),
                 communities=slice_(3, "summary", "name_embedding"))
    parts = [
        res.edges.select(F.lit("edge").alias("layer"), "uuid", "score"),
        res.nodes.select(F.lit("node").alias("layer"), "uuid", "score"),
        res.episodes.select(F.lit("episode").alias("layer"), "uuid",
                            "score"),
        res.communities.select(F.lit("community").alias("layer"), "uuid",
                               "score"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_served_search(spark, sf_dir):
    """The SERVING twin of `composite_search` (graphiti_spark/serving.py):
    the same four layer slices are snapshotted into a ServedGraph
    (inverted token index + embedding matrix, the exported point-lookup
    form of the pipeline's tables — the reference's "indexed store"
    answering sub-second, README.md:97) and the SAME
    COMBINED_HYBRID_SEARCH_RRF query is answered from memory. The result
    is converted back to a DataFrame and checked against the IDENTICAL
    DuckDB oracle as the Spark plan — so interactive serving is proven to
    be the same search, not a lookalike."""
    from graphiti_spark.operators.composite_search import (
        COMBINED_HYBRID_SEARCH_RRF)
    from graphiti_spark.serving import ServedGraph
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    de = (d.join(e, d["doc_id"] == e["vec_id"])
          .select(F.col("doc_id").alias("uuid"), "text", "embedding"))
    qvec = [float(x) for x in
            e.where(F.col("vec_id") == 0).select("embedding").head()[0]]

    def slice_(k, text_alias, emb_alias=None):
        cols = [F.col("uuid"), F.col("text").alias(text_alias)]
        if emb_alias:
            cols.append(F.col("embedding").alias(emb_alias))
        return de.where(F.col("uuid") % 4 == k).select(*cols)

    sg = ServedGraph.from_spark(
        edges=slice_(0, "fact", "fact_embedding"),
        nodes=slice_(1, "name", "name_embedding"),
        episodes=slice_(2, "content"),
        communities=slice_(3, "summary", "name_embedding"))
    res = sg.search("spark window agg", qvec, COMBINED_HYBRID_SEARCH_RRF)
    import pandas as pd
    parts = [pdf.assign(layer=tag)[["layer", "uuid", "score"]]
             for tag, pdf in [("edge", res.edges), ("node", res.nodes),
                              ("episode", res.episodes),
                              ("community", res.communities)]]
    out = pd.concat(parts, ignore_index=True)
    return spark.createDataFrame(
        out, "layer string, uuid long, score double")


def _composite_layer_sql(k: int, tag: str, with_cosine: bool) -> str:
    """One layer of SQL_COMPOSITE_SEARCH: bm25 (and cosine) top-20 lists →
    1-based (score DESC, uuid) ranks → RRF 1/rank fuse → top-10."""
    bm25 = f"""
L{k}_toks AS (
  SELECT uuid, list_filter(string_split(
      regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
    x -> x <> '') AS tl
  FROM L{k}_docs
), L{k}_stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         coalesce(avg(CAST(len(tl) AS DOUBLE)), 1.0) AS avgdl
  FROM L{k}_toks
), L{k}_tf AS (
  SELECT uuid, tok, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
  FROM (SELECT uuid, CAST(len(tl) AS DOUBLE) AS dl, unnest(tl) AS tok
        FROM L{k}_toks)
  WHERE tok IN ('spark', 'window', 'agg') GROUP BY uuid, tok
), L{k}_dfreq AS (
  SELECT tok, CAST(count(DISTINCT uuid) AS DOUBLE) AS df
  FROM L{k}_tf GROUP BY tok
), L{k}_bm25_top AS (
  SELECT uuid, row_number() OVER (ORDER BY score DESC, uuid) AS rn
  FROM (SELECT t.uuid,
               sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (0.25 + 0.75 * t.dl
                                    / greatest(s.avgdl, 1e-9)))) AS score
        FROM L{k}_tf t JOIN L{k}_dfreq d USING (tok)
        CROSS JOIN L{k}_stats s GROUP BY t.uuid)
  QUALIFY rn <= 20
)"""
    cos = f""", L{k}_cos_top AS (
  SELECT uuid, row_number() OVER (ORDER BY score DESC, uuid) AS rn
  FROM (SELECT uuid,
               CASE WHEN nrm > 0 THEN dot / (nrm * qn)
                    ELSE 0.0 END AS score
        FROM (SELECT uuid, qn,
                     list_sum(list_transform(range(1, len(emb) + 1),
                         i -> emb[i] * qv[i])) AS dot,
                     sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
              FROM L{k}_docs CROSS JOIN qv CROSS JOIN qstats))
  WHERE score > 0.6 QUALIFY rn <= 20
)"""
    lists = f"SELECT uuid, rn FROM L{k}_bm25_top"
    if with_cosine:
        lists += f" UNION ALL SELECT uuid, rn FROM L{k}_cos_top"
    out = f""", L{k}_out AS (
  SELECT '{tag}' AS layer, uuid, score FROM (
    SELECT uuid, sum(1.0 / rn) AS score FROM ({lists}) GROUP BY uuid)
  ORDER BY score DESC, uuid LIMIT 10
)"""
    return bm25 + (cos if with_cosine else "") + out


SQL_COMPOSITE_SEARCH = (
    """
WITH de AS (
  SELECT d.doc_id AS uuid, d.text,
         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
), qv AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
), qstats AS (
  SELECT sqrt(list_sum(list_transform(qv, x -> x * x))) AS qn FROM qv
), L0_docs AS (SELECT * FROM de WHERE uuid % 4 = 0),
   L1_docs AS (SELECT * FROM de WHERE uuid % 4 = 1),
   L2_docs AS (SELECT * FROM de WHERE uuid % 4 = 2),
   L3_docs AS (SELECT * FROM de WHERE uuid % 4 = 3),"""
    + ",".join([
        _composite_layer_sql(0, "edge", True).lstrip(",\n"),
        _composite_layer_sql(1, "node", True).lstrip(",\n"),
        _composite_layer_sql(2, "episode", False).lstrip(",\n"),
        _composite_layer_sql(3, "community", True).lstrip(",\n"),
    ])
    + """
SELECT * FROM L0_out UNION ALL SELECT * FROM L1_out
UNION ALL SELECT * FROM L2_out UNION ALL SELECT * FROM L3_out
""")


def q_bm25_search(spark, sf_dir):
    """Q1 fulltext search through the real BM25 plan (operators/search.py
    bm25_lite_search) at Lucene's default b=0.75 length normalization:
    corpus stats (N, avgdl) fold into a 1-row broadcast aggregate, tf via
    token equi-join against the broadcast query tokens, idf from a
    doc-frequency groupBy. limit exceeds the corpus so the driver compares
    the full scored set (no float-tie cutoff); scores rounded to 6 dp on
    BOTH sides to absorb libm-vs-JVM ln() ulp differences."""
    from graphiti_spark.operators.search import bm25_lite_search
    d = load(spark, sf_dir, "documents")
    res = bm25_lite_search(d, "text", "spark window agg",
                           id_col="doc_id", limit=1_000_000)
    return res.select("uuid", F.round("score", 6).alias("score"))


SQL_BM25_SEARCH = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(
             regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
           x -> x <> '') AS tl
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         coalesce(avg(CAST(len(tl) AS DOUBLE)), 1.0) AS avgdl
  FROM toks
), exploded AS (
  SELECT doc_id, CAST(len(tl) AS DOUBLE) AS dl, unnest(tl) AS tok FROM toks
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
  FROM exploded WHERE tok IN ('spark', 'window', 'agg')
  GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM tf GROUP BY tok
)
SELECT t.doc_id AS uuid,
       round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                 * (t.tf * (1.2 + 1.0))
                 / (t.tf + 1.2 * (0.25 + 0.75 * t.dl
                                  / greatest(s.avgdl, 1e-9)))), 6) AS score
FROM tf t JOIN dfreq d USING (tok) CROSS JOIN stats s
GROUP BY t.doc_id
"""


# ---------------------------------------------------------------------------
# KG extraction through the real pandas UDFs (E1/E3) with a SQL oracle
# ---------------------------------------------------------------------------

def derived_transcripts(spark, sf_dir, with_negation: bool = False):
    """Deterministic transcripts from customer ⋈ nation: a message-format
    conversation per customer whose sentences hit the extraction templates.
    (Driver-data-derived; no external data.)"""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    base = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .select(
                F.col("c_custkey"),
                F.regexp_replace("c_name", "#", "").alias("person"),
                F.col("n_name").alias("org"),
                F.initcap(F.lower("c_mktsegment")).alias("place")))
    conv = F.concat(F.lit("conv"), F.col("c_custkey").cast("string"))
    ts0 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    turns = [
        (0, "user", F.concat(F.col("person"), F.lit(" works at "),
                             F.col("org"), F.lit("."))),
        (1, "assistant", F.concat(F.col("person"), F.lit(" lives in "),
                                  F.col("place"), F.lit("."))),
    ]
    if with_negation:
        turns.append(
            (2, "user", F.when(
                F.col("c_custkey") % 2 == 0,
                F.concat(F.col("person"), F.lit(" no longer works at "),
                         F.col("org"), F.lit("."))).otherwise(
                F.lit("thanks, that is all for now."))))
    dfs = [base.select(conv.alias("conv_id"),
                       F.lit(i).cast("int").alias("turn_idx"),
                       F.lit(role).alias("role"), text.alias("text"),
                       F.lit(None).cast("string").alias("tool"),
                       (ts0 + F.expr(f"INTERVAL {i} MINUTES")).alias("ts"))
           for i, role, text in turns]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def q_kg_extract_triples(spark, sf_dir):
    """E3 triple extraction through the real vectorized UDF over derived
    transcripts; oracle reconstructs the template join in SQL."""
    from graphiti_spark.operators.episodes import assemble_episodes
    from graphiti_spark.operators.extract import extract_edges
    tr = derived_transcripts(spark, sf_dir)
    eps = assemble_episodes(tr, RUN_TS)
    raw = extract_edges(eps, RUN_TS)
    return raw.select(F.col("group_id").alias("conv_id"),
                      "subj", F.col("pred"), "obj")


SQL_KG_EXTRACT_TRIPLES = """
WITH base AS (
  SELECT 'conv' || CAST(c_custkey AS VARCHAR) AS conv_id,
         replace(c_name, '#', '') AS person, n.n_name AS org,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT conv_id, person AS subj, 'WORKS_AT' AS pred, org AS obj FROM base
UNION ALL
SELECT conv_id, person AS subj, 'LIVES_IN' AS pred, place AS obj FROM base
"""


def q_kg_anaphora(spark, sf_dir):
    """Round-4c anaphora/coordination layer (rules.py: recency pronoun
    coref in both slots, first-person→speaker, conjoined subjects/objects
    with plural→singular conjugation, definite-NP→last org, coordinate
    clauses under a both-sides-parse guard) exercised through the REAL
    distributed extraction UDF over a literal transcript; the oracle
    states every expected triple closed-form. Deterministic stand-in for
    the reference LLM's instructed reference resolution
    (prompts/extract_nodes.py)."""
    from graphiti_spark.operators.episodes import assemble_episodes
    from graphiti_spark.operators.extract import extract_edges
    ts0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        ("a1", 0, "user", "Alice Chen joined the team. She works at "
                          "Globex.", None, ts0),
        ("a1", 1, "bob", "I founded Hooli in 2001.", None, ts0),
        ("a2", 0, "user", "Erin Patel and Frank Woo work at Initech.",
         None, ts0),
        ("a2", 1, "user", "Carol Moss relocated to Oslo. Acme Corp "
                          "employs her.", None, ts0),
        ("a3", 0, "user", "Grace Lin works at Umbrella Labs. The company "
                          "is based in Lisbon.", None, ts0),
        ("a3", 1, "user", "Dana Kim works at Globex and Henry Ford lives "
                          "in Paris.", None, ts0),
        ("a3", 2, "user", "Ivy Chou is friends with Jack Ma and Ken Loh.",
         None, ts0),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    eps = assemble_episodes(tr, RUN_TS)
    raw = extract_edges(eps, RUN_TS)
    return raw.select(F.col("group_id").alias("conv_id"),
                      "subj", "pred", "obj")


SQL_KG_ANAPHORA = """
SELECT * FROM (VALUES
  ('a1', 'Alice Chen', 'WORKS_AT',     'Globex'),
  ('a1', 'Bob',        'FOUNDED',      'Hooli'),
  ('a2', 'Erin Patel', 'WORKS_AT',     'Initech'),
  ('a2', 'Frank Woo',  'WORKS_AT',     'Initech'),
  ('a2', 'Carol Moss', 'LIVES_IN',     'Oslo'),
  ('a2', 'Carol Moss', 'WORKS_AT',     'Acme Corp'),
  ('a3', 'Grace Lin',  'WORKS_AT',     'Umbrella Labs'),
  ('a3', 'Umbrella Labs', 'LIVES_IN',  'Lisbon'),
  ('a3', 'Dana Kim',   'WORKS_AT',     'Globex'),
  ('a3', 'Henry Ford', 'LIVES_IN',     'Paris'),
  ('a3', 'Ivy Chou',   'FRIENDS_WITH', 'Jack Ma'),
  ('a3', 'Ivy Chou',   'FRIENDS_WITH', 'Ken Loh')
) AS t(conv_id, subj, pred, obj)
"""


def q_kg_context_coref(spark, sf_dir):
    """Round-4d cross-episode layer: the build's extraction kernel
    (extract.extract_combined), which reads each episode's previous
    turns from the conversation's turn-sorted rows (the reference's
    previous_episodes window, graph_data_operations.py:28,84-135) in
    the task that extracts. Covers: cross-episode
    subject pronoun, object-pronoun tail, first-person antecedent
    ("I ..." in a previous turn seeds that turn's speaker), VP ellipsis
    ("does too") both in-episode and cross-episode, window bound
    (a name 4 turns back is OUT of reach), and conversation isolation.
    The oracle states every expected triple closed-form."""
    from graphiti_spark.operators.episodes import assemble_episodes
    from graphiti_spark.operators.extract import extract_edges
    ts0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        ("x1", 0, "user", "Carol Moss lives in Oslo.", None, ts0),
        ("x1", 1, "user", "She works at Globex.", None, ts0),
        ("x1", 2, "user", "Acme Corp employs her.", None, ts0),
        ("x2", 0, "carol", "I live in Lisbon.", None, ts0),
        ("x2", 1, "user", "She works at Initech.", None, ts0),
        ("x3", 0, "user", "Alice Chen works at Hooli.", None, ts0),
        ("x3", 1, "bob", "Dana Kim does too.", None, ts0),
        # window bound: the antecedent is 4 turns back -> out of reach
        ("x4", 0, "user", "Erin Patel lives in Paris.", None, ts0),
        ("x4", 1, "user", "nothing here.", None, ts0),
        ("x4", 2, "user", "nothing here either.", None, ts0),
        ("x4", 3, "user", "still nothing.", None, ts0),
        ("x4", 4, "user", "She works at Umbrella Labs.", None, ts0),
        # conversation isolation: no antecedent inside x5
        ("x5", 0, "user", "He works at Globex.", None, ts0),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    eps = assemble_episodes(tr, RUN_TS)
    raw = extract_edges(eps, RUN_TS)
    return raw.select(F.col("group_id").alias("conv_id"), "turn_idx",
                      "subj", "pred", "obj")


SQL_KG_CONTEXT_COREF = """
SELECT * FROM (VALUES
  ('x1', 0, 'Carol Moss', 'LIVES_IN', 'Oslo'),
  ('x1', 1, 'Carol Moss', 'WORKS_AT', 'Globex'),
  ('x1', 2, 'Carol Moss', 'WORKS_AT', 'Acme Corp'),
  ('x2', 0, 'Carol',      'LIVES_IN', 'Lisbon'),
  ('x2', 1, 'Carol',      'WORKS_AT', 'Initech'),
  ('x3', 0, 'Alice Chen', 'WORKS_AT', 'Hooli'),
  ('x3', 1, 'Dana Kim',   'WORKS_AT', 'Hooli'),
  ('x4', 0, 'Erin Patel', 'LIVES_IN', 'Paris')
) AS t(conv_id, turn_idx, subj, pred, obj)
"""


def q_kg_speech_acts(spark, sf_dir):
    """Round-4e speech-act + residual-closure layer through the REAL
    distributed extraction kernel (extract.extract_combined, previous
    turns included): questions and irrealis leads (If/Maybe/…)
    mention entities but assert NOTHING (the reference's edge prompt
    extracts only "factual information", prompts/extract_edges.py:95-104),
    an unasserted VP is not ellipsis-copyable, discourse leads
    (Reportedly/…) strip-and-assert, cataphora resolves forward when
    recency and the cross-episode seed are both empty, verbless headline
    apposition normalizes to the copular template, and relative temporal
    adjuncts ("since last year") resolve against the episode timestamp
    (prompts/extract_edge_dates.py:66-81). The oracle states every
    expected triple — including each valid_at — closed-form; the
    no-assert cases are proven by ABSENCE (an emitted row breaks the
    row-count and hash gates)."""
    from graphiti_spark.operators.episodes import assemble_episodes
    from graphiti_spark.operators.extract import extract_edges
    ts0 = datetime(2024, 3, 15, tzinfo=timezone.utc)
    rows = [
        # question: mentions survive, the fact does not
        ("s1", 0, "user", "Alice Chen works at Globex?", None, ts0),
        # question + declarative in one episode: only the statement lands
        ("s1", 1, "user", "Does she know? Bob Reyes works at Hooli.",
         None, ts0),
        # irrealis lead: no fact; its VP must not be ellipsis-copyable
        ("s2", 0, "user", "Maybe Carol Moss works at Initech. "
                          "Erin Patel does too.", None, ts0),
        # discourse/evidential lead: strip the adverb, assert the fact
        ("s3", 0, "user", "Reportedly, Frank Woo works at Acme Corp.",
         None, ts0),
        # cataphora: the pronoun precedes its antecedent
        ("s4", 0, "user", "She works at Umbrella Labs. Grace Lin loves "
                          "that job.", None, ts0),
        # verbless headline apposition (em-dash copula)
        ("s5", 0, "user", "Henry Ford — new CEO of Globex.", None, ts0),
        # relative adjunct resolves against the episode timestamp
        ("s6", 0, "user", "Ivy Chou works at Hooli since last year.",
         None, ts0),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    eps = assemble_episodes(tr, RUN_TS)
    raw = extract_edges(eps, RUN_TS)
    return raw.select(F.col("group_id").alias("conv_id"), "turn_idx",
                      "subj", "pred", "obj", "valid_at")


SQL_KG_SPEECH_ACTS = """
SELECT * FROM (VALUES
  ('s1', 1, 'Bob Reyes',  'WORKS_AT', 'Hooli',
   TIMESTAMP '2024-03-15 00:00:00'),
  ('s3', 0, 'Frank Woo',  'WORKS_AT', 'Acme Corp',
   TIMESTAMP '2024-03-15 00:00:00'),
  ('s4', 0, 'Grace Lin',  'WORKS_AT', 'Umbrella Labs',
   TIMESTAMP '2024-03-15 00:00:00'),
  ('s5', 0, 'Henry Ford', 'CEO_OF',   'Globex',
   TIMESTAMP '2024-03-15 00:00:00'),
  ('s6', 0, 'Ivy Chou',   'WORKS_AT', 'Hooli',
   TIMESTAMP '2023-01-01 00:00:00')
) AS t(conv_id, turn_idx, subj, pred, obj, valid_at)
"""


def q_kg_mentions(spark, sf_dir):
    """E1 mention extraction through the real vectorized UDF (speaker-first,
    generic speakers skipped, per-episode dedup)."""
    from graphiti_spark.operators.episodes import assemble_episodes
    from graphiti_spark.operators.extract import extract_mentions
    tr = derived_transcripts(spark, sf_dir)
    eps = assemble_episodes(tr, RUN_TS)
    m = extract_mentions(eps)
    return m.select(F.col("group_id").alias("conv_id"), "turn_idx",
                    "name", "entity_type_id")


SQL_KG_MENTIONS = """
WITH base AS (
  SELECT 'conv' || CAST(c_custkey AS VARCHAR) AS conv_id,
         replace(c_name, '#', '') AS person, n.n_name AS org,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT conv_id, 0 AS turn_idx, person AS name, 'Person' AS entity_type_id
  FROM base
UNION ALL
SELECT conv_id, 0 AS turn_idx, org AS name, 'Organization' AS entity_type_id
  FROM base
UNION ALL
SELECT conv_id, 1 AS turn_idx, person AS name, 'Person' AS entity_type_id
  FROM base
UNION ALL
SELECT conv_id, 1 AS turn_idx, place AS name, 'Place' AS entity_type_id
  FROM base
"""


def q_kg_fact_dates(spark, sf_dir):
    """E5 general fact-date resolution through the real extraction UDF:
    a trailing temporal adjunct ("... on YYYY-MM-DD") overrides the
    event-time default (edge_operations.py:211-225 semantics). Dates are
    derived deterministically from c_custkey."""
    from graphiti_spark.operators.episodes import assemble_episodes
    from graphiti_spark.operators.extract import extract_edges
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    base = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .select(
                F.col("c_custkey"),
                F.regexp_replace("c_name", "#", "").alias("person"),
                F.initcap(F.lower("c_mktsegment")).alias("place")))
    mm = F.lpad((F.col("c_custkey") % 12 + 1).cast("string"), 2, "0")
    dd = F.lpad((F.col("c_custkey") % 28 + 1).cast("string"), 2, "0")
    text = F.concat(F.col("person"), F.lit(" moved to "), F.col("place"),
                    F.lit(" on 2022-"), mm, F.lit("-"), dd, F.lit("."))
    tr = base.select(
        F.concat(F.lit("dconv"), F.col("c_custkey").cast("string"))
         .alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"), text.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"))
    raw = extract_edges(assemble_episodes(tr, RUN_TS), RUN_TS)
    return raw.select(F.col("group_id").alias("conv_id"),
                      "subj", "pred", "obj", "valid_at")


SQL_KG_FACT_DATES = """
WITH base AS (
  SELECT 'dconv' || CAST(c_custkey AS VARCHAR) AS conv_id,
         replace(c_name, '#', '') AS person,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place,
         CAST(c_custkey % 12 + 1 AS INTEGER) AS mm,
         CAST(c_custkey % 28 + 1 AS INTEGER) AS dd
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT conv_id, person AS subj, 'LIVES_IN' AS pred, place AS obj,
       make_timestamp(2022, mm, dd, 0, 0, 0.0) AS valid_at
FROM base
"""


def derived_json_transcripts(spark, sf_dir):
    """Deterministic EpisodeType.json transcripts from customer ⋈ nation:
    one structured episode per customer, `text` = a JSON object whose
    fields drive the json extraction contract (rules.parse_json_episode)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    base = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .select(
                F.col("c_custkey"),
                F.regexp_replace("c_name", "#", "").alias("person"),
                F.col("n_name").alias("org"),
                F.initcap(F.lower("c_mktsegment")).alias("place")))
    payload = F.concat(
        F.lit('{"name": "'), F.col("person"),
        F.lit('", "employer": "'), F.col("org"),
        F.lit('", "city": "'), F.col("place"), F.lit('"}'))
    return base.select(
        F.concat(F.lit("jconv"), F.col("c_custkey").cast("string"))
         .alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        payload.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit("json").alias("source"))


def q_kg_json_episodes(spark, sf_dir):
    """F10/S1: EpisodeType.json ingestion — structured episodes through the
    real extraction UDFs (source-branched, rules.extract_triples
    source='json'); oracle reconstructs the field→triple contract in SQL."""
    from graphiti_spark.operators.episodes import assemble_episodes
    from graphiti_spark.operators.extract import extract_edges
    tr = derived_json_transcripts(spark, sf_dir)
    eps = assemble_episodes(tr, RUN_TS)
    raw = extract_edges(eps, RUN_TS)
    return raw.select(F.col("group_id").alias("conv_id"),
                      "subj", "pred", "obj", "valid_at")


SQL_KG_JSON_EPISODES = """
WITH base AS (
  SELECT 'jconv' || CAST(c_custkey AS VARCHAR) AS conv_id,
         replace(c_name, '#', '') AS person, n.n_name AS org,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT conv_id, person AS subj, 'EMPLOYER' AS pred, org AS obj,
       TIMESTAMP '2024-01-01 00:00:00' AS valid_at
FROM base
UNION ALL
SELECT conv_id, person AS subj, 'CITY' AS pred, place AS obj,
       TIMESTAMP '2024-01-01 00:00:00' AS valid_at
FROM base
"""


def q_kg_custom_ontology(spark, sf_dir):
    """E6 user-suppliable ontology end-to-end: a caller-registered
    sentence template ("{a} supplies {b}" → SUPPLIES, typed
    Organization→Product with Product a CUSTOM entity type) drives the
    real vectorized extraction UDF, and 'Place' is excluded so the
    default-template "lives in" sentence in the same conversations
    extracts NOTHING (node_operations.py:157-160 exclusion semantics).
    The oracle emits only the SUPPLIES rows — if template registration
    broke the Spark side returns 0 rows, if exclusion broke it returns 2×
    rows; either way the compare fails."""
    from graphiti_spark.ontology import Ontology, Template
    from graphiti_spark.operators.episodes import assemble_episodes
    from graphiti_spark.operators.extract import extract_edges
    onto = Ontology(
        entity_types={"Product": ("category",)},
        excluded_entity_types=["Place"],
        templates=[Template("{a} supplies {b}", "SUPPLIES",
                            subj_type="Organization", obj_type="Product")])
    p = load(spark, sf_dir, "part")
    base = p.select(
        F.col("p_partkey"),
        F.regexp_replace("p_brand", "#", "").alias("brand"),
        F.col("p_type").alias("ptype"))
    conv = F.concat(F.lit("pconv"), F.col("p_partkey").cast("string"))
    ts0 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    turns = [
        (0, "user", F.concat(F.col("brand"), F.lit(" supplies "),
                             F.col("ptype"), F.lit("."))),
        (1, "assistant", F.concat(F.col("brand"), F.lit(" lives in "),
                                  F.col("ptype"), F.lit("."))),
    ]
    tr = None
    for i, role, text in turns:
        d = base.select(conv.alias("conv_id"),
                        F.lit(i).cast("int").alias("turn_idx"),
                        F.lit(role).alias("role"), text.alias("text"),
                        F.lit(None).cast("string").alias("tool"),
                        (ts0 + F.expr(f"INTERVAL {i} MINUTES")).alias("ts"))
        tr = d if tr is None else tr.unionByName(d)
    raw = extract_edges(assemble_episodes(tr, RUN_TS), RUN_TS,
                        ontology=onto)
    return raw.select(F.col("group_id").alias("conv_id"),
                      "subj", "pred", "obj", "valid_at")


SQL_KG_CUSTOM_ONTOLOGY = """
SELECT 'pconv' || CAST(p_partkey AS VARCHAR) AS conv_id,
       replace(p_brand, '#', '') AS subj,
       'SUPPLIES' AS pred,
       p_type AS obj,
       TIMESTAMP '2024-01-01 00:00:00' AS valid_at
FROM part
"""


def q_kg_communities(spark, sf_dir):
    """A4/A5 end-to-end: the real iterative label-propagation + community
    summarization (operators/communities.py) over the pipeline-built graph.
    LPA is iterative in general, but each no-negation conversation's graph
    is a 3-entity star with all edge weights 1, where the monotone
    plurality update provably converges to ONE community per conversation
    (every node adopts max(u_person, u_org, u_place) within 2 rounds) whose
    top-degree member is the person (degree 2 vs 1) — so the oracle states
    the closed-form (group_id, name=person, n_members=3) rows directly.
    Multi-community and tie-break behavior stays pytest-gated
    (tests/test_communities.py); uuids don't appear in the output because
    DuckDB lacks sha1."""
    from graphiti_spark.operators.communities import build_communities
    from graphiti_spark.plans.pipeline import build_graph
    tr = derived_transcripts(spark, sf_dir)   # no negation turn
    tr = tr.where(F.col("conv_id").isin(
        [f"conv{i}" for i in range(300)]))    # bound driver runtime
    g = build_graph(spark, tr, run_ts=RUN_TS)
    comms, _ = build_communities(g.entities, g.edges, RUN_TS)
    return comms.select("group_id", "name", "n_members")


SQL_KG_COMMUNITIES = """
SELECT 'conv' || CAST(c_custkey AS VARCHAR) AS group_id,
       replace(c_name, '#', '') AS name,
       CAST(3 AS BIGINT) AS n_members
FROM customer WHERE c_custkey < 300
"""


def q_kg_communities_ref(spark, sf_dir):
    """A4 in ``mode="reference"`` — the reference's exact synchronous
    plurality-vote update (``community_operations.py:77-122``) instead of
    the monotone scale default. On each conversation's 3-entity star
    (all edge weights 1) the reference rule also provably converges to
    the component max label: every vote has weight 1, so each node takes
    ``max(candidate, current)``, and within ≤3 rounds all three nodes
    carry max(u_person, u_org, u_place) — the SAME closed-form partition
    as the monotone mode, so the oracle is shared. Arbitrary-graph
    equivalence with a pure-Python port of the reference loop stays
    pytest-gated (tests/test_communities.py)."""
    from graphiti_spark.operators.communities import build_communities
    from graphiti_spark.plans.pipeline import build_graph
    tr = derived_transcripts(spark, sf_dir)   # no negation turn
    tr = tr.where(F.col("conv_id").isin(
        [f"conv{i}" for i in range(300)]))    # bound driver runtime
    g = build_graph(spark, tr, run_ts=RUN_TS)
    comms, _ = build_communities(g.entities, g.edges, RUN_TS,
                                 mode="reference")
    return comms.select("group_id", "name", "n_members")


def q_kg_entity_summaries(spark, sf_dir):
    """E4 attribute/summary extraction end-to-end: entity summaries are
    the chronological '. '-joined concat of each entity's supporting facts
    (sorted by coalesce(valid_at, created_at) — the negation fact has no
    valid_at, so it sorts last at run_ts) and typed attributes carry the
    ontology type of the first mention (plans/pipeline.entity_summaries,
    mirroring node_operations.py:295-381). Both are closed-form on the
    derived transcripts, so the oracle states the expected
    (group_id, name, entity_type, summary) rows directly."""
    from graphiti_spark.plans.pipeline import build_graph
    tr = derived_transcripts(spark, sf_dir, with_negation=True)
    tr = tr.where(F.col("conv_id").isin(
        [f"conv{i}" for i in range(300)]))   # bound driver runtime
    g = build_graph(spark, tr, run_ts=RUN_TS)
    return g.entities.select(
        "group_id", "name",
        F.element_at("attributes", "entity_type").alias("entity_type"),
        "summary")


SQL_KG_ENTITY_SUMMARIES = """
WITH base AS (
  SELECT c_custkey,
         'conv' || CAST(c_custkey AS VARCHAR) AS group_id,
         replace(c_name, '#', '') AS person, n.n_name AS org,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place,
         c_custkey % 2 = 0 AS neg
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE c_custkey < 300
)
SELECT group_id, person AS name, 'Person' AS entity_type,
       person || ' works at ' || org || '. '
         || person || ' lives in ' || place
         || CASE WHEN neg THEN '. ' || person || ' no longer works at '
                               || org ELSE '' END AS summary
FROM base
UNION ALL
SELECT group_id, org AS name, 'Organization' AS entity_type,
       person || ' works at ' || org
         || CASE WHEN neg THEN '. ' || person || ' no longer works at '
                               || org ELSE '' END AS summary
FROM base
UNION ALL
SELECT group_id, place AS name, 'Place' AS entity_type,
       person || ' lives in ' || place AS summary
FROM base
"""


def q_kg_build_edges(spark, sf_dir):
    """Flagship: the full KG pipeline (extract → LSH+CC canonicalize →
    dedup → temporal versioning) over derived transcripts with planted
    contradictions. The CC canonicalization is iterative in general, but
    on this deterministic input its fixed point is closed-form (entities
    within a conversation never alias-merge across names), so the oracle
    states the expected end-to-end edge set directly: per customer a
    WORKS_AT edge (invalidated at turn 2 for even custkeys, expired at
    run_ts) plus a LIVES_IN edge, and the negation edge itself. pytest
    additionally holds the golden P/R gate on inputs WITH alias merges."""
    from graphiti_spark.plans.pipeline import build_graph
    tr = derived_transcripts(spark, sf_dir, with_negation=True)
    tr = tr.where(F.col("conv_id").isin(
        [f"conv{i}" for i in range(300)]))   # bound driver runtime
    g = build_graph(spark, tr, run_ts=RUN_TS)
    return g.edges.select("group_id", "name", "fact", "valid_at",
                          "invalid_at", "expired_at")


SQL_KG_BUILD_EDGES = """
WITH base AS (
  SELECT c_custkey,
         'conv' || CAST(c_custkey AS VARCHAR) AS group_id,
         replace(c_name, '#', '') AS person, n.n_name AS org,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE c_custkey < 300
)
SELECT group_id, 'WORKS_AT' AS name,
       person || ' works at ' || org AS fact,
       TIMESTAMP '2024-01-01 00:00:00' AS valid_at,
       CASE WHEN c_custkey % 2 = 0
            THEN TIMESTAMP '2024-01-01 00:02:00' END AS invalid_at,
       CASE WHEN c_custkey % 2 = 0
            THEN TIMESTAMP '2025-01-01 00:00:00' END AS expired_at
FROM base
UNION ALL
SELECT group_id, 'LIVES_IN' AS name,
       person || ' lives in ' || place AS fact,
       TIMESTAMP '2024-01-01 00:01:00' AS valid_at,
       CAST(NULL AS TIMESTAMP) AS invalid_at,
       CAST(NULL AS TIMESTAMP) AS expired_at
FROM base
UNION ALL
SELECT group_id, 'WORKS_AT' AS name,
       person || ' no longer works at ' || org AS fact,
       CAST(NULL AS TIMESTAMP) AS valid_at,
       TIMESTAMP '2024-01-01 00:02:00' AS invalid_at,
       TIMESTAMP '2025-01-01 00:00:00' AS expired_at
FROM base WHERE c_custkey % 2 = 0
"""


def q_kg_episode_mentions(spark, sf_dir):
    """Q7 episode_mentions reranker (search.episode_mentions_reranker,
    mirroring search_utils.py:939-965): relevance = MENTIONS count per
    entity through the two-phase SALTED aggregation (the canonical hot-key
    shape at scale). Counts are closed-form on the derived transcripts:
    person = 2 mentions (+1 with the negation turn on even custkeys),
    org = 1 (+1 even), place = 1."""
    from graphiti_spark.operators.search import episode_mentions_reranker
    from graphiti_spark.plans.pipeline import build_graph
    tr = derived_transcripts(spark, sf_dir, with_negation=True)
    tr = tr.where(F.col("conv_id").isin(
        [f"conv{i}" for i in range(300)]))   # bound driver runtime
    g = build_graph(spark, tr, run_ts=RUN_TS)
    ranked = episode_mentions_reranker(g.episodic_edges,
                                       g.entities.select("uuid"))
    return (ranked.join(g.entities.select("uuid", "group_id", "name"),
                        "uuid")
            .select("group_id", "name", "score"))


SQL_KG_EPISODE_MENTIONS = """
WITH base AS (
  SELECT c_custkey,
         'conv' || CAST(c_custkey AS VARCHAR) AS group_id,
         replace(c_name, '#', '') AS person, n.n_name AS org,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place,
         CASE WHEN c_custkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS neg
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE c_custkey < 300
)
SELECT group_id, person AS name, 2.0 + neg AS score FROM base
UNION ALL
SELECT group_id, org AS name, 1.0 + neg AS score FROM base
UNION ALL
SELECT group_id, place AS name, 1.0 AS score FROM base
"""


def q_kg_edges_by_node(spark, sf_dir):
    """S8 get_by_node_uuid (maintenance.get_edges_by_node, mirroring
    edges.py:327-341): undirected endpoint match for conv0's person
    entity — its WORKS_AT, LIVES_IN and (custkey 0 is even) negation
    edges, and nothing from any other conversation."""
    from graphiti_spark import rules
    from graphiti_spark.operators.maintenance import get_edges_by_node
    from graphiti_spark.plans.pipeline import build_graph
    tr = derived_transcripts(spark, sf_dir, with_negation=True)
    tr = tr.where(F.col("conv_id").isin(["conv0", "conv1"]))
    g = build_graph(spark, tr, run_ts=RUN_TS)
    node = rules.entity_uuid("conv0", "Customer000000000")
    return get_edges_by_node(g.edges, node).select("group_id", "name",
                                                   "fact")


SQL_KG_EDGES_BY_NODE = """
WITH base AS (
  SELECT replace(c_name, '#', '') AS person, n.n_name AS org,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE c_custkey = 0
)
SELECT 'conv0' AS group_id, 'WORKS_AT' AS name,
       person || ' works at ' || org AS fact FROM base
UNION ALL
SELECT 'conv0', 'WORKS_AT',
       person || ' no longer works at ' || org FROM base
UNION ALL
SELECT 'conv0', 'LIVES_IN', person || ' lives in ' || place FROM base
"""


def q_kg_mmr(spark, sf_dir):
    """F5/Q7 grouped MMR through the real distributed path
    (search.mmr_rerank_grouped: greedy loop inside applyInPandas keyed by
    query_id, query vectors broadcast-joined — no driver collect). Run at
    mmr_lambda=1, where the reference's MMR presets sit (COMBINED_*_MMR,
    search_config_recipes.py) and where greedy MMR provably reduces to
    pure relevance ordering (the (λ-1)·max_sim diversity term vanishes) —
    so the oracle is an exact per-query cosine top-5. Scores rounded to
    6 dp on both sides: numpy normalizes then dots (pairwise summation),
    the SQL divides the raw dot by the norms — same value to ~1e-15.
    Diversity behavior at λ<1 stays pytest-gated (tests/test_search.py)."""
    from graphiti_spark.operators.search import mmr_rerank_grouped
    e = load(spark, sf_dir, "embeddings")
    cands = e.where(F.col("vec_id") < 200).select(
        F.col("vec_id").cast("string").alias("uuid"), "embedding")
    queries = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    c = cands.crossJoin(F.broadcast(queries.select("query_id")))
    out = mmr_rerank_grouped(c, queries, emb_col="embedding",
                             mmr_lambda=1.0, limit=5)
    return out.select("query_id", "uuid",
                      F.round("score", 6).alias("score"), "rn")


SQL_KG_MMR = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 4
), c AS (
  SELECT CAST(vec_id AS VARCHAR) AS uuid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings WHERE vec_id < 200
), scored AS (
  SELECT query_id, uuid,
         list_sum(list_transform(range(1, len(ev) + 1), i -> ev[i] * qv[i]))
           / (sqrt(list_sum(list_transform(ev, x -> x * x)))
              * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS score
  FROM q, c
)
SELECT query_id, uuid, round(score, 6) AS score, rn FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, uuid) AS INTEGER) AS rn
  FROM scored
) WHERE rn <= 5
"""


def q_kg_mmr_diverse(spark, sf_dir):
    """F5/Q7 MMR with the DIVERSITY TERM LIVE (λ=0.5): same distributed
    path as kg_mmr (grouped applyInPandas greedy), but the oracle unrolls
    the greedy loop itself — 3 selection steps as 3 CTEs, each an argmax
    of ``0.5·rel − 0.5·max_sim(candidate, selected)`` with uuid
    tie-break, over 12 candidates × 3 queries. Any error in the
    diversity penalty (wrong sign, missing max over selected, stale
    similarity) picks a different candidate at step 2/3 and mismatches
    rows, not just scores. Complements kg_mmr's λ=1 degenerate case
    (search_utils.py:968-1006).

    Candidates (vec_id 4..15) and queries (vec_id < 3) are DISJOINT on
    purpose: a candidate identical to the query makes the step-2 MMR of
    every candidate exactly 0.5·(rel − rel) = 0 — an all-way tie whose
    argmax is then decided by last-ulp BLAS noise, unreproducible in
    SQL. Disjoint sets keep every selection gap ~1e-2, far above float
    divergence."""
    from graphiti_spark.operators.search import mmr_rerank_grouped
    e = load(spark, sf_dir, "embeddings")
    cands = e.where((F.col("vec_id") >= 4) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").cast("string").alias("uuid"), "embedding")
    queries = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    c = cands.crossJoin(F.broadcast(queries.select("query_id")))
    out = mmr_rerank_grouped(c, queries, emb_col="embedding",
                             mmr_lambda=0.5, limit=3)
    return out.select("query_id", "uuid",
                      F.round("score", 6).alias("score"), "rn")


SQL_KG_MMR_DIVERSE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 16
), nrm0 AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS n
  FROM e
), nrm AS (
  SELECT * FROM nrm0 WHERE vec_id >= 4
), rel AS (
  SELECT q.vec_id AS query_id, CAST(c.vec_id AS VARCHAR) AS uuid,
         list_sum(list_transform(range(1, len(c.v) + 1),
                                 i -> c.v[i] * q.v[i])) / (c.n * q.n) AS rel
  FROM nrm c, (SELECT * FROM nrm0 WHERE vec_id < 3) q
), csim AS (
  SELECT CAST(a.vec_id AS VARCHAR) AS u1, CAST(b.vec_id AS VARCHAR) AS u2,
         list_sum(list_transform(range(1, len(a.v) + 1),
                                 i -> a.v[i] * b.v[i])) / (a.n * b.n) AS sim
  FROM nrm a, nrm b
), s1 AS (
  SELECT query_id, uuid, 0.5 * rel AS score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rel DESC, uuid) AS rk FROM rel
  ) WHERE rk = 1
), m2 AS (
  SELECT r.query_id, r.uuid, 0.5 * r.rel - 0.5 * cs.sim AS score
  FROM rel r
  JOIN s1 ON s1.query_id = r.query_id AND r.uuid <> s1.uuid
  JOIN csim cs ON cs.u1 = r.uuid AND cs.u2 = s1.uuid
), s2 AS (
  SELECT query_id, uuid, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, uuid) AS rk FROM m2
  ) WHERE rk = 1
), m3 AS (
  SELECT r.query_id, r.uuid,
         0.5 * r.rel - 0.5 * GREATEST(c1.sim, c2.sim) AS score
  FROM rel r
  JOIN s1 ON s1.query_id = r.query_id
  JOIN s2 ON s2.query_id = r.query_id
  JOIN csim c1 ON c1.u1 = r.uuid AND c1.u2 = s1.uuid
  JOIN csim c2 ON c2.u1 = r.uuid AND c2.u2 = s2.uuid
  WHERE r.uuid <> s1.uuid AND r.uuid <> s2.uuid
), s3 AS (
  SELECT query_id, uuid, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, uuid) AS rk FROM m3
  ) WHERE rk = 1
)
SELECT query_id, uuid, round(score, 6) AS score,
       CAST(1 AS INTEGER) AS rn FROM s1
UNION ALL
SELECT query_id, uuid, round(score, 6), CAST(2 AS INTEGER) FROM s2
UNION ALL
SELECT query_id, uuid, round(score, 6), CAST(3 AS INTEGER) FROM s3
"""


def q_kg_node_distance(spark, sf_dir):
    """J10/Q7 node-distance reranker (operators/search.py, mirroring
    search_utils.py:893-936): center = conv0's person entity, candidates =
    all entities of conv0 and conv1. Expected scores are closed-form on
    the star graphs: the center scores 10.0, its 1-hop neighbors (conv0's
    org and place) 1.0, everything else (conv1's entities, unreachable)
    0.0. Names are exposed via an entities join because uuids are sha1
    (not computable in DuckDB)."""
    from graphiti_spark import rules
    from graphiti_spark.operators.search import node_distance_reranker
    from graphiti_spark.plans.pipeline import build_graph
    tr = derived_transcripts(spark, sf_dir, with_negation=True)
    tr = tr.where(F.col("conv_id").isin(["conv0", "conv1"]))
    g = build_graph(spark, tr, run_ts=RUN_TS)
    center = rules.entity_uuid("conv0", "Customer000000000")
    ranked = node_distance_reranker(g.edges, g.entities.select("uuid"),
                                    center)
    return (ranked.join(g.entities.select("uuid", "group_id", "name"),
                        "uuid")
            .select("group_id", "name", "score"))


SQL_KG_NODE_DISTANCE = """
WITH base AS (
  SELECT c_custkey,
         'conv' || CAST(c_custkey AS VARCHAR) AS group_id,
         replace(c_name, '#', '') AS person, n.n_name AS org,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE c_custkey < 2
)
SELECT group_id, person AS name,
       CASE WHEN c_custkey = 0 THEN 10.0 ELSE 0.0 END AS score FROM base
UNION ALL
SELECT group_id, org AS name,
       CASE WHEN c_custkey = 0 THEN 1.0 ELSE 0.0 END AS score FROM base
UNION ALL
SELECT group_id, place AS name,
       CASE WHEN c_custkey = 0 THEN 1.0 ELSE 0.0 END AS score FROM base
"""


def q_kg_add_triplet(spark, sf_dir):
    """Q11 add_triplet (operators/maintenance.py, mirroring
    graphiti.py:979-1017): an arbitrary manual triple — not matching any
    extraction template — becomes an edge row and runs through the same
    dedupe + temporal-versioning stages. Output is the versioned edge;
    the oracle states the expected single row."""
    from graphiti_spark.operators.maintenance import add_triplet
    e = add_triplet(spark, "manual-group", "Alpha Corp", "ACQUIRED",
                    "Beta LLC", "Alpha Corp acquired Beta LLC",
                    RUN_TS, valid_at=datetime(2024, 6, 1,
                                              tzinfo=timezone.utc))
    return e.select("group_id", "name", "fact", "valid_at", "invalid_at",
                    "expired_at")


SQL_KG_ADD_TRIPLET = """
SELECT 'manual-group' AS group_id, 'ACQUIRED' AS name,
       'Alpha Corp acquired Beta LLC' AS fact,
       TIMESTAMP '2024-06-01 00:00:00' AS valid_at,
       CAST(NULL AS TIMESTAMP) AS invalid_at,
       CAST(NULL AS TIMESTAMP) AS expired_at
"""


def q_kg_search_filters(spark, sf_dir):
    """Q8 SearchFilters compiler end-to-end (operators/search.py
    compile_filters, mirroring search/search_filters.py:87-184): an
    edge_types filter ANDed with an OR of two date groups —
    (valid_at >= 00:01 AND invalid_at is null) OR (expired_at is not
    null) — applied to the pipeline-built edges. The oracle wraps the
    closed-form expected edge set in the equivalent WHERE clause, so both
    the compiled predicate structure (AND-of-OR) and every OPS comparator
    class (>=, is_null, is_not_null) are exercised."""
    from graphiti_spark.operators.search import (DateFilter, SearchFilters,
                                                 compile_filters)
    from graphiti_spark.plans.pipeline import build_graph
    tr = derived_transcripts(spark, sf_dir, with_negation=True)
    tr = tr.where(F.col("conv_id").isin(
        [f"conv{i}" for i in range(300)]))   # bound driver runtime
    g = build_graph(spark, tr, run_ts=RUN_TS)
    flt = SearchFilters(
        edge_types=["WORKS_AT", "LIVES_IN"],
        date_groups=[
            [DateFilter("valid_at", ">=",
                        datetime(2024, 1, 1, 0, 1, tzinfo=timezone.utc)),
             DateFilter("invalid_at", "is_null")],
            [DateFilter("expired_at", "is_not_null")],
        ])
    return (g.edges.where(compile_filters(flt, kind="edge"))
            .select("group_id", "name", "fact", "valid_at",
                    "invalid_at", "expired_at"))


SQL_KG_SEARCH_FILTERS = f"""
SELECT * FROM ({SQL_KG_BUILD_EDGES}) e
WHERE name IN ('WORKS_AT', 'LIVES_IN')
  AND ((valid_at >= TIMESTAMP '2024-01-01 00:01:00'
        AND invalid_at IS NULL)
       OR expired_at IS NOT NULL)
"""


def q_embedding_knn_ivf(spark, sf_dir):
    """IVF ANN run at nprobe = n_cells (exhaustive probe): every cell is
    scanned, so the result is provably independent of the Lloyd-step
    centroids (any float wobble in the coarse quantizer changes only WHICH
    cell a vector sits in, never whether it is scanned) and must equal
    brute force exactly — which makes SQL_EMBEDDING_KNN a valid oracle for
    the whole IVF plan shape (cell partitioning, probe join, in-cell
    rerank). The pruned scale path (nprobe < n_cells) is covered by the
    recall gate in tests/test_ann.py."""
    from graphiti_spark.operators import ann
    e = load(spark, sf_dir, "embeddings")
    queries = (e.where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    cents, assign = ann.build_ivf(e, n_cells=8)
    return ann.ivf_knn(e, queries, cents, assign, k=5, nprobe=8)


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate candidates via sign-LSH buckets
    (random-hyperplane SimHash over the integer-quantized vector,
    md5-parity planes) — bucket equi-join, no O(n²). Oracle recomputes the
    identical buckets in SQL (planes are md5-derived, sums integer-exact)."""
    from graphiti_spark.operators import ann
    return ann.near_dup_pairs_lsh(load(spark, sf_dir, "embeddings"),
                                  n_planes=10)


def _near_dup_bit_sql(i: int) -> str:
    """One sign-LSH bit as DuckDB SQL — mirrors ann.signlsh_buckets
    (plane h(i,j) = ±1 from md5('i:j') last-hex-digit parity)."""
    return (
        "CASE WHEN list_sum(list_transform(range(1, 65), j -> qv[j] *"
        f" (CASE WHEN substr(md5('{i}:' || CAST(j - 1 AS VARCHAR)), 32, 1)"
        " IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END)))"
        " >= 0 THEN '1' ELSE '0' END")


SQL_EMBEDDING_NEAR_DUP = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
  FROM embeddings
), b AS (
  SELECT vec_id, bucket FROM (
    SELECT vec_id,
           {" || ".join(_near_dup_bit_sql(i) for i in range(10))} AS bucket
    FROM q)
  QUALIFY count(*) OVER (PARTITION BY bucket) <= 100
)
SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
"""


def q_kg_pagerank(spark, sf_dir):
    """PageRank over the per-conversation KG (operators/graph.pagerank):
    2 synchronous rounds, damping 0.85, per-``group_id`` graphs ranked
    independently in one job set. On each derived 3-entity star (person —
    org, person — place, symmetrized) the iteration is closed-form — with
    base b=(1-0.85)/3: leaves r1 = b + 0.85·(1/3)/2, center r2 = b +
    0.85·2·r1, leaf r2 = b + 0.85·(b + 0.85·2/3)/2 — which the oracle
    states directly with the SAME arithmetic expression shape (ranks
    rounded to 9 dp on both sides). Arbitrary-graph equivalence vs a pure
    Python reference loop is pytest-gated (tests/test_graph.py)."""
    from graphiti_spark.operators.graph import pagerank
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    base = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .where(F.col("c_custkey") < 300)
            .select(
                F.concat(F.lit("conv"), F.col("c_custkey").cast("string"))
                 .alias("group_id"),
                F.regexp_replace("c_name", "#", "").alias("person"),
                F.col("n_name").alias("org"),
                F.initcap(F.lower("c_mktsegment")).alias("place")))
    edges = (base.select("group_id", F.col("person").alias("src"),
                         F.col("org").alias("dst"))
             .union(base.select("group_id", F.col("person").alias("src"),
                                F.col("place").alias("dst"))))
    pr = pagerank(edges, iters=2, damping=0.85, key="group_id",
                  src="src", dst="dst")
    return pr.select("group_id", F.col("node").alias("name"),
                     F.round("rank", 9).alias("rank"))


SQL_KG_PAGERANK = """
WITH base AS (
  SELECT 'conv' || CAST(c_custkey AS VARCHAR) AS group_id,
         replace(c_name, '#', '') AS person, n.n_name AS org,
         upper(substr(lower(c_mktsegment), 1, 1))
           || substr(lower(c_mktsegment), 2) AS place
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE c_custkey < 300
), r AS (
  SELECT (1 - 0.85) / 3
         + 0.85 * 2 * ((1 - 0.85) / 3 + 0.85 * (1.0 / 3) / 2) AS center2,
         (1 - 0.85) / 3
         + 0.85 * (((1 - 0.85) / 3 + 0.85 * (1.0 / 3 + 1.0 / 3)) / 2)
           AS leaf2
)
SELECT group_id, person AS name, round(r.center2, 9) AS rank
FROM base, r
UNION ALL
SELECT group_id, org AS name, round(r.leaf2, 9) AS rank FROM base, r
UNION ALL
SELECT group_id, place AS name, round(r.leaf2, 9) AS rank FROM base, r
"""


def q_events_asof_join(spark, sf_dir):
    """Point-in-time join (operators/asof.asof_join): each purchase event
    picks the single most recent click by the same user at-or-before its
    timestamp — the reference's "which edge version was valid at this
    episode's time" shape (temporal_operations.py) generalized to any
    event log. ONE hash shuffle on user_id resolves it (union + running
    ``last(ignorenulls)`` window) — no per-key fan-out join, so hot users
    cost O(their rows) instead of O(purchases × clicks) at 100 TB. The
    oracle is DuckDB's native ASOF LEFT JOIN; (user_id, ts) is unique
    among clicks in this corpus so no tie-break ambiguity between engines
    (tie semantics are pytest-gated in tests/test_asof.py)."""
    from graphiti_spark.operators.asof import asof_join
    ev = load(spark, sf_dir, "events")
    p = (ev.where(F.col("event_type") == "purchase")
         .select("event_id", "user_id", "ts", "value"))
    c = (ev.where(F.col("event_type") == "click")
         .select("user_id", "ts", F.col("event_id").alias("click_id")))
    out = asof_join(p, c, on=["user_id"])
    return out.select("event_id", "user_id", "ts", "value",
                      F.col("r_click_id").alias("click_id"),
                      F.col("r_ts").alias("click_ts"))


SQL_EVENTS_ASOF_JOIN = """
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, event_id AS click_id FROM events
  WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, p.ts, p.value, c.click_id, c.ts AS click_ts
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_dedup_resolve(spark, sf_dir):
    """The end-step of near-dup dedup: candidate PAIRS → clusters →
    one canonical keeper per cluster. Reuses the Jaccard≥0.5 pairs of
    q_dedup_jaccard and solves them with the production in-group
    union-find (operators/dedup.pair_components — one shuffle, exact at
    any cluster diameter). Document near-dups have no conversation key,
    so both inputs carry one constant ``group_id`` and the whole query
    is one group. Canonical = numeric-min doc_id (ids are zero-padded so
    the operator's lexicographic min IS the numeric min). The oracle
    computes the same fixpoint via a recursive transitive-closure CTE —
    the first general-graph CC to be oracle-checked, complementing
    kg_build_edges' closed-form input.
    Output: every clustered doc with its canonical id + keeper flag."""
    from graphiti_spark.operators.dedup import pair_components
    # Checkpoint the pair plan HERE: verts derives from it and both feed
    # the union-find — an un-cut lineage would execute the quadratic
    # token self-join twice (once for pairs, again under verts).
    pairs = (q_dedup_jaccard(spark, sf_dir)
             .select(F.lit("docs").alias("group_id"),
                     F.lpad(F.col("doc_a").cast("string"), 12, "0")
                     .alias("uuid_a"),
                     F.lpad(F.col("doc_b").cast("string"), 12, "0")
                     .alias("uuid_b"))
             .localCheckpoint(eager=True))
    verts = (pairs.select("group_id", F.col("uuid_a").alias("uuid"))
             .union(pairs.select("group_id", "uuid_b")))
    cc = pair_components(verts, pairs)
    return (cc.select(F.col("uuid").cast("bigint").alias("doc_id"),
                      F.col("component").cast("bigint")
                       .alias("canonical_id"))
            .withColumn("is_keeper",
                        F.col("doc_id") == F.col("canonical_id")))


SQL_DEDUP_RESOLVE = f"""
WITH RECURSIVE d AS (
  SELECT doc_id,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
  FROM documents WHERE doc_id % 5 = 0
), ex0 AS (
  SELECT doc_id, unnest(toks) AS tok FROM d
), keep AS (
  SELECT tok FROM ex0 GROUP BY tok HAVING count(*) <= {JACCARD_MAX_DF}
), ex AS (
  SELECT doc_id, ex0.tok FROM ex0 JOIN keep ON ex0.tok = keep.tok
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM ex GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sized AS (
  SELECT p.doc_a, p.doc_b, p.shared, sa.n_toks AS na, sb.n_toks AS nb
  FROM pairs p
  JOIN sizes sa ON p.doc_a = sa.doc_id
  JOIN sizes sb ON p.doc_b = sb.doc_id
), near AS (
  SELECT doc_a, doc_b FROM sized
  WHERE CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE) >= 0.5
), e AS (
  SELECT doc_a AS a, doc_b AS b FROM near
  UNION SELECT doc_b, doc_a FROM near
), reach (a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS canonical_id,
       a = least(a, min(b)) AS is_keeper
FROM reach GROUP BY a
"""


def q_keyword_tfidf(spark, sf_dir):
    """Per-doc top-5 TF-IDF keywords (operators/keywords.extract_keywords):
    tf is computed map-side via sorted-run-length on each row's own token
    array (zero shuffles), df is one vocabulary-sized groupBy that AQE
    broadcasts into the scoring join, N is a 1-row broadcast (the bm25
    pattern), and top-k is a row_number window partitioned by the
    unskewed doc id. Scores are rounded to 6 dp BEFORE ranking on both
    engines (absorbs libm-vs-JVM ln ulp, the bm25_search precedent); ties
    break on the term string so the top-k set is a total order and
    hash-stable."""
    from graphiti_spark.operators.keywords import extract_keywords
    d = load(spark, sf_dir, "documents")
    return extract_keywords(d, text_col="text", id_col="doc_id", top_k=5)


SQL_KEYWORD_TFIDF = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           x -> length(x) >= 2 AND x NOT IN
             ('the','a','an','and','or','of','to','in','is','on',
              'for','with','as','at','by','it','that','this')) AS tl
  FROM documents
), ex AS (
  SELECT doc_id, unnest(tl) AS term FROM toks
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM ex GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6)
           AS score
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term) AS INTEGER)
           AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, score, rank FROM ranked WHERE rank <= 5
"""


def q_inverted_index(spark, sf_dir):
    """Bucketed inverted-index build (operators/search.
    build_inverted_index): one row per (term, doc_id%4 bucket) with df,
    corpus frequency, and the '|'-joined ascending posting segment. The
    only shuffle is the map-side-combined groupBy(term, bucket); the
    bucket key spreads head-term posting lists across reducers (the
    skew control a single-list layout lacks). Postings are strings of
    sorted integer ids — hash-exact on both engines."""
    from graphiti_spark.operators.search import build_inverted_index
    d = load(spark, sf_dir, "documents")
    return build_inverted_index(d, n_buckets=4)


SQL_INVERTED_INDEX = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           x -> length(x) >= 2 AND x NOT IN
             ('the','a','an','and','or','of','to','in','is','on',
              'for','with','as','at','by','it','that','this')) AS tl
  FROM documents
), ex AS (
  SELECT doc_id, unnest(tl) AS term FROM toks
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM ex GROUP BY doc_id, term
)
SELECT term, CAST(doc_id % 4 AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS df_part,
       CAST(sum(tf) AS BIGINT) AS cf_part,
       array_to_string(list_transform(list_sort(list(doc_id)),
                                      x -> CAST(x AS VARCHAR)), '|')
         AS postings
FROM tf GROUP BY term, doc_id % 4
"""


def q_graph_triangles(spark, sf_dir):
    """Triangle counting (operators/graph.triangle_count) with
    degree-ordered orientation — per-node wedge fan-out bounded O(√m) so
    a hot node cannot melt one reducer at 100 TB (the Suri-Vassilvitskii
    "last reducer" fix). The input graph is derived deterministically
    from orders (nodes = key residues mod 40, 5 independent graphs keyed
    by o_orderpriority), dense enough that every graph closes thousands
    of triangles. The oracle counts id-ordered closed triples a<b<c via
    two self-joins — a DIFFERENT algorithm whose count provably equals
    the orientation method's, so the check is algorithm-independent."""
    from graphiti_spark.operators.graph import triangle_count
    o = load(spark, sf_dir, "orders")
    edges = o.select(
        F.col("o_orderpriority").alias("group_id"),
        (F.col("o_custkey") % 40).cast("bigint").alias("src"),
        (F.col("o_orderkey") % 40).cast("bigint").alias("dst"))
    return (triangle_count(edges, key="group_id", src="src", dst="dst")
            .select("group_id",
                    F.col("n_triangles").cast("bigint")
                     .alias("n_triangles")))


SQL_GRAPH_TRIANGLES = """
WITH raw AS (
  SELECT o_orderpriority AS g,
         least(o_custkey % 40, o_orderkey % 40) AS a,
         greatest(o_custkey % 40, o_orderkey % 40) AS b
  FROM orders
), e AS (
  SELECT DISTINCT g, a, b FROM raw WHERE a <> b
)
SELECT e1.g AS group_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e2.g = e1.g AND e2.a = e1.a AND e2.b > e1.b
JOIN e e3 ON e3.g = e1.g AND e3.a = e1.b AND e3.b = e2.b
GROUP BY e1.g
"""


QUERIES = {
    "episode_assembly": q_episode_assembly,
    "episode_retrieval": q_episode_retrieval,
    "window_versioning": q_window_versioning,
    "sessionize": q_sessionize,
    "anti_join_orphans": q_anti_join_orphans,
    "semi_join_mentions": q_semi_join_mentions,
    "canonical_remap": q_canonical_remap,
    "bfs_2hop": q_bfs_2hop,
    "rrf_fusion": q_rrf_fusion,
    "top_k_per_group": q_top_k_per_group,
    "cursor_pagination": q_cursor_pagination,
    "union_dedup": q_union_dedup,
    "pricing_summary": q_pricing_summary,
    "mention_count": q_mention_count,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash": q_dedup_minhash,
    "embedding_knn": q_embedding_knn,
    "embedding_centroid": q_embedding_centroid,
    "embedding_int8": q_embedding_int8,
    "kg_pagerank": q_kg_pagerank,
    "graph_triangles": q_graph_triangles,
    "events_asof_join": q_events_asof_join,
    "dedup_resolve": q_dedup_resolve,
    "keyword_tfidf": q_keyword_tfidf,
    "inverted_index": q_inverted_index,
    "cross_encoder_rerank": q_cross_encoder_rerank,
    "bm25_search": q_bm25_search,
    "composite_search": q_composite_search,
    "served_search": q_served_search,
    "kg_extract_triples": q_kg_extract_triples,
    "kg_anaphora": q_kg_anaphora,
    "kg_context_coref": q_kg_context_coref,
    "kg_speech_acts": q_kg_speech_acts,
    "kg_mentions": q_kg_mentions,
    "kg_json_episodes": q_kg_json_episodes,
    "kg_fact_dates": q_kg_fact_dates,
    "kg_custom_ontology": q_kg_custom_ontology,
    "kg_communities": q_kg_communities,
    "kg_communities_ref": q_kg_communities_ref,
    "kg_entity_summaries": q_kg_entity_summaries,
    "kg_search_filters": q_kg_search_filters,
    "kg_node_distance": q_kg_node_distance,
    "kg_mmr": q_kg_mmr,
    "kg_mmr_diverse": q_kg_mmr_diverse,
    "kg_episode_mentions": q_kg_episode_mentions,
    "kg_edges_by_node": q_kg_edges_by_node,
    "kg_add_triplet": q_kg_add_triplet,
    "kg_build_edges": q_kg_build_edges,
    "embedding_knn_ivf": q_embedding_knn_ivf,
    "embedding_near_dup": q_embedding_near_dup,
}

ORACLES = {
    "episode_assembly": SQL_EPISODE_ASSEMBLY,
    "episode_retrieval": SQL_EPISODE_RETRIEVAL,
    "window_versioning": SQL_WINDOW_VERSIONING,
    "sessionize": SQL_SESSIONIZE,
    "anti_join_orphans": SQL_ANTI_JOIN_ORPHANS,
    "semi_join_mentions": SQL_SEMI_JOIN_MENTIONS,
    "canonical_remap": SQL_CANONICAL_REMAP,
    "bfs_2hop": SQL_BFS_2HOP,
    "rrf_fusion": SQL_RRF_FUSION,
    "top_k_per_group": SQL_TOP_K_PER_GROUP,
    "cursor_pagination": SQL_CURSOR_PAGINATION,
    "union_dedup": SQL_UNION_DEDUP,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "mention_count": SQL_MENTION_COUNT,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_jaccard": SQL_DEDUP_JACCARD,
    "dedup_minhash": SQL_DEDUP_MINHASH,
    "embedding_knn": SQL_EMBEDDING_KNN,
    "embedding_centroid": SQL_EMBEDDING_CENTROID,
    "embedding_int8": SQL_EMBEDDING_INT8,
    "kg_pagerank": SQL_KG_PAGERANK,
    "graph_triangles": SQL_GRAPH_TRIANGLES,
    "events_asof_join": SQL_EVENTS_ASOF_JOIN,
    "dedup_resolve": SQL_DEDUP_RESOLVE,
    "keyword_tfidf": SQL_KEYWORD_TFIDF,
    "inverted_index": SQL_INVERTED_INDEX,
    "cross_encoder_rerank": SQL_CROSS_ENCODER_RERANK,
    "bm25_search": SQL_BM25_SEARCH,
    "composite_search": SQL_COMPOSITE_SEARCH,
    "served_search": SQL_COMPOSITE_SEARCH,
    "kg_extract_triples": SQL_KG_EXTRACT_TRIPLES,
    "kg_anaphora": SQL_KG_ANAPHORA,
    "kg_context_coref": SQL_KG_CONTEXT_COREF,
    "kg_speech_acts": SQL_KG_SPEECH_ACTS,
    "kg_mentions": SQL_KG_MENTIONS,
    "kg_json_episodes": SQL_KG_JSON_EPISODES,
    "kg_fact_dates": SQL_KG_FACT_DATES,
    "kg_custom_ontology": SQL_KG_CUSTOM_ONTOLOGY,
    "kg_communities": SQL_KG_COMMUNITIES,
    "kg_communities_ref": SQL_KG_COMMUNITIES,
    "kg_entity_summaries": SQL_KG_ENTITY_SUMMARIES,
    "kg_search_filters": SQL_KG_SEARCH_FILTERS,
    "kg_node_distance": SQL_KG_NODE_DISTANCE,
    "kg_mmr": SQL_KG_MMR,
    "kg_mmr_diverse": SQL_KG_MMR_DIVERSE,
    "kg_episode_mentions": SQL_KG_EPISODE_MENTIONS,
    "kg_edges_by_node": SQL_KG_EDGES_BY_NODE,
    "kg_add_triplet": SQL_KG_ADD_TRIPLET,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    # At nprobe = n_cells IVF scans every cell, so its result is
    # centroid-independent and exactly brute force — same oracle.
    "embedding_knn_ivf": SQL_EMBEDDING_KNN,
    # kg_build_edges: the CC step is iterative in general, but on this
    # deterministic input the fixed point is closed-form, so the oracle
    # states the expected end-to-end edge set (see q_kg_build_edges).
    # Alias-merging CC inputs stay pytest-gated (golden P/R = 1.0).
    "kg_build_edges": SQL_KG_BUILD_EDGES,
    # The pruned-probe IVF path (nprobe < n_cells) stays pytest-gated
    # for recall (tests/test_ann.py).
}
