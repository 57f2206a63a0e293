"""Per-document keyword extraction by smoothed TF-IDF.

The classic corpus-analysis pass: tokenize, drop stopwords, score each
(doc, term) by ``tf * (ln((N+1)/(df+1)) + 1)`` (sklearn's smooth-idf),
keep the top-k terms per document.

Plan shape, sized for a 100 TB corpus:

* **tf is computed map-side, zero shuffles**: instead of exploding every
  token occurrence and paying a corpus-sized ``groupBy(doc, term)``
  shuffle, each row sorts its own (bounded, KB-sized) token array and
  folds runs into ``(term, tf)`` structs with one JVM ``aggregate``
  lambda — a single O(n log n) pass per row riding the scan, while the
  avoided alternative is a full shuffle of every token occurrence in
  the corpus (see _tf_pairs_sql for the lambda-CSE trap this
  formulation dodges).
* The explode that follows emits one row per DISTINCT (doc, term) —
  already tf-aggregated, i.e. the same cardinality the scoring join
  needs anyway.
* **df** (document frequency) is one map-side-combinable ``groupBy
  (term)`` whose result is vocabulary-sized — orders of magnitude
  smaller than the corpus; AQE broadcasts it into the scoring join at
  bench scale and falls back to a term-keyed shuffle join when the
  vocabulary outgrows the broadcast threshold.
* **N** (corpus size) is a 1-row aggregate broadcast onto the scored
  rows (the bm25_search pattern).
* **top-k** is a ``row_number`` window partitioned by the (high
  cardinality, unskewed) doc id — one shuffle keyed exactly like the
  final consumer of the result.

Determinism / oracle-exactness: scores are rounded to 6 dp BEFORE the
rank window on both engines, absorbing libm-vs-JVM ``ln`` ulp
differences (the bm25_search precedent); ties break on the term string,
so the emitted top-k set is a total order and hash-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Tiny fixed stoplist shared verbatim with the DuckDB oracle. Extend via
# the `stopwords` parameter; keyword quality work would swap in a real
# per-language list, the engine shape is unchanged.
DEFAULT_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on",
    "for", "with", "as", "at", "by", "it", "that", "this",
)


def _tf_pairs_sql(text_col: str, min_len: int,
                  stopwords: tuple[str, ...]) -> str:
    """SQL expression: ARRAY<STRUCT<term, tf>> of per-row term counts via
    a single-pass run-length fold over the sorted token array, zero
    shuffles (see module docstring).

    The sorted array appears exactly ONCE, as ``aggregate``'s input
    argument, and the fold lambda touches only the accumulator and the
    current element. That is load-bearing: Catalyst does not eliminate
    common subexpressions across lambda boundaries, so an array-valued
    subexpression referenced INSIDE a lambda (e.g. ``element_at(sorted,
    i)`` in a filter over positions) is re-evaluated — including the
    sort — on every lambda invocation, turning a per-row O(n log n)
    into O(n³ log n); an earlier transform/filter formulation of this
    expression did exactly that and ran minutes instead of seconds on
    a 500-doc input. The fold's ``array_append`` accumulator is
    O(distinct²) element copies per row worst-case, which is
    microseconds for KB-bounded documents.
    """
    guard = f"length(x) >= {int(min_len)}"
    if stopwords:
        stop = ", ".join("'%s'" % w.replace("'", "''") for w in stopwords)
        guard += f" AND x NOT IN ({stop})"
    toks = (f"filter(split(lower({text_col}), '[^a-z0-9]+'), "
            f"x -> {guard})")
    pair = "named_struct('term', a.prev, 'tf', a.run)"
    return (
        f"aggregate(array_sort({toks}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), "
        "'acc', CAST(array() AS ARRAY<STRUCT<term: STRING, tf: BIGINT>>)), "
        "(a, x) -> named_struct("
        "'prev', x, "
        "'run', IF(a.prev <=> x, a.run + 1L, 1L), "
        f"'acc', IF(a.prev IS NULL OR a.prev <=> x, a.acc, "
        f"array_append(a.acc, {pair}))), "
        f"a -> IF(a.prev IS NULL, a.acc, array_append(a.acc, {pair})))")


def extract_keywords(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", top_k: int = 5,
                     min_len: int = 2,
                     stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
                     ) -> DataFrame:
    """Top-``top_k`` TF-IDF keywords per document.

    Returns ``(id_col, term, tf, df, score, rank)`` with ``rank`` in
    1..top_k ordered by (score DESC, term ASC) within each document.
    """
    pairs = (df.select(id_col, F.expr(_tf_pairs_sql(text_col, min_len,
                                                    stopwords))
                       .alias("pairs"))
             .select(id_col, F.explode("pairs").alias("p"))
             .select(id_col, F.col("p.term").alias("term"),
                     F.col("p.tf").alias("tf")))
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (pairs.join(dfreq, "term")
              .crossJoin(F.broadcast(n))
              .withColumn(
                  "score",
                  F.round(F.col("tf") * (F.log((F.col("n_docs") + F.lit(1.0))
                                               / (F.col("df") + F.lit(1.0)))
                                         + F.lit(1.0)), 6)))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select(id_col, "term", "tf", "df", "score",
                    F.col("rank").cast("int").alias("rank")))
