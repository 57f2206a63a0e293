"""extract_keywords (operators/keywords.py) vs a pure-Python TF-IDF.

The operator's contract: smooth-idf scoring tf * (ln((N+1)/(df+1)) + 1)
over the stopword-filtered, min_len-filtered token bag; top-k per doc by
(round(score, 6) DESC, term ASC); rank in 1..k; docs with no surviving
tokens emit nothing.
"""

from __future__ import annotations

import math
import random
import re

from graphiti_spark.operators.keywords import (DEFAULT_STOPWORDS,
                                               extract_keywords)

VOCAB = ["spark", "window", "agg", "join", "scan", "the", "to", "on",
         "cat", "x", "partition", "shuffle", "broadcast"]


def _py_tfidf(docs, top_k=5, min_len=2, stop=DEFAULT_STOPWORDS):
    """docs: {doc_id: text} -> set of (doc_id, term, tf, df, score, rank)."""
    bags = {}
    for did, text in docs.items():
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower())
                if len(t) >= min_len and t not in stop]
        tf = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        bags[did] = tf
    n_docs = len(docs)
    dfreq = {}
    for tf in bags.values():
        for t in tf:
            dfreq[t] = dfreq.get(t, 0) + 1
    out = set()
    for did, tf in bags.items():
        scored = [(round(c * (math.log((n_docs + 1.0) / (dfreq[t] + 1.0))
                              + 1.0), 6), t, c) for t, c in tf.items()]
        scored.sort(key=lambda r: (-r[0], r[1]))
        for rank, (score, term, c) in enumerate(scored[:top_k], start=1):
            out.add((did, term, c, dfreq[term], score, rank))
    return out


def test_keywords_match_python_reference(spark):
    rng = random.Random(7)
    docs = {i: " ".join(rng.choices(VOCAB, k=rng.randint(0, 40)))
            for i in range(60)}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {(r.doc_id, r.term, r.tf, r.df, r.score, r.rank)
           for r in extract_keywords(df, top_k=5).collect()}
    assert got == _py_tfidf(docs, top_k=5)


def test_keywords_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, "the to on a"),        # all stopwords/short -> no rows
         (2, ""),                   # empty -> no rows
         (3, "unique"),             # singleton
         (4, "unique unique zz")],  # tf=2 beats tf=1
        "doc_id long, text string")
    rows = extract_keywords(df, top_k=5).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc and 2 not in by_doc
    assert [r.term for r in by_doc[3]] == ["unique"]
    assert by_doc[3][0].df == 2 and by_doc[3][0].tf == 1
    d4 = sorted(by_doc[4], key=lambda r: r.rank)
    assert (d4[0].term, d4[0].tf) == ("unique", 2)
    assert (d4[1].term, d4[1].tf, d4[1].df) == ("zz", 1, 1)


def test_keywords_top_k_bound(spark):
    text = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = extract_keywords(df, top_k=3).collect()
    assert len(rows) == 3
    assert sorted(r.rank for r in rows) == [1, 2, 3]
    # equal scores -> lexicographic term tiebreak
    assert [r.term for r in sorted(rows, key=lambda r: r.rank)] == \
        ["w0", "w1", "w10"]
