"""ServedGraph ranking: the exact top-k helper against a pandas oracle
(no Spark), and fused node-layer results holding foreign (edge) uuids
against Spark's composite search."""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pytest
from test_serving import _assert_layer_equal, _run_both, served_setup  # noqa: F401

from graphiti_spark.operators import composite_search as CS
from graphiti_spark.operators.search import DateFilter, SearchFilters
from graphiti_spark.serving import _top_k


def _oracle(uuids, scores, k):
    df = pd.DataFrame({"uuid": uuids, "score": scores})
    df = df.sort_values(["score", "uuid"], ascending=[False, True])
    if k is not None:
        df = df.head(k)
    return df["uuid"].tolist(), df["score"].tolist()


def _check(uuids, scores, k):
    got_u, got_s = _top_k(np.array(uuids, dtype=object),
                          np.array(scores, dtype=np.float64), k)
    want_u, want_s = _oracle(uuids, scores, k)
    assert got_u.tolist() == want_u, (k, got_u, want_u)
    assert got_s.tolist() == want_s, k


@pytest.mark.parametrize("seed", range(20))
def test_top_k_matches_pandas_with_ties(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 60))
    uuids = [f"u{i:03d}" for i in rng.permutation(n)]
    # few distinct scores: every boundary k cuts through a tie
    scores = rng.integers(0, 4, size=n) / 3.0
    for k in sorted({1, 2, n // 3, n // 2, n - 1, n, n + 5} - {0}):
        _check(uuids, scores, k)
    _check(uuids, scores, None)
    _check(uuids, scores, 0)


def test_top_k_edge_cases():
    _check([], [], 5)
    _check([], [], None)
    _check(["c", "a", "b", "d"], [0.5] * 4, 2)     # all equal: uuid order
    _check(["c", "a", "b", "d"], [0.5] * 4, 10)    # k beyond n
    _check(["b", "a"], [-0.0, 0.0], 1)             # signed zeros tie


def _bfs_origins(layers, n_groups):
    """``n_groups`` groups with edges, and two source nodes of the first:
    a bfs from them reaches edges of that group."""
    rows = (layers["edges"].select("group_id", "source_node_uuid")
            .orderBy("group_id", "source_node_uuid").collect())
    groups = sorted({r["group_id"] for r in rows})[:n_groups]
    origins = sorted({r["source_node_uuid"] for r in rows
                      if r["group_id"] == groups[0]})[:2]
    return groups, origins


@pytest.mark.parametrize("scoped", [False, True], ids=["unscoped",
                                                      "two_groups_dated"])
def test_bfs_edge_uuids_take_node_slots(served_setup, scoped):  # noqa: F811
    """A node-layer RRF over bm25 + bfs: bfs ranks EDGE uuids, which win
    RRF slots within ``limit`` before hydration drops them. Served and
    Spark agree on the surviving nodes, unscoped and scoped to two groups
    under a date filter."""
    layers, sg, _, qvec, _ = served_setup
    groups, origins = _bfs_origins(layers, 2)
    names = [r["name"] for r in layers["nodes"]
             .where(layers["nodes"].group_id.isin(groups))
             .select("name").orderBy("uuid").limit(12).collect()]
    query = " ".join(names)
    limit = 4
    kw = dict(bfs_origin_node_uuids=origins)
    if scoped:
        kw.update(group_ids=groups, filters=SearchFilters(date_groups=[[
            DateFilter("created_at", ">=",
                       datetime(2000, 1, 1, tzinfo=timezone.utc))]]))
    fused = CS.CompositeSearchConfig(
        node_config=CS.LayerConfig(["bm25", "bfs"], "rrf"), limit=limit)
    spark_res, served_res = _run_both(layers, sg, query, qvec, fused, **kw)
    _assert_layer_equal(spark_res.nodes, served_res.nodes, "nodes")
    # bm25 alone fills the limit; with bfs, edge uuids took slots
    alone = CS.CompositeSearchConfig(
        node_config=CS.LayerConfig(["bm25"], "rrf"), limit=limit)
    assert len(sg.search(query, qvec, alone, **kw).nodes) == limit
    assert 0 < len(served_res.nodes) < limit


def _bm25_loop(layer, query, k1=1.2, b=0.75):
    """The per-posting dict loop the array BM25 replaced: the reference
    for its scores, which must match it exactly."""
    from graphiti_spark.serving import _query_tokens
    avgdl = float(layer.dl.mean())
    scores: dict = {}
    for t in dict.fromkeys(_query_tokens(query)):
        if t not in layer.index:
            continue
        idx, tf = layer.index[t]
        df_t = float(len(idx))
        idf = np.log((len(layer.dl) - df_t + 0.5) / (df_t + 0.5) + 1.0)
        w = idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b
                                                  * layer.dl[idx] / avgdl))
        for i, wi in zip(idx, w):
            scores[int(i)] = scores.get(int(i), 0.0) + float(wi)
    return {layer.uuid[i]: s for i, s in scores.items() if s > 0}


def test_bm25_sums_match_the_dict_loop_exactly():
    from graphiti_spark.serving import _Layer
    rng = np.random.default_rng(3)
    words = [f"w{i}" for i in range(12)]
    docs = [" ".join(rng.choice(words, size=int(rng.integers(1, 9))))
            for _ in range(80)]
    layer = _Layer(pd.DataFrame({"uuid": [f"d{i:02d}" for i in range(80)],
                                 "fact": docs}), "fact", None)
    for q in ("w1 w2 w3", "w4 w4 w0 w11", "w7", "nothing here"):
        want = _bm25_loop(layer, q)
        got_u, got_s = layer.bm25(None, q, 1000)
        assert dict(zip(got_u.tolist(), got_s.tolist())) == want, q


def _dense_layer(seed: int, n: int = 300, dim: int = 64):
    """A layer with dense ``dim``-wide embeddings, like the ``embeddings``
    table of the ``served_search`` query, in two groups."""
    from graphiti_spark.serving import _Layer
    rng = np.random.default_rng(seed)
    emb = rng.normal(size=(n, dim)).astype(np.float32)
    emb[::17] = 0.0                               # zero-norm rows score 0
    pdf = pd.DataFrame({"uuid": [f"d{i:03d}" for i in rng.permutation(n)],
                        "group_id": [f"g{i % 2}" for i in range(n)],
                        "fact": ["w"] * n,
                        "fact_embedding": list(emb)})
    return _Layer(pdf, "fact", "fact_embedding"), rng


@pytest.mark.parametrize("seed", range(5))
def test_cosine_fold_matches_matmul_on_dense_vectors(seed):
    """Every coordinate of a dense query is nonzero: the fold then visits
    all of them and ranks as ``emb @ q`` does, scores to float tolerance."""
    layer, rng = _dense_layer(seed)
    q = rng.normal(size=64).astype(np.float32).astype(np.float64)
    dots = layer.emb @ q
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(layer.norm > 0,
                       dots / (layer.norm * np.sqrt(q @ q)), 0.0)
    for k, min_score in ((10, -1.0), (40, 0.0), (1000, -2.0)):
        got_u, got_s = layer.cosine(None, q, min_score, k)
        keep = cos > min_score
        want_u, want_s = _oracle(layer.uuid[keep].tolist(),
                                 cos[keep].tolist(), k)
        assert got_u.tolist() == want_u, (k, min_score)
        assert np.allclose(got_s, want_s, rtol=1e-12, atol=1e-12)


def test_empty_scope_returns_empty_arrays():
    layer, rng = _dense_layer(0)
    none = np.zeros(len(layer.uuid), dtype=bool)
    for uuids, scores in (layer.cosine(none, rng.normal(size=64), -2.0, 10),
                          layer.bm25(none, "w", 10)):
        assert len(uuids) == 0 and len(scores) == 0
        assert scores.dtype == np.float64
    assert len(layer.cosine(layer.scope(["g0"]), rng.normal(size=64),
                            -2.0, 1000)[0]) == 150
