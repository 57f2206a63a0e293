"""ServedGraph ⟺ Spark composite-search equivalence.

The serving layer (graphiti_spark/serving.py) answers the reference's
interactive search() against an exported snapshot of the pipeline's
layer tables. These tests replay every composite preset through BOTH
engines on the same pipeline-built graph and assert identical uuid
orderings with score agreement to float tolerance — so sub-second
serving is the SAME search, not a lookalike.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphiti_spark.functions.text import embed_text
from graphiti_spark.operators import composite_search as CS
from graphiti_spark.operators.communities import build_communities
from graphiti_spark.operators.search import (DateFilter, SearchFilters,
                                             similarity_search)
from graphiti_spark.plans.pipeline import RUN_TS, build_graph
from graphiti_spark.serving import ServedGraph, export_search_artifacts


@pytest.fixture(scope="module")
def served_setup(spark, corpus_dir):
    tr = spark.read.parquet(f"{corpus_dir}/transcripts.parquet")
    g = build_graph(spark, tr, run_ts=RUN_TS, with_embeddings=True)
    comms, _ = build_communities(g.entities, g.edges, RUN_TS)
    layers = {"edges": g.edges.cache(), "nodes": g.entities.cache(),
              "episodes": g.episodes.cache(),
              "communities": comms.cache(),
              "episodic_edges": g.episodic_edges.cache()}
    for df in layers.values():
        df.count()
    sg = ServedGraph.from_spark(**layers)
    facts = [r["fact"] for r in layers["edges"]
             .select("fact").orderBy("uuid").limit(6).collect()]
    qvec = [float(x) for x in layers["nodes"].select("name_embedding")
            .orderBy("uuid").head()["name_embedding"]]
    node_uuids = [r["uuid"] for r in layers["nodes"]
                  .select("uuid").orderBy("uuid").limit(3).collect()]
    return layers, sg, facts, qvec, node_uuids


def _collect(df):
    return [(r["uuid"], r["score"]) for r in df.collect()]


def _pdf_pairs(pdf):
    return list(zip(pdf["uuid"].tolist(), pdf["score"].tolist()))


def _assert_layer_equal(spark_df, served_pdf, label):
    if spark_df is None or served_pdf is None:
        assert spark_df is None and served_pdf is None, label
        return
    got_s = _collect(spark_df)
    got_p = _pdf_pairs(served_pdf)
    assert [u for u, _ in got_s] == [u for u, _ in got_p], \
        f"{label}: uuid order {got_s} != {got_p}"
    assert np.allclose([s for _, s in got_s], [s for _, s in got_p],
                       rtol=1e-9, atol=1e-9), label


def _run_both(layers, sg, query, qvec, preset, **kw):
    spark_res = CS.search(query, qvec, preset,
                          edges=layers["edges"], nodes=layers["nodes"],
                          episodes=layers["episodes"],
                          communities=layers["communities"],
                          episodic_edges=layers["episodic_edges"], **kw)
    served_res = sg.search(query, qvec, preset, **kw)
    return spark_res, served_res


@pytest.mark.parametrize("name", sorted(CS.COMPOSITE_RECIPES))
def test_every_preset_equivalent(served_setup, name):
    layers, sg, facts, qvec, node_uuids = served_setup
    preset = CS.COMPOSITE_RECIPES[name]
    query = " ".join(facts[0].split()[:4])
    kw = dict(center_node_uuid=node_uuids[0],
              bfs_origin_node_uuids=node_uuids[:2])
    spark_res, served_res = _run_both(layers, sg, query, qvec, preset, **kw)
    for attr in ("edges", "nodes", "episodes", "communities"):
        _assert_layer_equal(getattr(spark_res, attr),
                            getattr(served_res, attr), f"{name}.{attr}")


def test_group_scope_equivalent(served_setup):
    layers, sg, facts, qvec, _ = served_setup
    gid = layers["edges"].select("group_id").orderBy("group_id") \
        .head()["group_id"]
    preset = CS.COMBINED_HYBRID_SEARCH_RRF
    query = " ".join(facts[1].split()[:4])
    spark_res, served_res = _run_both(layers, sg, query, qvec, preset,
                                      group_ids=[gid])
    for attr in ("edges", "nodes", "episodes", "communities"):
        _assert_layer_equal(getattr(spark_res, attr),
                            getattr(served_res, attr), attr)
    # scoped results honor the scope
    assert set(served_res.edges["group_id"]) <= {gid}


def test_filters_equivalent(served_setup):
    layers, sg, facts, qvec, _ = served_setup
    pred = layers["edges"].select("name").orderBy("uuid").head()["name"]
    filters = SearchFilters(
        edge_types=[pred],
        date_groups=[[DateFilter("valid_at", "is_not_null")],
                     [DateFilter("created_at", ">=",
                                 datetime(2000, 1, 1,
                                          tzinfo=timezone.utc))]])
    preset = CS.EDGE_HYBRID_SEARCH_RRF
    query = " ".join(facts[2].split()[:4])
    spark_res, served_res = _run_both(layers, sg, query, qvec, preset,
                                      filters=filters)
    _assert_layer_equal(spark_res.edges, served_res.edges, "edges")


def test_mmr_diversity_branch_equivalent(served_setup):
    """λ<1 exercises the penalty term (the non-degenerate MMR branch)."""
    layers, sg, facts, qvec, _ = served_setup
    preset = CS.CompositeSearchConfig(
        edge_config=CS.LayerConfig(["bm25", "cosine"], "mmr",
                                   mmr_lambda=0.5),
        node_config=CS.LayerConfig(["bm25", "cosine"], "mmr",
                                   mmr_lambda=0.3))
    query = " ".join(facts[0].split()[:5])
    spark_res, served_res = _run_both(layers, sg, query, qvec, preset)
    _assert_layer_equal(spark_res.edges, served_res.edges, "edges")
    _assert_layer_equal(spark_res.nodes, served_res.nodes, "nodes")


def test_blank_query_empty_bundle(served_setup):
    _, sg, _, qvec, _ = served_setup
    res = sg.search("   ", qvec, CS.COMBINED_HYBRID_SEARCH_RRF)
    assert res.edges is None and res.nodes is None
    assert res.episodes is None and res.communities is None


def test_export_load_roundtrip(served_setup, tmp_path):
    layers, sg, facts, qvec, _ = served_setup
    out = export_search_artifacts(
        str(tmp_path / "artifacts"), edges=layers["edges"],
        nodes=layers["nodes"], episodes=layers["episodes"],
        communities=layers["communities"],
        episodic_edges=layers["episodic_edges"])
    loaded = ServedGraph.load(out)
    preset = CS.COMBINED_HYBRID_SEARCH_RRF
    query = " ".join(facts[0].split()[:4])
    a = sg.search(query, qvec, preset)
    b = loaded.search(query, qvec, preset)
    for attr in ("edges", "nodes", "episodes", "communities"):
        pa, pb = getattr(a, attr), getattr(b, attr)
        assert (pa is None) == (pb is None)
        if pa is not None:
            assert pa["uuid"].tolist() == pb["uuid"].tolist()
            assert np.allclose(pa["score"], pb["score"])


def test_served_latency_is_interactive(served_setup):
    """The point of the layer: the same composite call that costs seconds
    of Spark scheduling answers in milliseconds from the snapshot."""
    import time
    _, sg, facts, qvec, node_uuids = served_setup
    preset = CS.COMBINED_HYBRID_SEARCH_RRF
    sg.search("warm up", qvec, preset)   # build lazy indexes once
    t0 = time.perf_counter()
    n = 0
    for i in range(20):
        q = " ".join(facts[i % len(facts)].split()[:4])
        res = sg.search(q, qvec, preset)
        n += sum(len(x) for x in (res.edges, res.nodes, res.episodes,
                                  res.communities) if x is not None)
    per_query = (time.perf_counter() - t0) / 20
    assert n > 0
    assert per_query < 1.0, f"served search took {per_query:.3f}s/query"


def test_empty_layer_does_not_crash(served_setup):
    """ADVICE r4: a 0-row layer table (no communities yet, empty group
    shard) used to build a 1-D embedding matrix and crash the einsum in
    _Layer.__init__; search() must instead return an empty frame for
    that layer and leave the others untouched."""
    layers, _, facts, qvec, _ = served_setup
    empty_comms = layers["communities"].toPandas().iloc[0:0]
    sg = ServedGraph(
        edges=layers["edges"].toPandas(),
        nodes=layers["nodes"].toPandas(),
        episodes=layers["episodes"].toPandas(),
        communities=empty_comms,
        episodic_edges=layers["episodic_edges"].toPandas())
    preset = CS.COMBINED_HYBRID_SEARCH_RRF
    res = sg.search(" ".join(facts[0].split()[:4]), qvec, preset)
    assert res.communities is not None and len(res.communities) == 0
    assert res.edges is not None and len(res.edges) > 0
    assert res.nodes is not None and len(res.nodes) > 0


def _no_hit_query(layer) -> str:
    """A word whose hashed coordinate is zero in every row of ``layer``:
    its cosine with every row is 0."""
    for i in range(10_000):
        word = f"zq{i}"
        if not layer.emb[:, np.flatnonzero(embed_text(word))].any():
            return word
    raise AssertionError("every probe word hits a row")


@pytest.mark.parametrize("kind,table", [("edge", "edges"),
                                        ("node", "nodes")])
def test_cosine_equals_spark_exactly(served_setup, kind, table):
    """The served cosine folds only the query's nonzero coordinates; each
    row's score is ``==`` to Spark's ``cosine_col`` fold over all of
    them, scoped and unscoped, for every row (min_score below -1), and
    a query that hits no row returns nothing on both engines."""
    layers, sg, facts, _, _ = served_setup
    layer, df = sg._layer(kind), layers[table]
    emb_col = CS._LAYER_COLS[kind][1]
    gid = df.select("group_id").orderBy("group_id").head()["group_id"]
    queries = [" ".join(f.split()[:4]) for f in facts[:3]]
    for scoped in (False, True):
        sdf = df.where(F.col("group_id") == gid) if scoped else df
        mask = layer.scope([gid]) if scoped else None
        no_hit = _no_hit_query(layer)
        for query in queries + [no_hit]:
            qvec = [float(x) for x in embed_text(query)]
            for min_score in (-2.0, 0.0):
                want = _collect(similarity_search(
                    sdf, emb_col, qvec, min_score=min_score,
                    limit=len(layer.uuid)))
                got_u, got_s = layer.cosine(mask, qvec, min_score,
                                            len(layer.uuid))
                assert list(zip(got_u.tolist(), got_s.tolist())) == want, \
                    (kind, scoped, query, min_score)
                if min_score == 0.0 and query == no_hit:
                    assert want == [], query


def test_hydration_keeps_an_existing_score_column(served_setup):
    """Hydration writes the scores into a score column preallocated on the
    layer: a table without one gains it last, a table with one keeps it
    at its position as float64, and every other dtype is the table's."""
    layers, _, facts, qvec, _ = served_setup
    edges = layers["edges"].toPandas()
    scored = edges.copy()
    scored.insert(2, "score", np.arange(len(scored)))
    query = " ".join(facts[0].split()[:4])
    for table, want_cols in ((edges, list(edges.columns) + ["score"]),
                             (scored, list(scored.columns))):
        res = ServedGraph(edges=table).search(
            query, qvec, CS.EDGE_HYBRID_SEARCH_RRF)
        assert len(res.edges) > 0
        assert list(res.edges.columns) == want_cols
        want_dtypes = table.dtypes.to_dict()
        want_dtypes["score"] = np.dtype(np.float64)
        assert res.edges.dtypes.to_dict() == want_dtypes
        assert res.edges["score"].notna().all()
