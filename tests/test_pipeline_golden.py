"""End-to-end golden-gate tests at sf0.001 (the P/R gate, SURVEY.md §5).

The golden tables are produced by an independent pure-Python implementation
(datagen plants facts and versions them itself), so these tests check the
Spark pipeline against a second implementation — not against itself.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphiti_spark.ontology import Ontology, Template
from graphiti_spark.plans.pipeline import build_graph


@pytest.fixture(scope="module")
def graph(spark, corpus_dir):
    tr = spark.read.parquet(f"{corpus_dir}/transcripts.parquet")
    return build_graph(spark, tr), tr


def test_per_turn_text_equality(spark, graph):
    """Per-row invariant (BASELINE.json): content == role || ': ' || text
    under stable (conv_id, turn_idx) ordering, row counts equal."""
    g, tr = graph
    eps = g.episodes.select("group_id", "turn_idx", "content")
    joined = (tr.join(eps, (tr.conv_id == eps.group_id)
                      & (tr.turn_idx == eps.turn_idx)))
    assert joined.count() == tr.count()
    bad = joined.where(
        F.col("content") != F.concat_ws(": ", "role", "text")).count()
    assert bad == 0


def test_raw_triple_extraction_pr(spark, graph, corpus_dir):
    """Raw extraction P/R = 1.0 vs golden_triples (pre-dedup)."""
    g, _ = graph
    golden = pd.read_parquet(f"{corpus_dir}/golden_triples.parquet")
    from graphiti_spark.operators.extract import extract_edges
    raw = extract_edges(g.episodes, run_ts=None).toPandas()
    got = {(r.group_id, r.subj, r.pred, r.obj) for r in raw.itertuples()}
    want = {(r.conv_id, r.subj, r.pred, r.obj) for r in golden.itertuples()}
    tp = len(got & want)
    p, r = tp / max(len(got), 1), tp / max(len(want), 1)
    assert p >= 0.95 and r >= 0.95, (p, r, list(want - got)[:3], list(got - want)[:3])


def test_entity_components_match_golden(spark, graph, corpus_dir):
    """Canonicalization groups names exactly as the golden alias partition."""
    g, _ = graph
    golden = pd.read_parquet(f"{corpus_dir}/golden_components.parquet")
    ents = g.entities.select("group_id", "uuid", "member_uuids").toPandas()
    # golden: conv_id, name_norm, comp → set of frozensets of member uuids
    from graphiti_spark import rules
    want = {}
    for r in golden.itertuples():
        want.setdefault((r.conv_id, r.comp), set()).add(
            rules.entity_uuid(r.conv_id, r.name_norm))
    want_sets = {frozenset(v) for v in want.values()}
    got_sets = {frozenset(m) for m in ents.member_uuids}
    assert got_sets == want_sets, (
        len(got_sets - want_sets), len(want_sets - got_sets))


def test_versioned_edges_match_golden(spark, graph, corpus_dir):
    """Final (subj,pred,obj,valid_at,invalid_at) set == golden_edges —
    P/R 1.0 including invalidation timestamps (T1/T2 gate)."""
    g, _ = graph
    ge = pd.read_parquet(f"{corpus_dir}/golden_edges.parquet")
    ent = g.entities.toPandas().set_index("uuid")["name_norm"].to_dict()
    edges = g.edges.toPandas()
    pos = edges[edges.valid_at.notna()]
    got = {(r.group_id, ent[r.source_node_uuid], r.name,
            ent[r.target_node_uuid], r.valid_at,
            None if pd.isna(r.invalid_at) else r.invalid_at)
           for r in pos.itertuples()}
    want = {(r.conv_id, r.subj, r.pred, r.obj, r.valid_at,
             None if pd.isna(r.invalid_at) else r.invalid_at)
            for r in ge.itertuples()}
    tp = len(got & want)
    p, r = tp / max(len(got), 1), tp / max(len(want), 1)
    assert p >= 0.95 and r >= 0.95, (p, r, list(want - got)[:3], list(got - want)[:3])


def test_expired_at_set_iff_invalidated(spark, graph):
    g, _ = graph
    n_bad = g.edges.where(
        (F.col("invalid_at").isNotNull() & F.col("expired_at").isNull())
        | (F.col("invalid_at").isNull() & F.col("expired_at").isNotNull())
    ).count()
    assert n_bad == 0


def test_typed_attributes_populated(spark, graph):
    """E4 gate: entity attributes carry the ontology type; FOUNDED edges
    carry their year slot (attributes no longer the empty map)."""
    g, _ = graph
    ents = g.entities.select("attributes", "labels").limit(50).collect()
    assert ents
    for r in ents:
        assert r["attributes"].get("entity_type") == r["labels"][0]
    founded = (g.edges.where(F.col("name") == "FOUNDED")
               .select("attributes", "valid_at").collect())
    for r in founded:
        assert r["attributes"].get("year") == str(r["valid_at"].year)


def test_episodic_edges_reference_canonical_entities(spark, graph):
    g, _ = graph
    orphans = (g.episodic_edges.join(
        g.entities.select(F.col("uuid").alias("target_node_uuid")),
        "target_node_uuid", "left_anti")).count()
    assert orphans == 0


def _entity_rows(g):
    return sorted(
        (r["uuid"], r["name"], tuple(r["labels"]),
         r["attributes"]["entity_type"], tuple(r["member_uuids"]),
         r["summary"])
        for r in g.entities.collect())


def test_entities_independent_of_input_order_and_partitioning(spark,
                                                              corpus_dir):
    """Entity labels (and so ``attributes.entity_type``) follow the
    members' (first_turn, uuid), not the order rows reach the merge: one
    corpus built from two row orders and partitionings gives identical
    entities, and a component's first label is its first mention's."""
    tr = spark.read.parquet(f"{corpus_dir}/transcripts.parquet")
    shuffled = tr.orderBy(F.desc("conv_id"), F.desc("turn_idx")) \
        .repartition(3, "turn_idx")
    assert _entity_rows(build_graph(spark, tr)) == \
        _entity_rows(build_graph(spark, shuffled))

    from datetime import datetime
    ts0 = datetime(2024, 1, 1)
    rows = [("s", 0, "carol", "I live in Lisbon.", None, ts0),
            ("s", 1, "user", "Carol Moss works at Globex.", None, ts0),
            ("p", 0, "user", "Carol Moss works at Globex.", None, ts0),
            ("p", 1, "carol", "I live in Lisbon.", None, ts0)]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    want = {("s", "Speaker"), ("p", "Person")}
    for order in (rows, rows[::-1]):
        g = build_graph(spark, spark.createDataFrame(order, schema)
                        .repartition(2))
        carol = {(r["group_id"], r["attributes"]["entity_type"])
                 for r in g.entities.collect()
                 if len(r["member_uuids"]) == 2}
        assert carol == want


def test_storeless_build_job_count_is_fixed(spark, corpus_dir, job_count):
    """A storeless build forced through ``edges.count()`` runs at most 5
    Spark jobs, and the same number at two corpus sizes: context,
    extraction and the union-find run in one group-local pass, and edge
    dedup and versioning in one stream over one exchange. The cache is
    cleared first, so no earlier build's cached kernel output of the
    same plan serves this one."""
    spark.catalog.clearCache()
    tr = spark.read.parquet(f"{corpus_dir}/transcripts.parquet")
    counts = [job_count(f"build-{name}",
                        lambda: build_graph(spark, df).edges.count())
              for name, df in (("small", tr.where(F.col("turn_idx") < 4)),
                               ("full", tr))]
    assert counts[0] == counts[1] and 0 < counts[0] <= 5, counts


def test_storeless_build_kernel_runs_one_wave(spark, corpus_dir, job_count):
    """The kernel stage of a storeless build runs one task per core:
    ``defaultParallelism`` tasks, the widest stage its materialization
    runs (the sf0.001 input is one file split and the count's final
    aggregate one task)."""
    spark.catalog.clearCache()
    tr = spark.read.parquet(f"{corpus_dir}/transcripts.parquet")
    job_count("build-kernel", lambda: build_graph(spark, tr).kernel.count())
    st = spark.sparkContext.statusTracker()
    ran = [info.numTasks for job in st.getJobIdsForGroup("build-kernel")
           for info in map(st.getStageInfo, st.getJobInfo(job).stageIds)
           if info is not None and info.numCompletedTasks]
    assert max(ran) == spark.sparkContext.defaultParallelism, ran


CUSTOM_ONTOLOGY = Ontology(
    entity_types={"Product": ("category",)},
    excluded_entity_types=["Place"],
    templates=[Template("{a} supplies {b}", "SUPPLIES",
                        subj_type="Organization", obj_type="Product")],
    functional_preds=["SUPPLIES"])


@pytest.mark.parametrize("ontology", [None, CUSTOM_ONTOLOGY],
                         ids=["default", "custom"])
def test_resume_reuses_checkpointed_stages(spark, corpus_dir, tmp_path,
                                           ontology):
    """TableStore resume: second build with same fingerprint reads back
    manifested stages (rows identical), no recompute divergence. Every
    ontology extracts through the one combined stage."""
    from graphiti_spark.sources.tables import TableStore
    tr = spark.read.parquet(f"{corpus_dir}/transcripts.parquet").limit(200)
    store = TableStore(spark, str(tmp_path / "ckpt"))
    g1 = build_graph(spark, tr, store=store, ontology=ontology)
    n1 = g1.edges.count()
    assert store.is_complete("edges", _fp(ontology))
    g2 = build_graph(spark, tr, store=store, ontology=ontology)
    assert g2.edges.count() == n1
    lineage = store.lineage().toPandas()
    assert set(lineage.stage) >= {"episodes", "extract_combined", "mentions",
                                  "edges_raw", "entities", "edges"}
    assert (lineage.rows_out >= 0).all()


def _fp(ontology=None):
    from graphiti_spark.plans.pipeline import RUN_TS, _fingerprint
    return _fingerprint(v=3, run_ts=RUN_TS, emb=False,
                        onto=None if ontology is None
                        else ontology.fingerprint())


def test_build_graph_with_custom_ontology(spark):
    """E6 end-to-end: build_graph under a custom ontology extracts through
    the registered template, drops excluded-type entities/edges, and keeps
    its checkpoint fingerprint distinct from the default ontology's."""
    from datetime import datetime, timezone

    from graphiti_spark.plans import pipeline as P

    onto = CUSTOM_ONTOLOGY
    ts0 = datetime(2024, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)
    tr = spark.createDataFrame(
        [("c1", 0, "user", "Acme Corp supplies Widget Max.", None, ts0),
         ("c1", 1, "user", "Bob lives in Paris.", None, ts0)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")
    g = build_graph(spark, tr, ontology=onto)
    edges = [(r["subj"], r["name"], r["obj"]) for r in g.edges.collect()]
    assert edges == [("Acme Corp", "SUPPLIES", "Widget Max")]
    names = {r["name"]: r["labels"] for r in g.entities.collect()}
    # Paris (excluded Place) is gone; Bob (non-excluded Person subj of the
    # dropped edge) is still extracted — node_operations.py:157-160 drops
    # only excluded-TYPE entities, not their co-mentions.
    assert "Paris" not in names and "Bob" in names
    assert names["Widget Max"] == ["Product"]
    # ontology-scoped fingerprints: stages never alias across rule sets
    assert P._fingerprint(v=1, run_ts=P.RUN_TS, extra="", emb=False,
                          onto=onto.fingerprint()) != \
        P._fingerprint(v=1, run_ts=P.RUN_TS, extra="", emb=False, onto=None)
