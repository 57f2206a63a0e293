"""Maintenance-surface tests: lookups, pagination, traversal semi-joins,
add_triplet. The touched-group replace is tested through the facade
(tests/test_api.py)."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from graphiti_spark.operators import maintenance as MT

RUN_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def tables(spark):
    episodes = spark.createDataFrame(
        [("ep1", "g1"), ("ep2", "g1"), ("ep3", "g2")], ["uuid", "group_id"])
    entities = spark.createDataFrame(
        [("alice", "g1"), ("acme", "g1"), ("bob", "g2")], ["uuid", "group_id"])
    episodic_edges = spark.createDataFrame(
        [("m1", "g1", "ep1", "alice"), ("m2", "g1", "ep1", "acme"),
         ("m3", "g1", "ep2", "alice"), ("m4", "g2", "ep3", "bob")],
        ["uuid", "group_id", "source_node_uuid", "target_node_uuid"])
    edges = spark.createDataFrame(
        [("e1", "g1", "alice", "acme", ["ep1"]),
         ("e2", "g1", "alice", "acme", ["ep1", "ep2"]),
         ("e3", "g2", "bob", "bob2", ["ep3"])],
        ["uuid", "group_id", "source_node_uuid", "target_node_uuid",
         "episodes"])
    return episodes, entities, episodic_edges, edges


def test_point_lookup_and_pagination(spark, tables):
    episodes, *_ = tables
    assert MT.get_by_uuids(episodes, ["ep1", "ep3"]).count() == 2
    page = MT.get_by_group_ids(episodes, ["g1"], limit=1,
                               uuid_cursor="ep2").collect()
    assert [r["uuid"] for r in page] == ["ep1"]   # uuid < 'ep2' desc limit 1


def test_edges_by_node_undirected(spark, tables):
    *_, edges = tables
    assert {r["uuid"] for r in MT.get_edges_by_node(edges, "acme").collect()} \
        == {"e1", "e2"}


def test_traversal_semi_joins(spark, tables):
    episodes, entities, epi_edges, _ = tables
    got = {r["uuid"] for r in
           MT.get_mentioned_nodes(epi_edges, entities, ["ep1"]).collect()}
    assert got == {"alice", "acme"}
    eps = {r["uuid"] for r in
           MT.get_episodes_by_mentions(epi_edges, episodes, ["alice"])
           .collect()}
    assert eps == {"ep1", "ep2"}


def test_clear_groups(spark, tables):
    episodes, *_ = tables
    left = MT.clear_groups(episodes, ["g1"]).collect()
    assert [r["uuid"] for r in left] == ["ep3"]


def test_add_triplet_routes_through_pipeline(spark):
    edges = MT.add_triplet(spark, "gX", "Alice", "WORKS_AT", "Acme Corp",
                           "Alice works at Acme Corp.", RUN_TS)
    rows = edges.collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "WORKS_AT" and rows[0]["group_id"] == "gX"
    assert rows[0]["episodes"] == []          # created by no episode


def test_add_triplet_accepts_arbitrary_predicates(spark):
    """The reference add_triplet takes arbitrary triples (graphiti.py:
    979-1017) — a predicate outside the extraction template set must
    still produce an edge, not silently return empty."""
    from graphiti_spark import rules
    edges = MT.add_triplet(spark, "gY", "Voyager 1", "LAUNCHED_FROM",
                           "Cape Canaveral",
                           "Voyager 1 was launched from Cape Canaveral.",
                           RUN_TS)
    rows = edges.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["name"] == "LAUNCHED_FROM"
    assert r["source_node_uuid"] == rules.entity_uuid("gY", "Voyager 1")
    assert r["target_node_uuid"] == rules.entity_uuid("gY", "Cape Canaveral")
    assert r["valid_at"] is not None
    with pytest.raises(ValueError):
        MT.add_triplet(spark, "gY", "X", "SELF", "X", "X is X.", RUN_TS)


def test_get_nodes_and_edges_by_episode(spark, tables):
    episodes, entities, epi_edges, edges = tables
    nodes, sel = MT.get_nodes_and_edges_by_episode(
        epi_edges, entities, edges, ["ep2"])
    assert {r["uuid"] for r in nodes.collect()} == {"alice"}
    assert {r["uuid"] for r in sel.collect()} == {"e2"}
    nodes2, sel2 = MT.get_nodes_and_edges_by_episode(
        epi_edges, entities, edges, [])
    assert nodes2.count() == 0 and sel2.count() == 0
