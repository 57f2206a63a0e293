"""The stored→raw re-slice (``maintenance.stored_edges_to_raw``) that
the touched-group replace and ``add_triplet`` re-merge through."""

from datetime import datetime, timezone

from pyspark.sql import functions as F

from graphiti_spark.operators.maintenance import stored_edges_to_raw
from graphiti_spark.plans.pipeline import build_graph

RUN_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
          " tool string, ts timestamp")


def _turns(spark, rows):
    return spark.createDataFrame(
        [(c, i, "user", t, None, datetime(2024, 1, 1, h)) for c, i, t, h
         in rows], SCHEMA)


def _edge_key(df):
    return {tuple(r) for r in df.select(
        "uuid", "source_node_uuid", "name", "target_node_uuid",
        F.date_format("valid_at", "yyyy-MM-dd HH:mm:ss").alias("v"),
        F.date_format("invalid_at", "yyyy-MM-dd HH:mm:ss").alias("i"),
        F.array_join("episodes", ",").alias("eps")).collect()}


BASE = [
    ("c1", 0, "Alice works at Acme Corp.", 0),
    ("c1", 1, "Alice lives in Paris.", 1),
    ("c2", 0, "Bob Jones works at Globex.", 0),
    ("c3", 0, "Carol works at Initech.", 0),   # never touched again
]

NEW = [
    # duplicate fact (merges episodes), functional-pred supersede,
    # negation, and a brand-new entity.
    ("c1", 2, "Alice works at Acme Corp.", 2),
    ("c1", 3, "Alice works at Hooli.", 3),          # supersedes Acme
    ("c2", 1, "Bob Jones no longer works at Globex.", 1),
    ("c2", 2, "Dave works at Globex.", 2),          # new entity
]


def test_stored_edges_roundtrip_through_merge(spark):
    """stored→raw→dedupe is idempotent: re-merging an untouched slice
    reproduces it (same uuid, payload, episodes, timestamps)."""
    from graphiti_spark.operators import versioning
    base = _turns(spark, BASE + NEW)
    g = build_graph(spark, base, run_ts=RUN_TS)
    again = versioning.apply_versioning(
        versioning.dedupe_edges(stored_edges_to_raw(g.edges)), RUN_TS)
    assert _edge_key(again) == _edge_key(g.edges)
