"""StructType schemas for all engine tables (SURVEY.md §1.3).

Mirrors the reference's Pydantic models (``graphiti_core/nodes.py:81-157,
265-269``, ``graphiti_core/edges.py:44-49,169-188``) as columnar Spark
schemas. ``group_id`` (= ``conv_id``) is the partition column everywhere,
matching the reference's per-group scoping (``nodes.py:84``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input (BASELINE.json input_hint — exact shape).
TRANSCRIPTS = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])

# EpisodicNode (nodes.py:147-157): one row per turn.
EPISODES = T.StructType([
    T.StructField("uuid", T.StringType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("group_id", T.StringType(), False),
    T.StructField("source", T.StringType(), True),          # EpisodeType
    T.StructField("source_description", T.StringType(), True),
    T.StructField("content", T.StringType(), True),          # role || ': ' || text
    T.StructField("valid_at", T.TimestampType(), True),
    T.StructField("created_at", T.TimestampType(), True),
    T.StructField("turn_idx", T.IntegerType(), False),
])

# EntityNode (nodes.py:265-269).
ENTITIES = T.StructType([
    T.StructField("uuid", T.StringType(), False),
    T.StructField("name", T.StringType(), False),
    T.StructField("group_id", T.StringType(), False),
    T.StructField("labels", T.ArrayType(T.StringType()), True),
    T.StructField("created_at", T.TimestampType(), True),
    T.StructField("summary", T.StringType(), True),
    T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("name_embedding", T.ArrayType(T.FloatType()), True),
])

# EntityEdge (edges.py:169-188): the (subj, pred, obj) fact unit.
EDGES = T.StructType([
    T.StructField("uuid", T.StringType(), False),
    T.StructField("group_id", T.StringType(), False),
    T.StructField("source_node_uuid", T.StringType(), False),
    T.StructField("target_node_uuid", T.StringType(), False),
    T.StructField("name", T.StringType(), False),             # predicate
    T.StructField("fact", T.StringType(), True),
    T.StructField("episodes", T.ArrayType(T.StringType()), True),
    T.StructField("created_at", T.TimestampType(), True),
    T.StructField("valid_at", T.TimestampType(), True),
    T.StructField("invalid_at", T.TimestampType(), True),
    T.StructField("expired_at", T.TimestampType(), True),
    T.StructField("fact_embedding", T.ArrayType(T.FloatType()), True),
    T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
])

# EpisodicEdge / CommunityEdge (edges.py:79,344) — thin.
THIN_EDGES = T.StructType([
    T.StructField("uuid", T.StringType(), False),
    T.StructField("group_id", T.StringType(), False),
    T.StructField("source_node_uuid", T.StringType(), False),
    T.StructField("target_node_uuid", T.StringType(), False),
    T.StructField("created_at", T.TimestampType(), True),
])

# Per-partition lineage/metrics rows (north-star requirement; no reference
# analogue — SURVEY.md §2.4 A7).
LINEAGE = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("rows_out", T.LongType(), False),
    T.StructField("t_start", T.TimestampType(), True),
    T.StructField("t_end", T.TimestampType(), True),
])
