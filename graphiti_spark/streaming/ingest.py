"""Structured Streaming ingest wrapper (SURVEY.md §2.10).

The reference is incremental, not streaming: ``add_episode`` is awaited
sequentially per group with the graph DB as the only state
(``graphiti.py:412-415``). Our batch pipeline recovers those semantics by
rebuilding the groups a write touches, so the streaming wrapper is thin:
``foreachBatch`` runs the API's own write, ``GraphitiSpark.
add_episode_bulk``, per micro-batch and stores all five tables.

The previous-episode context (S3) is the three previous turns of the
same conversation, which the touched-group rebuild reads, so no
unbounded state is needed; late turns are handled with a
watermark on ``ts`` — turns later than the watermark re-enter as a new
micro-batch and the touched-group rebuild keeps the result identical to a
batch rebuild (ids are pure functions of content, rules.py).
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark.api import GraphitiSpark
from graphiti_spark.schema import TRANSCRIPTS
from graphiti_spark.sources.tables import (drop_store_table, group_key,
                                           read_store_table,
                                           write_store_table)

_WRITTEN = ("transcripts", "episodes", "entities", "edges",
            "episodic_edges")
# derived: built on a loaded handle, never by a write, and dropped by one
_DERIVED = ("communities", "community_edges")


def stream_transcripts(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of transcript parquet drops (the Iceberg
    streaming-read equivalent in this sandbox)."""
    return (spark.readStream.schema(TRANSCRIPTS)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


class StreamingGraphWriter:
    """foreachBatch sink: per micro-batch, run ``add_episode_bulk`` on a
    ``GraphitiSpark`` handle over the stored rows of the conversations the
    batch touches, and write the handle's five tables back by dynamic
    partition overwrite, so ONLY the touched partitions are replaced. IO
    per batch is O(touched groups), not O(graph). The store's communities
    go, as the handle's do on a write. The handle
    ``localCheckpoint``s every table it writes, so all five are
    materialized BEFORE the first write replaces the files they read."""

    def __init__(self, out_root: str, run_ts: datetime):
        self.out_root = out_root
        self.run_ts = run_ts

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # A micro-batch's conversation list is bounded (maxFilesPerTrigger
        # caps the batch), so collect it and filter with a LITERAL isin on
        # the partition column: each stored table's scan is pruned to the
        # touched partition dirs statically.
        convs = [r["conv_id"] for r in
                 batch_df.select("conv_id").distinct().collect()]
        g = GraphitiSpark(spark, self.run_ts, with_embeddings=False)
        for name in _WRITTEN:
            df = read_store_table(spark, self.out_root, name)
            if df is not None:
                setattr(g, name, df.where(F.col(group_key(df)).isin(convs)))
        # a NULL or repeated turn key raises here, before anything is
        # written
        g.add_episode_bulk(batch_df)
        # as in save(): stored communities would describe the graph before
        # this batch, so they go before the new rows land
        for name in _DERIVED:
            drop_store_table(self.out_root, name)
        for name in _WRITTEN:
            df = getattr(g, name)
            write_store_table(df, self.out_root, name, dynamic=True)
            # written: drop the checkpoint's blocks (the LogicalRDD under
            # a localCheckpoint), which are never read again
            df._jdf.queryExecution().logical().rdd().unpersist(False)


def run_stream(spark: SparkSession, in_path: str, out_root: str,
               run_ts: datetime, checkpoint: str | None = None,
               watermark: str = "1 hour"):
    """Wire source → watermark → foreachBatch(add_episode_bulk) → tables.
    Returns the StreamingQuery (caller awaits/stops)."""
    src = stream_transcripts(spark, in_path).withWatermark("ts", watermark)
    writer = StreamingGraphWriter(out_root, run_ts)
    return (src.writeStream
            .foreachBatch(writer)
            .option("checkpointLocation",
                    checkpoint or os.path.join(out_root, "_checkpoints"))
            .trigger(availableNow=True)
            .start())

