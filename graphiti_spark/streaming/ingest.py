"""Structured Streaming ingest wrapper (SURVEY.md §2.10).

The reference is incremental, not streaming: ``add_episode`` is awaited
sequentially per group with the graph DB as the only state
(``graphiti.py:412-415``). Our batch pipeline recovers those semantics by
rebuilding the groups a write touches, so the streaming wrapper is thin:
``foreachBatch`` re-uses the *identical* stage functions and the API's
touched-group replace per micro-batch.

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

from graphiti_spark.schema import TRANSCRIPTS
from graphiti_spark.sources.tables import read_group_table


def stream_transcripts(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of transcript parquet drops (the Iceberg
    streaming-read equivalent in this sandbox)."""
    return (spark.readStream.schema(TRANSCRIPTS)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


class StreamingGraphWriter:
    """foreachBatch sink: per micro-batch, merge the batch's turns into
    the stored ones as ``add_episode_bulk`` does
    (``maintenance.merge_turns``), rebuild only the conversations the
    batch touches, fold their manual edges back in
    (``maintenance.replace_groups``, the API's write step) and replace
    ONLY those partitions via dynamic partition overwrite — the parquet
    form of Iceberg's ``overwritePartitions``. IO per batch is O(touched
    groups), not O(graph); untouched partitions' files are never
    rewritten.

    Every output is ``localCheckpoint``-materialized BEFORE the first
    write: the recompute plans read the very partition files the write
    replaces, so an unmaterialized (lazy) plan could hit deleted files on
    cache eviction mid-write."""

    def __init__(self, out_root: str, run_ts: datetime):
        self.out_root = out_root
        self.run_ts = run_ts

    def _read_or_none(self, spark: SparkSession, name: str):
        # ONLY a missing table directory means "no state yet". Any read
        # failure must raise: mapped to None, the batch would rebuild the
        # touched groups from itself alone and overwrite their partitions.
        p = os.path.join(self.out_root, name)
        if not os.path.isdir(p):
            return None
        return read_group_table(spark, p)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        from graphiti_spark.operators.maintenance import (merge_turns,
                                                          replace_groups)
        from graphiti_spark.plans.pipeline import build_graph

        # A micro-batch's conversation list is bounded (maxFilesPerTrigger
        # caps the batch), so collect it and filter with a LITERAL isin:
        # conv_id/group_id are the store's partition columns, so this
        # prunes every existing-table scan to the touched partition dirs
        # statically.
        convs = [r["conv_id"] for r in
                 batch_df.select("conv_id").distinct().collect()]

        def old(name, key="group_id"):
            df = self._read_or_none(spark, name)
            return None if df is None else df.where(F.col(key).isin(convs))

        old_tr = old("transcripts", "conv_id")
        # the API's merge: a re-supplied turn takes the batch's text, and
        # a NULL or repeated key raises before anything is written
        touched = merge_turns(
            None if old_tr is None else old_tr.select(*batch_df.columns),
            batch_df)
        g = build_graph(spark, touched, run_ts=self.run_ts)
        edges, entities = replace_groups(g.edges, g.entities, old("edges"),
                                         old("entities"), self.run_ts)

        outputs = [("transcripts", touched, "conv_id"),
                   ("entities", entities, "group_id"),
                   ("edges", edges, "group_id")]
        materialized = [(name, df.localCheckpoint(eager=True), pcol)
                        for name, df, pcol in outputs]
        g.release()
        for name, df, pcol in materialized:
            (df.write.mode("overwrite")
               .option("partitionOverwriteMode", "dynamic")
               .partitionBy(pcol)
               .parquet(os.path.join(self.out_root, name)))
            # written: drop the checkpoint's blocks (the LogicalRDD under
            # a localCheckpoint), which are never read again
            df._jdf.queryExecution().logical().rdd().unpersist(False)


def run_stream(spark: SparkSession, in_path: str, out_root: str,
               run_ts: datetime, checkpoint: str | None = None,
               watermark: str = "1 hour"):
    """Wire source → watermark → foreachBatch(stage functions) → tables.
    Returns the StreamingQuery (caller awaits/stops)."""
    src = stream_transcripts(spark, in_path).withWatermark("ts", watermark)
    writer = StreamingGraphWriter(out_root, run_ts)
    return (src.writeStream
            .foreachBatch(writer)
            .option("checkpointLocation",
                    checkpoint or os.path.join(out_root, "_checkpoints"))
            .trigger(availableNow=True)
            .start())

