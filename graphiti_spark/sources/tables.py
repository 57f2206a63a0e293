"""Table IO: partitioned parquet with manifest-based, resumable checkpoints.

Replaces the reference's Neo4j persistence (``add_nodes_and_edges_bulk``,
``/root/reference/graphiti_core/utils/bulk_utils.py:84-165`` — UNWIND+MERGE
Cypher) with partitioned table writes. Stage boundaries are checkpoints:
each stage writes ``<root>/<stage>/`` + a ``_MANIFEST.json`` carrying a
config fingerprint; on resume, a stage whose manifest matches is read back
instead of recomputed (the reference's stage cache is its LLM response disk
cache, ``llm_client/client.py:150-167`` — ours is the table itself).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def group_key(df: DataFrame) -> str | None:
    """The column a graph table is partitioned by in a store: ``conv_id``
    (transcripts), else ``group_id``, else None."""
    return next((c for c in ("conv_id", "group_id") if c in df.columns),
                None)


def read_store_table(spark: SparkSession, root: str,
                     name: str) -> DataFrame | None:
    """Table ``name`` of the store at ``root``. ONLY a missing directory
    means the table is absent (None); any other read failure raises, since
    an unreadable table taken as empty would be overwritten by a rebuild
    of the touched groups from the new rows alone. Partition-type
    inference alone would read ``conv_id=007`` back as the int 7, so the
    keys are re-read pinned to the strings that were written."""
    path = os.path.join(root, name)
    if not os.path.isdir(path):
        return None
    schema = T.StructType([
        T.StructField(f.name, T.StringType(), f.nullable)
        if f.name in ("conv_id", "group_id") else f
        for f in spark.read.parquet(path).schema])
    return spark.read.schema(schema).parquet(path)


def write_store_table(df: DataFrame, root: str, name: str,
                      dynamic: bool = False) -> None:
    """Write ``df`` as table ``name`` of the store at ``root``, partitioned
    by its :func:`group_key`. ``dynamic`` replaces only the partitions
    ``df`` has rows for (Iceberg's ``overwritePartitions``), else the
    whole table is replaced."""
    w = df.write.mode("overwrite")
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    if key := group_key(df):
        w = w.partitionBy(key)
    w.parquet(os.path.join(root, name))


def drop_store_table(root: str, name: str) -> None:
    """Remove table ``name`` from the store at ``root``, if it is there."""
    path = os.path.join(root, name)
    if os.path.isdir(path):
        shutil.rmtree(path)


class TableStore:
    """Directory-backed table store with manifests and lineage capture."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._lineage_rows: list[tuple] = []

    # -- paths ------------------------------------------------------------
    def path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._MANIFEST.json")

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        mp = self.manifest_path(stage)
        if not os.path.exists(mp):
            return False
        try:
            with open(mp) as f:
                m = json.load(f)
            return m.get("fingerprint") == fingerprint and m.get("complete")
        except Exception:
            return False

    # -- write / read ------------------------------------------------------
    def write(self, df: DataFrame, stage: str, fingerprint: str,
              partition_by: list[str] | None = None) -> DataFrame:
        """Materialize a stage: write parquet (+ lineage rows), manifest last
        so a killed run never leaves a 'complete' stage half-written."""
        t0 = time.time()
        out = self.path(stage)
        # _part = producing partition id → per-partition lineage (A7).
        staged = df.withColumn("_part", F.spark_partition_id())
        writer = staged.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        back = self.spark.read.parquet(out)
        counts = back.groupBy("_part").count().collect()
        t1 = time.time()
        for r in counts:
            self._lineage_rows.append(
                (stage, int(r["_part"]), int(r["count"]),
                 datetime.fromtimestamp(t0, tz=timezone.utc).replace(tzinfo=None),
                 datetime.fromtimestamp(t1, tz=timezone.utc).replace(tzinfo=None)))
        total = sum(int(r["count"]) for r in counts)
        with open(self.manifest_path(stage), "w") as f:
            json.dump({"stage": stage, "fingerprint": fingerprint,
                       "rows": total, "complete": True,
                       "wall_sec": round(t1 - t0, 3)}, f)
        return back.drop("_part")

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.path(stage)).drop("_part")

    def stage(self, name: str, fingerprint: str, build,
              partition_by: list[str] | None = None) -> DataFrame:
        """Resumable stage: reuse the checkpoint if its manifest matches,
        else run `build()` and materialize."""
        if self.is_complete(name, fingerprint):
            return self.read(name)
        return self.write(build(), name, fingerprint, partition_by)

    # -- lineage ------------------------------------------------------------
    def flush_lineage(self) -> None:
        if not self._lineage_rows:
            return
        from graphiti_spark.schema import LINEAGE
        df = self.spark.createDataFrame(self._lineage_rows, LINEAGE)
        out = os.path.join(self.root, "lineage")
        df.coalesce(1).write.mode("append").parquet(out)
        self._lineage_rows = []

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "lineage"))
