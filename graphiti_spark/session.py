"""SparkSession factory with scale-aware defaults.

Local-mode stand-in for the spark-submit cluster job (north rule). The same
configs are what we'd pass via ``spark-submit --conf`` on a 1000-executor
cluster: AQE on (runtime re-plan + skew-join splitting), Arrow execution for
pandas UDFs, UTC session timezone for oracle comparability.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship ``graphiti_spark`` to executor Python workers via addPyFile —
    the in-process equivalent of ``spark-submit --py-files`` (north rule;
    the real submit path exists too: ``scripts/job_submit.py`` +
    ``scripts/exp_submit.py`` launch the pipeline through the actual
    spark-submit binary with the package zipped, and
    ``tests/test_submit.py`` gates count-equality with this path).

    Needed whenever the driver process didn't start with the repo on
    PYTHONPATH (e.g. an external harness importing ``__spark_entry__`` by
    path): cloudpickled pandas UDFs re-import ``graphiti_spark`` inside the
    worker, which otherwise fails with ModuleNotFoundError."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="graphiti_spark_pyfiles_")
    zip_path = shutil.make_archive(
        os.path.join(tmp, "graphiti_spark"), "zip",
        root_dir=os.path.dirname(pkg_dir), base_dir="graphiti_spark")
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEM`` if set, else half the host's ``MemTotal``
    capped at 16g (measured faster than 64g: GC/page-fault cost of a huge
    single-JVM heap; caches that overflow go to tmpfs). A fixed 16g heap
    on a 15 GB host lets the JVM grow until the kernel kills it."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "16g"
    return f"{min(16 * 1024, kb // 2048)}m"


def get_spark(app: str = "graphiti_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              executors: int | None = None,
              exec_cores: int = 4, exec_mem_mb: int = 6144) -> SparkSession:
    """``executors=N`` switches to ``local-cluster[N, exec_cores, mem]`` —
    real executor JVMs over loopback, the faithful sandbox model of an
    N-executor cluster (each executor: own heap, GC, shuffle server, and
    Python workers). Plain ``local[cores]`` otherwise, with ``cores``
    defaulting to ``SPARK_GRAFT_CPUS`` or the host's CPU count."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    if executors is not None:
        master = f"local-cluster[{executors},{exec_cores},{exec_mem_mb}]"
        total_cores = executors * exec_cores
    else:
        master = f"local[{cores}]"
        total_cores = cores
    if shuffle_partitions is None:
        # ~cores locally; on a real cluster this would be 2-3× total cores.
        shuffle_partitions = max(total_cores, 8)
    builder = (
        SparkSession.builder
        .master(master)
        .config("spark.executor.memory", f"{exec_mem_mb}m")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local-scale tuning: our hot stages are Arrow/pandas UDFs whose
        # cost is per-ROW, not per-byte; the default 64 MB advisory size
        # would coalesce small shuffles to 1-2 partitions and serialize
        # the Python compute. On a real cluster with TB inputs leave the
        # defaults — partitions are plentiful there.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # This sandbox VM burns ~45% CPU in SYSTEM time on shuffle file
        # churn (page-fault/TLB pathology); larger write buffers + zstd
        # trade kernel page traffic for user-space compute, which is the
        # resource that actually scales here.
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        # Deep iterative plans (incremental micro-batches, LPA rounds) can
        # make the EXPLAIN string itself gigabytes — cap it so plan
        # printing for the UI/listeners can never OOM the driver.
        .config("spark.sql.maxPlanStringLength", "1048576")
        .config("spark.driver.maxResultSize", "8g")
        # Shuffle/spill on tmpfs: the sandbox's single virtio disk caps all
        # parallelism levels at the same MB/s, hiding CPU scaling. A real
        # cluster node provisions NVMe (or RAM-backed) shuffle volumes —
        # this is that, locally.
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
