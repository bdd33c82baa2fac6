"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by core count
for local testing: AQE on (runtime shuffle-partition coalescing + skew-join
splitting), Arrow on (vectorized pandas UDF transfer), UTC session timezone
(so DuckDB-oracle timestamp comparison is exact).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(master: str | None = None, app_name: str = "qse-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    # master parsing is independent of the shuffle_partitions argument:
    # executor memory comes from the local-cluster master string and must
    # be configured whether or not the caller overrides the shuffle width
    # (review finding — an explicit shuffle_partitions used to silently
    # drop the mem_mb to Spark's 1g default)
    executor_mem = None
    inner = master[master.find("[") + 1:master.find("]")] if "[" in master else "4"
    if master.startswith("local-cluster"):
        # local-cluster[n_exec, cores, mem_mb]: n separate executor JVMs
        # — the sandbox's truest model of multi-executor scaling
        n_exec, cores, mem_mb = [int(x) for x in inner.split(",")]
        inferred = n_exec * cores
        executor_mem = f"{mem_mb}m"
    elif inner == "*":
        inferred = os.cpu_count() or 8
    else:
        # local[N] or local[N, maxFailures] (Spark's retry form)
        inferred = int(inner.split(",")[0])
    if shuffle_partitions is None:
        shuffle_partitions = inferred

    # shuffle/spill under the temp dir, not tmpfs: tmpfs pages are RAM the
    # driver heap and executors compete for. SPARK_LOCAL_DIRS still
    # overrides this inside Spark.
    local_dir = os.environ.get("QSE_LOCAL_DIR") or os.path.join(
        tempfile.gettempdir(), "qse-spark-local")
    builder = (
        SparkSession.builder.master(master).appName(app_name)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch UDF overhead (template
        # regex setup, output assembly) — 64k rows ≈ 7 MB, safely small
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if executor_mem:
        builder = builder.config("spark.executor.memory", executor_mem)
    if master.startswith("local-cluster"):
        # size each executor JVM's internal pools (netty, GC, JIT, commons)
        # to its core allocation, not the 32-core host: N co-located
        # executors otherwise spawn N x ~32-thread pools whose churn is
        # measurably taxed in this sandbox. Standard practice on real
        # multi-tenant hosts too.
        exec_cores = int(master[master.find("[") + 1:master.find("]")]
                         .split(",")[1])
        builder = builder.config(
            "spark.executor.extraJavaOptions",
            f"-XX:ActiveProcessorCount={exec_cores + 1}")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if master.startswith("local-cluster") or master.startswith("spark://"):
        # multi-executor deployment: ship the package like
        # `spark-submit --py-files qse_spark.zip` would
        spark.sparkContext.addPyFile(_package_zip())
    return spark


def driver_memory() -> str:
    """Driver heap for `spark.driver.memory`: `QSE_SPARK_DRIVER_MEM` if set,
    else min(48g, 3/8 of physical RAM).

    In local mode every executor thread shares the driver JVM, so the heap
    is sized for the thread count or wide shuffles GC-thrash; 48g was chosen
    on a 128 GiB host, i.e. 3/8 of RAM. A fixed 48g on a smaller host lets
    G1 grow the heap past what the machine has and the kernel OOM-kills the
    driver, so the same ratio is applied to the host's own memory.
    """
    env = os.environ.get("QSE_SPARK_DRIVER_MEM")
    if env:
        return env
    return f"{min(48 * 1024, physical_mb() * 3 // 8)}m"


def physical_mb() -> int:
    """The host's physical RAM in MiB."""
    return (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            // (1024 * 1024))


def warm_up(spark: SparkSession) -> None:
    """Start every Python worker and open the shuffle channels before a
    timed section: one task per slot (a `limit(...)` would warm a single
    worker and leave the rest to start inside the clock), plus one tiny
    shuffle."""
    from pyspark.sql import functions as F

    slots = spark.sparkContext.defaultParallelism
    (spark.range(slots * 4, numPartitions=slots * 4)
     .mapInPandas(lambda it: it, "id long")
     .groupBy((F.col("id") % 8).alias("k")).count().count())


def _package_zip() -> str:
    """Zip the qse_spark package for executor distribution."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join("/tmp", "qse_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join("qse_spark",
                                       os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    return out
