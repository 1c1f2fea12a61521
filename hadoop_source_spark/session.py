"""SparkSession factory.

Design notes (100 TB readiness):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace the reference's hand-built
  balancing (hdfs/server/balancer/Balancer.java:177) and give us
  resilience to skewed keys without manual salting in the common case.
- spark.sql.shuffle.partitions defaults to the local core count here; on a
  real cluster AQE coalesces from a high initial number, so we set
  `spark.sql.adaptive.coalescePartitions.initialPartitionNum` generously —
  the cheap knob that makes the same code correct at 1000 executors.
- Arrow enabled for every pandas interchange (SNIPPETS.md patterns): any
  Python-side operator (minhash, multimodal decode) pays Arrow batch
  costs, never per-row pickling.
- Session timezone pinned UTC: the reference stores all times as UTC
  millis (FileStatus.mtime, inotify Event timestamps); pinning avoids
  oracle drift between Spark and DuckDB.
- Python workers start through `hadoop_source_spark.pyworker`
  (`spark.python.daemon.module`). PySpark's worker calls
  `importlib.invalidate_caches()` before every task, and on CPython < 3.13
  that re-reads the zip directory of pyspark.zip, py4j and the spark-core
  jar: 150-250 ms per Python task on a 4-core host, more than a 1-task JVM
  job takes in all. The daemon module re-reads an archive only when its
  mtime or size changed. The package's parent directory goes on
  `spark.executorEnv.PYTHONPATH` so workers import it from any working
  directory; the daemon then imports the package `__init__` (and so
  `pyspark.sql`, about 0.3 s) once per daemon, not per task.
  Both are static SparkConf: `tune()` cannot apply them to a session
  created elsewhere, and such sessions keep the per-task cost. Drop the
  daemon module once every worker runs CPython >= 3.13.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DAEMON_MODULE = "hadoop_source_spark.pyworker"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally-created session.

    The correctness driver hands us its own SparkSession; everything our
    queries depend on for *semantics* (not just speed) must be applied
    here, defensively, at call time.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Testdata parquet stores timestamp[us] WITHOUT a timezone; left alone,
    # Spark 4.x infers TIMESTAMP_NTZ and every unix_micros()/timestamp
    # arithmetic call site fails analysis. With the session pinned UTC the
    # NTZ→LTZ reading is lossless, so disable NTZ inference and read plain
    # TIMESTAMP. (data.table() also casts defensively in case the driver
    # session pre-dates this conf or the footer changes again.)
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Older generations of the testdata carried TIMESTAMP(NANOS), which
    # vanilla Spark rejects; keep the long-nanos escape hatch so data.table()
    # can rescue that shape too (truncation to micros, matching DuckDB).
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def get_spark(
    app_name: str = "hadoop-source-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    local[N] for tests; the same configs are cluster-appropriate — on YARN
    the master/memory settings come from spark-submit and everything else
    carries over.
    """
    n = cpus or _cpus()
    extra = dict(extra_conf or {})
    # worker PYTHONPATH: the caller's entries first, then this package's root
    paths = [p for p in extra.pop("spark.executorEnv.PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        paths.append(_PACKAGE_PARENT)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.python.daemon.module", _DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(paths))
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


def enable_fair_pools(spark: SparkSession, pool_file: str | None = None) -> None:
    """Multi-tenant queue parity (SURVEY §2.10): YARN's Fair/Capacity
    schedulers (FairScheduler.java:143, CapacityScheduler.java:211) map to
    Spark's FAIR scheduler pools — config, not code.

    spark.scheduler.mode is a static conf (must be set before the
    SparkContext starts, e.g. via get_spark(extra_conf=...)); this helper
    assigns the CURRENT thread's jobs to a pool, which is the per-query
    queue-submission act (RMAppManager.submitApplication analog).
    """
    if pool_file:
        spark.conf.set("spark.scheduler.allocation.file", pool_file)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "default")


def submit_to_pool(spark: SparkSession, pool: str) -> None:
    """Route subsequent jobs on this thread to a named pool (the queue a
    YARN app would be submitted to)."""
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
