"""Tuned SparkSession builder.

Scale posture: these configs are chosen so the same logical plans survive a
1000-executor / 100 TB deployment — AQE handles runtime partition coalescing
and skew joins, broadcast threshold keeps dimension joins shuffle-free, and
UTC session time zone pins timestamp semantics to the oracle's.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def clamped_shuffle_partitions(spark: SparkSession, cap: int):
    """Clamp spark.sql.shuffle.partitions while the context is active, then
    restore. Used by bounded streaming drains (state-store instance count is
    fixed per query at start) and by driver-controlled iterative loops whose
    per-round relations are tiny (labels, ranks): under a plain 200-partition
    session each round would otherwise schedule 200 tasks per stage for a
    few thousand rows. Production sizing replaces the clamp with deliberate
    spark.sql.shuffle.partitions; plans built after the context restore the
    surrounding setting."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        if int(old) > cap:
            spark.conf.set(key, str(cap))
        yield
    finally:
        spark.conf.set(key, old)


def get_spark(
    app_name: str = "flock_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Per-invocation eager localCheckpoints (the honest replacement for
        # cross-run caches) leave their RDD blocks behind until the driver
        # GC runs and the ContextCleaner reaps the weak refs. The default
        # periodic-GC interval is 30 MINUTES — long sessions (a bench
        # sweep, a long-lived service) accumulate dead checkpoint blocks
        # and pay block-manager eviction churn on unrelated queries.
        # 30 s keeps the reaper ahead of the churn for the bench/sweep
        # sessions this builder serves.
        .config("spark.cleaner.periodicGC.interval", "30s")
        # No spark.sql.files.minPartitionNum floor: the test tables are
        # SINGLE-row-group parquet, so byte-range splits can never spread
        # the data — the floor only scheduled empty tasks (measured: zero
        # speedup on a heavy scan-rooted md5 pass, ~6% overhead on tiny
        # queries). Scan-rooted heavy compute is parallelized explicitly
        # via catalog.spread(), which no-ops once real deployments give
        # scans >= cores splits.
        #
        # Python workers fork from flock_spark.worker_daemon instead of
        # pyspark.daemon. Spark puts pyspark.zip, the py4j zip and the
        # spark-core jar first on the workers' sys.path, and every task's
        # importlib.invalidate_caches() makes each zip importer re-read its
        # archive's central directory: 0.15-0.4 s of worker CPU per task
        # (4-core box, CPython 3.11). The daemon drops the archives when
        # pyspark and py4j are installed, so workers run the same pyspark
        # as the driver; otherwise it keeps Spark's path. Set always, not
        # an option: no deployment wants the per-task re-read.
        .config("spark.python.daemon.module", "flock_spark.worker_daemon")
        # Workers must import flock_spark to launch at all, so the
        # directory holding the package goes on their path wherever the
        # JVM's working directory is.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
