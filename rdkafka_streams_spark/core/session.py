"""SparkSession construction and tuning.

The engine is designed for a 1000-executor cluster reading ~100 TB; the
configs below encode that posture (AQE on, skew-join handling, broadcast
thresholds, Arrow for the few pandas-UDF paths) while remaining correct on
``local[N]`` where tests and the bench run.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Build-time confs: these must be set before the JVM starts.
BUILD_CONFS: dict[str, str] = {
    # Adaptive execution: runtime re-planning, skew-join splitting, and
    # partition coalescing are the single biggest lever at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the pandas-UDF paths (multimodal decode, stateful ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast anything under 64 MB: at 100 TB the dimension tables
    # (region/nation/supplier/part metadata) stay broadcastable while the
    # fact tables never are.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamp semantics regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # 128 MB input splits: good parquet scan granularity at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # local-mode JVM hosts driver AND all executor threads; Spark's 1g
    # default heap OOMs iterative/cached workloads long before the machine
    # does (observed: connected-components at sf0.1). On a real cluster
    # spark-submit overrides this.
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}

# Confs that can be (re)applied to a live session.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as long and convert in core.io.load_table (ns → µs floor, matching
    # DuckDB's own ns→µs truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(
    app_name: str = "rdkafka-streams-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    **overrides: str,
) -> SparkSession:
    """Create (or fetch) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry point serves tests, bench, and a real cluster (where
    ``master`` is supplied by spark-submit and this arg stays None).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    confs = dict(BUILD_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.update(overrides)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tune_runtime(spark)
    return spark


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session.

    The driver harness owns the session passed to ``__spark_entry__``; this
    makes query results independent of how that session was built (timezone,
    AQE) without restarting the JVM.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:  # a conf this session refuses to change
            pass
    return spark


def tune_for_bench(spark: SparkSession, cpus: int) -> SparkSession:
    """Bench posture: shuffle parallelism sized to the machine.

    ``spark.sql.files.minPartitionNum`` is deliberately NOT set (r15):
    every fixture parquet file is a SINGLE row group, and scan splits
    cannot cross a row-group boundary — so forcing 2×cpus splits
    manufactured 2×cpus−1 EMPTY tasks per scan stage (pure scheduling
    overhead on every query) while the one real task still carried all
    rows. Worse, the inflated partition count masked the narrow input
    from ``operators/spread.py``, whose scale-adaptive repartition is
    the mechanism that actually widens the per-row-heavy stages. With
    the conf gone, scans report their true width and ``spread`` fires
    exactly where measured per-row work needs it."""
    tune_runtime(spark)
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cpus, 8)))
    return spark
