"""Table IO for the driver's parquet fixtures (TESTDATA.md).

Batch scan = ``spark.read.parquet`` (SURVEY.md §2.1 S7): Catalyst pushes
filters and prunes columns into the vectorized parquet reader, so loaders
stay dumb — no manual partition logic.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. ``name`` must be in TABLES.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; with spark.sql.legacy.parquet.nanosAsLong it arrives as
    raw nanos — converted here to a true timestamp (ns→µs floor, bit-matching
    DuckDB's ns→µs truncation so oracles compare cleanly).

    Depending on the parquet writer's isAdjustedToUTC flag the reader may
    instead surface TIMESTAMP_NTZ; with the session timezone pinned to UTC
    (core/session.py) an NTZ→LTZ cast is the identity on the underlying
    micros, so event-time is canonicalized to TIMESTAMP here — one choke
    point — and every downstream operator (unix_micros, session_window,
    as-of) sees a single type. Matches the Kafka source, whose timestamp
    column is TIMESTAMP.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except AnalysisException:  # a conf this session refuses to change
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register all fixture tables as temp views for ``spark.sql`` queries."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# --- generic format IO (SURVEY.md §2.1 S7: parquet is primary; csv/json for
# --- interchange; json mirrors the reference's record encoding) -------------

def read_any(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options):
    """Format-dispatching reader. A declared schema is strongly recommended
    for csv/json at scale (schema inference = an extra full pass)."""
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_any(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", **options):
    """Format-dispatching writer (csv gets headers by default)."""
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        options.setdefault("header", "true")
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


# --- partitioned-layout IO (the 100 TB table layout) -------------------------

def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: str | list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    target_files_per_partition: int | None = None,
) -> None:
    """Write hive-partitioned (dir-per-value) layout — the layout that makes
    time/tenant filters *partition-pruning* (skip whole directories) instead
    of row filters at 100 TB.

    ``target_files_per_partition`` repartitions by the partition columns
    first so each output dir holds that many files instead of one file per
    input task — the standard small-files guard (a 100k-task job writing 365
    date partitions would otherwise emit 36.5M files).
    """
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    if target_files_per_partition is not None:
        parts = [F.col(c) for c in cols]
        # salt spreads one partition's rows over N writer tasks
        salt = F.pmod(F.xxhash64(*df.columns), F.lit(target_files_per_partition)).cast("int")
        df = df.repartition(*parts, salt)
    df.write.format(fmt).mode(mode).partitionBy(*cols).save(path)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Rewrite a directory to ~target-sized files (small-file compaction —
    streaming sinks and over-parallel writers fragment tables; scan cost at
    100 TB is dominated by file count once files are small). Returns the new
    file count. Non-atomic (stage-and-swap belongs to a table format like
    Iceberg/Delta; this is the raw-dir equivalent)."""
    import math
    import pathlib
    import shutil
    import tempfile

    df = spark.read.format(fmt).load(path)
    total_bytes = sum(
        f.stat().st_size
        for f in pathlib.Path(path).rglob("*")
        if f.is_file() and not f.name.startswith(("_", "."))
    )
    n = max(1, math.ceil(total_bytes / target_file_bytes))
    tmp = tempfile.mkdtemp(prefix="compact_", dir=os.path.dirname(path.rstrip("/")) or ".")
    df.repartition(n).write.format(fmt).mode("overwrite").save(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return n
