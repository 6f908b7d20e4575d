"""Scale-adaptive parallelism guard for per-row-heavy pipeline stages.

Every fixture/driver parquet table is a SINGLE row group, and Spark's
scan splits cannot cross a row-group boundary — so no matter what
``spark.sql.files.minPartitionNum`` asks for, the scan yields ONE
non-empty task and everything computed scan-side (window-anchor
explosion, shingling, centroid-assignment folds — the higher-order
functions Catalyst cannot codegen) serializes onto one core. At
production scale the same table is thousands of splits and the problem
does not exist.

``spread`` adapts instead of pinning either regime (optimization guide
§2: derive partitioning from the input, not from a constant): when the
frame has materially fewer partitions than the cluster's parallelism it
inserts one round-robin repartition so downstream per-row work runs
wide; otherwise it is the identity (NO exchange added at scale).

The width it compares is a count of FILES for a file scan (the number
of entries in the relation's file index), of RDD partitions for a
checkpointed leaf, and 1 for literal rows — not of scan splits. Every
fixture file is one row group, so files = splits there. A large file
with several row groups scans as several tasks; there the count
under-states the width and the guard may add one exchange the scan did
not need, but it never leaves a one-task scan narrow.

Round-robin repartition is deterministic under task retries (Spark
sorts partitions before redistributing, SPARK-23207), and callers only
apply it upstream of key-partitioned shuffles, global aggregates or
windows — placement cannot change any result.

SCAN-SIDE-ONLY INVARIANT (r16, advice-r15): ``spread`` is only
meaningful (and only measured winning) on narrow scan-side
projections, so the width probe now walks the OPTIMIZED LOGICAL plan —
a whitelist over node classes, width read from the leaf (file count /
RDD partitions) — instead of ``df.rdd.getNumPartitions()``, which ran
full physical planning on every call (~0.5-1 s of driver time per
site per query build) and under AQE would eagerly MATERIALIZE shuffle
stages for any non-scan caller. Non-narrow or unrecognized plans make
the guard the identity (the safe direction). A FAILING probe is not an
unrecognized plan: it raises, because a swallowed probe error would
switch the guard off everywhere with every plan still valid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Logical-plan node classes that cannot hide an exchange: a subtree of
# only these is a narrow chain over a scan (or an already-materialized
# leaf), where the .rdd width probe is exchange-free and cheap.
# Anything else — Join, Aggregate, Window, Sort, RepartitionByExpression,
# a node class this list has never seen — makes spread() the identity.
_NARROW_NODES = frozenset(
    {
        "Project",
        "Filter",
        "Generate",            # explode/posexplode over a narrow input
        "SubqueryAlias",
        "LogicalRelation",     # v1 file scan
        "Relation",
        "DataSourceV2Relation",
        "DataSourceV2ScanRelation",
        "HiveTableRelation",
        "LocalRelation",       # createDataFrame literals
        "LogicalRDD",          # localCheckpoint / RDD-backed leaves
        "View",
    }
)


def _narrow_width(df: DataFrame) -> int | None:
    """If the optimized logical plan is a whitelist-only tree (no join/
    aggregate/window/sort/repartition — nothing that plans an exchange),
    return the scan width of its leaf: file count for a file relation
    (every fixture file is one row group, so files = splits), RDD
    partition count for a checkpointed leaf, 1 for literal rows.
    Returns None (identity) for non-narrow or unknown plans; an
    introspection failure raises.

    This replaces the previous ``df.rdd.getNumPartitions()`` probe
    (advice-r15): ``.rdd`` runs full physical planning on every call —
    measured ~0.5-1 s of driver time per call site per query build —
    and under AQE would eagerly MATERIALIZE shuffle stages if a caller
    ever passed a non-scan frame. The logical-plan walk costs
    milliseconds and cannot execute anything."""
    plan = df._jdf.queryExecution().optimizedPlan()
    width = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls not in _NARROW_NODES:
            return None
        ch = node.children()
        if ch.size() == 0:
            if cls == "LogicalRelation":
                rel = node.relation()
                if rel.getClass().getSimpleName() != "HadoopFsRelation":
                    return None  # JDBC etc.: no file index to count
                width += len(rel.location().inputFiles())
            elif cls in ("DataSourceV2Relation",
                         "DataSourceV2ScanRelation"):
                return None  # no cheap width probe; fail to identity
            elif cls == "LogicalRDD":
                width += node.rdd().getNumPartitions()
            else:  # LocalRelation / View leaf: driver-local rows
                width += 1
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return width or None


def spread(df: DataFrame, min_bytes: int = 0) -> DataFrame:
    """Repartition ``df`` to the cluster's parallelism iff it is a
    narrow scan-side frame arriving with fewer than half that many
    partitions (a small-file scan); identity otherwise. See module
    docstring for why this is a no-op at production scale.

    ``min_bytes`` gates the repartition on the optimizer's size
    estimate: the exchange + extra stage it inserts costs a fixed
    ~0.5-1 s of driver/scheduling overhead, so for frames whose
    single-task work is CHEAPER than that the guard must stay out of
    the way. Interleaved A/B (r15) measured the split: spreading the
    document-scale interpreted-HOF paths (one md5 per token window)
    won 2.1x, while spreading a 2k-row embedding frame ahead of the
    centroid folds LOST 1.2-1.3x. Callers pass min_bytes sized to
    their per-row cost class: 0 for interpreted-HOF-per-derived-row
    paths (always worth it once the input is narrow), a few MB for
    moderate per-row folds (fires in the multi-10k-row regime where
    the single-task pass would take multiple seconds)."""
    width = _narrow_width(df)
    if width is None:
        return df
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    if width * 2 > par:
        return df
    if min_bytes:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if est < min_bytes:
            return df
    return df.repartition(par)


# moderate-fold threshold: ~8 MB of input is the measured break-even
# for the k-centroid assignment folds (see spread docstring)
FOLD_MIN_BYTES = 8 * 1024 * 1024
