"""Physical-plan introspection.

At 100 TB the plan IS the performance: one avoidable Exchange is petabytes of
network traffic. These helpers let tests assert plan shape (shuffle count,
broadcast presence, pushdown) at tiny scale — the properties that survive a
100× scale-up, unlike wall-clock timings.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


class ExchangeCounts(NamedTuple):
    """Shuffle exchanges in a plan, broadcasts excluded; ``sum()`` of
    the two is every shuffle.

    ``keyed`` excludes round-robin repartitions. The scale-honesty
    budgets pin KEYED corpus shuffles — the ones that grow with data; a
    round-robin exchange is the adaptive ``operators/spread.py`` guard
    widening a narrow (small-file) input, which is identity at
    production scale and must not trip a budget that exists to catch
    keyed-shuffle growth.

    ``rr`` counts exactly those round-robin exchanges, so the budgets
    are not blind to any OTHER round-robin shuffle — a plain
    ``.repartition(n)`` on a corpus-sized frame, the classic
    scale-killer. ``tests/test_plans.py`` pins it exactly per budgeted
    query, and ``scripts/scale_cert.py`` records it per query next to
    the keyed count; its plan sweep sets ``rr_zero_at_widest`` (and
    prints a stderr warning when false) at the widest multi-split
    replica, where spread should be out of every plan."""

    keyed: int
    rr: int


def exchange_counts(df: DataFrame) -> ExchangeCounts:
    """Keyed and round-robin shuffle exchanges of ``df``'s plan, parsed
    once (see ``ExchangeCounts``)."""
    keyed = rr = 0
    for line in plan_string(df, "simple").splitlines():
        if "Exchange" not in line or "BroadcastExchange" in line:
            continue
        if "RoundRobinPartitioning" in line:
            rr += 1
        else:
            keyed += 1
    return ExchangeCounts(keyed, rr)


def has_broadcast_join(df: DataFrame) -> bool:
    plan = plan_string(df, "simple")
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_operator(df: DataFrame, name: str) -> bool:
    return name in plan_string(df, "simple")


def pushed_filters(df: DataFrame) -> list[str]:
    """The filter predicates that reached the parquet scan."""
    out = []
    for line in plan_string(df, "formatted").splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line[len("PushedFilters:") :].strip())
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """The predicates applied as directory-level partition pruning."""
    out = []
    for line in plan_string(df, "formatted").splitlines():
        line = line.strip()
        if line.startswith("PartitionFilters:"):
            out.append(line[len("PartitionFilters:") :].strip())
    return out


def scan_read_schemas(df: DataFrame) -> list[str]:
    """The ReadSchema of every file scan in the plan — what column
    pruning actually reached the reader. A scan whose ReadSchema lists
    columns the query never touches reads those bytes at 100 TB."""
    out = []
    for line in plan_string(df, "formatted").splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            out.append(line[len("ReadSchema:") :].strip())
    return out
