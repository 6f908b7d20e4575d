"""The UDF surface (SURVEY.md §2.4 E34) — and the policy that governs it.

Policy (SURVEY.md §7.0): built-in column expressions first (whole-stage
codegen, zero Python); Arrow-batched pandas UDFs only when built-ins cannot
express the computation; row-at-a-time Python UDFs never (each row would
cross the JVM↔Python boundary — the 10-100× slow path).

These examples exist so the engine's user-supplied-transform surface (the
reference's entire reason to exist — arbitrary Transforms piped between
Consumer and Producer, README.md:41-64) has a first-class, *vectorized*
equivalent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


# NB: explicit DataType (not a DDL string) so the decorator doesn't need an
# active SparkContext at import time.
@pandas_udf(DoubleType())
def vector_norm(v: pd.Series) -> pd.Series:
    """L2 norm of an array<float> column — one Arrow batch per call, numpy
    vectorized. (For oracle parity tests the result is rounded by the caller;
    numpy's pairwise summation differs from a sequential fold only in the
    last ulp.)"""
    return v.map(lambda a: float(np.sqrt((np.asarray(a, dtype=np.float64) ** 2).sum())))


@pandas_udf(DoubleType())
def mean_norm_grouped(v: pd.Series) -> float:  # grouped-agg pandas UDF
    """Grouped-aggregate pandas UDF: mean L2 norm of a group's vectors."""
    norms = v.map(lambda a: float(np.sqrt((np.asarray(a, dtype=np.float64) ** 2).sum())))
    return float(norms.mean())


@pandas_udf(DoubleType())
def pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized dot product of two array columns (one einsum per
    batch). Exists because higher-order ``aggregate(zip_with(...))`` is
    interpreted row-at-a-time on the JVM (lambdas are outside whole-stage
    codegen) AND allocates the product array per row — measured 6× slower
    than this UDF on a 1.25M-pair × 64-dim workload. The built-ins-first
    policy compares against *codegen* built-ins; for HOF-interpreted
    expressions the Arrow path is the fast path."""
    am = np.stack(a.to_numpy()).astype(np.float64)
    bm = np.stack(b.to_numpy()).astype(np.float64)
    return pd.Series(np.einsum("ij,ij->i", am, bm))
