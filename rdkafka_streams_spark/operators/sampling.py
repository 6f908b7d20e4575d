"""Sampling operators (SURVEY.md §2.4 E33).

``DataFrame.sample`` is the production API (per-partition Bernoulli, no
shuffle) but its RNG stream is engine-private, so cross-engine tests use
``hash_sample``: a deterministic arithmetic filter reproducible in any SQL
dialect. Both are O(rows) with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_KNUTH = 2654435761  # Knuth multiplicative-hash constant


def hash_sample(df: DataFrame, key: str | Column, percent: int, modulus: int = 97) -> DataFrame:
    """Keep ~percent% of rows, chosen deterministically by key."""
    c = F.col(key) if isinstance(key, str) else key
    keep = (c.cast("bigint") * F.lit(_KNUTH).cast("bigint")) % modulus < (percent * modulus // 100)
    return df.where(keep)


def temperature_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    total: int,
    tau: float = 0.5,
) -> DataFrame:
    """Temperature-weighted mixture sampling across sources: group ``s``
    gets a quota k_s ∝ n_s^tau (tau < 1 flattens the mixture toward rare
    sources, tau = 1 is proportional — the multilingual/multi-source
    rebalancing rule from the mBERT/XLM-R lineage), filled deterministically
    by hash order within the group.

    Determinism across engines: per-group weights snap to integer
    micro-units (floor(n^tau·1e6 + 0.5)); quotas are exact integer
    arithmetic ``total·m_s div Σm``; selection ranks by md5(id). Scale
    shape: group counts are a partial agg to ≤|groups| rows (broadcast
    back); the only corpus-sized work is one window rank per group.

    Output: sampled rows as (id, group, k_target).
    """
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count("*").alias("n_grp"))
    m = counts.withColumn(
        "m", F.floor(F.pow(F.col("n_grp"), F.lit(tau)) * 1000000 + 0.5).cast("long")
    )
    tot = m.agg(F.sum("m").alias("tm"))
    quota = (
        m.crossJoin(F.broadcast(tot))
        .withColumn("k_target", F.expr(f"CAST({total} AS BIGINT) * m div tm"))
        .select(group_col, "k_target")
    )
    w = Window.partitionBy(group_col).orderBy(F.md5(F.col(id_col).cast("string")), id_col)
    ranked = df.select(id_col, group_col).withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quota), group_col)
        .where(F.col("rn") <= F.col("k_target"))
        .select(id_col, group_col, "k_target")
    )


SPLIT_BUCKETS = 256  # 2 md5 hex nibbles


def hash_bucket(key: str | Column, n_nibbles: int = 2) -> Column:
    """Deterministic 0..16^n-1 bucket from the leading md5 nibbles of the
    key (cast to string). Same instr-on-hex trick as llm/text.py so any SQL
    engine reproduces it bit-for-bit."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(c.cast("string"))
    expr = None
    for i in range(n_nibbles):
        # bigint arithmetic throughout: 8 nibbles (2^32 values) overflows int32
        nib = (F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1).cast(
            "bigint"
        ) * F.lit(16 ** (n_nibbles - 1 - i)).cast("bigint")
        expr = nib if expr is None else expr + nib
    return expr.cast("bigint")


def hash_split(df: DataFrame, key: str, splits: dict[str, int]) -> DataFrame:
    """Deterministic train/val/test split assignment.

    ``splits`` maps split name → percent (must sum to 100). Rows are routed
    by their md5 bucket (0..255), so the assignment is a pure map-side
    function of the key: stable across runs, engines, partitionings, and
    re-shards — the property a 100 TB corpus split must have (re-running
    the pipeline after appending data never moves an existing doc between
    splits). Adds a ``split`` column; no shuffle.
    """
    if sum(splits.values()) != 100:
        raise ValueError(f"split percents must sum to 100, got {splits}")
    b = hash_bucket(key)
    expr = None
    hi = 0
    items = list(splits.items())
    for name, pct in items[:-1]:
        hi += pct * SPLIT_BUCKETS // 100
        cond = b < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis A-ES): each row draws u ~ Uniform(0,1) from its md5 hash and
    ranks by u^(1/w) — the top-k ranks are a weight-proportional sample.

    Engine-independent determinism: u = (md5_bucket8(id)+1)/2^32 is an
    exact rational; ln(u) snaps to integer micro-nats (the established
    log-domain trick in this repo); the sort key floor(lnu_micro·1e6 / w)
    is a floor of a double computed from two exact integers — bit-identical
    in any engine. Ranking by key DESC ≡ ranking by u^(1/w) DESC because
    ln is monotone and w > 0.

    Scale: one map pass + a global top-k (TakeOrdered heap, no full sort).
    Output: id, weight, key_scaled.
    """
    w = F.col(weight_col).cast("bigint")
    u = (hash_bucket(id_col, n_nibbles=8).cast("bigint") + 1) / F.lit(4294967297.0)
    lnu_micro = F.floor(F.log(u) * 1000000 + 0.5).cast("bigint")
    key = F.floor(lnu_micro * F.lit(1000000.0) / w).cast("bigint")
    scored = df.select(
        id_col, w.alias("weight"), key.alias("key_scaled")
    )
    return scored.orderBy(F.col("key_scaled").desc(), F.col(id_col)).limit(k)


def token_budget_waterfill(
    df: DataFrame,
    group_col: str,
    weight_micro_col: str,
    cap_col: str,
    budget: int,
    rounds: int = 6,
) -> DataFrame:
    """EPOCH-CAPPED token-budget allocation by iterative waterfilling —
    the "how many epochs of each source" computation every pretraining
    mixture runs (LLaMA-lineage: upsample curated sources until their
    repetition cap binds, spill the surplus to the rest): start from the
    weight-proportional split alloc_s = B·m_s div Σm, CAP any source
    whose share meets its ceiling (cap_s = tokens_s · max_epochs_s),
    remove the capped mass from both sides, and re-divide the remaining
    budget among the uncapped — repeated ``rounds`` times. Every
    operation is exact integer arithmetic (micro-unit weights, floor
    division), so the fixpoint is engine-reproducible; iterating past
    convergence is idempotent (unchanged B/M ⇒ unchanged allocs), so a
    fixed round count ≥ #groups-ish is exact, the same unroll contract
    as the BPE oracle chains.

    Input must be PRE-AGGREGATED per group (one row per group:
    ``group_col``, ``weight_micro_col``, ``cap_col``) — metadata scale
    by construction, so the loop runs on collected rows the way
    ``global_rank`` collects partition counts; nothing corpus-sized
    moves. Returns (group, cap, alloc, capped)."""
    rows = [
        (r[group_col], int(r[weight_micro_col]), int(r[cap_col]))
        for r in df.select(group_col, weight_micro_col, cap_col).collect()
    ]
    capped: dict[str, bool] = {g: False for g, _, _ in rows}
    alloc: dict[str, int] = {}
    # K capping rounds, then ONE final division with the settled flags —
    # the exact CTE shape the SQL oracle unrolls, so the two agree even
    # if the last round still flipped a flag
    for _ in range(rounds):
        b_rem = budget - sum(c for g, _, c in rows if capped[g])
        m_rem = sum(m for g, m, _ in rows if not capped[g])
        for g, m, c in rows:
            # m_rem guard mirrors the SQL oracle's `mrem > 0` exactly: with
            # no uncapped weight left, NO flag flips (a zero-cap group must
            # not be capped by the degenerate `0 >= cap` comparison)
            if not capped[g] and m_rem and b_rem * m // m_rem >= c:
                capped[g] = True
    b_rem = budget - sum(c for g, _, c in rows if capped[g])
    m_rem = sum(m for g, m, _ in rows if not capped[g])
    for g, m, c in rows:
        alloc[g] = c if capped[g] else (b_rem * m // m_rem if m_rem else 0)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(g, c, alloc[g], capped[g]) for g, _, c in rows],
        f"{group_col} string, cap bigint, alloc bigint, capped boolean",
    )
