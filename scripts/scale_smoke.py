#!/usr/bin/env python3
"""Scale-up smoke: run headline plan shapes at 1× and ~8× the bench data and
report the wall-clock ratio and plan-shape invariance.

The claim being tested is the 100 TB design claim in miniature: the physical
plan (shuffle count, broadcast choice, pushdown) must be IDENTICAL at both
sizes, and wall time should grow ~linearly (scan-bound aggregation) —
super-linear growth or a plan flip at 8× is exactly the degradation that
would sink a 100× scale-up.

Usage: python3 scripts/scale_smoke.py   (writes scratch data under /tmp)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from rdkafka_streams_spark import get_spark, tune_for_bench  # noqa: E402
from rdkafka_streams_spark.core.io import load_table  # noqa: E402
from rdkafka_streams_spark.core.plan import exchange_counts, plan_string  # noqa: E402
from rdkafka_streams_spark.functions.money import disc_price_expr, money  # noqa: E402

MULT = 8
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def q01_shape(l):
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(money("l_extendedprice")).alias("sum_base"),
            F.sum(disc_price_expr()).alias("sum_disc"),
            F.count("*").alias("n"),
        )
    )


def join_shape(l, o):
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.sum(money("l_extendedprice")).alias("rev"))
    )


def bloom_shape(l, o):
    from rdkafka_streams_spark.operators.bloomjoin import bloom_build, bloom_prune

    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    pruned = bloom_prune(
        l.select("l_orderkey", "l_extendedprice"), "l_orderkey",
        bloom_build(urgent, "o_orderkey"),
    )
    return pruned.join(urgent, pruned["l_orderkey"] == urgent["o_orderkey"]).agg(
        F.count("*").alias("n")
    )


def timed(df) -> float:
    t0 = time.perf_counter()
    df.count()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("scale-smoke", master=f"local[{cpus}]")
    tune_for_bench(spark, cpus)
    spark.sparkContext.setLogLevel("ERROR")

    l1 = load_table(spark, SF_DIR, "lineitem")
    o1 = load_table(spark, SF_DIR, "orders")

    scratch = tempfile.mkdtemp(prefix="scale_smoke_")
    # MULT× data with disjoint orderkeys per replica (realistic key growth,
    # not hot-key duplication)
    shift = 1_000_000_000
    lx = l1
    ox = o1
    for i in range(1, MULT):
        lx = lx.unionByName(l1.withColumn("l_orderkey", F.col("l_orderkey") + i * shift))
        ox = ox.unionByName(o1.withColumn("o_orderkey", F.col("o_orderkey") + i * shift))
    lx.write.mode("overwrite").parquet(f"{scratch}/lineitem")
    ox.write.mode("overwrite").parquet(f"{scratch}/orders")
    l8 = spark.read.parquet(f"{scratch}/lineitem")
    o8 = spark.read.parquet(f"{scratch}/orders")

    # LLM-pipeline shape: MinHash LSH banding over replicated documents with
    # disjoint doc_ids — the near-dup candidate plan must hold its shuffle
    # count as the corpus grows (the bucket cap bounds the quadratic term).
    from rdkafka_streams_spark.llm.dedup import duplicate_span_coverage, minhash_near_dups
    from rdkafka_streams_spark.llm.text import dsir_weights

    d1 = load_table(spark, SF_DIR, "documents")
    dx = d1
    for i in range(1, MULT):
        dx = dx.unionByName(d1.withColumn("doc_id", F.col("doc_id") + i * shift))
    dx.write.mode("overwrite").parquet(f"{scratch}/documents")
    d8 = spark.read.parquet(f"{scratch}/documents")

    out = {"mult": MULT, "rows_1x": l1.count(), "rows_8x": l8.count()}
    for name, small, big in (
        ("agg", q01_shape(l1), q01_shape(l8)),
        ("join", join_shape(l1, o1), join_shape(l8, o8)),
        ("lsh", minhash_near_dups(d1, threshold=0.5), minhash_near_dups(d8, threshold=0.5)),
        # round-4 shapes: the DSIR scorer (bucket-count aggs + broadcast
        # log-ratio table) and the windowed-hash span-coverage join must
        # also hold their plan as the corpus grows
        ("dsir", dsir_weights(d1, F.col("lang") == "en"), dsir_weights(d8, F.col("lang") == "en")),
        ("spans", duplicate_span_coverage(d1), duplicate_span_coverage(d8)),
        # round-5 shape: bloom semi-join reduction — the (word, bits)
        # broadcast and map-side probe must not flip to a shuffle as the
        # build side's key count grows
        ("bloom", bloom_shape(l1, o1), bloom_shape(l8, o8)),
    ):
        ex_s, ex_b = sum(exchange_counts(small)), sum(exchange_counts(big))
        # warm then measure
        timed(small), timed(big)
        t_s, t_b = timed(small), timed(big)
        out[name] = {
            "exchanges_1x": ex_s,
            "exchanges_8x": ex_b,
            "plan_invariant": ex_s == ex_b,
            "sec_1x": t_s,
            "sec_8x": t_b,
            "ratio": round(t_b / t_s, 2) if t_s > 0 else None,
        }
        for df, tag in ((small, "1x"), (big, "8x")):
            # pushdown check only applies to the filtered agg shape; the join
            # has no filter and the LSH scan sits under a cached signature
            # relation whose formatted plan elides scan details
            assert "PushedFilters" in plan_string(df, "formatted") or name in ("join", "lsh", "dsir", "spans"), tag
    print(json.dumps(out))


if __name__ == "__main__":
    main()
