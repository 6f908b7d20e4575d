#!/usr/bin/env python3
"""Scale certification (VERDICT r6 item #1): run the ~15 heaviest registry
queries at 1x, 8x and 32x the bench data and certify, per query:

  - EXCHANGE-COUNT INVARIANCE: the shuffle count of the final plan must not
    grow with data (a plan that adds exchanges at 8x adds them 100x harder
    at 100 TB);
  - WALL-TIME GROWTH: seconds per multiplier step, so sub/super-linearity
    is a recorded number, not an argument from plan shape;
  - a HOT-KEY SKEW variant: one deliberately skewed fact (2% of all rows
    on a single join key) through the plain AQE join and through
    hybrid_skew_join, equal results required, both times recorded.

Data scaling model (how a corpus actually grows -- new content, constant
duplicate/similarity rate -- NOT hot-key duplication):
  - fact/dim keys shift by replica (disjoint orderkeys, partkeys, suppkeys,
    custkeys, user_ids, doc_ids, vec_ids): per-replica subgraphs and
    join fan-outs are copies of the original, so correct output grows
    linearly and any super-linear runtime is the ENGINE's fault;
  - document text is token-prefixed per replica (r<i>_tok): within-replica
    shingle/minhash/tf-idf similarity structure is EXACTLY the original,
    cross-replica token sets are disjoint -- candidate pairs scale
    linearly, as they do when a real corpus grows;
  - embedding vectors are sign-flipped per replica (v_d -> s_d * v_d with
    a deterministic md5 +-1 pattern per replica): within-replica dot
    products are bit-identical (sum s_d^2 v_d w_d = v.w), cross-replica
    cosines are scrambled toward 0; labels (IVF cells) shift per replica,
    modeling cell count growing with the corpus (the documented 100 TB
    posture of every cell-local operator).

Usage:
    python3 scripts/scale_cert.py [--base /root/testdata/sf0.1]
        [--mults 1,8,32] [--queries q51,q57,...] [--out SCALE_CERT.json]

Writes the JSON artifact at the repo root; SCALE.md narrates the result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from rdkafka_streams_spark import get_spark, tune_for_bench  # noqa: E402
from rdkafka_streams_spark.core.io import TABLES, load_table  # noqa: E402
# exchange_counts(df).keyed (r15): invariance is certified on KEYED shuffles.
# The adaptive spread guard (operators/spread.py) inserts a round-robin
# widening exchange only when an input arrives narrower than the cluster
# parallelism (single-row-group files at 1x) and is identity once the
# scaled data has enough splits - so a RAW exchange count can differ
# between 1x and 8x while every data-growing shuffle is invariant.
from rdkafka_streams_spark.core.plan import exchange_counts  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The certified set: every query the r6 verdict names as heaviest, plus the
#: bench heads (scan-agg, shuffle join, window rank, brute cosine) as the
#: linear-baseline control group.
DEFAULT_QUERIES = [
    "q01_pricing_summary",
    "q04_join_inner",
    "q22_window_rank",
    "q51_minhash_lsh",
    "q54_cosine_topk",
    "q57_lang_confusion",
    "q91_timeseries_allpairs",
    "q136_ppjoin_similarity",
    "q168_dedup_pipeline",
    "q169_sparse_cosine_join",
    "q189_idempotent_replay",
    "q200_semdedup",
    "q204_kcore",
    "q221_bfs_hops",
    "q237_recursive_cte",
]

#: per-query multiplier caps, with the reason recorded in the artifact (no
#: silent truncation). q189 replays the whole stream through a FIXED
#: 1024-row trigger cap twice; micro-batch COUNT grows as rows/cap (3125
#: batches at 32x), so its scaling dimension is per-batch cost staying flat
#: -- certified at 8x (1600 batches) -- while the cap itself is the
#: deployment knob a real 100 TB pipeline sizes to its trigger interval.
MULT_CAPS: dict[str, tuple[int, str]] = {
    "q189_idempotent_replay": (
        8,
        "fixed 1024-row trigger cap: batch COUNT grows as rows/cap; "
        "certifies flat per-batch cost at 1600 batches instead",
    ),
    "q335_beam_search_graph_ann": (
        32,
        "r15: cap lifted to 32x after the per-hop lineage fix; gate keeps "
        "n_cells=8 fixed (the q304 trainer constants), so the blocked pair "
        "stage grows as N^2/n_cells by construction — production re-trains "
        "n_cells ∝ N (bounded cells) and the stage is Σ(2·|cell|)² by design",
    ),
    "q336_beam_search_recall_audit": (
        8,
        "runs q335's build twice (approx + exact ground truth) under the "
        "same fixed-n_cells fixture constant; same cap, same reason",
    ),
    "q342_nsw_partitioned_serve": (
        8,
        "index-BUILD day shares q335's fixed-n_cells pair stage; the "
        "serve-day walk itself reads only the frontier's buckets",
    ),
    "q343_embedding_neardup_incremental": (
        32,
        "r15: cap lifted to 32x (verdict-r14 ask #4); delta grows with N "
        "while the gate keeps n_cells=8 fixed, so candidates grow as "
        "N^2·nprobe/n_cells by construction; production re-trains "
        "n_cells ∝ N and the probe stays increment × bounded-cell",
    ),
    "q349_hierarchical_graph_ann": (
        32,
        "r15: cap lifted to 32x after the per-hop lineage fix; builds "
        "BOTH layers' graphs under q335's fixed-n_cells pair stage "
        "(upper at 1/16 of the full stage's pairs); same "
        "re-train-n_cells-with-N production posture",
    ),
    "q352_hamming_topk": (
        32,
        "r15: cap lifted to 32x (verdict-r14 ask #4); the gate's query "
        "set is vec_id % 50 = 0, so query COUNT grows with the corpus "
        "and the flat scan is (N/50)·N XORs by construction; production "
        "serves a bounded query batch against the linear-size code table",
    ),
    "q353_hamming_refine_search": (
        32,
        "r15: cap lifted to 32x (verdict-r14 ask #4); shares q352's "
        "corpus-growing query fixture; the refine tier itself is "
        "shortlist-bounded (32 rows/query)",
    ),
    "q357_hamming_recall_audit": (
        32,
        "r15: cap lifted to 32x (verdict-r14 ask #4); shares q352's "
        "corpus-growing query fixture AND runs the exact brute-force "
        "ground truth over it — (N/50)·N by construction; audits run on "
        "bounded query samples in production",
    ),
    "q359_nsw_insert_search": (
        8,
        "gate rebuilds the STANDING layout from scratch each run (q335's "
        "fixed-n_cells pair stage) before the insert; the insert itself "
        "touches only the delta's cells — the build-day cost dominates "
        "the fixture, not the incremental path being certified",
    ),
    "q360_nsw_insert_recall_audit": (
        8,
        "runs q359's standing build + the exact brute-force union ground "
        "truth under the same corpus-growing query fixture",
    ),
    "q361_hamming_refine_partitioned": (
        8,
        "shares q352's corpus-growing query fixture (vec_id % 50 = 0 "
        "queries grow with the corpus); the layout's code scan is "
        "(N/50)·N XORs by construction",
    ),
    "q362_nsw_delete_search": (
        8,
        "gate rebuilds the standing layout from scratch each run (q335's "
        "fixed-n_cells pair stage) before the delete; the delete "
        "re-links only the tombstones' cells",
    ),
    "q363_nsw_insert_writeback": (
        8,
        "gate rebuilds the standing layout from scratch each run before "
        "the write-back; the write-back itself touches only the rewrite "
        "closure's partitions",
    ),
    "q364_nsw_delete_writeback": (
        8,
        "gate rebuilds the standing layout from scratch each run before "
        "the purge; the purge rewrites only the closure's partitions",
    ),
    "q366_hierarchical_insert_search": (
        8,
        "gate rebuilds BOTH layers' standing layouts from scratch each "
        "run (q335's fixed-n_cells pair stage twice) before the "
        "two-layer insert; the merges touch only the delta's cells",
    ),
}

SHIFT = 1_000_000_000
#: per-replica key shifts: (column, shift unit) per table
KEY_SHIFTS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _sign_pattern(replica: int, dim: int) -> list[int]:
    """Deterministic +-1 per (replica, dim); replica 0 is all +1 so 1x data
    is byte-identical to the base tables."""
    if replica == 0:
        return [1] * dim
    return [
        1 if int(hashlib.md5(f"scale|{replica}|{d}".encode()).hexdigest()[:2], 16) % 2 == 0
        else -1
        for d in range(dim)
    ]


def _replica(df, table: str, i: int, emb_dim: int):
    """One scaled replica of a base table (replica 0 IS the base)."""
    out = df
    for col in KEY_SHIFTS.get(table, []):
        out = out.withColumn(col, F.col(col) + F.lit(i * SHIFT))
    if table == "events" and i > 0:
        # decorrelate cloned users' time series. Per-event value jitter is
        # NOT enough: daily SUMs average the jitter back out (law of large
        # numbers), cloned users keep cosine ~1.0 with their originals, and
        # all-pairs queries see quadratic cross-replica pair growth BY
        # CONSTRUCTION (measured: q91 rows 37k -> 2.39M at 8x WITH jitter,
        # 2.41M without). The real decorrelator is TIME: each replica's
        # events shift forward by 400 days (a growing corpus's new data is
        # newer data), so per-replica daily-series supports are disjoint --
        # cross-replica cosine is exactly 0 and pair counts scale linearly.
        # The jitter stays as a fresh-draw value perturbation on top.
        out = out.withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {400 * i} DAYS")
        ).withColumn(
            "value",
            F.col("value")
            * (0.5 + (F.abs(F.hash(F.col("event_id"), F.lit(i))) % 1000) / 1000.0),
        )
    if table == "documents" and i > 0:
        out = out.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda t: F.concat(F.lit(f"r{i}_"), t),
                ),
                " ",
            ),
        )
    if table == "embeddings" and i > 0:
        signs = F.array(*[F.lit(float(s)) for s in _sign_pattern(i, emb_dim)])
        out = out.withColumn(
            "embedding",
            F.zip_with("embedding", signs, lambda x, s: (x * s).cast("float")),
        ).withColumn("label", F.col("label") + F.lit(i * 1000))
    return out


def build_scaled_dir(
    spark, base: str, mult: int, out_dir: str, emb_dim: int,
    only_tables: set[str] | None = None,
) -> None:
    """``only_tables`` restricts which fact tables are scaled (a targeted
    --merge rerun needn't rebuild the expensive document/embedding
    replicas); unlisted fact tables are simply absent from ``out_dir`` --
    fine as long as the rerun queries don't read them."""
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if (only_tables is not None and t not in only_tables
                and t not in ("region", "nation")):
            continue
        dest = os.path.join(out_dir, f"{t}.parquet")
        if t in ("region", "nation") or mult == 1:
            # dimension tables don't scale; 1x reads the base bytes directly
            if not os.path.exists(dest):
                shutil.copyfile(os.path.join(base, f"{t}.parquet"), dest)
            continue
        df = load_table(spark, base, t)
        scaled = _replica(df, t, 0, emb_dim)
        for i in range(1, mult):
            scaled = scaled.unionByName(_replica(df, t, i, emb_dim))
        # spread writes so the scan side starts from many files (the shape a
        # real table at this size would have). The widest replica gets at
        # least defaultParallelism files so the operators/spread.py guard is
        # STRUCTURALLY out of every plan there at any core count — the
        # precondition for the rr_zero_at_widest certification (r16).
        n_files = max(4, mult, spark.sparkContext.defaultParallelism)
        scaled.repartition(n_files).write.mode("overwrite").parquet(dest)


def certify_query(spark, name: str, fn, sf_dir: str) -> dict:
    """Time fn-build + count, MIN OF TWO timed passes, with a forced full
    GC before each pass. Single-pass timing proved untrustworthy (r13):
    the shared box runs 1.4-1.65x slower in bursts (the r12 verdict's
    calibration finding), and heap garbage from the PREVIOUS query taxes
    this one's tasks — the same q305 plan measured anywhere from 15s to
    358s at 32x. GC isolates the heap effect; min-of-2 takes whichever
    pass dodged the host noise. The first (warm) pass also pays JIT and
    scan-cache warmup, which is exactly why it is not the recorded one."""
    df = fn(spark, sf_dir)
    exchanges, rr_exchanges = exchange_counts(df)
    best = None
    for _ in range(2):
        for _g in range(2):
            spark._jvm.System.gc()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)  # eager queries do their jobs here -- timed
        rows = df.count()
        sec = time.perf_counter() - t0
        best = sec if best is None else min(best, sec)
    return {
        "rows": rows,
        "exchanges": exchanges,
        # r16 (re-arming advice-r15): round-robin exchanges counted
        # SEPARATELY. At the scaled multi-split replicas this must be 0 —
        # the spread guard's identity-at-scale claim, certified
        # structurally (see certify_rr_identity) instead of narrated.
        "rr_exchanges": rr_exchanges,
        "sec": round(best, 3),
    }


def plan_sweep(spark, registry, dirs: dict[int, str]) -> dict:
    """FULL-REGISTRY exchange-count invariance: build (don't execute) every
    registry query's plan at each multiplier and compare shuffle counts.
    This catches the silent scale cliff the 15-query exec cert can't cover
    breadth-wise: a join that flips from broadcast to shuffle (or a plan
    that grows exchanges) as file-size statistics grow. Lazy queries cost
    ~plan time; queries that do eager work inside fn() (transport
    roundtrips, iterative graph loops) pay their jobs — their build seconds
    are recorded so the artifact shows what the sweep actually ran."""
    out: dict = {}
    for name in sorted(registry):
        fn = registry[name].fn
        per: dict = {}
        try:
            for m, d in sorted(dirs.items()):
                t0 = time.perf_counter()
                df = fn(spark, d)
                ex = exchange_counts(df)
                per[str(m)] = {
                    "exchanges": ex.keyed,
                    "rr_exchanges": ex.rr,
                    "build_sec": round(time.perf_counter() - t0, 2),
                }
        except Exception as e:  # noqa: BLE001 - record, don't abort the sweep
            out[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
            print(f"# plan-sweep {name}: ERROR {type(e).__name__}", file=sys.stderr)
            continue
        exch = {v["exchanges"] for v in per.values()}
        per["invariant"] = len(exch) == 1
        # r16 (re-arming advice-r15): at the WIDEST replica the scan has
        # >= parallelism/2 splits, so the spread guard is provably out of
        # every plan — any surviving round-robin exchange there is a real
        # data-moving repartition that would shuffle the corpus at 100 TB.
        # (At intermediate multipliers spread may legitimately fire: the
        # size gate passes while the scan is still narrow — by design.)
        widest = str(max(dirs))
        per["rr_zero_at_widest"] = per[widest]["rr_exchanges"] == 0
        out[name] = per
        if not per["invariant"]:
            print(f"# plan-sweep {name}: VARIANT {per}", file=sys.stderr)
        if not per["rr_zero_at_widest"]:
            print(f"# plan-sweep {name}: RR at widest {per}", file=sys.stderr)
    return out


def skew_variant(spark, sf_dir: str) -> dict:
    """2% of a (scaled) lineitem lands on ONE orderkey; certify that the
    plain AQE join and hybrid_skew_join agree and both absorb the skew."""
    from rdkafka_streams_spark.operators.skew import hybrid_skew_join

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    hot_key = 42  # guaranteed present in replica 0's key range
    skewed = l.withColumn(
        "l_orderkey",
        F.when(F.pmod(F.col("l_linenumber") + F.col("l_orderkey"), F.lit(50)) == 0,
               F.lit(hot_key)).otherwise(F.col("l_orderkey")),
    ).select(F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice")

    def rollup(j):
        return j.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
        )

    plain = rollup(skewed.join(o, "o_orderkey"))
    hot = spark.createDataFrame([(hot_key,)], "o_orderkey long")
    hybrid = rollup(hybrid_skew_join(skewed, o, "o_orderkey", hot_keys=hot))

    t0 = time.perf_counter(); plain_rows = {tuple(r) for r in plain.collect()}
    t_plain = time.perf_counter() - t0
    t0 = time.perf_counter(); hybrid_rows = {tuple(r) for r in hybrid.collect()}
    t_hybrid = time.perf_counter() - t0
    return {
        "results_equal": plain_rows == hybrid_rows,
        "plain_aqe_sec": round(t_plain, 3),
        "hybrid_sec": round(t_hybrid, 3),
        "hot_row_share": 0.02,
    }


def transport_cert(spark, mults: list[int], base_rows: int = 100_000) -> dict:
    """Scale-certify the streaming TRANSPORT itself (r7 verdict item 1 —
    the certified form of q189's per-batch-cost footnote; reference anchor:
    the backpressure scenarios test/test_Consumer.coffee:85-121, where the
    consumer drains a growing backlog through a FIXED pull size).

    For each multiplier: produce base_rows*m reference-shaped records into
    an 8-partition topic, then stream-consume them to exhaustion under a
    FIXED per-trigger cap (batch_size=4096/partition -> 32,768 rows per
    micro-batch at every size). Micro-batch COUNT grows linearly with
    volume by construction; the certified claim is that per-micro-batch
    latency (p50/p95 triggerExecution + addBatch) stays FLAT — the
    transport has no per-batch cost that compounds with backlog size, so a
    100 TB backlog drains at the same per-batch cadence as a 100 GB one,
    just with proportionally more batches (more executors, not slower
    ones). A produce-side streaming leg (fixed 12,500-row files, 2 files
    per trigger -> 25,000 rows per produce micro-batch) certifies the sink
    the same way. Flatness bound: p50 ratios vs 1x within 1.5x (the
    measured run-to-run noise band of sub-second micro-batches on this
    box); p95 recorded but not gated (single-batch GC outliers)."""
    import shutil
    import tempfile
    import time as _time

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown
    from rdkafka_streams_spark.streaming.listeners import progress_latency_percentiles

    per: dict[str, dict] = {}
    warmed = False
    for m in mults:
        n = base_rows * m
        root = tempfile.mkdtemp(prefix=f"tcert_x{m}_")
        ck = tempfile.mkdtemp(prefix=f"tcert_ck_x{m}_")
        try:
            log = TopicLog(root)
            log.create_topic("cert", partitions=8)
            df = spark.range(n).select(
                F.col("id").alias("count"), F.lit("origin").alias("source")
            )
            if not warmed:  # absorb one-time Python-worker spawn, once
                log.create_topic("warm", partitions=8)
                par = spark.sparkContext.defaultParallelism
                KProducer(host=root, topic="warm", transport="topiclog").write_batch(
                    spark.range(0, 4_000, 1, par).select(
                        F.col("id").alias("count"), F.lit("origin").alias("source")
                    )
                )
                ckw = tempfile.mkdtemp(prefix="tcert_warm_ck_")
                qw = (
                    KConsumer(host=root, topic="warm", from_offset="earliest",
                              schema="count long, source string",
                              transport="topiclog")
                    .stream(spark).writeStream.format("noop")
                    .option("checkpointLocation", ckw)
                    .trigger(processingTime="0.1 seconds").start()
                )
                qw.processAllAvailable()
                shutdown(qw, 60)
                shutil.rmtree(ckw, ignore_errors=True)
                warmed = True

            t0 = _time.perf_counter()
            KProducer(host=root, topic="cert", transport="topiclog").write_batch(df)
            produce_s = _time.perf_counter() - t0

            q = (
                KConsumer(host=root, topic="cert", from_offset="earliest",
                          schema="count long, source string",
                          transport="topiclog", batch_size=4096)
                .stream(spark).writeStream.format("noop")
                .option("checkpointLocation", ck)
                .trigger(processingTime="0.1 seconds").start()
            )
            t1 = _time.perf_counter()
            q.processAllAvailable()
            consume_s = _time.perf_counter() - t1
            consume_lat = progress_latency_percentiles(q.recentProgress)
            rates = [
                p["numInputRows"] / (p["batchDuration"] / 1000.0)
                for p in q.recentProgress
                if p["numInputRows"] and p["batchDuration"]
            ]
            shutdown(q, 60)

            # produce-side streaming legs: fixed rows-per-file, fixed
            # files-per-trigger -> constant-size produce micro-batches.
            # Run plain AND atomic (r8 EOS sink): the atomic leg prices the
            # per-batch transaction overhead (state file + WAL + markers +
            # flip) and certifies IT stays flat with backlog size too.
            src = tempfile.mkdtemp(prefix=f"tcert_src_x{m}_")
            try:
                n_files = 8 * m
                spark.range(n_files * 12_500).select(
                    F.col("id").alias("count"), F.lit("origin").alias("source")
                ).repartition(n_files).write.mode("overwrite").parquet(src)
                lats = {}
                for leg, is_atomic in (("produce_latency_ms", False),
                                       ("produce_atomic_latency_ms", True)):
                    ckp = tempfile.mkdtemp(prefix=f"tcert_ckp_x{m}_")
                    log.create_topic(f"cert_sink_{leg}", partitions=8)
                    stream = (
                        spark.readStream.schema("count long, source string")
                        .option("maxFilesPerTrigger", 2).parquet(src)
                    )
                    qp = KProducer(host=root, topic=f"cert_sink_{leg}",
                                   transport="topiclog", checkpoint=ckp,
                                   atomic=is_atomic,
                                   ).write(stream, trigger="0.1 seconds")
                    qp.processAllAvailable()
                    lats[leg] = progress_latency_percentiles(qp.recentProgress)
                    shutdown(qp, 60)
                    shutil.rmtree(ckp, ignore_errors=True)
            finally:
                shutil.rmtree(src, ignore_errors=True)

            # ---- seek-by-timestamp leg (KIP-33 sparse time index):
            # constant-size segments whose COUNT grows with m — the broker
            # scaling model (fixed segment.bytes, more segments as the log
            # grows). Certified claim: a WARM seek (sidecars cached) and a
            # full MISS (target past every record — pure index consult,
            # zero data reads) stay bounded as volume grows; the pre-index
            # implementation json-parsed every record below the match, so
            # a 32x miss cost seconds where the index costs milliseconds.
            log.create_topic("seek", partitions=8)
            half_files = 4 * m
            dfh = spark.range(n // 2).select(
                F.col("id").alias("count"), F.lit("origin").alias("source")
            ).repartition(half_files)
            KProducer(host=root, topic="seek", transport="topiclog").write_batch(dfh)
            _time.sleep(0.05)
            t_mid = int(_time.time() * 1000)
            _time.sleep(0.05)
            KProducer(host=root, topic="seek", transport="topiclog").write_batch(dfh)
            t0 = _time.perf_counter()
            hit = log.offsets_for_times("seek", t_mid)  # cold: builds sidecars
            cold_s = _time.perf_counter() - t0
            assert all(v is not None for v in hit.values()), hit
            t0 = _time.perf_counter()
            assert log.offsets_for_times("seek", t_mid) == hit
            warm_s = _time.perf_counter() - t0
            t0 = _time.perf_counter()
            miss = log.offsets_for_times("seek", t_mid + 3_600_000)
            cold_miss_s = _time.perf_counter() - t0  # builds the tail
            # sidecars the hit never visited — one-time, linear like any
            # index build; brokers pay it at append instead
            assert all(v is None for v in miss.values()), miss
            t0 = _time.perf_counter()
            log.offsets_for_times("seek", t_mid + 3_600_000)
            warm_miss_s = _time.perf_counter() - t0  # pure sidecar consult
            import os as _os
            segs_p0 = sum(
                1 for f in _os.listdir(_os.path.join(root, "seek", "p0"))
                if f.startswith("seg-") and not f.endswith(".timeindex")
            )
            seek = {
                "segments_p0": segs_p0,
                "cold_ms": round(cold_s * 1000, 1),
                "warm_ms": round(warm_s * 1000, 1),
                "cold_miss_ms": round(cold_miss_s * 1000, 1),
                "warm_miss_ms": round(warm_miss_s * 1000, 1),
            }

            # ---- gzip wire leg (compression.type=gzip), base mult only:
            # throughput + on-disk ratio vs the identical plain topic.
            gz = None
            if m == mults[0]:
                log.create_topic("gz", partitions=8)
                log.alter_configs("gz", {"compression.type": "gzip"})
                t0 = _time.perf_counter()
                KProducer(host=root, topic="gz", transport="topiclog").write_batch(df)
                produce_gz_s = _time.perf_counter() - t0
                ckg = tempfile.mkdtemp(prefix="tcert_gz_ck_")
                qg = (
                    KConsumer(host=root, topic="gz", from_offset="earliest",
                              schema="count long, source string",
                              transport="topiclog", batch_size=4096)
                    .stream(spark).writeStream.format("noop")
                    .option("checkpointLocation", ckg)
                    .trigger(processingTime="0.1 seconds").start()
                )
                t1 = _time.perf_counter()
                qg.processAllAvailable()
                consume_gz_s = _time.perf_counter() - t1
                shutdown(qg, 60)
                shutil.rmtree(ckg, ignore_errors=True)
                sizes = log.describe_log_dirs()
                plain_b = sum(p["size_bytes"] for p in sizes["cert"].values())
                gz_b = sum(p["size_bytes"] for p in sizes["gz"].values())
                gz = {
                    "produce_gzip_rps": int(n / produce_gz_s),
                    "consume_gzip_wall_rps": int(n / consume_gz_s),
                    "plain_bytes": plain_b,
                    "gzip_bytes": gz_b,
                    "compression_ratio": round(plain_b / gz_b, 2),
                }

            # ---- MirrorMaker-2 leg (r9 verdict item 7): replicate the
            # produced topic to a second cluster root. Certified claims:
            # replication cost per ROW stays flat as volume grows (one
            # data pass + one metadata-weight sync pass, no superlinear
            # term), the offset-sync store is BOUNDED — O(partitions ×
            # ~100) entries at EVERY volume, never O(records) — and an
            # incremental re-run with no new data is metadata-priced.
            from rdkafka_streams_spark.streaming.mirror import (
                _load_syncs,
                mirror_topic,
                translate_offsets,
            )

            mroot = tempfile.mkdtemp(prefix=f"tcert_mirror_x{m}_")
            try:
                t0 = _time.perf_counter()
                mirror_topic(spark, root, mroot, "cert")
                mirror_s = _time.perf_counter() - t0
                t0 = _time.perf_counter()
                mirror_topic(spark, root, mroot, "cert")  # incremental no-op
                mirror_resume_s = _time.perf_counter() - t0
                store = _load_syncs(spark, mroot, "primary", "cert")
                store_entries = sum(len(v) for v in store.values())
                t0 = _time.perf_counter()
                tr = translate_offsets(
                    spark, mroot, "cert", {p: (n // 8) // 2 for p in range(8)}
                )
                translate_s = _time.perf_counter() - t0
                assert all(v >= 0 for v in tr.values())
                mirror = {
                    "mirror_rps": int(n / mirror_s),
                    "mirror_wall_s": round(mirror_s, 2),
                    "mirror_resume_s": round(mirror_resume_s, 2),
                    "sync_store_entries": store_entries,
                    "translate_ms": round(translate_s * 1000, 1),
                }
            finally:
                shutil.rmtree(mroot, ignore_errors=True)

            per[str(m)] = {
                "rows": n,
                "produce_rps": int(n / produce_s),
                "consume_wall_rps": int(n / consume_s),
                "consume_best_batch_rps": int(max(rates)) if rates else None,
                "consume_latency_ms": consume_lat,
                "seek": seek,
                "mirror": mirror,
                **({"gzip": gz} if gz else {}),
                **lats,
            }
            print(f"# transport {m}x: {per[str(m)]}", file=sys.stderr)
        finally:
            shutil.rmtree(root, ignore_errors=True)
            shutil.rmtree(ck, ignore_errors=True)

    base = per[str(mults[0])]
    ratios = {}
    for leg, key in (("consume", "consume_latency_ms"),
                     ("produce", "produce_latency_ms"),
                     ("produce_atomic", "produce_atomic_latency_ms")):
        for stat in ("triggerExecution_p50_ms", "addBatch_p50_ms",
                     "triggerExecution_p95_ms", "addBatch_p95_ms"):
            b = base[key].get(stat)
            if not b:
                continue
            ratios[f"{leg}_{stat}"] = [
                round(per[str(m)][key].get(stat, 0) / b, 2) for m in mults
            ]
    p50_ratios = [r for k, v in ratios.items() if "_p50_" in k for r in v]
    # seek gate: warm and miss stay in index territory (ms) at EVERY size —
    # 250 ms is ~10x the observed warm cost and ~10x BELOW what a record
    # scan of the 32x backlog costs, so it cleanly separates the regimes
    seek_ok = all(
        per[str(m)]["seek"]["warm_ms"] <= 250
        and per[str(m)]["seek"]["warm_miss_ms"] <= 250
        for m in mults
    )
    lat_ok = bool(p50_ratios) and max(p50_ratios) <= 1.5
    # mirror gates: per-row replication cost flat vs 1x (ratio of
    # wall/rows), and the sync store bounded at O(partitions × ~100)
    # entries at EVERY volume — 8 partitions × (64 grid + 32 gap + first
    # + seal) = 784 — the r9 boundedness contract, flat-in-records
    store_bound = 8 * (64 + 32 + 2)
    base_row_s = base["mirror"]["mirror_wall_s"] / base["rows"]
    mirror_ratios = [
        round(
            (per[str(m)]["mirror"]["mirror_wall_s"] / per[str(m)]["rows"])
            / base_row_s, 2,
        )
        for m in mults
    ]
    mirror_ok = (
        max(mirror_ratios) <= 1.5
        and all(
            per[str(m)]["mirror"]["sync_store_entries"] <= store_bound
            for m in mults
        )
    )
    return {
        "mults": mults,
        "base_rows": base_rows,
        "per_trigger_cap": {"consume_rows": 4096 * 8, "produce_rows": 25_000},
        "per_mult": per,
        "latency_ratios_vs_1x": ratios,
        "max_p50_ratio": max(p50_ratios) if p50_ratios else None,
        "flat_within": 1.5,
        "seek_bound_ms": 250,
        "seek_certified": seek_ok,
        "mirror_per_row_ratios_vs_1x": mirror_ratios,
        "mirror_sync_store_bound": store_bound,
        "mirror_certified": mirror_ok,
        "certified": lat_ok and seek_ok and mirror_ok,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--mults", default="1,8,32")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--out", default=os.path.join(REPO, "SCALE_CERT.json"))
    ap.add_argument("--keep-scratch", action="store_true")
    ap.add_argument(
        "--merge", action="store_true",
        help="update only --queries rows (and the summary) in an existing "
             "--out artifact instead of rewriting it; keeps the prior skew "
             "section unless --skew is also passed",
    )
    ap.add_argument("--skew", action="store_true",
                    help="with --merge: also rerun the hot-key skew variant")
    ap.add_argument(
        "--plan-sweep", action="store_true",
        help="with --merge: skip the exec cert and instead record "
             "exchange-count invariance for EVERY registry query across "
             "--mults (plans built, not executed; eager queries pay their "
             "internal jobs)",
    )
    ap.add_argument(
        "--tables", default=None,
        help="comma list: scale only these fact tables into the scratch "
             "dirs (targeted --merge reruns; queries outside the list's "
             "reach will fail by design)",
    )
    ap.add_argument(
        "--transport", action="store_true",
        help="certify the streaming transport instead of batch queries: "
             "produce->consume at each --mults size under fixed per-trigger "
             "caps, gate on flat per-micro-batch p50 latency; merges a "
             "'transport' section into --out",
    )
    args = ap.parse_args()
    mults = [int(m) for m in args.mults.split(",")]
    from rdkafka_streams_spark.queries import REGISTRY as _REG

    def _resolve(n: str) -> str:
        """Exact registry name, or an UNAMBIGUOUS prefix of one — an
        ambiguous prefix is an error (silently certifying the first
        alphabetical match would record the wrong query under the
        caller's name; review r13). Prints what a prefix resolved to."""
        if n in _REG:
            return n
        hits = [full for full in sorted(_REG) if full.startswith(n)]
        if len(hits) > 1:
            raise SystemExit(
                f"query prefix {n!r} is ambiguous: {hits} — spell it out"
            )
        if hits:
            print(f"# query prefix {n!r} -> {hits[0]}", file=sys.stderr)
            return hits[0]
        return n  # unknown: fails later with the registry KeyError

    names = [_resolve(n) for n in args.queries.split(",")]

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # one JVM hosts the driver AND all 32 executor threads; at 32x the
    # gate default (8g, sized for sf0.001 tests) OOMs — size the heap as a
    # real 32-core executor group would be (a 1000-executor cluster runs
    # ~2g/core; SCALE.md documents the mapping)
    spark = get_spark(
        "scale-cert", master=f"local[{cpus}]",
        **{"spark.driver.memory": os.environ.get("SCALE_CERT_DRIVER_MEM", "56g")},
    )
    tune_for_bench(spark, cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if args.transport:
        section = transport_cert(spark, mults)
        result: dict = {"base": args.base, "mults": mults, "queries": {}}
        if os.path.exists(args.out):
            with open(args.out) as fh:
                result = json.load(fh)
        result["transport"] = section
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
        print(json.dumps({
            "certified": section["certified"],
            "max_p50_ratio": section["max_p50_ratio"],
        }))
        return 0 if section["certified"] else 1

    from rdkafka_streams_spark.queries import REGISTRY

    emb_dim = len(
        load_table(spark, args.base, "embeddings").select("embedding").first()[0]
    )
    scratch = tempfile.mkdtemp(prefix="scale_cert_")
    dirs: dict[int, str] = {}
    for m in mults:
        d = args.base if m == 1 else os.path.join(scratch, f"x{m}")
        if m != 1:
            t0 = time.perf_counter()
            build_scaled_dir(
                spark, args.base, m, d, emb_dim,
                only_tables=set(args.tables.split(",")) if args.tables else None,
            )
            print(f"# built {m}x under {d} in {time.perf_counter() - t0:.1f}s",
                  file=sys.stderr)
        # Warm the OS page cache for every table at this multiplier BEFORE
        # any timed query. Without this, whichever query happens to read a
        # freshly-built scratch table first absorbs ~100s of cold reads at
        # 32x into ITS row (r13: the same query swung 26s<->131s purely by
        # run order) — the cert is about plan scaling, not disk order.
        t0 = time.perf_counter()
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                spark.read.format("binaryFile").option(
                    "recursiveFileLookup", "true"
                ).load(p).selectExpr("sum(length(content))").collect()
        print(f"# warmed {m}x page cache in {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)
        # ... and force the writeback to FINISH: the freshly-built scratch
        # leaves GBs of dirty pages flushing asynchronously, and the first
        # timed query's shuffle writes stall behind that flush (r13: the
        # first ANN query at 32x recorded 130-260s vs its honest ~20s,
        # regardless of which query ran first). sync() is the barrier that
        # makes rows order-independent.
        t0 = time.perf_counter()
        os.sync()
        print(f"# synced {m}x writeback in {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)
        dirs[m] = d

    # FORCE a full GC between the builds and the timed certification: the
    # 56g heap is littered with the union/write garbage of the replica
    # builds, and the first heavy query otherwise runs every task against
    # a collector fighting for space — r13 measured the SAME q305 plan at
    # 358.6s straight after the build vs 22.1s after three System.gc()
    # calls vs 14.4s steady-state (and 17-29s in a fresh process against
    # the identical scratch). A spark.stop()+get_spark() "restart" does
    # NOT fix it — the py4j gateway reuses the JVM, residue included.
    # Certified times must measure the PLAN, not the builder's leftovers.
    for _ in range(3):
        spark._jvm.System.gc()
    time.sleep(2)
    print("# forced full GC before certification", file=sys.stderr)

    result: dict = {"base": args.base, "mults": mults, "queries": {}}
    if args.merge and os.path.exists(args.out):
        with open(args.out) as fh:
            result = json.load(fh)

    if args.plan_sweep:
        sweep = plan_sweep(spark, REGISTRY, dirs)
        n_inv = sum(1 for v in sweep.values() if v.get("invariant"))
        n_err = sum(1 for v in sweep.values() if "error" in v)
        result["plan_sweep"] = {
            "mults": mults,
            "queries": sweep,
            "summary": {
                "invariant": f"{n_inv}/{len(sweep)}",
                "errors": n_err,
            },
        }
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
        print(json.dumps(result["plan_sweep"]["summary"]))
        if not args.keep_scratch:
            shutil.rmtree(scratch, ignore_errors=True)
        return 0
    for name in names:
        fn = REGISTRY[name].fn if hasattr(REGISTRY[name], "fn") else REGISTRY[name]
        per = {}
        cap, cap_reason = MULT_CAPS.get(name, (None, None))
        q_mults = [m for m in mults if cap is None or m <= cap]
        if cap is not None:
            per["mult_cap"] = {"cap": cap, "reason": cap_reason}
        for m in q_mults:
            per[str(m)] = certify_query(spark, name, fn, dirs[m])
            print(f"# {name} {m}x: {per[str(m)]}", file=sys.stderr)
        exch = {per[str(m)]["exchanges"] for m in q_mults}
        times = [per[str(m)]["sec"] for m in q_mults]
        per["exchange_invariant"] = len(exch) == 1
        per["growth_per_step"] = [
            round(times[i + 1] / times[i], 2) if times[i] > 0 else None
            for i in range(len(times) - 1)
        ]
        result["queries"][name] = per

    if not args.merge or args.skew:
        result["skew"] = skew_variant(spark, dirs[mults[-1]])
        print(f"# skew: {result['skew']}", file=sys.stderr)

    n_inv = sum(1 for q in result["queries"].values() if q["exchange_invariant"])
    result["summary"] = {
        "exchange_invariant": f"{n_inv}/{len(result['queries'])}",
        "max_growth_last_step": max(
            ((q["growth_per_step"][-1] or 0) if q.get("growth_per_step") else 0)
            for q in result["queries"].values()
        ),
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps(result["summary"]))
    if not args.keep_scratch:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
