#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headliners cover each operator family's heaviest plan shape: full-table
aggregate, fact-fact shuffle join, star join, windows, as-of, session
windows, MinHash LSH, cosine top-k, language ID — the ones whose plans must
survive a 100×-scale-up.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rdkafka_streams_spark import get_spark, tune_for_bench  # noqa: E402
from rdkafka_streams_spark.queries import REGISTRY  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",   # scan + 2-key agg over the fact table
    "q04_join_inner",        # fact⋈fact shuffle join + agg
    "q12_revenue_by_nation", # star join (1 shuffle join + 3 broadcasts)
    "q14_agg_stats",         # statistical aggregates + exact percentiles
    "q22_window_rank",       # partitioned window rank over the fact table
    "q38_asof_join",         # union+carry-forward as-of join
    "q42_session_window",    # session windows (gaps-and-islands state)
    "q51_minhash_lsh",       # shingle→minhash→band→self-join
    "q54_cosine_topk",       # brute-force vector search
    "q57_lang_confusion",    # profile build + detect + confusion agg
]

# The heavy LLM-pipeline surface, benched separately (r11 verdict: the
# headline 10 are all relational/light, so regressions in the training-data
# operators were invisible round-over-round). min-of-3 — these are seconds-
# to-a-minute each, where run-to-run noise is proportionally small.
LLM_HEADLINE = [
    "q299_exact_substring_spans",  # ExactSubstr: anchor shuffle + islands
    "q304_kmeans_integer",         # oracle-exact k-means training
    "q308_pq_exact_search",        # end-to-end PQ ADC search
    "q310_corpus_pipeline",        # full corpus-curation capstone funnel
    # r14 (verdict-r13 ask): the incremental/serving postures a 100 TB
    # operator actually watches day to day — build+probe walls, tracked
    "q331_ivf_partitioned_serve",  # partition-pruned ANN serving (build+serve)
    "q334_decontamination_incremental",  # saved eval index + delta probe
    "q335_beam_search_graph_ann",  # graph-ANN build + beam-search serve
    # r14: the two new one-pass families — sufficient-statistics fit and
    # the binary serving tier — get tracked wall-time rows
    "q347_pca_power_iteration",    # one-pass integer co-moment + driver fit
    "q352_hamming_topk",           # 32-bit code build + XOR/popcount top-k
    # r15 (verdict-r14 ask #7): the registry's heaviest query — two-layer
    # graph-ANN descent — tracked so its wall is a visible number
    "q349_hierarchical_graph_ann", # two-layer NSW build + layer descent
]
LLM_RUNS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    spark = get_spark("bench", master=f"local[{cpus}]")
    tune_for_bench(spark, cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup on a trivial plan (not a headline query), plus one
    # touch of the parquet read path (footer decode, vectorized reader, FS
    # metadata) so the first measured query reflects query work, not cold IO.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()

    # Five passes per query (round-7 verdict: min-of-2 left ±30 % run-to-run
    # noise on sub-second queries, making round-over-round totals
    # uninterpretable). Pass 1 absorbs one-time JIT / codegen-cache /
    # FS-cache effects; the MIN is the steady-state cost, the MEDIAN shows
    # how contended the box was (median >> min = noisy run, trust min).
    RUNS = 5
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    rows: dict[str, int] = {}
    for _ in range(RUNS):
        for name in HEADLINE:
            q = REGISTRY[name]
            t0 = time.perf_counter()
            n = q.fn(spark, sf_dir).count()
            samples[name].append(round(time.perf_counter() - t0, 3))
            rows[name] = n
    times = {name: min(s) for name, s in samples.items()}
    medians = {
        name: round(sorted(s)[len(s) // 2], 3) for name, s in samples.items()
    }

    llm_samples: dict[str, list[float]] = {name: [] for name in LLM_HEADLINE}
    llm_rows: dict[str, int] = {}
    for _ in range(LLM_RUNS):
        for name in LLM_HEADLINE:
            q = REGISTRY[name]
            t0 = time.perf_counter()
            n = q.fn(spark, sf_dir).count()
            llm_samples[name].append(round(time.perf_counter() - t0, 3))
            llm_rows[name] = n
    llm_times = {name: min(s) for name, s in llm_samples.items()}
    llm_total = round(sum(llm_times.values()), 3)

    # r16 (verdict-r15 #8): a scan row the 8c/32c core-count probe can
    # actually read. Every fixture parquet is ONE row group, so a scan's
    # real work runs in ONE task at any core count and the driver's
    # scaling ratios measure the scheduler, not the engine
    # (PERF_r15 suspect_cpus_ignored). This row scans a multi-split
    # rewrite of lineitem (64 files, built in an untimed prelude inside
    # this same invocation — no cross-run caching) through a per-row
    # md5-chain fold, so its 8c/32c ratio reflects genuine scan-side
    # parallelism. Added to `queries` (additions allowed); NOT part of
    # `value`, which stays the sum of the 10 relational headliners.
    # `value`/`total_median` are frozen to the 10 relational headliners
    # BEFORE the probe row is merged in, keeping the headline series
    # comparable across rounds.
    total = round(sum(times[n] for n in HEADLINE), 3)
    total_median = round(sum(medians[n] for n in HEADLINE), 3)
    scan_probe = _multirow_scan_probe(spark, sf_dir)
    times["x00_multirow_scan"] = scan_probe["sec"]
    medians["x00_multirow_scan"] = scan_probe["median"]
    rows["x00_multirow_scan"] = scan_probe["rows"]

    stream_rps = _stream_decode_throughput(spark)
    (produce_rps, consume_wall_rps, consume_best_rps,
     consume_latency, produce_latency) = _topiclog_roundtrip_throughput(spark)
    calibration = _calibration_marker(spark)
    io_calibration = _io_calibration_marker(spark)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": times,
                "queries_median": medians,
                "total_median": total_median,
                "rows": rows,
                "sf": sf,
                "cpus": cpus,
                "runs_per_query": RUNS,
                "aggregation": "min",
                # heavy LLM-pipeline surface (ExactSubstr, k-means, PQ
                # search, corpus capstone) — benched apart from the
                # relational headline so its regressions are visible;
                # NOT in `value` to keep the headline series comparable
                # across rounds (r12 baseline row: see README)
                "llm_queries": llm_times,
                "llm_total": llm_total,
                "llm_rows": llm_rows,
                "llm_runs_per_query": LLM_RUNS,
                # fixed CPU-bound probe: compare this across rounds to
                # normalize machine-load drift before reading query deltas
                "calibration_sec": calibration,
                # total ÷ calibration — a dimensionless, machine-speed-
                # normalized number: compare THIS across rounds; raw totals
                # confound box drift with plan changes (r7 verdict item)
                "calibration_normalized_total": (
                    round(total / calibration, 2) if calibration else None
                ),
                # fixed I/O-bound probe (parquet write+fsync+read of a fixed
                # corpus): the CPU marker missed a 40% topiclog throughput
                # swing on unchanged code in r14 — disk/page-cache/GC drift
                # is invisible to a single-task hash fold. Compare THIS to
                # attribute transport-row drift to the box's I/O state.
                "io_calibration_sec": io_calibration,
                # transport rows/sec × io-probe sec — rows per I/O-probe-unit,
                # a box-I/O-speed-normalized transport number: compare these
                # across rounds; raw rows/sec confound disk drift with code
                "io_normalized_produce": (
                    int(produce_rps * io_calibration) if io_calibration else None
                ),
                "io_normalized_consume": (
                    int(consume_wall_rps * io_calibration) if io_calibration else None
                ),
                "stream_decode_rows_per_sec": stream_rps,
                # produce = end-to-end wall; consume reported both ways so
                # the JSON is self-describing (wall includes trigger idle
                # time, best_batch is the sustained micro-batch capability)
                "topiclog_produce_wall_rows_per_sec": produce_rps,
                "topiclog_consume_wall_rows_per_sec": consume_wall_rps,
                "topiclog_consume_best_batch_rows_per_sec": consume_best_rps,
                # per-micro-batch latency percentiles (nearest-rank over
                # row-moving batches; durationMs from QueryProgress) — the
                # latency dimension of the reference's 1 s delivery
                # heartbeat (src/Producer.coffee:54-60). triggerExecution =
                # full trigger incl. planning + WAL; addBatch = sink write.
                "topiclog_consume_latency_ms": consume_latency,
                "topiclog_produce_latency_ms": produce_latency,
            }
        )
    )


def _multirow_scan_probe(spark, sf_dir: str, runs: int = 3) -> dict:
    """Scan-parallelism probe over a MULTI-SPLIT input (r16, verdict-r15
    #8). Untimed prelude: rewrite lineitem into 64 parquet files (64
    independent row groups — a fixed count, NOT tied to the core count,
    so the 8-core and 32-core bench invocations scan the identical
    layout). Timed: a per-row md5-chain fold + global aggregate over all
    600k·sf rows — enough per-task work that the stage's wall tracks
    available cores instead of fixed scheduling overhead. Everything is
    computed inside this invocation from the parquet inputs and removed
    after; min over ``runs`` like the headline rows."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="bench_scan_probe")
    try:
        (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .selectExpr("l_orderkey", "l_partkey", "l_suppkey",
                        "cast(l_shipdate as string) as l_shipdate")
            .repartition(64)
            .write.mode("overwrite")
            .parquet(d)
        )
        probe = spark.read.parquet(d).selectExpr(
            "md5(concat_ws(',', cast(l_orderkey as string),"
            " cast(l_partkey as string), cast(l_suppkey as string),"
            " cast(l_shipdate as string))) as h"
        )
        for _ in range(5):
            probe = probe.selectExpr("md5(h) as h")
        agg = probe.selectExpr(
            "count(*) as n", "bit_xor(xxhash64(h)) as x"
        )
        samples = []
        n_rows = 0
        for _ in range(runs):
            t0 = time.perf_counter()
            row = agg.collect()[0]
            samples.append(round(time.perf_counter() - t0, 3))
            n_rows = int(row["n"])
        return {
            "sec": min(samples),
            "median": sorted(samples)[len(samples) // 2],
            "rows": n_rows,
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _calibration_marker(spark, runs: int = 3) -> float:
    """Fixed CPU-bound probe (no IO, no shuffle): min wall over ``runs`` of
    a 50M-row codegen hash-fold (bit_xor cannot overflow under ANSI).
    Round-over-round bench comparisons divide by this to separate
    machine-load drift from real plan regressions (build notes record
    7→14 s swings between idle runs on this box)."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("bit_xor(xxhash64(id)) as s").collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _io_calibration_marker(spark, runs: int = 3) -> float:
    """Fixed I/O-bound probe: min wall over ``runs`` of writing a 4M-row
    2-column parquet corpus (8 files), fsync-ing every data file, and
    reading it back with a count + a column aggregate (footer decode +
    vectorized read). Deliberately shaped like the transport's work —
    many small-ish files, write-then-read — so disk/page-cache/GC drift
    that the CPU marker can't see (r14: −40% topiclog rows/s on unchanged
    code, CPU marker +5%) shows up here. Round-over-round transport
    comparisons divide by this before reading deltas as code changes."""
    import shutil
    import tempfile

    best = float("inf")
    for _ in range(runs):
        d = tempfile.mkdtemp(prefix="bench_io_probe")
        try:
            t0 = time.perf_counter()
            (
                spark.range(4_000_000)
                .selectExpr("id", "xxhash64(id) as h")
                .repartition(8)
                .write.mode("overwrite")
                .parquet(d)
            )
            for root, _dirs, files in os.walk(d):
                for fn in files:
                    if fn.endswith(".parquet"):
                        fd = os.open(os.path.join(root, fn), os.O_RDONLY)
                        try:
                            os.fsync(fd)
                        finally:
                            os.close(fd)
            spark.read.parquet(d).selectExpr(
                "count(*) as n", "bit_xor(h) as x"
            ).collect()
            best = min(best, time.perf_counter() - t0)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return round(best, 3)


def _stream_decode_throughput(spark, target_rows: int = 24_000_000) -> int:
    """Micro-batch JSON encode→decode round-trip throughput (broker-free
    stand-in for the reference's Consumer loop, whose own test harness tops
    out near 1e3 msg/s — BASELINE.md).

    Graceful by construction: a BOUNDED file-backed stream drained with
    ``trigger(availableNow=True)`` terminates at its own batch boundary, so
    teardown never aborts an in-flight commit (the rate-source + ``stop()``
    variant sprayed 'Aborted commit' ERRORs into the bench tail). Returns
    the best sustained completed-batch decode rate in rows/sec."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from rdkafka_streams_spark.streaming import decode_values

    src = tempfile.mkdtemp(prefix="bench_stream_src")
    ck = tempfile.mkdtemp(prefix="bench_stream_ck")
    try:
        # bounded source corpus (not part of the measured stream path)
        spark.range(target_rows).repartition(32).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 4)  # 8 batches → sustained-rate samples
            .parquet(src)
        )
        # reference record shape {count, source} (FIXTURES.md A): encode and
        # decode both inside the streaming plan, as the rate variant did
        as_json = stream.select(
            F.to_json(
                F.struct(F.col("id").alias("count"), F.lit("origin").alias("source"))
            ).alias("value")
        )
        decoded = decode_values(as_json, "count long, source string")
        q = (
            decoded.writeStream.format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rates = [
            p["numInputRows"] / (p["batchDuration"] / 1000.0)
            for p in q.recentProgress
            if p["numInputRows"] and p["batchDuration"]
        ]
        # best sustained batch = steady-state capability; the mean smears in
        # warm-up batches and whatever else the shared box is doing
        return int(max(rates)) if rates else 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


def _topiclog_roundtrip_throughput(spark, n: int = 400_000) -> tuple[int, int, int]:
    """End-to-end rate through the durable topiclog transport
    (streaming/topiclog.py): batch-produce ``n`` reference-shaped records,
    then stream-consume + JSON-decode them to exhaustion. This is the
    Python-DataSource integration path — orders of magnitude slower than the
    JVM decode path measured above, but it is a REAL produce→persist→consume
    loop (the reference's harness tops out near 1e3 msg/s on the same
    shape).

    Both directions are measured in the steady-state regime a long-lived
    pipeline sees: a small warm-up produce AND a warm-up consume absorb the
    one-time Python-worker spawn + datasource pickling (~2 s), and the timed
    consume caps offsets per trigger so the rate comes from several
    sustained micro-batches, not one giant batch whose duration is mostly
    fixed per-batch engine overhead. Returns (produce_wall_rps,
    consume_wall_rps, consume_best_batch_rps, consume_latency_pcts,
    produce_latency_pcts) — wall includes trigger idle gaps, best-batch is
    the sustained per-micro-batch capability, and the latency dicts carry
    p50/p95 triggerExecution/addBatch millis (listeners.py
    progress_latency_percentiles). Produce latencies come from a STREAMING
    produce of the same records through the topiclog sink (the one-shot
    batch produce that feeds the rps number has no micro-batches to
    measure)."""
    import shutil
    import tempfile
    import time as _t

    from pyspark.sql import functions as F

    from rdkafka_streams_spark.streaming import KConsumer, KProducer, TopicLog, shutdown
    from rdkafka_streams_spark.streaming.listeners import progress_latency_percentiles

    root = tempfile.mkdtemp(prefix="bench_topiclog")
    ck = tempfile.mkdtemp(prefix="bench_topiclog_ck")
    ckw = tempfile.mkdtemp(prefix="bench_topiclog_ckw")
    try:
        TopicLog(root).create_topic("bench", partitions=8)
        df = spark.range(n).select(
            F.col("id").alias("count"), F.lit("origin").alias("source")
        )
        # warm-up produce: every worker slot spawns its interpreter once
        TopicLog(root).create_topic("warmup", partitions=8)
        par = spark.sparkContext.defaultParallelism
        warm = spark.range(0, 4_000, 1, par).select(
            F.col("id").alias("count"), F.lit("origin").alias("source")
        )
        KProducer(host=root, topic="warmup", transport="topiclog").write_batch(warm)
        t0 = _t.perf_counter()
        KProducer(host=root, topic="bench", transport="topiclog").write_batch(df)
        produce_s = _t.perf_counter() - t0

        # warm-up consume: the stream-read path spawns its own workers
        qw = (
            KConsumer(
                host=root, topic="warmup", from_offset="earliest",
                schema="count long, source string", transport="topiclog",
            )
            .stream(spark)
            .writeStream.format("noop")
            .option("checkpointLocation", ckw)
            .trigger(processingTime="0.1 seconds")
            .start()
        )
        qw.processAllAvailable()
        shutdown(qw, 60)

        c = KConsumer(
            host=root, topic="bench", from_offset="earliest",
            schema="count long, source string", transport="topiclog",
            batch_size=16384,  # ≥4 sustained micro-batches at n=400k; below
            # this the ~120 ms fixed per-trigger cost (checkpoint WAL +
            # offset commit + planning) dominates the wall rate and the
            # measurement stops being about the transport
        )
        q = (
            c.stream(spark)
            .writeStream.format("noop")
            .option("checkpointLocation", ck)
            .trigger(processingTime="0.1 seconds")
            .start()
        )
        t1 = _t.perf_counter()
        q.processAllAvailable()
        consume_s = _t.perf_counter() - t1
        rates = [
            p["numInputRows"] / (p["batchDuration"] / 1000.0)
            for p in q.recentProgress
            if p["numInputRows"] and p["batchDuration"]
        ]
        consume_best = int(max(rates)) if rates else int(n / consume_s)
        consume_latency = progress_latency_percentiles(q.recentProgress)
        shutdown(q, 60)

        # streaming produce latency: the same record shape flows through
        # the topiclog SINK in bounded micro-batches (file source), giving
        # addBatch/triggerExecution a produce-side meaning
        src = tempfile.mkdtemp(prefix="bench_topiclog_psrc")
        ckp = tempfile.mkdtemp(prefix="bench_topiclog_ckp")
        try:
            spark.range(n // 4).select(
                F.col("id").alias("count"), F.lit("origin").alias("source")
            ).repartition(16).write.mode("overwrite").parquet(src)
            TopicLog(root).create_topic("bench_latency", partitions=8)
            stream = (
                spark.readStream.schema("count long, source string")
                .option("maxFilesPerTrigger", 2)  # ≥8 produce micro-batches
                .parquet(src)
            )
            qp = KProducer(
                host=root, topic="bench_latency", transport="topiclog",
                checkpoint=ckp,
            ).write(stream, trigger="0.1 seconds")
            qp.processAllAvailable()
            produce_latency = progress_latency_percentiles(qp.recentProgress)
            shutdown(qp, 60)
        finally:
            shutil.rmtree(src, ignore_errors=True)
            shutil.rmtree(ckp, ignore_errors=True)

        return (int(n / produce_s), int(n / consume_s), consume_best,
                consume_latency, produce_latency)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(ckw, ignore_errors=True)


if __name__ == "__main__":
    main()
