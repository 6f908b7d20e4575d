"""The ``bus`` workload: the reference's Duplex event-bus loop on the
file-backed topiclog transport, first draining a backlog, then serving
live open-loop traffic.

One topic, two partitions. ``Duplex.pipe`` reads the topic, keeps records
with ``source == "origin"``, re-tags them ``source = "transform"`` and
writes them back to the same topic (test/test_getDuplex.coffee's loop).

* Backfill phase: a pre-built backlog of ``BACKLOG`` records is on the
  topic before the pipe starts, dealt evenly over the partitions, and the
  per-partition trigger cap ``CAP`` splits it into ``BACKLOG / (CAP *
  PARTITIONS)`` triggers that read only originals. The first is cold and
  counts toward ``setup_s``; ``rows_per_s`` is the re-tagged originals of
  the others over the time from the end of the first to the end of the
  last. The triggers that follow only read the pipe's own copies back
  and filter them out; they are drained before the live phase but not
  timed.
* Live phase: ``busgen.py`` runs in its own process at ``RATE`` events/s
  in ``TICK_MS`` ticks for ``--seconds``. An event's latency runs from
  its due time to the first ``TopicLog.end_offsets`` poll that shows its
  re-tagged copy; offsets come from reading the topic after the run.
  Micro-batches are small and per-trigger cost dominates, so this phase
  moves with fixed trigger cost and hides per-record cost.

Checks (after the timed phases): every generated id appears exactly once
as ``origin`` and exactly once re-tagged; any other count is a failed event.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime

import numpy as np

from measure import percentile

TOPIC = "bus"
PARTITIONS = 2
BACKLOG = 524_288
CAP = 65_536          # per partition per trigger: 4 triggers of originals
RATE = 2_000          # events/s offered in the live phase
TICK_MS = 50
POLL_S = 0.025
DRAIN_TIMEOUT_S = 60.0
SCHEMA = "count long, source string, created_ms long"


def _retag(df):
    from pyspark.sql import functions as F

    return df.select(
        F.col("value.count").alias("count"),
        F.lit("transform").alias("source"),
        F.col("value.created_ms").alias("created_ms"),
    )


def _gen(ctx, out: str, *args: str) -> subprocess.Popen:
    cmd = [sys.executable, os.path.join(ctx.bench_dir, "busgen.py"),
           "--root", ctx.log_root, "--topic", TOPIC, "--seed", str(ctx.seed),
           "--out", out, *args]
    return ctx.rss.spawn(cmd, env=ctx.env)


def _wait_gen(proc: subprocess.Popen, out: str) -> dict:
    if proc.wait() != 0:
        raise RuntimeError(f"generator exited with code {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def _ts(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _end(progress: dict) -> float:
    return _ts(progress) + progress["durationMs"].get("triggerExecution", 0) / 1000.0


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from rdkafka_streams_spark.streaming.duplex import get_duplex
    from rdkafka_streams_spark.streaming.topiclog import TopicLog, read_topic

    spark = ctx.start_session(cores=max(1, ctx.nproc - 1))
    tr = ctx.tracer
    log = TopicLog(ctx.log_root)
    log.create_topic(TOPIC, partitions=PARTITIONS)

    # --- backlog (excluded from setup_s) ---
    t = time.perf_counter()
    with tr.span("topiclog.append.backlog", rows=BACKLOG):
        out = os.path.join(ctx.work, "gen_backlog.json")
        backlog_gen = _wait_gen(_gen(ctx, out, "--first-id", "0",
                                    "--backlog", str(BACKLOG)), out)
    ctx.excluded_s += time.perf_counter() - t
    ctx.report["backlog_gen_s"] = time.perf_counter() - t

    # --- pipe start up to its first completed trigger (in setup_s) ---
    dup = get_duplex(host=ctx.log_root, topic=TOPIC, schema=SCHEMA,
                     from_offset="earliest",
                     checkpoint=os.path.join(ctx.work, "checkpoint"),
                     transport="topiclog")
    dup.consumer.batch_size = CAP
    t_pipe = time.time()
    with tr.span("streaming.duplex.pipe_start"):
        q = dup.pipe(spark, _retag, F.col("value.source") == "origin")
        while q.lastProgress is None:
            if q.exception() is not None:
                raise RuntimeError(f"pipe failed: {q.exception()}")
            time.sleep(POLL_S)
    t_first = time.time()
    ctx.end_setup()

    polls_t: list[float] = []
    polls_end: list[list[int]] = []
    poll_ms: list[float] = []

    def poll() -> int:
        t0 = time.time()
        ends = log.end_offsets(TOPIC)
        t1 = time.time()
        poll_ms.append((t1 - t0) * 1000.0)
        polls_t.append(t1)
        polls_end.append([ends.get(p, 0) for p in range(PARTITIONS)])
        return sum(polls_end[-1])

    def drain(target: int, span: str) -> float:
        """Poll until the pipe has read ``target`` records (originals and
        its own re-tagged copies), so every re-tagged record is visible.
        Progress, not the log's end offsets, decides: concurrent producers
        can publish segments whose offset ranges overlap, and then the end
        offsets never reach the record count."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        with tr.span(span, target=target):
            while time.time() < deadline:
                poll()
                if q.exception() is not None:
                    raise RuntimeError(f"pipe failed: {q.exception()}")
                if sum(p["numInputRows"] for p in q.recentProgress) >= target:
                    break
                time.sleep(POLL_S)
        return polls_t[-1]

    # --- backfill: originals + re-tagged copies = 2 x BACKLOG records ---
    t_drained = drain(2 * BACKLOG, "bus.backfill_drain")
    ctx.report["backfill_drain_s"] = t_drained - t_first

    # --- live open-loop traffic for --seconds ---
    out = os.path.join(ctx.work, "gen_live.json")
    n_live = RATE * TICK_MS // 1000 * int(ctx.seconds * 1000 // TICK_MS)
    with tr.span("bus.live", rate=RATE, seconds=ctx.seconds):
        gen = _gen(ctx, out, "--first-id", str(BACKLOG), "--rate", str(RATE),
                   "--tick-ms", str(TICK_MS), "--seconds", str(ctx.seconds))
        while gen.poll() is None:
            poll()
            time.sleep(POLL_S)
        live = _wait_gen(gen, out)
        t_gen_end = time.time()
        drain(2 * (BACKLOG + n_live), "bus.live_drain")
        ctx.report["live_drain_s"] = time.time() - t_gen_end
    with tr.span("streaming.duplex.stop"):
        progress = list(q.recentProgress)
        q.stop()
        q.awaitTermination(60)
    peak_rss_mb = ctx.rss.stop()
    ctx.end_measure()
    t_check = time.time()

    # --- read the topic back: checks and per-event visibility ---
    rows = (
        read_topic(spark, ctx.log_root, TOPIC)
        .select("partition", "offset",
                F.from_json(F.col("value").cast("string"), SCHEMA).alias("v"))
        .select("partition", "offset", "v.count", "v.source", "v.created_ms")
        .toPandas()
    )
    n_gen = BACKLOG + live["n"]
    ids = rows["count"].to_numpy()
    ok_range = (ids >= 0) & (ids < n_gen)
    origin = np.bincount(ids[ok_range & (rows["source"] == "origin").to_numpy()],
                         minlength=n_gen)
    tagged = np.bincount(ids[ok_range & (rows["source"] == "transform").to_numpy()],
                         minlength=n_gen)
    failed = int(((origin != 1) | (tagged != 1)).sum()) + int((~ok_range).sum())
    # records sharing a (partition, offset) with another record
    collisions = int(rows.duplicated(["partition", "offset"], keep=False).sum())

    # visibility: first poll whose end offset for the record's partition
    # passes its offset
    lat_ms = []
    live_tagged = rows[(rows["source"] == "transform") & (rows["count"] >= BACKLOG)]
    ends = np.asarray(polls_end)
    pt = np.asarray(polls_t)
    for p in range(PARTITIONS):
        sub = live_tagged[live_tagged["partition"] == p]
        idx = np.searchsorted(ends[:, p], sub["offset"].to_numpy(), side="right")
        seen = idx < len(pt)
        lat_ms.extend(pt[idx[seen]] * 1000.0 - sub["created_ms"].to_numpy()[seen])
    # live backlog at each poll: live originals visible minus re-tagged visible
    live_rows = rows[rows["count"] >= BACKLOG]
    backlog = np.zeros(len(pt))
    for p in range(PARTITIONS):
        sp = live_rows[live_rows["partition"] == p].sort_values("offset")
        net = np.concatenate([[0], np.cumsum(np.where(sp["source"] == "origin", 1, -1))])
        backlog += net[np.searchsorted(sp["offset"].to_numpy(), ends[:, p], side="left")]
    live_sel = (pt >= live["start"]) & (pt <= live["end"])
    bt, bv = pt[live_sel], backlog[live_sel]
    half = bt >= (live["start"] + live["end"]) / 2
    slope = float(np.polyfit(bt[half] - bt[half][0], bv[half], 1)[0]) if half.sum() > 2 else 0.0

    trig = [p for p in progress if p["numInputRows"] > 0]
    for p in progress:
        tr.add("streaming.duplex.trigger", _ts(p), _end(p),
               batch=p["batchId"], rows=p["numInputRows"], durations_ms=p["durationMs"])
    live_trig = [p for p in trig if _ts(p) >= live["start"]]
    back_trig = [p for p in trig if _ts(p) < live["start"]]
    # the triggers that read the backlog's originals; the first is cold
    # and in setup_s, the rest are timed end to end
    n_orig = int(np.searchsorted(np.cumsum([p["numInputRows"] for p in back_trig]),
                                 BACKLOG)) + 1
    orig_trig = back_trig[:n_orig]
    warm_orig = orig_trig[1:]
    if not warm_orig:
        raise RuntimeError("the backlog was read in a single trigger; nothing warm to time")
    warm_rows = BACKLOG - orig_trig[0]["numInputRows"]
    rows_per_s = warm_rows / (_end(orig_trig[-1]) - _end(orig_trig[0]))

    def dur(key, trs=live_trig):
        return [p["durationMs"].get(key, 0) for p in trs]

    per_layer = {
        "topiclog.append_ms.p50": percentile(live["append_ms"], 50),
        "topiclog.append_ms.p99": percentile(live["append_ms"], 99),
        "topiclog.end_offsets_ms.p50": percentile(poll_ms, 50),
        "topiclog.segments_per_partition": float(np.mean([
            d["n_segments"] for d in log.describe_log_dirs(TOPIC)[TOPIC].values()])),
        "topiclog.append_rows_per_s": BACKLOG / backlog_gen["append_s"],
        "topiclog.offset_collisions": float(collisions),
        "gen.late_p99_ms": percentile(live["late_ms"], 99),
        "duplex.start_s": t_first - t_pipe,
        "trigger.count": float(len(live_trig)),
        "trigger.rows.p50": percentile([p["numInputRows"] for p in live_trig], 50),
        "trigger.latestOffset_ms.p50": percentile(dur("latestOffset"), 50),
        "trigger.queryPlanning_ms.p50": percentile(dur("queryPlanning"), 50),
        "trigger.addBatch_ms.p50": percentile(dur("addBatch"), 50),
        "trigger.walCommit_ms.p50": percentile(dur("walCommit"), 50),
        "trigger.commitOffsets_ms.p50": percentile(dur("commitOffsets"), 50),
        "trigger.execution_ms.p50": percentile(dur("triggerExecution"), 50),
        "trigger.execution_ms.p90": percentile(dur("triggerExecution"), 90),
        "bus.latency_p90_ms": percentile(lat_ms, 90),
        "bus.backlog_max_rows": float(bv.max()) if len(bv) else 0.0,
        "bus.backlog_slope_rows_per_s": slope,
        "backfill.trigger_count": float(len(back_trig)),
        "backfill.addBatch_us_per_row": sum(dur("addBatch", warm_orig)) * 1000.0 / warm_rows,
    }
    ctx.report.update({
        "latency_p90_ms": percentile(lat_ms, 90),
        "check_s": time.time() - t_check,
        "events": n_gen, "live_events": live["n"], "latency_samples": len(lat_ms),
        "live_micro_batches": len(live_trig), "backfill_rows": BACKLOG,
        "backfill_timed_triggers": len(warm_orig),
        "backfill_cap_per_partition": CAP, "offered_rate": RATE,
    })
    return {
        "attempted": n_gen,
        "failed": failed,
        "end_to_end": {
            "latency_p50_ms": percentile(lat_ms, 50),
            "rows_per_s": rows_per_s,
            "peak_rss_mb": peak_rss_mb,
        },
        "per_layer": per_layer,
    }
