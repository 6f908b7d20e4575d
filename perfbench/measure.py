"""Measurement helpers shared by the workloads: spans, process-tree RSS,
Spark job statistics read from the public status APIs, percentiles and
the box-drift probes.

Nothing here reaches into the library: spans wrap public calls from the
outside, and job/stage figures come from ``SparkContext.statusTracker``
and the application status store that backs Spark's own UI and REST API.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import threading
import time
from contextlib import contextmanager

import numpy as np
from py4j.protocol import Py4JJavaError


def percentile(values, q: float) -> float:
    """``q``-th percentile (0-100) with linear interpolation; 0.0 for no values."""
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once at
    the end. Disabled tracers cost one attribute check per span."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span timed elsewhere, such as a trigger from a
        streaming query's progress."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "run": self.run_id,
                               "parent": self._stack[-1] if self._stack else None,
                               "start": start, "end": end, **attrs})

    def mark(self, name: str) -> None:
        """A zero-length span: records when a lazily evaluated call was
        entered (its jobs run later, under whichever span is open then)."""
        now = time.time()
        self.add(name, now, now)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def descendants(pid: int, exclude: frozenset[int] | set[int] = frozenset()) -> list[int]:
    """Every live descendant of ``pid``, leaving out the pids in
    ``exclude`` and their own descendants."""
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants (the Spark JVM
    and its Python workers), sampled every ``interval`` seconds on a
    thread. Processes started through ``spawn`` (load generators) and
    their descendants are left out: they are not the system under test."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._exclude: set[int] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def spawn(self, cmd: list[str], **kw) -> subprocess.Popen:
        """Start a process that is never sampled. The lock keeps a sample
        from falling between the fork and the exclusion."""
        with self._lock:
            proc = subprocess.Popen(cmd, **kw)
            self._exclude.add(proc.pid)
        return proc

    def _sample(self) -> int:
        with self._lock:
            me = os.getpid()
            return sum(_rss_kb(p) for p in [me, *descendants(me, self._exclude)])

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._sample())
        return self.peak_kb / 1024.0


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def job_stats(spark, group: str) -> dict:
    """Jobs run under job group ``group``: counts, executor time, shuffle
    write and spill summed over their stages, and each job's
    [submission, completion] interval in epoch ms."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs, stages = [], set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        it = jd.stageIds().iterator()
        sids = []
        while it.hasNext():
            sids.append(int(it.next()))
        jobs.append({"id": int(jid), "submit": _opt_ms(jd.submissionTime()),
                     "end": _opt_ms(jd.completionTime()), "stages": sids})
        stages.update(sids)
    tasks = run_ms = shuffle_b = spill_b = 0
    ran = 0
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # NoSuchElementException: a stage that never ran
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        ran += 1
        tasks += int(sd.numCompleteTasks())
        run_ms += int(sd.executorRunTime())
        shuffle_b += int(sd.shuffleWriteBytes())
        spill_b += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks,
            "executor_run_s": run_ms / 1000.0,
            "shuffle_write_mb": shuffle_b / 2**20, "spill_mb": spill_b / 2**20,
            "intervals": sorted((j["submit"], j["end"]) for j in jobs
                                if j["submit"] is not None and j["end"] is not None)}


def busy_s(intervals: list[tuple[float, float]], t0_ms: float, t1_ms: float) -> float:
    """Seconds of [t0_ms, t1_ms] covered by at least one job interval."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, t0_ms), min(e, t1_ms)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / 1000.0


def box_probes(spark, work: str) -> dict:
    """Fixed CPU and I/O probes that witness box drift between runs, in
    the pattern of bench.py's calibration markers. They are reported,
    never used to scale a metric."""
    t = time.perf_counter()
    spark.range(100_000_000).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
    cpu = time.perf_counter() - t
    d = os.path.join(work, "io_probe")
    t = time.perf_counter()
    (spark.range(1_000_000).selectExpr("id", "xxhash64(id) AS h")
     .repartition(4).write.mode("overwrite").parquet(d))
    spark.read.parquet(d).selectExpr("count(*)", "sum(h % 7)").collect()
    io = time.perf_counter() - t
    shutil.rmtree(d, ignore_errors=True)
    return {"box.cpu_probe_s": cpu, "box.io_probe_s": io}
