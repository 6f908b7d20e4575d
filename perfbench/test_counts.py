"""Checks of the benchmark itself.

    python3 -m pytest perfbench/test_counts.py -q     # from the repository root

The slow tests run each workload twice with the same seed and require the
deterministic counts (DAG witnesses that wall-clock noise cannot move) to
repeat exactly, and every per-layer metric of BENCHMARK.json to be
produced by some workload, and recompute q335's oracle rows that the
library workload's ANN check reads from perfbench/data. They take a few
minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import expected  # noqa: E402
from measure import RssSampler, busy_s, percentile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTS = {
    "bus": ["backfill.trigger_count"],
    "library": ["curation.jobs", "curation.stages", "ann.build_jobs", "ann.request_jobs"],
}


def test_busy_s_merges_overlapping_jobs():
    # [0,2] and [1,3] overlap, [5,6] stands alone, [9,12] is clipped at 10
    ivs = [(0.0, 2000.0), (1000.0, 3000.0), (5000.0, 6000.0), (9000.0, 12000.0)]
    assert busy_s(ivs, 0.0, 10000.0) == pytest.approx(5.0)
    assert busy_s([], 0.0, 10000.0) == 0.0


def test_percentile_of_nothing_is_zero():
    assert percentile([], 50) == 0.0
    assert percentile([1.0, 3.0], 50) == 2.0


def _peak_mb_with_child(spawn: bool) -> float:
    # a child that holds 200 MB until the sampler has seen it
    cmd = [sys.executable, "-c",
           "import time; b = b'x' * (200 << 20); print(flush=True); time.sleep(1)"]
    rss = RssSampler(interval=0.02).start()
    start = rss.spawn if spawn else subprocess.Popen
    with start(cmd, stdout=subprocess.PIPE) as child:
        child.stdout.readline()
        time.sleep(0.2)
        peak = rss.stop()
    return peak


def test_spawned_processes_are_not_sampled():
    assert _peak_mb_with_child(spawn=False) - _peak_mb_with_child(spawn=True) > 150


def test_stored_ann_answers_equal_the_oracle():
    with open(expected.EXPECTED) as f:
        assert json.load(f) == expected.oracle_answers()


def _run(workload: str, seed: int = 7) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "4", "--trace", "1"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(ROOT, ".perfbench", "results", f"{workload}-seed{seed}-trace1.json")) as f:
        return json.load(f)["per_layer"]


@pytest.fixture(scope="module")
def twice() -> dict:
    return {w: (_run(w), _run(w)) for w in COUNTS}


@pytest.mark.parametrize("workload", sorted(COUNTS))
def test_deterministic_counts_repeat(twice, workload):
    first, second = twice[workload]
    for name in COUNTS[workload]:
        assert first[name] > 0, name
        assert first[name] == second[name], name


def test_every_per_layer_metric_is_produced(twice):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"] for m in json.load(f)["per_layer"]}
    produced = set()
    for first, _ in twice.values():
        produced |= set(first)
    assert produced == spec
