#!/usr/bin/env python3
"""Repository benchmark: run one workload against the library's public API.

    python3 perfbench/run.py --workload bus|library --seed N --seconds S --trace 0|1

Run from the repository root. The seed drives every generated input. The
run prints a readable report, then, as its last stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A traced run also writes its spans and prints the tracing
overhead against the median of the untraced runs of the workload found
under ``.perfbench/results/``. Everything a run writes stays under
``.perfbench/`` in the root. See perfbench/README.md for the workloads,
metrics and the layer map.
"""

from __future__ import annotations

import time

T_PROC_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

from measure import RssSampler, Tracer, box_probes, descendants  # noqa: E402

WORKLOADS = ("bus", "library")


class Context:
    """What a workload needs from the harness: its seed and time budget,
    a scratch directory, the tracer, the RSS sampler, a session factory,
    and the clock marks that delimit set-up and the measured phase."""

    def __init__(self, args, root: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.root = root
        self.bench_dir = BENCH_DIR
        self.work = os.path.join(root, ".perfbench", f"{args.workload}-work")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.log_root = os.path.join(self.work, "log")
        self.nproc = len(os.sched_getaffinity(0))
        self.env = dict(os.environ)
        self.env["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)
        self.env["TMPDIR"] = os.path.join(self.work, "tmp")
        # every JVM spark-submit starts (its launcher too): no hsperfdata
        # files in the system temp directory
        self.env["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.env['TMPDIR']}")
        os.environ.update(self.env)
        self.tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
        self.rss = RssSampler().start()
        self.spark = None
        self.cores = None
        self.excluded_s = 0.0   # data and backlog generation, not set-up
        self.setup_s = None
        self.measure_s = None
        self._t_setup_end = None
        self.session_s = None
        self.report: dict = {}

    def start_session(self, cores: int):
        from rdkafka_streams_spark import get_spark, tune_for_bench

        t = time.perf_counter()
        with self.tracer.span("core.session.get_spark", cores=cores):
            spark = get_spark(
                app_name="perfbench", master=f"local[{cores}]",
                **{
                    # a 2 GB heap bounds JVM growth, so peak RSS measures
                    # the workload rather than when the collector ran
                    "spark.driver.memory": "2g",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.sql.streaming.numRecentProgressUpdates": "100000",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
            tune_for_bench(spark, cores)
        self.session_s = time.perf_counter() - t
        self.spark, self.cores = spark, cores
        return spark

    def end_setup(self) -> None:
        self._t_setup_end = time.time()
        self.setup_s = self._t_setup_end - T_PROC_START - self.excluded_s

    def end_measure(self) -> None:
        self.measure_s = time.time() - self._t_setup_end


def _stop_all(ctx: Context) -> None:
    """Stop Spark and wait for the JVM and every Python worker to exit."""
    pids = descendants(os.getpid())
    if ctx.spark is not None:
        from pyspark import SparkContext

        ctx.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(root, "rdkafka_streams_spark", "__init__.py")):
        print("perfbench: rdkafka_streams_spark not found in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    ctx = Context(args, root)
    try:
        import bus
        import library

        res = {"bus": bus, "library": library}[args.workload].run(ctx)
        probes = box_probes(ctx.spark, ctx.work) if args.trace else {}
    except Exception:
        traceback.print_exc()
        _stop_all(ctx)
        return 1
    _stop_all(ctx)

    e2e = {"setup_s": ctx.setup_s, **res["end_to_end"]}
    layer = {"session.start_s": ctx.session_s, **probes, **res["per_layer"]}
    unknown = set(layer) - {m["name"] for m in spec["per_layer"]}
    if unknown:
        print(f"perfbench: per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}",
              file=sys.stderr)
        return 1
    if args.trace:  # a layer this workload does not exercise reports 0
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    out_dir = os.path.join(root, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": ctx.cores, "measured_s": ctx.measure_s,
              "attempted": res["attempted"], "failed": res["failed"],
              "end_to_end": e2e, "per_layer": layer, "report": ctx.report}
    with open(os.path.join(out_dir, f"{stem}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    ctx.tracer.write(os.path.join(root, ".perfbench", "spans", f"{stem}.json"))

    print(f"# workload={args.workload} seed={args.seed} cores={ctx.cores} "
          f"measured_s={ctx.measure_s:.1f} attempted={res['attempted']} "
          f"failed={res['failed']} failed_frac={res['failed'] / res['attempted']:.4f}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, v in e2e.items():
        print(f"#   {name:<34} {v:14.4f} {units[name]}")
    for k, v in ctx.report.items():
        print(f"#   {k:<34} {v if not isinstance(v, float) else round(v, 4)}")
    if args.trace:
        for name, v in layer.items():
            print(f"#   {name:<34} {v:14.4f} {units[name]}")
        untraced = []
        for fn in sorted(os.listdir(out_dir)):
            if fn.startswith(f"{args.workload}-seed") and fn.endswith("-trace0.json"):
                with open(os.path.join(out_dir, fn)) as f:
                    untraced.append(json.load(f)["end_to_end"])
        for name, v in e2e.items():
            base = [u[name] for u in untraced if u.get(name)]
            if base:
                med = statistics.median(base)
                print(f"#   tracing overhead {name:<20} {100.0 * (v - med) / med:+.1f} % "
                      f"(vs median of {len(base)} untraced runs)")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
