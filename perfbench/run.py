"""Benchmark of the fsharp_dataframe_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One run starts one driver process at
``local[N]`` (N = min(2, cores)) with the engine's default shuffle
partitions, and runs the workload's operations closed-loop, one at a
time (workloads in ``ops.py``, rationale in ``DESIGN.md``):

1. set-up: session start, then pass 0 — every operation once on the
   default seed's first-pass inputs (whatever ``--seed`` is), output
   checked against its oracle; this also warms the JVM, the Python
   workers and the engine's media fixture cache;
2. timed passes 1, 2, ... each on fresh inputs, until ``--seconds`` of
   passes have run (at least ``MIN_PASSES``).  A traced run makes at
   least five, alternating untraced and traced.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``; the traced run's record also states the
tracing overhead, its traced pass against its untraced ones.  Each run
also writes a record to ``perfbench/out/`` (per-pass wall and CPU
seconds, CPU steal, load average, N; the per-operation and per-layer
trace when traced).

Every run gets a fresh temporary directory, removed at exit, for
``SPARK_LOCAL_DIRS``, the engine's media cache and the working
directory, so no run reads a cache that another run built.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probe  # noqa: E402

MIN_PASSES = 1     # timed passes per untraced run
CHECK_SEED = 0     # pass 0 of every run reads (and checks) this seed's inputs
MAX_RUN_S = 120.0  # start no pass later than this after process start
# two task threads: on a shared 4-vCPU host, local[4] left JIT, GC, the
# driver and the Python workers no core of their own, and its pass times
# followed the host's CPU steal; local[2] ran the same passes faster
CPUS = min(2, os.cpu_count() or 1)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    def __init__(self, args, run_dir: str):
        from ops import WORKLOADS

        self.args = args
        self.run_dir = run_dir
        self.wl = WORKLOADS[args.workload]
        self.data_root = os.path.join(HERE, ".data")
        self.side_s = 0.0    # benchmark-side work (inputs, oracles) before pass 1
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.tracebacks: list[str] = []
        self.passes: list[dict] = []
        self.traced_ops: list[dict] = []
        self.tracer = None

    # ---------------------------------------------------------- plumbing

    def pass_dir(self, k: int) -> str:
        import gen

        t0 = time.perf_counter()
        d = gen.pass_dir(self.data_root, self.wl.tables, self.wl.size,
                         CHECK_SEED if k == 0 else self.args.seed, k)
        if k == 0:
            self.side_s += time.perf_counter() - t0
        return d

    def start_session(self):
        from fsharp_dataframe_spark import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            self.event_dir = os.path.join(self.run_dir, "events")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               master=f"local[{CPUS}]", extra_conf=conf)
        self.jvm = self.spark.sparkContext._gateway.proc

    def stop_session(self) -> None:
        """Stop Spark and wait until the JVM and its workers have exited."""
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self.jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        _reap_children()

    # ---------------------------------------------------------- passes

    def run_pass(self, k: int, traced: bool = False) -> dict:
        """One pass: every operation once on pass ``k``'s inputs.  Pass 0
        also checks each output (the check time is not the program's)."""
        from fsharp_dataframe_spark.functions.util import release_cached

        d = self.pass_dir(k)
        me = os.getpid()
        st0, cpu0, py0 = probe.cpu_counters(), probe.cpu_s(probe.tree(me)), _self_cpu()
        ops: dict[str, float] = {}
        outs: dict[str, object] = {}
        for op in self.wl.ops:
            self.attempted += 1
            try:
                if traced:
                    rec = self.tracer.run_op(self.spark, op, d, f"pb-{k}-{op.name}",
                                             self.worker_cpu)
                    rec.update(op=op.name, pass_no=k)
                    self.traced_ops.append(rec)
                    ops[op.name], got = rec["sec"], rec.pop("output")
                else:
                    t0 = time.perf_counter()
                    got = op.build(self.spark, d).toPandas()
                    ops[op.name] = time.perf_counter() - t0
                problem = self.check(op, d, got, outs) if k == 0 else None
            except Exception as e:  # an operation that raises is counted, not fatal
                problem = f"{type(e).__name__}: {_first_line(e)}"
                self.tracebacks.append(traceback.format_exc())
            if problem:
                self.failed += 1
                self.problems.append(f"pass {k} {op.name}: {problem}")
            release_cached()
        rec = {"pass": k, "traced": traced, "wall_s": sum(ops.values()), "ops": ops,
               "cpu_s": probe.cpu_s(probe.tree(me)) - cpu0,
               "driver_py_cpu_s": _self_cpu() - py0,
               "steal_pct": probe.steal_pct(st0, probe.cpu_counters()),
               "load1": os.getloadavg()[0]}
        if k > 0:
            self.passes.append(rec)
        else:
            self.pass0 = rec
        return rec

    def check(self, op, d: str, got, outs: dict) -> str | None:
        import ops as O

        t0 = time.perf_counter()
        outs[op.name] = got
        kind, ref = op.check
        if kind == "oracle":
            want = O.oracle_frame(self.duck, d, ref)
        elif kind == "twin":
            want = outs[ref]
        else:
            want = O.union_find_components(O.cc_edges(self.spark, d).toPandas())
        problem = O.compare(got, want)
        if not problem and len(want) == 0:
            problem = "empty output: the check proves nothing"
        self.side_s += time.perf_counter() - t0
        return problem

    def worker_cpu(self) -> float:
        import tracer

        return tracer.python_workers_cpu(self.jvm.pid)

    # ---------------------------------------------------------- main

    def run(self) -> dict:
        if self.args.trace:
            import tracer

            self.tracer = tracer.Tracer()
            self.wrapped = self.tracer.install()
        import __spark_entry__  # noqa: F401  (after the tracer's wrapping)

        import duckdb

        self.duck = duckdb.connect()
        self.timeline = {"session_start": probe.since_start_s()}
        self.start_session()
        try:
            self.timeline["session_ready"] = probe.since_start_s()
            self.run_pass(0)
            self.timeline["pass0_end"] = probe.since_start_s()
            self.setup_s = probe.since_start_s() - self.side_s
            self.timed_passes()
            self.rss_hwm_mb = {"driver_python": probe.hwm_mb(os.getpid()),
                               "jvm": probe.hwm_mb(self.jvm.pid)}
            self.timeline["passes_end"] = probe.since_start_s()
        finally:
            self.duck.close()
            self.stop_session()
        self.timeline["stopped"] = probe.since_start_s()
        return self.result()

    def timed_passes(self) -> None:
        """Passes 1, 2, ... until ``--seconds`` of them have run.  A traced
        run alternates untraced and traced passes, U T U T U, so the
        passes still warming up weigh on both sides of the comparison:
        the untraced median is pass 3, between the two traced ones."""
        need = {False: 3, True: 2} if self.args.trace else {False: MIN_PASSES}
        k, timed_s = 0, 0.0
        while probe.since_start_s() < MAX_RUN_S:
            done = {t: sum(1 for p in self.passes if p["traced"] == t) for t in need}
            if timed_s >= self.args.seconds and all(done[t] >= n for t, n in need.items()):
                break
            k += 1
            timed_s += self.run_pass(k, traced=bool(self.args.trace) and k % 2 == 0)["wall_s"]

    def e2e(self, passes) -> dict:
        op_med = {o.name: median([p["ops"][o.name] for p in passes if o.name in p["ops"]])
                  for o in self.wl.ops}
        vals = [v for v in op_med.values() if v == v]
        attempted = max(self.attempted, 1)
        return {
            "setup_s": self.setup_s,
            "pass_s": median([p["wall_s"] for p in passes]),
            "op_geomean_s": math.exp(sum(map(math.log, vals)) / len(vals)) if vals else float("nan"),
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "ops_ok_frac": 1.0 - self.failed / attempted,
        }, op_med

    def result(self) -> dict:
        untraced = [p for p in self.passes if not p["traced"]]
        e2e, op_med = self.e2e(untraced)
        record = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "cpus": CPUS, "size": self.wl.size,
            "ops_failed_frac": self.failed / max(self.attempted, 1),
            "attempted": self.attempted, "failed": self.failed,
            "problems": self.problems, "tracebacks": self.tracebacks, "end_to_end": e2e, "op_median_s": op_med,
            "timeline_s": self.timeline, "rss_hwm_mb": self.rss_hwm_mb, "pass0": self.pass0, "passes": self.passes,
            "steal_pct_max": max((p["steal_pct"] for p in self.passes), default=0.0),
        }
        if self.args.trace:
            record.update(self.trace_record(e2e))
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in record["per_layer"].items()}
        else:
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        path = os.path.join(HERE, "out", f"{self.args.workload}-s{self.args.seed}"
                            f"-trace{self.args.trace}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        _summary(record, path)
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def trace_record(self, untraced_e2e: dict) -> dict:
        import tracer

        jobs, tasks = tracer.read_event_log(self.event_dir)
        claimed: set = set()
        for rec in self.traced_ops:
            rec.update(tracer.spark_side(rec, jobs, tasks, claimed))
        traced = [p for p in self.passes if p["traced"]]
        traced_e2e, _ = self.e2e(traced)
        per_pass = []
        for p in traced:
            recs = [r for r in self.traced_ops if r["pass_no"] == p["pass"]]
            s = lambda key: sum(r[key] for r in recs)  # noqa: E731
            row = {
                "py4j.calls": (s("py4j_calls"), "count"),
                "py4j.s": (s("py4j_s"), "s"),
                "catalyst.plan_s": (s("plan_s"), "s"),
                "scheduler.jobs": (s("jobs"), "count"),
                "scheduler.eager_jobs": (s("eager_jobs"), "count"),
                "scheduler.stages": (s("stages"), "count"),
                "scheduler.tasks": (s("tasks"), "count"),
                "scheduler.empty_task_frac": (s("empty_tasks") / max(s("tasks"), 1), "fraction"),
                "executor.task_s": (s("task_s"), "s"),
                "executor.gc_s": (s("gc_s"), "s"),
                "shuffle.write_mb": (s("shuffle_write_mb"), "MB"),
                "shuffle.read_mb": (s("shuffle_read_mb"), "MB"),
                "sources.input_mb": (s("input_mb"), "MB"),
                "python.worker_cpu_s": (s("worker_cpu_s"), "s"),
                "driver.py_cpu_s": (p["driver_py_cpu_s"], "s"),
                "memory.rss_hwm_mb": (sum(self.rss_hwm_mb.values()), "MB"),
                "engine.build_s": (sum(sum(r["layer_build_s"].values()) for r in recs), "s"),
            }
            # a layer the workload never enters reads 0 here
            for layer in tracer.LAYERS:
                build = "load_s" if layer == "sources" else "build_s"
                row[f"{layer}.{build}"] = (sum(r["layer_build_s"].get(layer, 0.0) for r in recs), "s")
                row[f"{layer}.jobs"] = (sum(r["layer_jobs"].get(layer, 0) for r in recs), "count")
            per_pass.append(row)
        per_layer = {k: (median([row[k][0] for row in per_pass]), u)
                     for k, (_, u) in per_pass[0].items()}
        keys = ("sec", "py4j_calls", "py4j_s", "plan_s", "jobs", "eager_jobs",
                "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb",
                "worker_cpu_s", "rows")
        per_op = {}
        for op in self.wl.ops:
            recs = [r for r in self.traced_ops if r["op"] == op.name]
            if recs:
                per_op[op.name] = {k: median([r[k] for r in recs]) for k in keys}
                for k in ("layer_build_s", "layer_calls", "layer_jobs"):
                    per_op[op.name][k] = {
                        layer: median([r[k].get(layer, 0) for r in recs])
                        for layer in tracer.LAYERS}
        for r in self.traced_ops:
            del r["spans"]
        overhead = {k: traced_e2e[k] / untraced_e2e[k] - 1.0
                    for k in ("pass_s", "op_geomean_s", "cpu_s")
                    if untraced_e2e[k] and untraced_e2e[k] == untraced_e2e[k]}
        return {"per_layer": per_layer, "per_op": per_op,
                "traced_end_to_end": traced_e2e, "trace_overhead": overhead,
                "wrapped_functions": self.wrapped, "traced_ops": self.traced_ops}


UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "cpu_s": "s",
         "ops_ok_frac": "fraction"}


def _first_line(e: Exception) -> str:
    return str(e).splitlines()[0][:300] if str(e) else ""


def _self_cpu() -> float:
    t = os.times()
    return t.user + t.system


def _reap_children(timeout: float = 20.0) -> None:
    """Wait for every descendant process to exit; kill what remains."""
    deadline = time.monotonic() + timeout
    while len(probe.tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in probe.tree(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in probe.tree(os.getpid())[1:]:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _summary(record: dict, path: str) -> None:
    e = record["end_to_end"]
    print(f"# {record['workload']} seed={record['seed']} local[{record['cpus']}] "
          f"passes={len(record['passes'])} ops_failed_frac={record['ops_failed_frac']:.3f} "
          + " ".join(f"{k}={v:.4g}" for k, v in e.items())
          + f" steal_max={record['steal_pct_max']:.1f}% record={os.path.relpath(path, HERE)}",
          file=sys.stderr)
    for p in record["problems"]:
        print(f"# problem: {p}", file=sys.stderr)
    if "trace_overhead" in record:
        print(f"# trace overhead: {record['trace_overhead']}", file=sys.stderr)


def main(argv=None) -> int:
    from ops import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "fsharp_dataframe_spark"))):
        print("perfbench: run from the root of an fsharp_dataframe_spark "
              "checkout (no __spark_entry__.py / fsharp_dataframe_spark here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # SIGTERM unwinds like an exception, so the session is stopped and
    # the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    for d in os.listdir(runs):  # left behind by a run that was killed
        if not os.path.exists(f"/proc/{d.split('-')[1]}"):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=runs)
    for sub in ("local", "media", "work", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update({
        # keep the JVM's and Python's scratch files inside the checkout
        # (the JVM's perf-data file would go to /tmp)
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData"])),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_MEDIA_CACHE": os.path.join(run_dir, "media"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    os.chdir(os.path.join(run_dir, "work"))
    try:
        out = Run(args, run_dir).run()
    finally:
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
