"""Per-layer tracing, taken from outside the engine.

``Tracer.install()`` must run before ``__spark_entry__`` is imported.  It
wraps every public function (and public method of a public class) of the
``fsharp_dataframe_spark`` modules, and py4j's ``send_command``.  The
wrappers cost one attribute test while the tracer is disabled, so one
run can interleave traced and untraced passes and measure the overhead.

Layers are named after the modules (``MODULE_LAYERS``).  A layer's
``build_s`` is its self time: the time inside its public functions minus
the time in nested calls of other wrapped functions.  Spark jobs, stages
and tasks come from the event log, which the session writes to the run
directory and which is read after the session stops: each job carries
the operation's job group, and a job is attributed to the innermost
wrapped call that was open when it was submitted.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import time
from collections import defaultdict

import probe

PACKAGE = "fsharp_dataframe_spark"
# module prefix -> layer; the longest matching prefix wins
MODULE_LAYERS = {
    f"{PACKAGE}.frame": "frame",
    f"{PACKAGE}.series": "series",
    f"{PACKAGE}.operators": "operators",
    f"{PACKAGE}.sources": "sources",
    f"{PACKAGE}.functions.dedup": "dedup",
    f"{PACKAGE}.functions.graph": "graph",
    f"{PACKAGE}.functions.similarity": "similarity",
    f"{PACKAGE}.functions.multimodal": "multimodal",
    f"{PACKAGE}.functions.util": "util",
}
LAYERS = tuple(dict.fromkeys(MODULE_LAYERS.values())) + ("other",)
MB = 1024.0 * 1024.0


def layer_of(module: str) -> str:
    best = max((p for p in MODULE_LAYERS
                if module == p or module.startswith(p + ".")),
               key=len, default=None)
    return MODULE_LAYERS[best] if best else "other"


class Tracer:
    def __init__(self):
        self.enabled = False
        self.counting_py4j = False
        self._stack: list[list] = []  # [layer, child seconds]
        self.reset_op()

    def reset_op(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.spans: list[tuple[str, float, float, int]] = []  # layer, t0, t1 (epoch ms), depth
        self.py4j_calls = 0
        self.py4j_s = 0.0

    # ------------------------------------------------------------ install

    def install(self) -> int:
        """Wrap the package's public callables; returns how many."""
        pkg = importlib.import_module(PACKAGE)
        mods = [pkg] + [importlib.import_module(m.name) for m in
                        pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")]
        wrapped: dict[int, object] = {}
        for mod in mods:
            layer = layer_of(mod.__name__)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = w = self._wrap(obj, layer)
                    setattr(mod, name, w)
                elif inspect.isclass(obj):
                    for mname, m in list(vars(obj).items()):
                        if inspect.isfunction(m) and (mname == "__init__" or not mname.startswith("_")):
                            setattr(obj, mname, self._wrap(m, layer))
        # names bound by `from x import f` before the wrapping
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrapped and inspect.isfunction(obj):
                    setattr(mod, name, wrapped[id(obj)])
        self._patch_py4j()
        return len(wrapped)

    def _wrap(self, fn, layer: str):
        tr = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tr.enabled:
                return fn(*args, **kwargs)
            w0, t0 = time.time(), time.perf_counter()
            tr._stack.append([layer, 0.0])
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                _, child = tr._stack.pop()
                tr.self_s[layer] += dt - child
                tr.calls[layer] += 1
                if tr._stack:
                    tr._stack[-1][1] += dt
                tr.spans.append((layer, w0 * 1000.0, (w0 + dt) * 1000.0,
                                 len(tr._stack)))

        return traced

    def _patch_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tr = self

        def send_command(client, *args, **kwargs):
            if not tr.counting_py4j:
                return orig(client, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(client, *args, **kwargs)
            finally:
                tr.py4j_calls += 1
                tr.py4j_s += time.perf_counter() - t0

        GatewayClient.send_command = send_command

    # ------------------------------------------------------------ per op

    def run_op(self, spark, op, pass_dir: str, group: str, workers) -> dict:
        """Build, plan and collect ``op`` under job group ``group``;
        returns the driver-side part of its trace record."""
        sc = spark.sparkContext
        sc.setJobGroup(group, op.name)
        self.reset_op()
        cpu0, gc0 = workers(), jvm_gc_s(spark)
        t0 = time.perf_counter()
        self.enabled = self.counting_py4j = True
        try:
            df = op.build(spark, pass_dir)
        finally:
            self.enabled = self.counting_py4j = False
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        action_ms = time.time() * 1000.0
        output = df.toPandas()
        t3 = time.perf_counter()
        sc.setJobGroup("perfbench-idle", "idle")
        return {
            "group": group, "sec": t3 - t0, "build_s": t1 - t0,
            "plan_s": t2 - t1, "action_s": t3 - t2, "rows": len(output), "output": output,
            "py4j_calls": self.py4j_calls, "py4j_s": self.py4j_s,
            "worker_cpu_s": workers() - cpu0, "gc_s": jvm_gc_s(spark) - gc0,
            "action_ms": action_ms,
            "layer_build_s": dict(self.self_s), "layer_calls": dict(self.calls),
            "spans": self.spans,
        }


def jvm_gc_s(spark) -> float:
    """Collection seconds of the JVM's garbage collectors so far (in local
    mode the executors run in the driver JVM)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def python_workers_cpu(jvm_pid: int) -> float:
    """CPU seconds of the Python worker processes under the JVM."""
    pids = [p for p in probe.tree(jvm_pid)[1:] if probe.comm(p).startswith("python")]
    return probe.cpu_s(pids)


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """(jobs, tasks) from the session's event log.

    jobs: job id -> {"group", "submit_ms", "stages"};
    tasks: stage id -> list of per-task metric dicts."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    # one file, or a rolling log's directory of events_<n>_<app> parts
    # beside its appstatus marker and checksum files
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
             if not f.startswith((".", "appstatus"))]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev.get("Submission Time", 0),
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks[ev["Stage ID"]].append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "input_b": inp.get("Bytes Read", 0),
                        "input_rows": inp.get("Records Read", 0),
                        "sr_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "sr_rows": sr.get("Total Records Read", 0),
                        "sw_b": sw.get("Shuffle Bytes Written", 0),
                    })
    return jobs, tasks


def spark_side(rec: dict, jobs: dict, tasks: dict, claimed: set) -> dict:
    """Scheduler, executor, shuffle and source counters of one traced
    operation record, plus its jobs per layer."""
    mine = sorted(j for j, info in jobs.items() if info["group"] == rec["group"])
    stages = set()
    for j in mine:
        for s in jobs[j]["stages"]:
            if s in tasks and s not in claimed:
                stages.add(s)
    claimed |= stages  # a stage reused by a later job counts once
    ts = [t for s in stages for t in tasks[s]]
    layer_jobs: dict[str, int] = defaultdict(int)
    for j in mine:
        t = jobs[j]["submit_ms"]
        inner = [s for s in rec["spans"] if s[1] <= t <= s[2]]
        if inner:
            layer_jobs[max(inner, key=lambda s: s[3])[0]] += 1
    return {
        "jobs": len(mine),
        "eager_jobs": sum(1 for j in mine if jobs[j]["submit_ms"] < rec["action_ms"]),
        "stages": len(stages), "tasks": len(ts),
        "empty_tasks": sum(1 for t in ts if t["input_rows"] == 0 and t["sr_rows"] == 0),
        "task_s": sum(t["run_s"] for t in ts),
        "shuffle_write_mb": sum(t["sw_b"] for t in ts) / MB,
        "shuffle_read_mb": sum(t["sr_b"] for t in ts) / MB,
        "input_mb": sum(t["input_b"] for t in ts) / MB,
        "layer_jobs": dict(layer_jobs),
    }
