"""Per-query structural profiler for the optimization rounds.

For each named query (default: every registered query) this runs the
same warm-up + count() methodology as bench.py ONCE, but wrapped in a
job group so it can report, next to the wall clock, the number of
Spark JOBS the query launched — the instrument that separates
"slow because the plan shuffles too much" from "slow because the
query is a chain of tiny driver-synchronized jobs" (each local-mode
job round-trip costs ~20-60 ms of pure scheduler latency, so a query
that launches 30 jobs carries ~1s of floor no operator tuning can
remove).  Optionally writes `.explain("formatted")` for each query to
plans/<tag>/<name>_<suffix>.txt (the judge-facing plan evidence).

Usage:
    python tools/profile_query.py [SF_DIR] [--plans TAG SUFFIX] \
        [QUERY ...]
    # e.g. profile the heavy tail and save before-plans:
    python tools/profile_query.py /root/testdata/sf0.1 \
        --plans r15 before audio_overlap_dedup image_crop_verify

Prints one JSON line per query:
    {"q": name, "sec": s, "jobs": n, "tasks": t, "stages": st}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import warm_up
from fsharp_dataframe_spark import get_spark


def main() -> None:
    argv = sys.argv[1:]
    plans_tag = plans_suffix = None
    if "--plans" in argv:
        i = argv.index("--plans")
        plans_tag, plans_suffix = argv[i + 1], argv[i + 2]
        argv = argv[:i] + argv[i + 3:]
    sf_dir = "/root/testdata/sf0.1"
    if argv and os.path.isdir(argv[0]):
        sf_dir = argv[0]
        argv = argv[1:]
    qs = entrymod._all_queries()
    names = argv or sorted(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    extra = None
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG", "")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": ev_dir}
    spark = get_spark(
        app_name="fsharp_dataframe_spark-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra,
    )
    sc = spark.sparkContext
    # bench.py's warm-up (JVM/codegen/Arrow workers + the media
    # fixture parquet caches) so timings measure the plan.
    warm_up(spark, sf_dir, cpus)
    from fsharp_dataframe_spark.functions.util import release_cached

    release_cached()

    plans_dir = None
    if plans_tag:
        plans_dir = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "plans", plans_tag)
        os.makedirs(plans_dir, exist_ok=True)

    total = 0.0
    for name in names:
        q = qs[name]
        group = f"profile-{name}"
        sc.setJobGroup(group, name)
        sc.setJobDescription(name)
        t0 = time.time()
        df = q(spark, sf_dir)
        rows = df.count()
        sec = round(time.time() - t0, 3)
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        n_stages = 0
        n_tasks = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is not None:
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None and si.numTasks > 0:
                        n_stages += 1
                        n_tasks += si.numTasks
        if plans_dir is not None:
            p = os.path.join(plans_dir, f"{name}_{plans_suffix}.txt")
            with open(p, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        sc.setJobGroup("idle", "idle")
        release_cached()
        total += sec
        print(json.dumps({
            "q": name, "sec": sec, "rows": rows,
            "jobs": len(job_ids), "stages": n_stages, "tasks": n_tasks,
        }, separators=(",", ":")))
        sys.stdout.flush()
    print(json.dumps({"total_sec": round(total, 3),
                      "n_queries": len(names)},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
