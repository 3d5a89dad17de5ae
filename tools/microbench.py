"""Pinned repeated micro-bench for attributing round-over-round bench
drift (VERDICT r11 ask #2).

bench.py's per-query numbers are single-shot (min-of-2 on the >2s
tail) inside one 190-query session — good for a round artifact, too
noisy to attribute a 20-40% family drift.  This tool pins a small
query set the judge's way: ONE fresh session, the same warm-up
discipline as bench.py, then N>=5 repeats per query with
release_cached() between repeats, reporting every raw run plus the
median and min.  Run it before and after a change (or against two
checkouts on the same box back-to-back) and compare MEDIANS — the
median of 5 fresh-session repeats is stable to ~±3% on a quiet box,
where bench.py single-shots swing ±20% on the Python-heavy tail.

Usage:
    python tools/microbench.py [SF_DIR] [-n REPEATS] [--preload N] \
        QUERY [QUERY ...]
    # e.g. the r11 shingle-drift family + flat control:
    python tools/microbench.py /root/testdata/sf0.1 -n 5 \
        minhash_pairs ngram_jaccard incremental_dedup quantile_bins \
        containment_pairs ivf_train

Prints one JSON line per query to stdout:
    {"q": name, "runs": [...], "median": m, "min": lo, "load": [a, b]}
and a trailing summary line {"total_median": ..., "n_queries": ...}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import _cpu_times, _steal_pct, warm_up
from fsharp_dataframe_spark import get_spark


def main() -> None:
    argv = sys.argv[1:]
    repeats = 5
    if "-n" in argv:
        i = argv.index("-n")
        repeats = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    # --preload N (r14 VERDICT ask #2b): before timing, run the first
    # N registry queries (sorted-name order, untimed, release_cached
    # between) in THIS session — the session-position experiment.
    # bench.py times every query deep inside a 200+-query session;
    # fresh-session microbench medians can't see state that accretes
    # over a long session (JIT/codegen cache, JVM heap aging, Arrow
    # worker churn).  Compare --preload 0 vs --preload 100 medians on
    # the same box to measure that named cause directly.
    preload = 0
    if "--preload" in argv:
        i = argv.index("--preload")
        preload = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    sf_dir = "/root/testdata/sf0.1"
    if argv and os.path.isdir(argv[0]):
        sf_dir = argv[0]
        argv = argv[1:]
    names = argv
    if not names:
        print("usage: microbench.py [SF_DIR] [-n N] QUERY...", file=sys.stderr)
        sys.exit(2)
    qs = entrymod._all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="fsharp_dataframe_spark-microbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    # bench.py's warm-up (JVM/codegen, first shuffle, Arrow workers,
    # media fixture caches) so repeat #1 measures the plan, not
    # cold-start.
    warm_up(spark, sf_dir, cpus)
    from fsharp_dataframe_spark.functions.util import release_cached

    if preload:
        t0 = time.time()
        for pn in sorted(qs)[:preload]:
            qs[pn](spark, sf_dir).count()
            release_cached()
        print(f"# preload: {preload} queries in "
              f"{time.time()-t0:.1f}s (untimed)", file=sys.stderr)

    load0 = round(os.getloadavg()[0], 2)
    total_median = 0.0
    for name in names:
        q = qs[name]
        runs: list[float] = []
        steals: list[float] = []
        for _ in range(repeats):
            c0 = _cpu_times()
            t0 = time.time()
            q(spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
            steals.append(round(_steal_pct(c0, _cpu_times()), 1))
            release_cached()
        med = round(statistics.median(runs), 3)
        total_median += med
        print(json.dumps({
            "q": name, "runs": runs, "median": med,
            "min": min(runs),
            # per-run CPU steal % — co-tenant contention marker; a
            # run with >~8% steal is host-inflated (see bench.py)
            "steal": steals,
            "load": [load0, round(os.getloadavg()[0], 2)],
        }, separators=(",", ":")))
        sys.stdout.flush()
    print(json.dumps({
        "total_median": round(total_median, 3),
        "n_queries": len(names), "repeats": repeats, "sf_dir": sf_dir,
        "cpus": cpus, "preload": preload,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
