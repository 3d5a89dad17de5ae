"""Local mirror of the driver's t2 correctness gate.

Runs every __spark_entry__ query against its DuckDB oracle at a given
sf dir and reports row-count / schema / value mismatches, comparing
columns sorted by name with NaN/NULL canonicalization — the same
contract the driver applies.

Usage: python tools/check_oracle.py [sf_dir] [--driver-window] [query ...]

Without --driver-window it checks every registered query
(``_all_queries()``); with it, only ``queries()`` — the DRIVER_WINDOW
the driver's harness checks.

Sweep discipline (r12 VERDICT ask #7 — written down so it survives
builder turnover): the full 3-SF triple sweep (every registered query
at sf0.001 AND sf0.01 AND sf0.1) runs ONCE per round, at the final
gate, per SURVEY §8h.  Per-commit during the round, run the cheap
tier instead: this round's NEWCOMERS plus the query families the
commit actually touched, at all 3 SFs (bugs have been scale-dependent
in both directions — a sparse-bucket carry bug appeared only at
sf0.001, a float-sum ordering flip only at sf0.1 — so never drop an
SF from the per-commit tier; drop QUERIES, which is what the name
arguments are for).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if (isinstance(v, float) and math.isnan(v)) else v)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        return problems
    s, o = canon(sdf), canon(odf)
    if list(s.columns) != list(o.columns):
        problems.append(f"columns spark={list(s.columns)} oracle={list(o.columns)}")
        return problems
    for c in s.columns:
        sv, ov = s[c], o[c]
        # The driver hashes EXACT values: an int64 11757 vs a float64
        # 11757.0 is a hash mismatch even though values compare equal.
        # DuckDB widens integer sum() to HUGEINT (-> float64 via pandas)
        # unless the oracle casts ::BIGINT — flag the dtype-kind drift
        # here so it can never reach the driver again (bit r1/r2
        # union_prefer_left and r4 corpus_stats/rep_quality).
        s_int = pd.api.types.is_integer_dtype(sv)
        o_int = pd.api.types.is_integer_dtype(ov)
        s_flt = pd.api.types.is_float_dtype(sv)
        o_flt = pd.api.types.is_float_dtype(ov)
        if (s_int and o_flt) or (s_flt and o_int):
            problems.append(
                f"col {c}: dtype-kind drift spark={sv.dtype} oracle={ov.dtype} "
                f"(driver's exact hasher will mismatch — cast the oracle, "
                f"e.g. sum(x)::BIGINT)")
            continue
        if s_flt or o_flt:
            a = pd.to_numeric(sv, errors="coerce")
            b = pd.to_numeric(ov, errors="coerce")
            bad = ~(((a - b).abs() < 1e-9) | (a.isna() & b.isna()))
        else:
            bad = ~((sv == ov) | (sv.isna() & ov.isna()))
        if bad.any():
            i = bad.idxmax()
            problems.append(f"col {c}: {int(bad.sum())} diffs, first @{i}: "
                            f"spark={sv[i]!r} oracle={ov[i]!r}")
    return problems


def main():
    # --driver-window: run ONLY queries() (the driver's 50-query t2
    # window) in a DEFAULT-heap session — the exact harness shape the
    # driver runs, for pre-clearing a rotation before handover
    # (VERDICT r14 ask #1); without it, the full registry runs with
    # the 4g local-mode sizing documented below.
    argv = [a for a in sys.argv[1:] if a != "--driver-window"]
    driver_window = "--driver-window" in sys.argv[1:]
    sf = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    # Deliberately a VANILLA session (no get_spark) so this gate reproduces
    # the driver's harness, which builds its own plain SparkSession: any
    # reliance on get_spark()-only session confs fails here first.
    # ONE infra knob is sized, not semantic: driver memory.  The
    # driver's harness runs a 50-query window; this tool runs the
    # FULL registry in one session (4x the queries, and in local mode
    # executors share the driver JVM), and the default 1g heap was
    # observed dying ~117 queries into the sf0.1 sweep when the
    # payload-pair verify stages ran on an already-fragmented heap —
    # a local-mode sizing artifact (a real cluster gives executors
    # their own memory; payloads never transit a driver).  4g mirrors
    # the 128 GiB bench box; every SEMANTIC conf stays vanilla.
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .appName("check_oracle"))
    if not driver_window:
        b = b.config("spark.driver.memory", "4g")
    spark = b.getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    # the driver only sees queries() (DRIVER_WINDOW); the local gate
    # checks every registered query, so the window never relaxes the
    # correctness bar
    if driver_window:
        qs = entrymod.queries()
        oracles = entrymod.oracle_sql()
    else:
        qs = entrymod._all_queries()
        oracles = entrymod._all_oracle_sql()
    n_ok = n_bad = 0
    for name, q in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q(spark, sf).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e).splitlines()[0][:200]}")
            n_bad += 1
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows={len(sdf)} (no oracle — rows-only)")
            n_ok += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {str(e).splitlines()[0][:200]}")
            n_bad += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_bad += 1
        else:
            print(f"OK    {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
            n_ok += 1
        # release per-query sketch caches: 67 queries' worth of
        # persisted shingle/signature relations otherwise pile up in
        # one session (correctness gate — timings here aren't compared)
        from fsharp_dataframe_spark.functions.util import release_cached

        release_cached()
    print(f"\n{n_ok} ok, {n_bad} failing")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
