"""Round-11 TPC-H completion batch: q2/q7/q8/q9/q11/q12/q16/q20 close
the last plan classes, so all 22 classic TPC-H query shapes are now
registered (each adapted to the synthetic schema where partsupp /
shipmode / commit dates don't exist — the ADAPTATIONS note in each
query's docstring records the mapping).

Pins here are PLAN contracts — value correctness is the DuckDB oracle
(tools/check_oracle.py + test_oracle_dtypes newcomer gate)."""

import re

from pyspark.sql import functions as F

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = entry._all_queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_line(plan, table):
    return next(l for l in plan.splitlines()
                if "FileScan" in l and f"{table}.parquet" in l)


def test_all_22_tpch_classes_registered():
    have = {k for k in entry._all_queries() if k.startswith("tpch_q")}
    assert have == {f"tpch_q{i}" for i in range(1, 23)}, (
        "the full 22-query TPC-H plan-class suite must stay registered")
    assert have <= set(entry._all_oracle_sql()), "every TPC-H query needs a DuckDB oracle"


# ------------------------------------------------------------- q2


def test_tpch_q2_single_fact_scan_and_topk(spark):
    """The grouped-argmin decorrelation contract: the (part, supplier)
    cost rollup is persisted and feeds BOTH the per-part min and the
    join-back probe (two cache reads), lineitem is scanned ONCE, and
    the top-100 is a TakeOrderedAndProject — never a global sort."""
    from fsharp_dataframe_spark.functions.util import release_cached

    try:
        plan = _plan(spark, "tpch_q2")
    finally:
        release_cached()
    # the plan STRING reprints the cached build plan under each
    # InMemoryTableScan (the q17/q15 pins' lesson), so the single-scan
    # contract is "exactly two cache reads", not a FileScan count
    assert plan.count("InMemoryTableScan") == 2
    assert plan.count("TakeOrderedAndProject") == 1
    assert "CartesianProduct" not in plan
    # the part predicate reaches the dim scan before it broadcasts
    pt = _scan_line(plan, "part")
    assert "p_type" in pt and "p_size" in pt


# ------------------------------------------------------------- q7


def test_tpch_q7_dim_filters_reduce_facts_before_join(spark):
    """Both nation maps are pre-restricted before broadcasting (each
    broadcast is also a fact semi-reduction), the ship-date window
    reaches the lineitem scan, and the cross-branch residual never
    becomes a cartesian."""
    plan = _plan(spark, "tpch_q7")
    li = _scan_line(plan, "lineitem")
    assert "l_shipdate" in li  # date window pushed to the fact scan
    assert plan.count("BroadcastHashJoin") >= 2  # sn and cn maps
    assert "CartesianProduct" not in plan
    n = _scan_line(plan, "nation")
    assert "n_name" in n  # the two-nation restriction reaches the dim


# ------------------------------------------------------------- q8


def test_tpch_q8_share_is_one_aggregate_pass(spark):
    """Numerator and denominator of the market share ride ONE
    aggregate over ONE lineitem scan — the correlated two-query form
    would plant a second fact subtree."""
    plan = _plan(spark, "tpch_q8")
    assert len(re.findall(r"FileScan parquet[^\n]*lineitem", plan)) == 1
    pt = _scan_line(plan, "part")
    assert "p_type" in pt  # type filter reaches the part scan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------- q9


def test_tpch_q9_like_prefix_pushes_to_part_scan(spark):
    """The p_name LIKE 'red %' prefix compiles to a pushed
    StringStartsWith on the part scan (a prefix LIKE is
    stats-prunable; a general '%x%' would not be), and lineitem is
    scanned once."""
    plan = _plan(spark, "tpch_q9")
    pt = _scan_line(plan, "part")
    assert "StringStartsWith" in pt
    assert len(re.findall(r"FileScan parquet[^\n]*lineitem", plan)) == 1
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------- q11


def test_tpch_q11_single_scan_scalar_threshold(spark):
    """The persisted part-grain value relation feeds BOTH the one-row
    (total, n_parts) aggregate and the HAVING probe (two cache reads,
    one lineitem scan) — never a second fact scan per subquery."""
    from fsharp_dataframe_spark.functions.util import release_cached

    try:
        plan = _plan(spark, "tpch_q11")
    finally:
        release_cached()
    # two cache reads == both consumers fed from the one persisted
    # build (FileScan lines reprint under each read — q17 pin lesson)
    assert plan.count("InMemoryTableScan") == 2
    assert "SortMergeJoin" not in plan


# ------------------------------------------------------------- q12


def test_tpch_q12_residual_non_equi_stays_residual(spark):
    """The ship-year window prunes the lineitem scan; the cross-
    relation interval predicate (shipdate > orderdate + 90 days)
    cannot push into either scan and must evaluate as a join residual
    — the pin is that it did NOT turn the equi-join into a range/
    nested-loop join."""
    plan = _plan(spark, "tpch_q12")
    li = _scan_line(plan, "lineitem")
    assert "l_shipdate" in li  # the date RANGE still prunes the scan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the residual interval comparison survives post-join
    assert "90" in plan and "l_shipdate" in plan


def test_tpch_q12_planted_late_classification(spark):
    """'Late' = shipped > 90 days after order: 91 days counts, 90 does
    not; priority split is URGENT/HIGH vs the rest."""
    from datetime import datetime

    li = spark.createDataFrame(
        [(1, "R", datetime(1997, 4, 2)),    # 91 days after 1997-01-01
         (2, "R", datetime(1997, 4, 1)),    # exactly 90 -> not late
         (3, "N", datetime(1997, 6, 1))],
        "l_orderkey long, l_returnflag string, l_shipdate timestamp")
    o = spark.createDataFrame(
        [(1, datetime(1997, 1, 1), "1-URGENT"),
         (2, datetime(1997, 1, 1), "1-URGENT"),
         (3, datetime(1997, 1, 1), "5-LOW")],
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string")
    j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
         .filter(F.col("l_shipdate")
                 > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    got = {r["l_returnflag"]: (r["h"], r["l"]) for r in
           j.groupBy("l_returnflag")
            .agg(F.sum(high.cast("long")).alias("h"),
                 F.sum((~high).cast("long")).alias("l")).collect()}
    assert got == {"R": (1, 0), "N": (0, 1)}


# ------------------------------------------------------------- q16


def test_tpch_q16_blacklist_is_broadcast_anti_join(spark):
    """The NOT IN exclusion decorrelates to a BROADCAST LeftAnti (the
    blacklist is supplier-bounded and null-free), the bridge distinct
    and the grouped count-distinct never re-scan the fact table."""
    plan = _plan(spark, "tpch_q16")
    assert "LeftAnti" in plan
    anti = next(l for l in plan.splitlines() if "LeftAnti" in l)
    assert "Broadcast" in anti
    assert len(re.findall(r"FileScan parquet[^\n]*lineitem", plan)) == 1
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------- q20


def test_tpch_q20_both_aggregates_one_rollup_pass(spark):
    """The nested-IN decorrelation contract (the q21 discipline): the
    per-(part,supplier) all-time quantity AND the per-part 1997
    quantity both fall out of ONE lineitem scan + ONE window pass
    over the already-collapsed rollup; the qualifying set enters the
    supplier dim as a broadcast LeftSemi."""
    plan = _plan(spark, "tpch_q20")
    assert len(re.findall(r"FileScan parquet[^\n]*lineitem", plan)) == 1
    assert plan.count("Window") == 1
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q20_zero_1997_volume_excluded(spark):
    """The correlated scalar subquery is NULL for parts with no 1997
    lines — the comparison is false and the supplier must NOT
    qualify, however dominant its all-time volume (the adaptation
    preserves the spec's NULL semantics via the qty97_part > 0
    guard)."""
    from datetime import datetime

    from pyspark.sql import Window

    li = spark.createDataFrame(
        [(100, 1, 40.0, datetime(1996, 5, 1)),   # part 100: no 1997 rows
         (200, 1, 30.0, datetime(1997, 5, 1)),   # part 200: supp 1 is
         (200, 2, 10.0, datetime(1997, 6, 1))],  # dominant (30 > 40/2)
        "l_partkey long, l_suppkey long, l_quantity double, "
        "l_shipdate timestamp")
    qty_l = F.round(F.col("l_quantity")).cast("long")
    in97 = ((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    rollup = (li.groupBy("l_partkey", "l_suppkey")
              .agg(F.sum(qty_l).alias("qty_all"),
                   F.sum(F.when(in97, qty_l).otherwise(F.lit(0)))
                   .alias("qty_97")))
    w = Window.partitionBy("l_partkey")
    qual = (rollup.withColumn("qty97_part", F.sum("qty_97").over(w))
            .filter((F.col("qty97_part") > 0)
                    & (F.col("qty_all") * 2 > F.col("qty97_part")))
            .select("l_suppkey").distinct())
    assert {r["l_suppkey"] for r in qual.collect()} == {1}
