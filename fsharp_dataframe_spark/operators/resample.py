"""Resampling & time sampling (SURVEY.md §2.7) — the time-series core.

Reference engine: ``IIndexBuilder.Resample`` chunks an ordered index
against a boundary-key list; ``Direction.Forward`` = key begins its
chunk, ``Backward`` = key ends it (src/Indices/Index.fs:272-279,
src/Indices/LinearIndex.fs:260-283).  Behavior pinned by
tests/FSharp.DataFrame.Tests/Series.fs:117-235:

- Forward: chunk for boundary k_i is [k_i, k_{i+1}); the FIRST chunk
  absorbs rows before k_1; the last extends to +inf.
- Backward: chunk for k_i is (k_{i-1}, k_i]; the LAST chunk absorbs
  rows after k_m; the first extends to -inf.
- Empty chunks ARE produced for boundaries with no rows
  (Series.fs:221-227) — here they surface as NULL-valued keys.
- ``resampleUniform`` generates every projected key in [min, max] and
  fills gaps from the nearest-smaller chunk (TestForwardFillSampling).
- ``sampleTime start interval`` buckets are start-aligned, NOT
  epoch-aligned: grid = firstKey + k*interval (TestDownSampling).

Spark mapping: bucket assignment is a pure Column expression
(floor/ceil arithmetic for uniform grids; a broadcast boundary array
for explicit keys), then an ordinary groupBy — partial aggregation and
AQE handle scale.  The key spine for gap restoration is generated with
``sequence()`` from a 1-row min/max aggregate and broadcast-joined: at
100 TB the spine is still only O(range/step) rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fsharp_dataframe_spark.series import Series

_BUCKET = "__bucket"


def resample_equiv(s: Series, proj: Callable[[Column], Column],
                   agg: Callable[[Column], Column]) -> Series:
    """Group an ordered series by a key projection — `resampleEquiv`
    (src/SeriesModule.fs:726-752), e.g. proj = day-of timestamp.
    Plain groupBy: map-side partial agg + shuffle on the projected key.
    """
    s._require_ordered("resample_equiv")
    k0 = s.key_cols[0]  # projection applies to the leading (time) level
    out = (
        s.df.withColumn(_BUCKET, proj(F.col(k0)))
        .groupBy(_BUCKET)
        .agg(agg(s.value).alias(s.value_col))
        .withColumnRenamed(_BUCKET, k0)
    )
    return Series(out, key=[k0], value=s.value_col, ordered=True, _canonicalize=True)


def resample_explicit(s: Series, keys: list, direction: str,
                      agg: Callable[[Column], Column] | None = None) -> Series:
    """Chunk by explicit boundary keys — `resample`/`resampleInto`
    (src/Series.fs:388-441).  See module docstring for chunk semantics.

    Boundary list is driver-side and small (it is the output key set);
    it is embedded as a broadcast array literal and bucket assignment is
    ``array_max(filter(...))`` — O(m) per row, no join, no shuffle
    beyond the final groupBy.  Empty chunks come back NULL-valued via a
    left join from the boundary spine.
    """
    s._require_ordered("resample_explicit")
    if agg is None:
        agg = lambda v: F.max_by(v, s.key)  # noqa: E731  (lastValue default)
    keys = sorted(keys)
    barr = F.array(*[F.lit(k) for k in keys])
    kc = s.key
    if direction == "forward":
        # nearest boundary <= ts; rows before the first boundary absorb into it
        assigned = F.array_max(F.filter(barr, lambda b: b <= kc))
        bucket = F.coalesce(assigned, F.lit(keys[0]))
    elif direction == "backward":
        assigned = F.array_min(F.filter(barr, lambda b: b >= kc))
        bucket = F.coalesce(assigned, F.lit(keys[-1]))
    else:
        raise ValueError(direction)
    grouped = (
        s.df.withColumn(_BUCKET, bucket)
        .groupBy(_BUCKET)
        .agg(agg(s.value).alias(s.value_col))
    )
    spark = s.df.sparkSession
    spine = spark.createDataFrame([(k,) for k in keys], [_BUCKET])
    out = (
        spine.join(grouped, on=_BUCKET, how="left")
        .withColumnRenamed(_BUCKET, s.key_cols[0])
    )
    return Series(out, key=s.key_cols, value=s.value_col, ordered=True, _canonicalize=True)


def resample_uniform(s: Series, proj: Callable[[Column], Column], step,
                     agg: Callable[[Column], Column] | None = None,
                     lookup: str = "nearest_smaller") -> Series:
    """`resampleUniform` (src/SeriesModule.fs:781-834): group by
    projected key, generate ALL keys in [min, max] of the projected
    space, and fill gap keys from the nearest smaller chunk
    (tests TestDaySampling / TestForwardFillSampling).

    *step*: an INTERVAL string (e.g. ``"interval 1 day"``) for temporal
    keys or a numeric literal for numeric keys.  The spine is built with
    ``sequence()`` from the 1-row min/max aggregate — no driver action —
    and the grouped result is joined to it; gaps are filled with an
    ignorenulls window over the (small) spine.
    """
    s._require_ordered("resample_uniform")
    if agg is None:
        # lastValue default: order within the chunk by the ORIGINAL key
        # (the projected key is constant inside a chunk)
        agg = lambda v: F.max_by(v, s.key)  # noqa: E731
    step_col = F.expr(step) if isinstance(step, str) else F.lit(step)
    grouped = (
        s.df.withColumn("__projkey", proj(s.key))
        .groupBy("__projkey")
        .agg(agg(s.value).alias(s.value_col))
    )
    spine = (
        grouped.agg(F.min("__projkey").alias("__lo"), F.max("__projkey").alias("__hi"))
        .select(F.explode(F.sequence(F.col("__lo"), F.col("__hi"), step_col)).alias("__projkey"))
    )
    joined = spine.join(grouped, on="__projkey", how="left")
    if lookup == "nearest_smaller":
        w = Window.orderBy("__projkey").rowsBetween(Window.unboundedPreceding, 0)
        fill = F.last(F.col(s.value_col), ignorenulls=True).over(w)
    elif lookup == "nearest_greater":
        w = Window.orderBy("__projkey").rowsBetween(0, Window.unboundedFollowing)
        fill = F.first(F.col(s.value_col), ignorenulls=True).over(w)
    elif lookup == "exact":
        fill = F.col(s.value_col)
    else:
        raise ValueError(lookup)
    out = joined.select(F.col("__projkey").alias(s.key_cols[0]), fill.alias(s.value_col))
    return Series(out, key=s.key_cols, value=s.value_col, ordered=True, _canonicalize=True)


def _grid_origin(s: Series):
    """First key of the series — grid alignment origin (one tiny
    min-aggregate action; the column scan is parquet-stat-backed)."""
    return s.df.agg(F.min(s.key)).collect()[0][0]


def sample_time(s: Series, interval: str, agg: Callable[[Column], Column] | None = None,
                direction: str = "forward", origin=None) -> Series:
    """`sampleTimeInto interval dir f` (src/SeriesModule.fs:841-947):
    start-aligned uniform time buckets over the series range.

    Forward: chunk [k_i, k_{i+1}) keyed by its start;
    Backward: chunk (k_{i-1}, k_i] keyed by its end
    (TestDownSampling / forward-direction test).

    Bucketing is pure column arithmetic on epoch seconds — fully
    parallel, one shuffle for the groupBy.
    """
    s._require_ordered("sample_time")
    if agg is None:
        agg = (lambda v: F.max_by(v, s.key)) if direction == "backward" else (lambda v: F.min_by(v, s.key))
    if origin is None:
        origin = _grid_origin(s)
    iv = F.expr(f"interval {interval}") if not interval.lower().startswith("interval") else F.expr(interval)
    iv_secs = F.unix_timestamp(F.lit(origin) + iv) - F.unix_timestamp(F.lit(origin))
    elapsed = F.unix_timestamp(s.key) - F.unix_timestamp(F.lit(origin))
    if direction == "forward":
        steps = F.floor(elapsed / iv_secs)
    elif direction == "backward":
        steps = F.ceil(elapsed / iv_secs)
    else:
        raise ValueError(direction)
    bucket = F.timestamp_seconds(F.unix_timestamp(F.lit(origin)) + steps * iv_secs)
    out = (
        s.df.withColumn(_BUCKET, bucket)
        .groupBy(_BUCKET)
        .agg(agg(s.value).alias(s.value_col))
        .withColumnRenamed(_BUCKET, s.key_cols[0])
    )
    return Series(out, key=s.key_cols, value=s.value_col, ordered=True, _canonicalize=True)


def lookup_time(s: Series, interval: str, lookup: str = "nearest_smaller",
                start=None) -> Series:
    """`lookupTime` / `SeriesExtensions.Sample` (src/SeriesModule.fs:971-1000,
    src/SeriesExtensions.fs:408-510): generate grid keys start + k*interval
    while k <= lastKey + interval, then POINT-LOOKUP each grid key with
    as-of semantics (TestMinuteSampling / day-sampling tests).

    Grid spine via sequence(); bulk as-of via operators/asof.py — one
    window pass, not one lookup per grid point.
    """
    s._require_ordered("lookup_time")
    from fsharp_dataframe_spark.operators.asof import asof_lookup

    iv = F.expr(f"interval {interval}" if not interval.lower().startswith("interval") else interval)
    lo = F.max(F.lit(start)) if start is not None else F.min(s.key)
    agg = s.df.agg(lo.alias("__lo"), F.max(s.key).alias("__hi"))
    spine = agg.select(
        F.explode(F.sequence(F.col("__lo"), F.col("__hi") + iv, iv)).alias(s.key_cols[0])
    )
    direction = "backward" if lookup == "nearest_smaller" else "forward"
    out = asof_lookup(spine, s.df, key_cols=s.key_cols, value_col=s.value_col, direction=direction)
    return Series(out, key=s.key_cols, value=s.value_col, ordered=True, _canonicalize=False)
