"""Structured-Streaming variants of the time-series operators (§2.7).

The reference has NO streaming operators (SURVEY.md §2.7 streaming
note) — these are the parity-plus upgrades its batch resampling API
maps onto when the events table is a stream:

- ``sampleTime``      → tumbling `F.window(ts, interval)` + watermark;
- ``resampleEquiv``   → keyed aggregation on a key projection + watermark;
- exact dedup         → `withWatermark + dropDuplicates` (stateful,
                        bounded state — the streaming ingest tier of
                        functions/dedup.exact_dedup);
- forward-fill (LOCF) → `applyInPandasWithState` custom stateful tier
                        (one state row per entity, carry across
                        micro-batches and restarts);
- latest-per-entity   → `max_by(value, ts)` per key (update mode), the
                        streaming face of the as-of "last value";
- sessionization      → `F.session_window(ts, gap)` (native stateful
                        session windows).

All are plan constructors over an unbounded DataFrame: identical
Column expressions to the batch operators, so Catalyst plans the
incremental execution.  Each aggregation carries a watermark so state
is bounded — required for append sinks and the only shape that
survives an unbounded 100 TB/day stream.

``run_to_memory`` drives a stream to completion synchronously for
tests (availableNow trigger + memory sink), per the public pattern of
testing streams against a static parquet directory.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_stream_parquet(spark: SparkSession, path: str, schema) -> DataFrame:
    """Parquet-directory stream (each file = a micro-batch of the same
    schema).  Streams need an explicit schema — no inference job runs
    on an unbounded source."""
    return spark.readStream.format("parquet").schema(schema).load(path)


def stream_sample_time(
    sdf: DataFrame,
    interval: str,
    aggs: dict[str, Column],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming `sampleTime` (batch analog src/SeriesModule.fs:841-947):
    tumbling windows of *interval*, aggregated by *aggs*; late rows
    beyond *watermark* are dropped, closing windows for append output."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), interval).alias("w"))
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(F.col("w.start").alias("bucket"), *aggs.keys())
    )


def stream_resample_equiv(
    sdf: DataFrame,
    interval: str,
    aggs: dict[str, Column],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming `resampleEquiv` (src/SeriesModule.fs:726-752): the key
    projection must be a time truncation on a stream (only window /
    session_window grouping keeps the watermark eviction contract), so
    the projection is expressed as a tumbling-window interval — e.g.
    ``date_trunc('day', ts)`` ≡ interval '1 day'."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), interval).alias("w"))
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(F.col("w.start").alias("key"), *aggs.keys())
    )


def stream_exact_dedup(
    sdf: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per id within the
    watermark horizon — bounded state, the streaming ingest tier in
    front of the batch dedup cascade (functions/dedup.py)."""
    return sdf.withWatermark(ts_col, watermark).dropDuplicates(id_cols)


def stream_near_dup_candidates(
    sdf: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Streaming near-duplicate CANDIDATES: documents arriving within
    one watermark horizon of each other that collide in a MinHash LSH
    band — the streaming ingest face of the batch cascade
    (functions/dedup.py minhash_lsh_pairs; same band construction, so
    a candidate pair here is a candidate pair there).

    Shape: per-doc band signatures (narrow map, no state) → watermarked
    stream-stream SELF-join on (band, band_sig) with a bounded time
    range — Spark keeps only one horizon of band keys in state, so
    state is O(rate × watermark), independent of corpus size.  The
    exact-Jaccard verify tier stays a batch job over the emitted
    candidate ids (verification needs full documents; at 100 TB you
    do not hold the corpus in stream state).

    Returns (id_a, id_b, band) — deduplication of multi-band
    collisions is the downstream batch verify's first groupBy (a
    streaming dropDuplicates here would hold every emitted pair in
    state for the horizon for no correctness gain).
    """
    from fsharp_dataframe_spark.functions.dedup import word_shingles

    r = k // bands
    # the batch path's explode→groupBy signature (minhash_signatures)
    # would be a stateful aggregation here, and Spark does not allow a
    # stream-stream join downstream of one — so the signature is a
    # single aggregate-fold over the shingle array: ONE reference to
    # the (expensive) shingle construction, k mins updated per shingle.
    # Interpreted HOF, slower per row than the batch shape — the
    # streaming ingest trade is bounded state and legal plan shape,
    # not batch throughput.  Signatures are BIT-IDENTICAL to
    # minhash_signatures (same xxhash64 family, same "i|shingle"
    # preimage), so candidates here are candidates there.
    sh = word_shingles(F.col(text_col), n)
    init = F.array_repeat(F.lit((1 << 63) - 1).cast("long"), k)
    sig = F.aggregate(
        sh, init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(F.concat(F.lit(str(i) + "|"), s))
                      for i in range(k)]),
            lambda a, h: F.least(a, h)))
    banded = sdf.select(
        F.col(id_col), F.col(ts_col), sig.alias("__mh"),
    ).select(
        id_col, ts_col,
        F.posexplode(F.array(*[
            F.xxhash64(F.concat_ws(",", *[F.col("__mh")[b * r + j].cast("string")
                                          for j in range(r)]))
            for b in range(bands)
        ])).alias("band", "band_sig"),
    ).withWatermark(ts_col, watermark)

    l = banded.alias("l")
    rr = banded.alias("r")
    # bounded-range condition: required for stream-stream state cleanup
    return (
        l.join(
            rr,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            # symmetric bound: id order is independent of arrival order,
            # so the range must cover r before OR after l; both
            # inequalities are still watermark-bounded, so state on each
            # side is one horizon deep
            & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}") - F.expr(f"INTERVAL {watermark}"))
            & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {watermark}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.col("l.band").alias("band"))
    )


def stream_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    keys: list[str],
    point_ts: str = "ts",
    start: str = "w_start",
    end: str = "w_end",
    point_watermark: str = "1 hour",
    interval_watermark: str = "1 day",
) -> DataFrame:
    """Streaming keyed interval join — the live twin of
    functions/timeseries.interval_join's keyed path: a stream-stream
    equi-join on ``keys`` whose range predicate
    (start <= t < end) is the event-time condition Spark uses to bound
    join state.  Both sides carry watermarks, so point state lives one
    ``point_watermark`` horizon and interval state one
    ``interval_watermark`` horizon past its end — O(rate × horizon)
    state, independent of history length (the batch path's per-key
    fan-out bound, restated in time).

    Column names must not collide across the two streams (same
    contract as the batch operator); the interval's key columns are
    dropped from the output.
    """
    p = points.withWatermark(point_ts, point_watermark).alias("__pts")
    i = intervals.withWatermark(end, interval_watermark).alias("__iv")
    t = F.col(f"__pts.{point_ts}")
    cond = [F.col(f"__pts.{k}") == F.col(f"__iv.{k}") for k in keys] + [
        t >= F.col(f"__iv.{start}"), t < F.col(f"__iv.{end}")]
    out = p.join(i, cond, "inner")
    for k in keys:
        out = out.drop(i[k])
    return out


def stream_latest_by(
    sdf: DataFrame,
    by: list[str],
    value_col: str = "value",
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Latest value per entity — the streaming face of the as-of 'last
    value at-or-before now' (update-mode sink)."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(*by)
        .agg(F.max_by(F.col(value_col), F.col(ts_col)).alias("latest_value"),
             F.max(ts_col).alias("latest_ts"))
    )


def stream_session_windows(
    sdf: DataFrame,
    gap: str,
    by: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Sessionization via native session windows — the streaming analog
    of `chunkWhile` with a gap predicate (stateful, merge-on-overlap).

    ``sum_value`` uses the same fixed-point discipline as the batch
    `functions/events.session_stats` (sum of integer ten-thousandths,
    then round to 2 decimals): partial aggregation order never moves
    the result, so the streaming output hash-matches the batch oracle
    SQL exactly (tests/test_streaming.py oracle-hash loop)."""
    isum = F.sum(F.round(F.col("value") * 10000).cast("long"))
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(*by, F.session_window(F.col(ts_col), gap).alias("s"))
        .agg(F.count("*").alias("n_events"),
             F.round(isum / 10000.0, 2).alias("sum_value"))
        .select(*by, F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"), "n_events", "sum_value")
    )


def _interval_seconds(interval: str) -> int | None:
    """Parse simple '<n> <unit>' interval strings to seconds (None if
    unrecognized) — spelling-insensitive, so '7 DAYS', '1 week' and
    '168 hours' all register as weekly."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*(second|minute|hour|day|week)s?\s*",
                     interval.lower())
    if not m:
        return None
    mult = {"second": 1, "minute": 60, "hour": 3600,
            "day": 86_400, "week": 604_800}[m.group(2)]
    return int(m.group(1)) * mult


def stream_ohlc(
    sdf: DataFrame,
    key: str,
    interval: str = "7 days",
    start_offset: str | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming OHLC bars — the live tier of
    functions/timeseries.ohlc_resample, as a keyed tumbling-window
    aggregate: min_by/max_by over a (ts, tiebreak) struct carry a
    single struct per partial state, so per-bar state is O(1) and the
    watermark closes bars for append output.

    ``start_offset`` aligns the tumbling grid to the batch calendar:
    Spark windows start at the epoch (1970-01-01, a Thursday), so
    weekly bars need a 4-day offset to land on Mondays and hash-match
    the batch `date_trunc('week')` oracle (the test_streaming.py
    oracle-hash loop pins exactly that).  The default: any whole-week
    multiple ('7 days', '2 weeks', '28 days'...) gets the 4-day
    offset — formally 345600 mod the slide, but every whole-week
    slide exceeds 345600 s, so the literal is the value; it anchors
    Monday 1970-01-05 as a bar start on every such grid, the anchor
    date_trunc-style calendars use — and '0 seconds' otherwise: an
    offset must be shorter than the slide, so a fixed 4-day default
    would reject every sub-weekly bar width at analysis.
    """
    if start_offset is None:
        secs = _interval_seconds(interval)
        start_offset = ("4 days" if secs and secs % 604_800 == 0
                        else "0 seconds")
    tie = [F.col(tiebreak)] if tiebreak else []
    order = F.struct(F.col(ts_col), *tie)
    v = F.col(value_col)
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.col(key),
                 F.window(F.col(ts_col), interval, interval,
                          start_offset).alias("w"))
        .agg(F.min_by(v, order).alias("open"),
             F.max(v).alias("high"),
             F.min(v).alias("low"),
             F.max_by(v, order).alias("close"),
             F.count(v).alias("n"))
        .select(key, F.col("w.start").cast("date").alias("bucket"),
                "open", "high", "low", "close", "n")
    )


def stream_fill_forward(
    sdf: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming forward-fill (LOCF) per entity — the custom STATEFUL
    operator tier (`applyInPandasWithState`): the streaming face of the
    batch directional fill (§2.8, src/Series.fs fillMissing Direction
    semantics).

    State per key = the last observed (event-time, value); each
    micro-batch's rows are sorted by event time, missing values are
    filled from the carry, and the carry survives across micro-batches
    (and restarts, via the checkpoint) so a batch that begins with
    missing rows fills from the previous batch's last observation.
    State is one row per entity — bounded regardless of stream length.
    Arrival-order caveat (standard for custom state): a row arriving in
    a LATER micro-batch than a row with greater event time is filled
    from the newest state seen so far, exactly like the reference's
    sequential scan would if replayed in arrival order.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_field = sdf.schema[key_col]
    ts_field = sdf.schema[ts_col]
    val_field = sdf.schema[value_col]
    out_schema = T.StructType([key_field, ts_field, val_field])
    state_schema = T.StructType([T.StructField("last_value", val_field.dataType, True)])

    def fn(key, pdfs, state):
        last = state.get[0] if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col, ignore_index=True)
            vals = pdf[value_col].tolist()
            for i, v in enumerate(vals):
                if v is None or v != v:  # None or NaN → missing
                    vals[i] = last
                else:
                    last = v
            pdf[value_col] = vals
            out.append(pdf[[key_col, ts_col, value_col]])
        state.update((last,))
        yield pd.concat(out) if out else pd.DataFrame(
            columns=[key_col, ts_col, value_col])

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    )


def stream_ewma(
    sdf: DataFrame,
    alpha: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming per-entity EWMA (y_0 = x_0, y = (1-α)y + αx) — the
    stateful face of Series.ewma (operators/ewma.py).  State per key is
    ONE double (the running mean) — bounded for any stream length; it
    survives micro-batch boundaries and restarts via the checkpoint.
    Null values are skipped without advancing the state, matching the
    batch operator's drop-nulls contract.  Same arrival-order caveat as
    stream_fill_forward: rows are folded in (event-time-sorted)
    arrival order per micro-batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    a = float(alpha)
    one_m_a = 1.0 - a
    key_field = sdf.schema[key_col]
    ts_field = sdf.schema[ts_col]
    out_schema = T.StructType(
        [key_field, ts_field, T.StructField(value_col, T.DoubleType(), True)])
    state_schema = T.StructType([T.StructField("y", T.DoubleType(), True)])

    def fn(key, pdfs, state):
        y = state.get[0] if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col, ignore_index=True)
            keep, ys = [], []
            for i, x in enumerate(pdf[value_col].tolist()):
                if x is None or x != x:  # missing: state unchanged
                    continue
                y = float(x) if y is None else one_m_a * y + a * float(x)
                keep.append(i)
                ys.append(y)
            sub = pdf.iloc[keep][[key_col, ts_col]].copy()
            sub[value_col] = ys
            out.append(sub)
        if y is not None:
            state.update((y,))
        yield pd.concat(out) if out else pd.DataFrame(
            columns=[key_col, ts_col, value_col])

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    )


def stream_rolling_corr(
    sdf: DataFrame,
    n: int,
    x_col: str,
    y_col: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    out_col: str = "rolling_corr",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming trailing n-row Pearson correlation per entity — the
    stateful face of Frame.rolling_corr.  State per key is the ring
    buffer of the last n (x, y) pairs (two double arrays, bounded by n
    whatever the stream length); each micro-batch folds its rows in
    event-time order, emits the correlation over the trailing window
    spanning the batch boundary, and keeps the newest n pairs.  The
    same guarded moment-sum formula as the batch operator: < 2 pairs
    or a zero-variance side yields NULL (no ANSI divide-by-zero).

    Missing-pair semantics: a row with a NULL/NaN x or y emits NULL
    and does NOT consume a window slot (absent observation, state
    unchanged) — the batch operator instead counts every ROW in its
    frame; equivalence to the batch form holds on complete pairs.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    nn = int(n)
    key_field = sdf.schema[key_col]
    ts_field = sdf.schema[ts_col]
    out_schema = T.StructType(
        [key_field, ts_field, T.StructField(out_col, T.DoubleType(), True)])
    state_schema = T.StructType([
        T.StructField("xs", T.ArrayType(T.DoubleType()), True),
        T.StructField("ys", T.ArrayType(T.DoubleType()), True),
    ])

    def corr_of(xs, ys):
        cnt = float(len(xs))
        if cnt < 2:
            return None
        sx, sy = sum(xs), sum(ys)
        sxx = sum(v * v for v in xs)
        syy = sum(v * v for v in ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        den1 = cnt * sxx - sx * sx
        den2 = cnt * syy - sy * sy
        if den1 <= 0 or den2 <= 0:
            return None
        return (cnt * sxy - sx * sy) / math.sqrt(den1 * den2)

    def fn(key, pdfs, state):
        xs, ys = ([], [])
        if state.exists:
            got = state.get
            xs, ys = list(got[0] or []), list(got[1] or [])
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col, ignore_index=True)
            vals = []
            for x, y in zip(pdf[x_col].tolist(), pdf[y_col].tolist()):
                ok = (x is not None and x == x
                      and y is not None and y == y)
                if ok:
                    xs.append(float(x))
                    ys.append(float(y))
                    if len(xs) > nn:
                        xs.pop(0)
                        ys.pop(0)
                    vals.append(corr_of(xs, ys))
                else:
                    vals.append(None)
            sub = pdf[[key_col, ts_col]].copy()
            sub[out_col] = vals
            out.append(sub)
        state.update((xs, ys))
        yield pd.concat(out) if out else pd.DataFrame(
            columns=[key_col, ts_col, out_col])

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    )


def stream_funnel_state(
    sdf: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming funnel progression — the stateful sibling of the
    batch functions/events.funnel: per-key state is (stage reached,
    anchor event-time), each micro-batch's events are replayed in
    event-time order through the step machine (a step counts only
    STRICTLY after the previous step's first-touch anchor), and the
    op emits one row per key whose stage ADVANCED this batch.  State
    is two scalars per key — bounded regardless of stream length —
    and survives restarts via the checkpoint.

    Arrival-order caveat (standard for custom state, same contract as
    stream_fill_forward): an event arriving in a later micro-batch
    than an event with greater event time is applied in arrival
    order, so cross-batch disorder can miss progressions a batch
    replay would count.  Funnel counts are monotone in data seen, so
    the streaming result converges to the batch result whenever each
    key's events land in event-time order across batches (one batch =
    always exact).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_field = sdf.schema[key_col]
    out_schema = T.StructType([
        key_field,
        T.StructField("stage", T.LongType(), False),
        T.StructField("anchor_us", T.LongType(), True),
    ])
    state_schema = T.StructType([
        T.StructField("stage", T.LongType(), True),
        T.StructField("anchor_us", T.LongType(), True),
    ])
    def fn(key, pdfs, state):
        stage, anchor = (state.get if state.exists else (0, None))
        stage = int(stage or 0)
        start = stage
        # a group arrives as MULTIPLE Arrow chunks (split at
        # maxRecordsPerBatch) that are NOT time-ordered across chunks:
        # concatenate first, sort ONCE, then replay — sorting each
        # chunk independently would mis-order hot keys (>10k events/
        # batch) and silently miss progressions
        chunks = [pdf for pdf in pdfs]
        pdf = (pd.concat(chunks, ignore_index=True) if len(chunks) > 1
               else chunks[0]) if chunks else None
        if pdf is not None and len(pdf):
            pdf = pdf.sort_values(ts_col, ignore_index=True)
            us = (pdf[ts_col].astype("datetime64[us]").astype("int64")).tolist()
            types = pdf[type_col].tolist()
            for t, u in zip(types, us):
                if stage >= len(steps):
                    break
                if t == steps[stage] and (stage == 0 or u > anchor):
                    anchor = u
                    stage += 1
        state.update((stage, anchor))
        if stage > start:
            yield pd.DataFrame({key_col: [key[0]], "stage": [stage],
                                "anchor_us": [anchor]})

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    )


def stream_text_quality(sdf: DataFrame, text_col: str = "text") -> DataFrame:
    """Stateless per-document text stats — the batch Column exprs from
    functions/text.py applied 1:1 to a stream (no state, no watermark)."""
    from fsharp_dataframe_spark.functions import text as TX

    c = F.col(text_col)
    return sdf.withColumns({
        "n_tokens": TX.token_count(c),
        "punct_ratio": F.round(TX.punct_ratio(c), 4),
        "stopword_ratio": F.round(TX.stopword_ratio(c), 4),
        "lang_pred": TX.lang_id(c),
    })


def stream_decontaminate(sdf: DataFrame, benchmark: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         bench_text_col: str | None = None,
                         n: int = 3, max_hits: int = 0) -> DataFrame:
    """Streaming benchmark decontamination: drop documents whose
    word-n-gram shingles overlap the (static, batch) benchmark set in
    more than ``max_hits`` shingles.

    Same hit semantics as the batch ``contamination_overlap``
    (functions/dedup.py) and the same smallness contract — eval sets
    are thousands of documents, so their distinct shingle set is
    collected once and broadcast to the workers.  Each micro-batch is
    then a stateless narrow map (an Arrow-batched per-doc membership
    count): no stream-side explode, no aggregation state, no
    watermark needed — the shape that keeps up with an unbounded
    ingest stream.  For a benchmark too large to broadcast, run the
    batch operator on landed data instead; a stream-side shuffle join
    against a corpus-scale "benchmark" has no bounded-state form."""
    import re

    from pyspark.sql.functions import pandas_udf

    from fsharp_dataframe_spark.functions.dedup import shingle_table

    bench_sh = frozenset(
        r["shingle"]
        for r in shingle_table(benchmark, id_col=id_col,
                               text_col=bench_text_col or text_col, n=n)
        .select("shingle").distinct().collect())
    bvar = sdf.sparkSession.sparkContext.broadcast(bench_sh)
    ws = re.compile(r"\s+")

    @pandas_udf("int")
    def n_hits(texts: pd.Series) -> pd.Series:
        bset = bvar.value
        out = []
        for t in texts:
            if t is None:
                out.append(0)
                continue
            toks = [x for x in ws.split(t.lower()) if x != ""]
            grams = {" ".join(toks[i:i + n])
                     for i in range(max(len(toks) - n + 1, 0))}
            out.append(sum(1 for g in grams if g in bset))
        return pd.Series(out, dtype="int32")

    return (sdf.withColumn("_n_hit", n_hits(F.col(text_col)))
            .filter(F.col("_n_hit") <= max_hits).drop("_n_hit"))


def stream_repetition_filter(sdf: DataFrame, text_col: str = "text",
                             thresholds: dict[str, float] | None = None) -> DataFrame:
    """Gopher repetition filtering on a stream: the batch operator
    (functions/quality.repetition_filter) is a stateless per-row map,
    so it applies to an unbounded DataFrame unchanged."""
    from fsharp_dataframe_spark.functions.quality import repetition_filter

    return repetition_filter(sdf, text_col=text_col, thresholds=thresholds)


def stream_corpus_stats(sdf: DataFrame, lang_col: str = "lang",
                        text_col: str = "text") -> DataFrame:
    """Streaming per-language corpus rollup (the batch q_corpus_stats
    counters): doc count, total tokens, and order-exact mean quality
    in integer ten-thousandth units.  State is ONE row per language —
    bounded by key cardinality, not stream length, so no watermark is
    needed; run it in update mode for a live ingest dashboard.  The
    exact percentiles of the batch rollup are deliberately absent:
    their state is every observed value, which is unbounded on a
    stream — land the data and compute them in batch."""
    from fsharp_dataframe_spark.functions import text as TX

    c = F.col(text_col)
    per_doc = sdf.select(
        F.col(lang_col).alias("lang"),
        TX.token_count(c).alias("_n_tok"),
        (F.round(F.round(TX.quality_score(c), 4) * 10000)
         .cast("long")).alias("_q_units"),
    )
    return (per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("_n_tok").alias("total_tokens"),
        F.sum("_q_units").alias("_qu"))
        .select("lang", "n_docs", "total_tokens",
                F.round(F.col("_qu") / F.col("n_docs") / 10000.0, 4)
                 .alias("mean_quality")))


def stream_vocab_heavy_hitters(sdf: DataFrame, text_col: str = "text",
                               m: int = 1024, n_shards: int = 8) -> DataFrame:
    """Streaming corpus vocabulary with BOUNDED state: per-shard
    Misra–Gries summaries (Misra & Gries 1982, "Finding repeated
    elements"; the batched decrement form of Metwally et al.'s
    space-saving family).  The streaming face of the batch
    ``vocab_topk`` — exact token counts on a stream need a counter per
    DISTINCT token, which is unbounded; Misra–Gries keeps at most
    ``m`` counters and guarantees, per emitted token,

        est_count <= true_count <= est_count + max_err

    where ``max_err`` is the shard's cumulative decrement (0 until the
    summary ever overflows ``m`` — the estimate is EXACT while the
    shard vocabulary fits).

    Scale shape: tokens are sharded by hash into ``n_shards``
    independent summaries (the groupBy key), so state is m×n_shards
    counters total, the per-task merge work is bounded, and — because
    a token belongs to exactly one shard — shard summaries partition
    the vocabulary: global heavy hitters are the union of shard
    outputs, no cross-shard merge step.  Each micro-batch emits the
    updated summary rows for the shards it touched (update mode)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from fsharp_dataframe_spark.functions.text import tokens

    toks = sdf.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    sharded = toks.withColumn(
        "shard", F.pmod(F.xxhash64(F.col("token")), F.lit(n_shards)).cast("int"))
    out_schema = T.StructType([
        T.StructField("shard", T.IntegerType()),
        T.StructField("token", T.StringType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("max_err", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("toks", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("err", T.LongType()),
    ])

    def fn(key, pdfs, state):
        if state.exists:
            s_toks, s_counts, err = state.get
            d = dict(zip(s_toks, [int(c) for c in s_counts]))
        else:
            d, err = {}, 0
        for pdf in pdfs:
            for t, c in pdf["token"].value_counts().items():
                d[t] = d.get(t, 0) + int(c)
        if len(d) > m:
            # batched Misra–Gries decrement: subtract the (m+1)-th
            # largest count from everything, drop the non-positive —
            # at most m counters survive, error grows by the decrement
            dec = sorted(d.values(), reverse=True)[m]
            d = {t: c - dec for t, c in d.items() if c - dec > 0}
            err += dec
        state.update((list(d.keys()), list(d.values()), err))
        yield pd.DataFrame({
            "shard": key[0],
            "token": list(d.keys()),
            "est_count": list(d.values()),
            "max_err": err,
        })

    return sharded.groupBy("shard").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)


def run_to_memory(sdf: DataFrame, name: str, output_mode: str = "append",
                  checkpoint: str | None = None):
    """Drive a streaming plan to completion synchronously (availableNow
    + memory sink) and return the result table name — test harness.
    Pass ``checkpoint`` to make state survive a stop/start cycle (the
    restart test for stateful operators)."""
    w = (
        sdf.writeStream.outputMode(output_mode)
        .format("memory").queryName(name)
        .trigger(availableNow=True)
    )
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    q.processAllAvailable()
    q.stop()
    return name


def stream_last_touch(
    sdf: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    max_lag_s: int | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming last-touch attribution — the stateful twin of the
    batch functions/events.last_touch_attribution: state per key is
    ONE (touch event-time µs, touch type) pair; each micro-batch's
    events replay in event-time order (conversions before same-instant
    touches, the batch kind-bit discipline), conversions read the
    carried touch, touches update it.  Bounded state, one row emitted
    per conversion.

    Arrival-order caveat (standard for custom state, same contract as
    stream_fill_forward): a touch arriving in a later micro-batch than
    a conversion with greater event time is applied in arrival order —
    within one availableNow batch the result equals the batch operator
    exactly (the oracle-hash test pins that).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_field = sdf.schema[key_col]
    id_field = sdf.schema[id_col]
    out_schema = T.StructType([
        id_field, key_field,
        T.StructField("conv_ts_us", T.LongType(), False),
        T.StructField("touch_type", T.StringType(), True),
        T.StructField("touch_ts_us", T.LongType(), True),
        T.StructField("lag_s", T.LongType(), True),
    ])
    state_schema = T.StructType([
        T.StructField("touch_us", T.LongType(), True),
        T.StructField("touch_type", T.StringType(), True),
    ])
    touches = set(touch_types)
    max_lag_us = None if max_lag_s is None else int(max_lag_s) * 1_000_000

    def fn(key, pdfs, state):
        t_us, t_ty = (state.get if state.exists else (None, None))
        chunks = [pdf for pdf in pdfs]
        pdf = (pd.concat(chunks, ignore_index=True) if len(chunks) > 1
               else chunks[0]) if chunks else None
        rows = []
        if pdf is not None and len(pdf):
            # conversions sort BEFORE same-instant touches (kind 0<1),
            # so a same-µs touch never credits its own conversion
            pdf = pdf.assign(
                __us=pdf[ts_col].astype("datetime64[us]").astype("int64"),
                __kind=[0 if t == conversion_type else 1
                        for t in pdf[type_col]],
            ).sort_values(["__us", "__kind", id_col], ignore_index=True)
            for eid, ty, us in zip(pdf[id_col], pdf[type_col],
                                   pdf["__us"]):
                if ty == conversion_type:
                    ok = t_us is not None and (
                        max_lag_us is None or us - t_us <= max_lag_us)
                    rows.append((eid, key[0], int(us),
                                 t_ty if ok else None,
                                 int(t_us) if ok else None,
                                 (int(us) - int(t_us)) // 1_000_000
                                 if ok else None))
                elif ty in touches:
                    t_us, t_ty = int(us), ty
        state.update((t_us, t_ty))
        if rows:
            yield pd.DataFrame(
                rows, columns=[id_col, key_col, "conv_ts_us",
                               "touch_type", "touch_ts_us", "lag_s"])

    return (
        sdf.filter(F.col(type_col).isin([conversion_type, *touch_types]))
        .withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    )


def stream_gap_report(
    sdf: DataFrame,
    min_gap_s: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming data-gap monitor — the stateful twin of the batch
    functions/timeseries.gap_report ("which sensors went dark when",
    live): state per key is the LAST observation's event-time µs (one
    scalar; the id tiebreak only orders same-instant events inside a
    batch, so it is not carried); each micro-batch replays in
    (ts, id) order against the carried timestamp and emits one row per
    consecutive span strictly longer than ``min_gap_s`` (the batch
    strict-> convention: a gap of exactly min_gap_s is silence, not a
    report).  Bounded state, gap-count-sized output.

    Arrival-order caveat (the standard custom-state contract shared
    with stream_fill_forward / stream_last_touch): events arriving in
    a later micro-batch than a later-timestamped neighbour are applied
    in arrival order — within one availableNow batch the result
    equals the batch operator exactly (the oracle-hash test pins
    that), and the checkpointed last-timestamp carries gaps across
    batch boundaries and restarts.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_field = sdf.schema[key_col]
    out_schema = T.StructType([
        key_field,
        T.StructField("gap_start_us", T.LongType(), False),
        T.StructField("gap_end_us", T.LongType(), False),
        T.StructField("gap_s", T.LongType(), False),
    ])
    state_schema = T.StructType([
        T.StructField("last_us", T.LongType(), True),
    ])
    min_gap_us = int(min_gap_s) * 1_000_000

    def fn(key, pdfs, state):
        (last_us,) = state.get if state.exists else (None,)
        chunks = [pdf for pdf in pdfs]
        pdf = (pd.concat(chunks, ignore_index=True) if len(chunks) > 1
               else chunks[0]) if chunks else None
        rows = []
        if pdf is not None and len(pdf):
            pdf = pdf.assign(
                __us=pdf[ts_col].astype("datetime64[us]").astype("int64"),
            ).sort_values(["__us", id_col], ignore_index=True)
            for us in pdf["__us"]:
                us = int(us)
                if last_us is not None and us - last_us > min_gap_us:
                    rows.append((key[0], last_us, us,
                                 (us - last_us) // 1_000_000))
                last_us = us
        state.update((last_us,))
        if rows:
            yield pd.DataFrame(
                rows, columns=[key_col, "gap_start_us", "gap_end_us",
                               "gap_s"])

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    )


def stream_cusum(
    sdf: DataFrame,
    target: float,
    slack: float,
    threshold: float,
    scale: int = 10000,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming two-sided CUSUM drift monitor — the stateful twin of
    the batch functions/timeseries.cusum_changepoints (Page 1954),
    which is the op a metrics pipeline actually wants LIVE: state per
    key is the (S⁺, S⁻) pair in exact integer 1/scale units (two
    BIGINT scalars — trivially bounded); each micro-batch replays in
    (ts, id) order against the carried pair and emits every
    observation's statistics and alarm flag.  Identical integer
    arithmetic to the batch operator, so within one availableNow batch
    the output hash-matches the same DuckDB oracle (pinned), and the
    checkpointed pair carries drift accumulation across batches and
    restarts.  Arrival-order caveat as stream_gap_report.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_field = sdf.schema[key_col]
    id_field = sdf.schema[id_col]
    out_schema = T.StructType([
        key_field, id_field,
        T.StructField("s_pos", T.LongType(), False),
        T.StructField("s_neg", T.LongType(), False),
        T.StructField("alarm", T.BooleanType(), False),
    ])
    state_schema = T.StructType([
        T.StructField("s_pos", T.LongType(), True),
        T.StructField("s_neg", T.LongType(), True),
    ])
    t_units = int(round(float(target) * scale))
    k_units = int(round(float(slack) * scale))
    h_units = int(round(float(threshold) * scale))

    def fn(key, pdfs, state):
        sp, sn = (state.get if state.exists else (0, 0))
        sp, sn = int(sp or 0), int(sn or 0)
        chunks = [pdf for pdf in pdfs]
        pdf = (pd.concat(chunks, ignore_index=True) if len(chunks) > 1
               else chunks[0]) if chunks else None
        rows = []
        if pdf is not None and len(pdf):
            pdf = pdf[pdf[value_col].notna()]
            if len(pdf):
                import math

                def _half_up(v):
                    # Spark F.round is HALF_UP (away from zero) —
                    # python round() is banker's, a .5 mismatch trap
                    x = float(v) * scale
                    return (int(math.floor(x + 0.5)) if x >= 0
                            else -int(math.floor(-x + 0.5)))

                pdf = pdf.assign(
                    __us=pdf[ts_col].astype("datetime64[us]").astype("int64"),
                    __xu=[_half_up(v) for v in pdf[value_col]],
                ).sort_values(["__us", id_col], ignore_index=True)
                for eid, x in zip(pdf[id_col], pdf["__xu"]):
                    sp = max(0, sp + (x - t_units - k_units))
                    sn = max(0, sn - (x - t_units + k_units))
                    rows.append((key[0], eid, sp, sn,
                                 sp > h_units or sn > h_units))
        state.update((sp, sn))
        if rows:
            yield pd.DataFrame(
                rows, columns=[key_col, id_col, "s_pos", "s_neg",
                               "alarm"])

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    )


def stream_rolling_median(
    sdf: DataFrame,
    k: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming rolling median of the last ``k`` observations per key
    — the stateful twin of functions/timeseries.rolling_median: state
    is a k-bounded ring buffer of the most recent values (an array
    column in the state row — bounded regardless of stream length);
    each micro-batch replays in (ts, id) order, NULL values skipped
    (they neither emit nor occupy a buffer slot, the batch
    convention).  Median rule identical to batch (sorted middle, even
    counts average two identical doubles), so the output hash-matches
    the same DuckDB oracle within one availableNow batch and the
    buffer carries windows across batches/restarts.  Arrival-order
    caveat as stream_gap_report.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_field = sdf.schema[key_col]
    id_field = sdf.schema[id_col]
    out_schema = T.StructType([
        key_field, id_field,
        T.StructField("value", T.DoubleType(), True),
        T.StructField("med", T.DoubleType(), True),
    ])
    state_schema = T.StructType([
        T.StructField("buf", T.ArrayType(T.DoubleType()), True),
    ])
    kk = int(k)

    def fn(key, pdfs, state):
        (buf,) = state.get if state.exists else ([],)
        buf = list(buf or [])
        chunks = [pdf for pdf in pdfs]
        pdf = (pd.concat(chunks, ignore_index=True) if len(chunks) > 1
               else chunks[0]) if chunks else None
        rows = []
        if pdf is not None and len(pdf):
            pdf = pdf[pdf[value_col].notna()]
            if len(pdf):
                pdf = pdf.assign(
                    __us=pdf[ts_col].astype("datetime64[us]").astype("int64"),
                ).sort_values(["__us", id_col], ignore_index=True)
                for eid, v in zip(pdf[id_col], pdf[value_col]):
                    v = float(v)
                    buf.append(v)
                    if len(buf) > kk:
                        buf.pop(0)
                    srt = sorted(buf)
                    n = len(srt)
                    med = (srt[(n + 1) // 2 - 1] + srt[n // 2]) / 2.0
                    rows.append((key[0], eid, v, med))
        state.update((buf,))
        if rows:
            yield pd.DataFrame(
                rows, columns=[key_col, id_col, "value", "med"])

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    )


def stream_bm25_score(sdf: DataFrame, corpus: DataFrame, query: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Streaming BM25 scoring of new documents against a LANDED-corpus
    index snapshot — the incremental-ingest retrieval shape (r8 VERDICT
    ask #7): the landed corpus supplies the collection statistics
    (per-term df_t, N, avgdl — a |query-terms|-row relation plus two
    scalars, fetched once and broadcast, the stream_decontaminate
    smallness contract), and each micro-batch is then a STATELESS
    Arrow-batched per-document map: no stream-side shuffle, no
    aggregation state, no watermark.  Top-k selection is a batch query
    over the landed scores (an unbounded stream has no bounded-state
    global top-k).

    Exactness: per-(doc, term) contributions replay
    functions/search._bm25_score's doubles with the SAME association
    and the same integer-millionth quantization; both roundings use
    sign*floor(|x|*scale+0.5) because Spark's F.round is HALF_UP while
    Python's round is banker's.  Scoring the corpus against its own
    snapshot therefore hash-matches the batch bm25_topk / DuckDB
    oracle exactly (tests/test_streaming.py).

    Returns the stream's columns plus (score double, n_hit long) —
    n_hit = 0 rows are documents containing no query term (the batch
    top-k never sees them; filter n_hit > 0 before ranking).
    """
    import math
    import re

    from pyspark.sql.functions import pandas_udf

    from fsharp_dataframe_spark.functions.search import (
        doc_term_freq, query_terms,
    )
    from fsharp_dataframe_spark.functions.text import tokens

    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens")
    tfdl = doc_term_freq(corpus, terms, id_col, text_col)
    dfreq = {r["token"]: int(r["df_t"]) for r in
             tfdl.groupBy("token").agg(F.count("*").alias("df_t"))
             .collect()}
    totals = corpus.select(
        F.count("*").alias("n"),
        F.sum(F.size(tokens(F.lower(F.col(text_col)))).cast("long"))
        .alias("tok")).first()
    n_docs, total_tokens = int(totals["n"]), int(totals["tok"] or 0)
    if n_docs == 0:
        raise ValueError("empty corpus snapshot — no collection stats")
    avgdl = total_tokens / n_docs
    # per-term idf precomputed driver-side with the batch association:
    # ln(1 + ((N - df_t) + 0.5) / (df_t + 0.5)).  Built over ALL query
    # terms — a streamed document may contain a query term with zero
    # landed-corpus df (the incremental-ingest case this operator
    # exists for); df_t = 0 gives the max idf ln(1 + (N + 0.5) / 0.5)
    # instead of a KeyError.
    nf = float(n_docs)
    idf = {t: math.log(1.0 + (((nf - dfreq.get(t, 0)) + 0.5)
                              / (dfreq.get(t, 0) + 0.5)))
           for t in terms}
    k1f, k1p1, one_m_b, bf = float(k1), float(k1 + 1.0), 1.0 - b, float(b)
    term_set = frozenset(terms)
    bvar = sdf.sparkSession.sparkContext.broadcast((idf, term_set))
    # Java-regex-equivalent ASCII \s — Python's \s is Unicode-aware
    # (NBSP, thin space, U+2028) and would tokenize differently from
    # the Spark tokens() used for the corpus stats, breaking the
    # batch-oracle hash-match on Unicode-whitespace text.
    ws = re.compile("[ \t\n\x0b\f\r]+")

    @pandas_udf("struct<score:double,n_hit:bigint>")
    def score_fn(texts: pd.Series) -> pd.DataFrame:
        idf_map, tset = bvar.value
        scores, hits = [], []
        for t in texts:
            if t is None:
                scores.append(0.0)
                hits.append(0)
                continue
            toks = [x for x in ws.split(t.lower()) if x != ""]
            dl = len(toks)
            tf: dict[str, int] = {}
            for x in toks:
                if x in tset:
                    tf[x] = tf.get(x, 0) + 1
            units = 0
            for term, f_td in tf.items():
                contrib = ((idf_map[term] * f_td) * k1p1) / (
                    f_td + k1f * (one_m_b + (bf * dl) / avgdl))
                x = contrib * 1_000_000
                units += int(math.floor(abs(x) + 0.5)) * (
                    -1 if x < 0 else 1)
            y = units / 1_000_000.0 * 10_000
            scores.append(
                int(math.floor(abs(y) + 0.5)) * (-1 if y < 0 else 1)
                / 10_000.0)
            hits.append(len(tf))
        return pd.DataFrame({"score": scores, "n_hit": hits})

    s = score_fn(F.col(text_col))
    return sdf.withColumns({"score": s["score"],
                            "n_hit": s["n_hit"].cast("long")})


def stream_psi(sdf: DataFrame, baseline: DataFrame, value_col: str,
               lo: float, hi: float, n_bins: int = 20) -> DataFrame:
    """Streaming Population Stability Index against a landed baseline —
    the live twin of functions/drift.population_stability: the
    baseline's per-bin counts and total are computed ONCE batch-side
    (n_bins integers, embedded), and the stream accumulates the
    current-side bin counts in checkpointed state, re-emitting the
    full n_bins-row PSI table every micro-batch ("update" mode — the
    consumer reads the latest emission per bin).

    State is ONE vector of n_bins BIGINTs — bounded by construction.
    Each micro-batch is pre-reduced to (bin, partial-count) rows by a
    stateless Arrow map BEFORE the single stateful group, so the
    per-batch volume crossing the state exchange is
    O(partitions × n_bins), never the data.

    Identical integer + HALF_UP-quantized arithmetic to the batch
    operator (add-one smoothing, 1e-8-unit terms), so after an
    availableNow drive over a static directory the last emission per
    bin hash-matches the same DuckDB oracle as the batch psi query
    (pinned in tests/test_streaming.py, with a checkpoint-restart
    carry test).
    """
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout

    from fsharp_dataframe_spark.functions.drift import _uniform_bin

    nb = int(n_bins)
    col = F.col(value_col)
    bb = {r["bin"]: r["n"] for r in
          baseline.filter(col.isNotNull())
          .select(_uniform_bin(col, lo, hi, nb).alias("bin"))
          .groupBy("bin").agg(F.count("*").alias("n")).collect()}
    n_base = [int(bb.get(i, 0)) for i in range(nb)]
    tb = sum(n_base)

    binned = (sdf.filter(col.isNotNull())
              .select(_uniform_bin(col, lo, hi, nb).alias("bin")))

    def partials(pdf_iter):
        for pdf in pdf_iter:
            g = pdf.groupby("bin").size().reset_index(name="cnt")
            yield g.astype({"bin": "int32", "cnt": "int64"})

    pre = binned.mapInPandas(partials, "bin int, cnt long")

    out_schema = T.StructType([
        T.StructField("bin", T.IntegerType(), False),
        T.StructField("n_base", T.LongType(), False),
        T.StructField("n_cur", T.LongType(), False),
        T.StructField("psi_term", T.DoubleType(), False),
    ])
    state_schema = T.StructType([
        T.StructField("counts", T.ArrayType(T.LongType()), True),
    ])

    def fn(key, pdfs, state):
        counts = (list(state.get[0]) if state.exists else [0] * nb)
        for pdf in pdfs:
            for b, c in zip(pdf["bin"], pdf["cnt"]):
                counts[int(b)] += int(c)
        state.update((counts,))
        tc = sum(counts)
        rows = []
        for i in range(nb):
            # the batch operator's exact association: integer ratios,
            # one double division each, term quantized to 1e-8 units
            # with HALF_UP (Spark F.round; python round is banker's)
            p = float(n_base[i] + 1) / float(tb + nb)
            q = float(counts[i] + 1) / float(tc + nb)
            x = (p - q) * math.log(p / q) * 100_000_000
            u = (int(math.floor(x + 0.5)) if x >= 0
                 else -int(math.floor(-x + 0.5)))
            rows.append((i, n_base[i], counts[i],
                         round(u / 100_000_000.0, 8)))
        yield pd.DataFrame(rows, columns=["bin", "n_base", "n_cur",
                                          "psi_term"])

    return (pre.withColumn("__g", F.lit(0)).groupBy("__g")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def stream_binned_auc(sdf: DataFrame, score_col: str, label_col: str,
                      lo: float, hi: float, n_bins: int = 256) -> DataFrame:
    """Streaming binned ROC-AUC — the live twin of
    functions/drift.binned_auc for classifier monitoring over an
    ingest stream: per-bin (pos, neg) counts accumulate in ONE bounded
    state vector (2 × n_bins BIGINTs), each micro-batch pre-reduced to
    (bin, pos, neg) partial rows by a stateless Arrow map (only
    O(partitions × n_bins) rows cross the state exchange), and every
    batch re-emits the one-row (n_pos, n_neg, auc) summary — identical
    integer rank-sum arithmetic to the batch operator, so the last
    emission after an availableNow drive hash-matches the same DuckDB
    oracle as the batch classifier_auc query (pinned)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from fsharp_dataframe_spark.functions.drift import _uniform_bin

    nb = int(n_bins)
    s, y = F.col(score_col), F.col(label_col).cast("int")
    binned = (sdf.filter(s.isNotNull() & y.isNotNull())
              .select(_uniform_bin(s, lo, hi, nb).alias("bin"),
                      y.alias("y")))

    def partials(pdf_iter):
        for pdf in pdf_iter:
            g = (pdf.assign(neg=1 - pdf["y"])
                 .groupby("bin").agg(pos=("y", "sum"),
                                     neg=("neg", "sum")).reset_index())
            yield g.astype({"bin": "int32", "pos": "int64",
                            "neg": "int64"})

    pre = binned.mapInPandas(partials, "bin int, pos long, neg long")

    out_schema = T.StructType([
        T.StructField("n_pos", T.LongType(), False),
        T.StructField("n_neg", T.LongType(), False),
        T.StructField("auc", T.DoubleType(), True),
    ])
    state_schema = T.StructType([
        T.StructField("pos", T.ArrayType(T.LongType()), True),
        T.StructField("neg", T.ArrayType(T.LongType()), True),
    ])

    def fn(key, pdfs, state):
        if state.exists:
            pos, neg = list(state.get[0]), list(state.get[1])
        else:
            pos, neg = [0] * nb, [0] * nb
        for pdf in pdfs:
            for b, p, q in zip(pdf["bin"], pdf["pos"], pdf["neg"]):
                pos[int(b)] += int(p)
                neg[int(b)] += int(q)
        state.update((pos, neg))
        # the batch operator's exact rank-sum: num and den BIGINTs,
        # auc = round(num/den, 6) on the same double division
        below = 0
        num = 0
        for i in range(nb):
            num += pos[i] * (2 * below + neg[i])
            below += neg[i]
        n_pos, n_neg = sum(pos), sum(neg)
        den = 2 * n_pos * n_neg
        if den > 0:
            # HALF_UP at 6dp on the same double division as batch
            # F.round (python round is banker's — the .5 trap)
            import math

            x = float(num) / float(den)
            auc = math.floor(x * 1_000_000 + 0.5) / 1_000_000.0
        else:
            auc = None
        yield pd.DataFrame([(n_pos, n_neg, auc)],
                           columns=["n_pos", "n_neg", "auc"])

    return (pre.withColumn("__g", F.lit(0)).groupBy("__g")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def stream_vocab_divergence(sdf: DataFrame, baseline: DataFrame,
                            text_col: str = "text",
                            alpha: float = 1.0) -> DataFrame:
    """Streaming vocabulary-drift monitor against a LANDED baseline
    corpus — the live twin of functions/profile.vocab_divergence
    (r10 VERDICT ask #6, the last drift-tier member without a stream):
    per-token contribution to KL(stream ‖ baseline) over the add-alpha
    smoothed unigram distributions on the UNION vocabulary, re-emitted
    as the full vocabulary table every micro-batch ("update" mode —
    the consumer reads the latest emission per token).

    The baseline's token counts are computed ONCE batch-side (a
    vocabulary-sized relation, embedded); the stream accumulates
    current-side counts in ONE state entry holding (tokens[],
    counts[]) — VOCAB-bounded by construction, the stream_psi shape
    (for corpora whose vocabulary must stay strictly bounded, cap the
    stream upstream with stream_vocab_heavy_hitters' Misra–Gries
    substrate and monitor the survivors).  Tokenization happens
    JVM-side with the batch operator's own expression (explode +
    tokens(lower(text)) — never a Python re-tokenization that could
    drift), and each micro-batch is pre-reduced to (token,
    partial-count) rows by a stateless Arrow map BEFORE the stateful
    group, so O(partitions × batch-vocab) rows cross the state
    exchange, never the token stream.

    Every kl_term re-evaluates each batch because the totals (N_a, V)
    move with the stream; the arithmetic is the batch operator's exact
    association — float ratios over (count + α)/(N + α·V), one ln,
    HALF_UP-quantized to millionths (sign-aware floor(|x|·1e6 + 0.5);
    python round is banker's) — so after an availableNow drive over a
    static directory the last emission hash-matches the same DuckDB
    oracle as the batch vocab_drift query (pinned in
    tests/test_streaming.py with a checkpoint-restart carry test).
    Returns (token, c_a, c_b, kl_term); tokens only in the baseline
    appear with c_a = 0, exactly as the batch full-outer join."""
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout

    from fsharp_dataframe_spark.functions.text import tokens

    base = {r["token"]: int(r["c"]) for r in
            (baseline
             .select(F.explode(tokens(F.lower(F.col(text_col))))
                     .alias("token"))
             .groupBy("token").agg(F.count("*").alias("c")).collect())}
    if not base:
        raise ValueError("empty baseline corpus — no vocabulary")
    n_b = sum(base.values())
    a = float(alpha)

    el = sdf.select(F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("token"))

    def partials(pdf_iter):
        for pdf in pdf_iter:
            g = pdf.groupby("token").size().reset_index(name="cnt")
            yield g.astype({"cnt": "int64"})

    pre = el.mapInPandas(partials, "token string, cnt long")

    out_schema = T.StructType([
        T.StructField("token", T.StringType(), False),
        T.StructField("c_a", T.LongType(), False),
        T.StructField("c_b", T.LongType(), False),
        T.StructField("kl_term", T.DoubleType(), False),
    ])
    state_schema = T.StructType([
        T.StructField("toks", T.ArrayType(T.StringType()), True),
        T.StructField("cnts", T.ArrayType(T.LongType()), True),
    ])

    def fn(key, pdfs, state):
        if state.exists:
            cur = {t: int(c) for t, c in zip(state.get[0], state.get[1])}
        else:
            cur = {}
        for pdf in pdfs:
            for t, c in zip(pdf["token"], pdf["cnt"]):
                cur[t] = cur.get(t, 0) + int(c)
        state.update((list(cur.keys()), list(cur.values())))
        vocab = set(cur) | set(base)
        v = len(vocab)
        n_a = sum(cur.values())
        denom_a = float(n_a + a * v)
        denom_b = float(n_b + a * v)
        rows = []
        for t in vocab:
            ca, cb = cur.get(t, 0), base.get(t, 0)
            p = (ca + a) / denom_a
            q = (cb + a) / denom_b
            x = p * math.log(p / q) * 1_000_000
            u = (int(math.floor(x + 0.5)) if x >= 0
                 else -int(math.floor(-x + 0.5)))
            rows.append((t, ca, cb, round(u / 1_000_000.0, 6)))
        yield pd.DataFrame(rows, columns=["token", "c_a", "c_b",
                                          "kl_term"])

    return (pre.withColumn("__g", F.lit(0)).groupBy("__g")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def stream_zipf_fit(sdf: DataFrame, k: int = 300,
                    text_col: str = "text",
                    min_count: int = 1) -> DataFrame:
    """Streaming Zipf-law corpus-health monitor — the live twin of
    functions/drift.zipf_fit (with stream_vocab_divergence this
    completes the drift tier's streaming coverage): OLS of
    ln(frequency) on ln(rank) over the CUMULATIVE stream's top-``k``
    tokens, one summary row re-emitted every micro-batch ("update"
    mode) so an ingest dashboard watches the slope walk away from −1
    the moment a templated/boilerplate feed starts flooding.

    Top-k membership moves as counts accumulate, so the state must
    hold the full cumulative vocabulary — (tokens[], counts[]),
    VOCAB-bounded like stream_vocab_divergence, with the same
    stateless Arrow pre-reduction (O(partitions × batch-vocab) rows
    cross the state exchange) and the same JVM-side tokenization as
    the batch plan.  Per emission the top-k selection (count desc,
    token asc — vocab_topk's deterministic order), the 1e-6 ln-unit
    HALF_UP quantization, the exact BIGINT OLS moments and the final
    double associations replay the batch operator term for term, so
    after an availableNow drive over a static directory the last
    emission hash-matches the same DuckDB oracle as the batch
    zipf_fit query (pinned in tests/test_streaming.py with a
    checkpoint-restart carry test).

    Returns (n_terms, slope, intercept, r2) — slope/intercept in
    ln-space, rounded 6dp; degenerate fits (under 2 terms, zero rank
    variance) report NULLs, matching the batch guards."""
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout

    from fsharp_dataframe_spark.functions.text import tokens

    el = sdf.select(F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("token"))

    def partials(pdf_iter):
        for pdf in pdf_iter:
            g = pdf.groupby("token").size().reset_index(name="cnt")
            yield g.astype({"cnt": "int64"})

    pre = el.mapInPandas(partials, "token string, cnt long")

    out_schema = T.StructType([
        T.StructField("n_terms", T.LongType(), False),
        T.StructField("slope", T.DoubleType(), True),
        T.StructField("intercept", T.DoubleType(), True),
        T.StructField("r2", T.DoubleType(), True),
    ])
    state_schema = T.StructType([
        T.StructField("toks", T.ArrayType(T.StringType()), True),
        T.StructField("cnts", T.ArrayType(T.LongType()), True),
    ])

    def _r6(x: float) -> float:
        # Spark F.round = HALF_UP (away from zero); python round is
        # banker's — quantize sign-aware (the streaming discipline)
        u = (math.floor(x * 1_000_000 + 0.5) if x >= 0
             else -math.floor(-x * 1_000_000 + 0.5))
        return u / 1_000_000.0

    def fn(key, pdfs, state):
        if state.exists:
            cur = {t: int(c) for t, c in zip(state.get[0], state.get[1])}
        else:
            cur = {}
        for pdf in pdfs:
            for t, c in zip(pdf["token"], pdf["cnt"]):
                cur[t] = cur.get(t, 0) + int(c)
        state.update((list(cur.keys()), list(cur.values())))
        top = sorted(((c, t) for t, c in cur.items()
                      if c >= min_count),
                     key=lambda p: (-p[0], p[1]))[:k]
        n = len(top)
        sx = sy = sxy = sxx = syy = 0
        for rank, (c, _t) in enumerate(top, start=1):
            xi = int(math.floor(math.log(float(rank)) * 1_000_000 + 0.5))
            yi = int(math.floor(math.log(float(c)) * 1_000_000 + 0.5))
            sx += xi
            sy += yi
            sxy += xi * yi
            sxx += xi * xi
            syy += yi * yi
        # the batch operator's exact double association over the
        # integer moments
        nd = float(n)
        cov_n = (nd * float(sxy)) - (float(sx) * float(sy))
        var_x = (nd * float(sxx)) - (float(sx) * float(sx))
        var_y = (nd * float(syy)) - (float(sy) * float(sy))
        slope = intercept = r2 = None
        if n >= 2 and var_x > 0:
            s = cov_n / var_x
            slope = _r6(s)
            intercept = _r6(((float(sy) - s * float(sx)) / nd)
                            / 1_000_000.0)
            if var_y > 0:
                r2 = _r6((cov_n * cov_n) / (var_x * var_y))
        yield pd.DataFrame([(n, slope, intercept, r2)],
                           columns=["n_terms", "slope", "intercept",
                                    "r2"])

    return (pre.withColumn("__g", F.lit(0)).groupBy("__g")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def stream_centroid_drift(sdf: DataFrame, baseline: DataFrame,
                          vec_col: str = "embedding",
                          label_col: str = "label") -> DataFrame:
    """Streaming per-label embedding-centroid drift against a landed
    baseline — the live twin of functions/drift.centroid_drift
    (VERDICT r9 ask #3): the baseline's per-(label, dim) quantized
    sums and counts are computed ONCE batch-side (a bounded
    |labels| × dims relation, embedded), and the stream accumulates
    the current-side sums in checkpointed state keyed BY LABEL,
    re-emitting each label's drift row every micro-batch ("update"
    mode — the consumer reads the latest emission per label).

    State per label is (per-dim BIGINT sums, per-dim BIGINT counts) —
    bounded by construction at 2 × dims longs.  Element quantization
    to 1e-7 units happens JVM-side (the SAME F.round expression as the
    batch operator — no Python rounding emulation), and each
    micro-batch is pre-reduced to (label, dim, partial-sum, count)
    rows by a stateless Arrow map BEFORE the stateful group, so
    O(partitions × labels × dims) rows cross the state exchange, never
    the data.

    Identical integer association to the batch operator (1e-12-unit
    squared gaps, one sqrt, HALF_UP 6dp), so after an availableNow
    drive over the current snapshot the last emission per label
    hash-matches the same DuckDB oracle as the batch centroid_drift
    query (pinned in tests/test_streaming.py with a checkpoint-restart
    carry test).  Labels absent from the baseline are ignored (the
    batch inner join's semantics); labels absent from the stream emit
    nothing.  The label column keeps ITS OWN type end to end — the
    plan schemas derive from ``sdf.schema[label_col]`` (ADVICE r10:
    the earlier hardcoded int schema made a string-labeled stream die
    executor-side with an opaque Arrow cast error), matching the batch
    twin, which accepts any label type.
    """
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout

    base_rows = (baseline.filter(F.col(vec_col).isNotNull())
                 .select(F.col(label_col).alias("label"),
                         F.posexplode(F.col(vec_col)).alias("dim", "x"))
                 .select("label", "dim",
                         F.round(F.col("x").cast("double") * 10_000_000)
                         .cast("long").alias("xu"))
                 .groupBy("label", "dim")
                 .agg(F.sum("xu").alias("sb"), F.count("*").alias("nb"))
                 .collect())
    base: dict = {}
    for r in base_rows:
        base.setdefault(r["label"], {})[int(r["dim"])] = (
            int(r["sb"]), int(r["nb"]))
    if not base:
        raise ValueError("empty baseline snapshot — no centroids")
    n_dims = 1 + max(d for dims in base.values() for d in dims)

    el = (sdf.filter(F.col(vec_col).isNotNull())
          .select(F.col(label_col).alias("label"),
                  F.posexplode(F.col(vec_col)).alias("dim", "x"))
          .select("label", "dim",
                  F.round(F.col("x").cast("double") * 10_000_000)
                  .cast("long").alias("xu")))

    label_type = sdf.schema[label_col].dataType

    def partials(pdf_iter):
        for pdf in pdf_iter:
            g = (pdf.groupby(["label", "dim"])
                 .agg(su=("xu", "sum"), cnt=("xu", "size")).reset_index())
            # label keeps its incoming dtype; Arrow casts it to the
            # declared (stream-derived) field type
            yield g.astype({"dim": "int32", "su": "int64",
                            "cnt": "int64"})

    pre_schema = T.StructType([
        T.StructField("label", label_type, True),
        T.StructField("dim", T.IntegerType(), False),
        T.StructField("su", T.LongType(), False),
        T.StructField("cnt", T.LongType(), False),
    ])
    pre = el.mapInPandas(partials, pre_schema)

    out_schema = T.StructType([
        T.StructField("label", label_type, False),
        T.StructField("n_base", T.LongType(), False),
        T.StructField("n_cur", T.LongType(), False),
        T.StructField("l2_drift", T.DoubleType(), True),
    ])
    state_schema = T.StructType([
        T.StructField("sums", T.ArrayType(T.LongType()), True),
        T.StructField("cnts", T.ArrayType(T.LongType()), True),
    ])

    def fn(key, pdfs, state):
        label = key[0]
        if state.exists:
            sums, cnts = list(state.get[0]), list(state.get[1])
        else:
            sums, cnts = [0] * n_dims, [0] * n_dims
        for pdf in pdfs:
            for d, s, c in zip(pdf["dim"], pdf["su"], pdf["cnt"]):
                d = int(d)
                if d < n_dims:
                    sums[d] += int(s)
                    cnts[d] += int(c)
        state.update((sums, cnts))
        bd = base.get(label)
        if bd is None:
            return  # label unseen in the baseline: no centroid to compare
        su = 0
        n_base = n_cur = 0
        for d, (sb, nb) in bd.items():
            if d >= n_dims or cnts[d] == 0:
                continue
            # the batch association: per-dim means over identical
            # integers, squared gap re-quantized to 1e-12 units HALF_UP
            mb = (float(sb) / float(nb)) / 1e7
            mc = (float(sums[d]) / float(cnts[d])) / 1e7
            x = ((mb - mc) * (mb - mc)) * 1_000_000_000_000
            su += int(math.floor(abs(x) + 0.5)) * (-1 if x < 0 else 1)
            n_base = max(n_base, nb)
            n_cur = max(n_cur, cnts[d])
        if n_cur == 0:
            return
        drift = math.sqrt(float(su) / 1e12)
        out = math.floor(drift * 1_000_000 + 0.5) / 1_000_000.0
        yield pd.DataFrame([(label, n_base, n_cur, out)],
                           columns=["label", "n_base", "n_cur",
                                    "l2_drift"])

    return (pre.groupBy("label")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def stream_int8_quantize(sdf: DataFrame, baseline: DataFrame,
                         vec_col: str = "embedding") -> DataFrame:
    """Streaming int8 quantization-error monitor against a LANDED
    snapshot's frozen scale table — the live twin of
    functions/similarity.quantize_embeddings_int8 (VERDICT r9 ask #3).

    Design note: the batch audit derives scale_d = max|x_d|/127 from
    the corpus itself, but a streaming twin cannot re-derive the scale
    as it goes — a later batch that raised max|x_d| would silently
    invalidate every error term already accumulated under the old
    scale.  Production freezes the scale when the int8 index is BUILT
    and monitors incoming data against it, so the twin takes the
    landed ``baseline`` (the stream_bm25_score snapshot contract): its
    per-dim scales are computed once batch-side (a dims-row relation,
    embedded as a literal array), and the stream accumulates per-dim
    error sums in ONE bounded state vector (2 × dims + 1 BIGINTs).

    Every per-element value is computed JVM-side with the batch
    operator's own expressions — q = F.round(x/scale), err units =
    F.round(|x − q·scale|·10⁹) — so streaming the corpus against its
    own snapshot hash-matches the same DuckDB oracle as the batch
    int8_quantize query (pinned in tests/test_streaming.py with a
    checkpoint-restart carry test).  Each micro-batch is pre-reduced
    to (dim, partial-sum, counts) rows by a stateless Arrow map, so
    O(partitions × dims) rows cross the state exchange.

    Emits the full per-dim table every micro-batch ("update" mode):
    (dim, n, scale, mean_abs_err) — n counts STREAMED elements;
    zero-variance dims (scale 0) report NULL error, dims not yet
    streamed report n = 0 and NULL error.  Streamed elements whose dim
    index EXCEEDS the baseline's width are DROPPED — that is the
    frozen-scale contract (a dim the snapshot never saw has no scale
    to quantize against, exactly as a production int8 index would
    reject a wider vector), so a stream whose vectors outgrew the
    snapshot under-reports n relative to its element count (ADVICE
    r10).  Schema drift of that kind is a re-index event, not an
    error-monitor datum: detect it by comparing the emitted table's
    width against the producer's vector width, or rebuild the
    baseline.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    srows = (baseline.filter(F.col(vec_col).isNotNull())
             .select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
             .select("dim", F.col("x").cast("double").alias("x"))
             .groupBy("dim")
             .agg(F.max(F.abs(F.col("x"))).alias("max_abs"))
             .collect())
    if not srows:
        raise ValueError("empty baseline snapshot — no scales")
    n_dims = 1 + max(int(r["dim"]) for r in srows)
    scales = [0.0] * n_dims
    for r in srows:
        scales[int(r["dim"])] = float(r["max_abs"]) / 127.0

    el = (sdf.filter(F.col(vec_col).isNotNull())
          .select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
          .select("dim", F.col("x").cast("double").alias("x")))
    # the frozen scale rides a literal array (bounded: dims entries);
    # element_at with a COLUMN index is not constant-folded back into
    # per-row literals, so codegen stays byte-stable (perf memory)
    sarr = F.array(*[F.lit(s) for s in scales])
    s_d = F.element_at(sarr, F.col("dim") + 1)
    q = F.round(F.col("x") / s_d)
    err = F.abs(F.col("x") - q * s_d)
    units = F.when((s_d > 0) & (F.col("dim") < n_dims),
                   F.round(err * 1_000_000_000).cast("long"))
    eu = el.filter(F.col("dim") < n_dims).select(
        "dim", units.alias("u"))

    def partials(pdf_iter):
        for pdf in pdf_iter:
            g = (pdf.groupby("dim")
                 .agg(su=("u", "sum"), nu=("u", "count"),
                      n=("u", "size")).reset_index())
            yield g.astype({"dim": "int32", "su": "int64",
                            "nu": "int64", "n": "int64"})

    pre = eu.mapInPandas(partials, "dim int, su long, nu long, n long")

    out_schema = T.StructType([
        T.StructField("dim", T.IntegerType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("scale", T.DoubleType(), True),
        T.StructField("mean_abs_err", T.DoubleType(), True),
    ])
    state_schema = T.StructType([
        T.StructField("sus", T.ArrayType(T.LongType()), True),
        T.StructField("nus", T.ArrayType(T.LongType()), True),
        T.StructField("ns", T.ArrayType(T.LongType()), True),
    ])

    def fn(key, pdfs, state):
        import math

        if state.exists:
            sus, nus, ns = (list(state.get[0]), list(state.get[1]),
                            list(state.get[2]))
        else:
            sus, nus, ns = [0] * n_dims, [0] * n_dims, [0] * n_dims
        for pdf in pdfs:
            for d, su, nu, n in zip(pdf["dim"], pdf["su"], pdf["nu"],
                                    pdf["n"]):
                d = int(d)
                sus[d] += int(su)
                nus[d] += int(nu)
                ns[d] += int(n)
        state.update((sus, nus, ns))
        rows = []
        for d in range(n_dims):
            sc = math.floor(scales[d] * 1_000_000_000 + 0.5) / 1e9
            if nus[d] > 0:
                mean = (float(sus[d]) / float(nus[d])) / 1e9
                mean = (math.floor(abs(mean) * 100_000_000 + 0.5)
                        * (-1 if mean < 0 else 1) / 1e8)
            else:
                mean = None
            rows.append((d, ns[d], sc, mean))
        yield pd.DataFrame(rows, columns=["dim", "n", "scale",
                                          "mean_abs_err"])

    return (pre.withColumn("__g", F.lit(0)).groupBy("__g")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def stream_image_near_dup(sdf: DataFrame, id_col: str = "media_id",
                          payload_col: str = "payload",
                          ts_col: str = "ts", watermark: str = "1 hour",
                          max_hamming: int = 2,
                          max_pixels: int | None = None) -> DataFrame:
    """Streaming image near-duplicate CANDIDATES — the dHash face of
    stream_near_dup_candidates: images arriving within one watermark
    horizon of each other whose perceptual hashes collide in a
    pigeonhole piece (the banded_hamming_pairs band construction, so a
    candidate pair here is a candidate pair there), verified inline by
    popcount (bit_count is one codegen'd instruction; unlike MinHash
    no second decode of the payload is needed, so the stream CAN
    afford exact verification).

    Shape: per-image dHash as a STATELESS Arrow map (decode happens
    once per image, no state) → watermarked stream-stream SELF-join on
    (piece, piece-bits) with a bounded time range — Spark keeps one
    horizon of piece keys in state, O(rate × watermark), independent
    of corpus size.

    Returns (id_a, id_b, piece, hamming) with id_a < id_b; a pair
    within the bound that collides in several pieces emits once per
    piece — the downstream sink's first groupBy dedups, exactly the
    stream_near_dup_candidates contract.
    """
    from pyspark.sql.functions import pandas_udf

    from fsharp_dataframe_spark.functions.multimodal import (
        _decode_gray_array, _dhash_from_gray,
    )

    @pandas_udf("long")
    def dh(payloads: pd.Series) -> pd.Series:
        out = []
        for p in payloads:
            arr = _decode_gray_array(p, max_pixels=max_pixels)
            out.append(None if arr is None or arr.size == 0
                       else _dhash_from_gray(arr))
        return pd.Series(out, dtype="Int64")

    return _stream_sketch_near_dup(sdf, dh, id_col=id_col,
                                   payload_col=payload_col,
                                   ts_col=ts_col, watermark=watermark,
                                   max_hamming=max_hamming)


def stream_audio_near_dup(sdf: DataFrame, id_col: str = "media_id",
                          payload_col: str = "payload",
                          ts_col: str = "ts", watermark: str = "1 hour",
                          max_hamming: int = 2) -> DataFrame:
    """Streaming AUDIO near-duplicate candidates — the spectral-band
    fingerprint (multimodal.audio_fingerprint's real stdlib-WAV decode
    + rFFT delta coding) riding the identical watermarked piece-join
    core as stream_image_near_dup; nothing modality-specific exists
    below the fingerprint, so the state bound, pigeonhole
    completeness and emission contract are the image stream's."""
    from pyspark.sql.functions import pandas_udf

    from fsharp_dataframe_spark.functions.multimodal import (
        AFP_SR, _afp_from_samples, _decode_wav_samples,
    )

    @pandas_udf("long")
    def afp(payloads: pd.Series) -> pd.Series:
        out = [_afp_from_samples(_decode_wav_samples(p, target_sr=AFP_SR))
               for p in payloads]
        return pd.Series(out, dtype="Int64")

    return _stream_sketch_near_dup(sdf, afp, id_col=id_col,
                                   payload_col=payload_col,
                                   ts_col=ts_col, watermark=watermark,
                                   max_hamming=max_hamming)


def stream_media_catalog(sdf: DataFrame,
                         payload_col: str = "payload") -> DataFrame:
    """Streaming modality monitor — the live face of the
    media_catalog routing pass: the stateless header-only sniff
    (multimodal.media_metadata — mime + dimensions WITHOUT decoding,
    FSV1 dims from frame 0's own header) feeds a mime-keyed streaming
    count ("update"/"complete" mode).  State is |mimes| rows of two
    BIGINTs — the cheapest possible "what is the crawler feeding us"
    dashboard at ingest rates; payloads never enter state."""
    from fsharp_dataframe_spark.functions.multimodal import media_metadata

    meta = media_metadata(sdf, payload_col)
    return (meta.groupBy("sniff_mime")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.col("sniff_width").isNotNull().cast("long"))
                 .alias("n_with_dims")))


def stream_distinct_sketch(sdf: DataFrame, by, col: str,
                           lg_k: int = 12) -> DataFrame:
    """Streaming per-group distinct-count monitor on the SAME
    mergeable HLL substrate as the batch rollup
    (functions/sketch.distinct_sketch_rollup — Spark's native Apache
    DataSketches hll_sketch_agg): a plain streaming aggregation whose
    state per group is ONE ~2^lg_k-byte sketch, merged JVM-side
    across micro-batches ("update"/"complete" mode — the consumer
    reads the latest estimate per group).

    EXACTLY batch-parity by construction: sketch merging is lossless
    with respect to the sketch (the batch module's pinned invariant),
    so the stream's estimate after any prefix of micro-batches equals
    the batch estimate over the same rows — same engine, same hash,
    no cross-engine tolerance needed.  State is groups × 2^lg_k
    bytes, independent of row count — the cheapest possible
    "distinct users per slice" monitor at 100 TB rates."""
    keys = [by] if isinstance(by, str) else list(by)
    return (sdf.groupBy(*keys)
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col(col), F.lit(int(lg_k))))
                .alias("n_distinct")))


def _video_frame_sketch(sdf: DataFrame, id_col: str, payload_col: str,
                        ts_col: str, every_n: int) -> DataFrame:
    """Stateless per-frame dHash front shared by the aligned and the
    offset-tolerant video candidate streams: container parse +
    per-frame decode happen once per video, pixels never enter
    state; emits one (id, ts, frame_idx, sh) row per sampled frame."""
    import struct as _struct

    from pyspark.sql.functions import pandas_udf

    from fsharp_dataframe_spark.functions.multimodal import (
        _FSV_MAGIC, _check_residues, _decode_gray_array, _dhash_from_gray,
        unpack_frame,
    )

    # the batch front's check, at plan build: every_n=0 would otherwise
    # fail in the executor at range(0, n, 0)
    _check_residues(every_n, (0,))
    every_n = int(every_n)

    @pandas_udf("array<struct<frame_idx:int, sh:long>>")
    def vfh(payloads: pd.Series) -> pd.Series:
        rows = []
        for p in payloads:
            out = []
            b = bytes(p) if p is not None else None
            n = 0
            if b is not None and len(b) >= 8 and b[:4] == _FSV_MAGIC:
                n = _struct.unpack_from("<I", b, 4)[0]
                # bound by what the payload can hold (the batch
                # path's hostile-header guard)
                if 8 + 4 * n > len(b):
                    n = 0
            for f in range(0, n, every_n):
                fr = unpack_frame(b, f)
                arr = (None if fr is None
                       else _decode_gray_array(fr))
                if arr is not None and arr.size:
                    out.append({"frame_idx": f,
                                "sh": _dhash_from_gray(arr)})
            rows.append(out)
        return pd.Series(rows)

    return (sdf.select(F.col(id_col), F.col(ts_col),
                       F.explode(vfh(F.col(payload_col))).alias("_fh"))
            .select(id_col, ts_col,
                    F.col("_fh.frame_idx").alias("frame_idx"),
                    F.col("_fh.sh").alias("sh")))


def _audio_window_sketch(sdf: DataFrame, id_col: str, payload_col: str,
                         hop: int, keep_cols: tuple = ()) -> DataFrame:
    """Stateless per-window fingerprint front shared by the whole-stream
    and overlapped audio candidate streams (the audio twin of
    _video_frame_sketch): one spectral fingerprint per 2048-sample
    window every ``hop`` samples (multimodal._afp_windows_hop, one
    vectorized rFFT per clip, rate-normalized decode); emits one
    (id, keep_cols…, win_idx, sh) row per window.  ``hop`` is checked
    at plan build with the batch rule (1 <= hop <= 2048) — a zero,
    negative or over-window hop would otherwise divide by zero in the
    executor or silently yield no windows."""
    from pyspark.sql.functions import pandas_udf

    from fsharp_dataframe_spark.functions.multimodal import (
        AFP_SR, _afp_windows_hop, _check_hop, _decode_wav_samples,
    )

    hop = _check_hop(hop)

    @pandas_udf("array<struct<win_idx:int, sh:long>>")
    def awf(payloads: pd.Series) -> pd.Series:
        rows = []
        for p in payloads:
            fps = _afp_windows_hop(
                _decode_wav_samples(p, target_sr=AFP_SR), hop)
            rows.append([{"win_idx": i, "sh": fp}
                         for i, fp in enumerate(fps)])
        return pd.Series(rows)

    return (sdf.select(F.col(id_col), *[F.col(c) for c in keep_cols],
                       F.explode(awf(F.col(payload_col))).alias("_wf"))
            .select(id_col, *keep_cols,
                    F.col("_wf.win_idx").alias("win_idx"),
                    F.col("_wf.sh").alias("sh")))


def stream_video_near_dup(sdf: DataFrame, id_col: str = "media_id",
                          payload_col: str = "payload",
                          ts_col: str = "ts", watermark: str = "1 hour",
                          every_n: int = 2,
                          max_hamming: int = 2) -> DataFrame:
    """Streaming VIDEO near-duplicate candidates: containers arriving
    within one watermark horizon whose SAME-POSITION sampled frames
    collide in a pigeonhole piece (the video_near_dup alignment — the
    frame index rides the join key, so only temporally aligned frames
    ever hold state against each other).  Emits FRAME-level candidate
    rows (id_a, id_b, frame_idx, piece, hamming); the video-level
    2·matched ≥ compared rollup is the consumer's first groupBy — the
    stream_near_dup_candidates emission contract.

    The frame hash is a stateless Arrow pass (the shared
    _video_frame_sketch front); join state is O(rate ×
    frames-per-video × watermark)."""
    sk = _video_frame_sketch(sdf, id_col, payload_col, ts_col, every_n)
    return _stream_pieces_near_dup(sk, id_col=id_col, ts_col=ts_col,
                                   watermark=watermark,
                                   max_hamming=max_hamming,
                                   align_cols=("frame_idx",))


def stream_video_offset_near_dup(sdf: DataFrame,
                                 id_col: str = "media_id",
                                 payload_col: str = "payload",
                                 ts_col: str = "ts",
                                 watermark: str = "1 hour",
                                 every_n: int = 2,
                                 max_hamming: int = 2) -> DataFrame:
    """Streaming OFFSET-TOLERANT video candidates — the live face of
    video_near_dup_offset (head-trimmed re-uploads arriving within
    one watermark horizon): the same per-frame dHash front as
    stream_video_near_dup, but the frame index is CARRIED instead of
    joined, so frames collide on (piece, piece-bits) alone and each
    candidate row reports (frame_idx_a, frame_idx_b,
    frame_idx_delta).  The consumer's offset vote — groupBy (id_a,
    id_b, frame_idx_delta), dominant offset, coverage rule — is its
    first batch aggregate, exactly the batch _offset_vote_match
    discipline (the stream_near_dup_candidates emission contract).

    State: identical horizon bound to the aligned stream; per-row
    fan-out grows by the removed alignment key exactly as the batch
    offset matcher's candidate set does (hash-key occupancy, never
    all-pairs)."""
    sk = _video_frame_sketch(sdf, id_col, payload_col, ts_col, every_n)
    return _stream_pieces_near_dup(sk, id_col=id_col, ts_col=ts_col,
                                   watermark=watermark,
                                   max_hamming=max_hamming,
                                   carry_cols=("frame_idx",))


def stream_audio_window_near_dup(sdf: DataFrame,
                                 id_col: str = "media_id",
                                 payload_col: str = "payload",
                                 ts_col: str = "ts",
                                 watermark: str = "1 hour",
                                 max_hamming: int = 2) -> DataFrame:
    """Streaming WHOLE-STREAM audio candidates — the live face of
    audio_stream_near_dup: one spectral fingerprint per 2048-sample
    window (multimodal._afp_all_windows, one vectorized rFFT per
    clip), window indexes CARRIED through the piece join so clips
    sharing any aligned run collide whatever their head offset; each
    candidate row reports (win_idx_a, win_idx_b, win_idx_delta) and
    the consumer's offset vote is its first batch aggregate.

    Samples never enter state (fingerprints leave the stateless
    Arrow pass as 8-byte longs); join state is O(rate ×
    windows-per-clip × watermark)."""
    from fsharp_dataframe_spark.functions.multimodal import AFP_FRAME

    sk = _audio_window_sketch(sdf, id_col, payload_col, AFP_FRAME,
                              (ts_col,))
    return _stream_pieces_near_dup(sk, id_col=id_col, ts_col=ts_col,
                                   watermark=watermark,
                                   max_hamming=max_hamming,
                                   carry_cols=("win_idx",))


def stream_audio_overlap_near_dup(sdf: DataFrame,
                                  id_col: str = "media_id",
                                  payload_col: str = "payload",
                                  ts_col: str = "ts",
                                  watermark: str = "1 hour",
                                  hop: int | None = None,
                                  max_hamming: int = 2) -> DataFrame:
    """Streaming OVERLAPPED-framing audio candidates — the live face
    of audio_overlap_near_dup: one spectral fingerprint per
    2048-sample window every ``hop`` samples (default window/4;
    multimodal._afp_windows_hop, one vectorized rFFT per clip,
    rate-normalized decode), window indexes CARRIED through the piece
    join so clips sharing any hop-aligned run collide whatever their
    head offset — including the sub-window trims the non-overlapping
    stream (stream_audio_window_near_dup) is structurally blind to.
    Each candidate row reports (win_idx_a, win_idx_b, win_idx_delta);
    the consumer's offset vote is its first batch aggregate (pinned
    batch-parity in test_streaming).

    The DUAL-PARITY video tier needs no twin of its own: its stream
    face IS stream_video_offset_near_dup(every_n=1) (dense candidate
    emission), with the dual-grid vote — filter win a-side even, the
    dual alignable-count formula — as the consumer's first aggregate
    (also pinned).

    State: the window twin's bound times the 2048/hop overlap fan-out
    (4x at the default) — the same recall/cost dial as the batch
    operator; samples never enter state."""
    from fsharp_dataframe_spark.functions.multimodal import AFP_HOP

    sk = _audio_window_sketch(sdf, id_col, payload_col,
                              AFP_HOP if hop is None else hop, (ts_col,))
    return _stream_pieces_near_dup(sk, id_col=id_col, ts_col=ts_col,
                                   watermark=watermark,
                                   max_hamming=max_hamming,
                                   carry_cols=("win_idx",))


def _stream_sketch_near_dup(sdf: DataFrame, sketch_udf, id_col: str,
                            payload_col: str, ts_col: str,
                            watermark: str, max_hamming: int) -> DataFrame:
    """Scalar-sketch front of the shared piece-join core (image dHash,
    audio fingerprint): one stateless Arrow sketch per payload, then
    the watermarked self-join."""
    sk = (sdf.select(F.col(id_col), F.col(ts_col),
                     sketch_udf(F.col(payload_col)).alias("sh"))
          .filter(F.col("sh").isNotNull()))
    return _stream_pieces_near_dup(sk, id_col=id_col, ts_col=ts_col,
                                   watermark=watermark,
                                   max_hamming=max_hamming)


def _stream_static_pieces_near_dup(sketched: DataFrame,
                                   stored: DataFrame, id_col: str,
                                   max_hamming: int,
                                   align_cols: tuple = (),
                                   carry_cols: tuple = ()) -> DataFrame:
    """Stream-STATIC piece-join core — the live face of the cross_*
    incremental matchers: a sketched ingest stream (id[, idx…], sh)
    banded and equi-joined against the corpus's STORED piece table
    (the persisted index half every batch cross_* path uses, read
    with read_index_table).  Structured Streaming executes a
    stream-static inner join STATELESSLY per micro-batch — no
    watermark, no join state, corpus size irrelevant to state — so
    this is the production nightly-vs-landed shape running
    continuously.  The static side must carry (id, [align/carry
    cols…], sh, q, qv) with the SAME column names as the stream side
    except id, which is emitted as old_id.

    Emits (new_id, old_id[, aligns][, <c>_new/<c>_old/<c>_delta…],
    piece, hamming); the consumer's offset vote / rollup is its first
    batch aggregate, exactly the batch cross_* discipline.  An id
    present on both sides is guarded out (the ADVICE r12 directional
    contract).

    REFRESH CONTRACT (pinned in test_round13_ops): the static side's
    file listing is captured when the DataFrame is created — rows
    appended to the stored index WHILE the query runs are NOT seen by
    later micro-batches.  Two production shapes: (a) on the
    index-append cadence, re-read the index (read_index_table) and
    restart the query (checkpointed restarts resume the source
    exactly) — the nightly append-then-restart loop; or (b)
    run_stream_cross_refreshed (r14), which runs the matcher inside
    foreachBatch and re-reads the index PER MICRO-BATCH — appends
    become visible without any restart (pinned in
    test_round14_ops).

    100 TB shape: per micro-batch this is the batch cross join —
    candidates bounded by hash-key occupancy against a
    partition-pruned (``q``) static scan pinned at plan time."""
    from fsharp_dataframe_spark.functions.dedup import _piece_bands

    banded = _piece_bands(sketched, [id_col, *align_cols, *carry_cols],
                          max_hamming)
    l, r = banded.alias("l"), stored.alias("r")
    ham = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
    cond = ((F.col("l.q") == F.col("r.q"))
            & (F.col("l.qv") == F.col("r.qv"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")))
    for a in align_cols:
        cond = cond & (F.col(f"l.{a}") == F.col(f"r.{a}"))
    return (
        l.join(r, cond)
        .filter(ham <= max_hamming)
        .select(F.col(f"l.{id_col}").alias("new_id"),
                F.col(f"r.{id_col}").alias("old_id"),
                *[F.col(f"l.{a}").alias(a) for a in align_cols],
                *[x for c in carry_cols for x in (
                    F.col(f"l.{c}").alias(f"{c}_new"),
                    F.col(f"r.{c}").alias(f"{c}_old"),
                    (F.col(f"r.{c}") - F.col(f"l.{c}")).cast("long")
                    .alias(f"{c}_delta"))],
                F.col("l.q").alias("piece"),
                ham.alias("hamming"))
    )


def stream_cross_video_near_dup_offset(sdf: DataFrame,
                                       stored_pieces: DataFrame,
                                       id_col: str = "media_id",
                                       payload_col: str = "payload",
                                       ts_col: str = "ts",
                                       every_n: int = 2,
                                       max_hamming: int = 2
                                       ) -> DataFrame:
    """Live incremental offset-tolerant VIDEO ingest: the arriving
    stream's frames are hashed once (stateless Arrow pass) and joined
    against the corpus's STORED frame-piece table
    (video_frame_piece_table / read_index_table — the same persisted
    index half the batch cross_video_near_dup_offset uses), with NO
    join state: stream-static joins run per micro-batch.  Emits
    frame-level candidates (frame_idx_new/old/delta); the consumer's
    offset vote is the batch discipline (pinned batch-parity).  Pass
    the DENSE (every_n=1) stored table and vote dual-grid for the
    dual-parity face."""
    sk = _video_frame_sketch(sdf, id_col, payload_col, ts_col, every_n)
    stored = stored_pieces.select(
        F.col("vid").alias(id_col),
        F.col("frame_idx"), "sh", "q", "qv")
    return _stream_static_pieces_near_dup(
        sk.drop(ts_col), stored, id_col=id_col,
        max_hamming=max_hamming, carry_cols=("frame_idx",))


def stream_cross_audio_overlap_near_dup(sdf: DataFrame,
                                        stored_pieces: DataFrame,
                                        id_col: str = "media_id",
                                        payload_col: str = "payload",
                                        ts_col: str = "ts",
                                        hop: int | None = None,
                                        max_hamming: int = 2
                                        ) -> DataFrame:
    """Live incremental overlapped-framing AUDIO ingest against the
    stored overlap piece table (audio_overlap_piece_table) — the
    stream-static twin of cross_audio_overlap_near_dup: stateless per
    micro-batch, corpus size irrelevant to state, sub-window head
    trims caught at hop resolution.  Emits (win_idx_new/old/delta)
    candidates; consumer votes the batch discipline (pinned)."""
    from fsharp_dataframe_spark.functions.multimodal import AFP_HOP

    sk = _audio_window_sketch(sdf, id_col, payload_col,
                              AFP_HOP if hop is None else hop)
    stored = stored_pieces.select(
        F.col("aid").alias(id_col),
        F.col("win_idx"), "sh", "q", "qv")
    return _stream_static_pieces_near_dup(
        sk, stored, id_col=id_col, max_hamming=max_hamming,
        carry_cols=("win_idx",))


def run_stream_cross_refreshed(sdf: DataFrame, index_path: str,
                               matcher, out_path: str,
                               checkpoint: str,
                               query_name: str = "cross_refreshed"):
    """Snapshot-REFRESHED stream-static incremental matching — the
    no-restart alternative to the pinned stream-static contract
    (VERDICT r13 ask #6): the ingest stream is executed through
    ``foreachBatch``, and each micro-batch re-reads the stored index
    (read_index_table — a FRESH DataFrame, fresh file listing) before
    running the BATCH cross matcher against it.  Rows appended to the
    index between micro-batches are visible to the next batch with no
    checkpoint restart; the nightly loop becomes append → (nothing).

    ``matcher(batch_df, stored_df) -> DataFrame`` is any batch cross_*
    front with ``existing_is_piece_table=True`` semantics, e.g.::

        lambda b, s: cross_video_near_dup_offset(
            b, s, existing_is_piece_table=True)

    Results land under ``out_path/batch=<epoch>`` via per-batch
    OVERWRITE, so a retried epoch rewrites its own directory —
    idempotent output despite foreachBatch's at-least-once replay
    (read the result with ``spark.read.parquet(out_path)``; the
    ``batch`` directory key is informational).  Returns the started
    StreamingQuery; callers own stop().

    100 TB shape: per micro-batch this IS the batch cross join —
    banded candidates against a partition-pruned (``q``) index scan;
    the re-read costs one file listing per batch (align the trigger
    with the append cadence).  The restart path remains correct and
    cheaper when appends are rare; this runner removes the restart
    when they are not."""
    from fsharp_dataframe_spark.functions.index_store import (
        read_index_table,
    )
    from fsharp_dataframe_spark.functions.util import cache_scope

    def _once(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stored = read_index_table(batch_df.sparkSession, index_path)
        # cache_scope: the batch matchers persist their sketch
        # relations; a long-running stream must release them per
        # epoch or the executor cache fills with dead batches
        with cache_scope():
            out = matcher(batch_df, stored)
            (out.write.mode("overwrite")
             .parquet(f"{out_path.rstrip('/')}/batch={batch_id}"))

    return (sdf.writeStream.foreachBatch(_once)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint)
            .start())


def _stream_pieces_near_dup(sketched: DataFrame, id_col: str,
                            ts_col: str, watermark: str,
                            max_hamming: int,
                            align_cols: tuple = (),
                            carry_cols: tuple = ()) -> DataFrame:
    """Shared watermarked piece-join core under the image, audio and
    video candidate streams: pigeonhole banding of a pre-sketched
    (id, ts, sh[, align…][, carry…]) stream → stream-stream self-join
    on (align…, piece, piece-bits) over one symmetric watermark
    horizon — O(rate × watermark) state, independent of corpus size.

    ``align_cols`` join (same-position matching); ``carry_cols`` are
    kept from BOTH sides in the output WITHOUT joining (emitted as
    <c>_a / <c>_b plus their delta) — the offset-tolerant emission:
    the consumer's offset vote is its first groupBy, exactly the
    batch _offset_vote_match discipline."""
    from fsharp_dataframe_spark.functions.dedup import _piece_bands

    # shared banding substrate: validated cuts + the w=64 full-width
    # piece handled without the LongType mask overflow (ADVICE r10)
    banded = (_piece_bands(sketched,
                           [id_col, ts_col, *align_cols, *carry_cols],
                           max_hamming)
              .withWatermark(ts_col, watermark))
    l, r = banded.alias("l"), banded.alias("r")
    ham = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
    cond = ((F.col("l.q") == F.col("r.q"))
            & (F.col("l.qv") == F.col("r.qv"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            # symmetric watermark-bounded range (id order is
            # independent of arrival order) — state stays one horizon
            # deep on each side
            & (F.col(f"r.{ts_col}")
               >= F.col(f"l.{ts_col}") - F.expr(f"INTERVAL {watermark}"))
            & (F.col(f"r.{ts_col}")
               <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {watermark}")))
    for a in align_cols:
        cond = cond & (F.col(f"l.{a}") == F.col(f"r.{a}"))
    return (
        l.join(r, cond)
        .filter(ham <= max_hamming)
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                *[F.col(f"l.{a}").alias(a) for a in align_cols],
                *[x for c in carry_cols for x in (
                    F.col(f"l.{c}").alias(f"{c}_a"),
                    F.col(f"r.{c}").alias(f"{c}_b"),
                    (F.col(f"l.{c}") - F.col(f"r.{c}")).cast("long")
                    .alias(f"{c}_delta"))],
                F.col("l.q").alias("piece"),
                ham.alias("hamming"))
    )
