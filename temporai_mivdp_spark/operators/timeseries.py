"""Time-series operators (SURVEY.md §2.5, W1-W8) — the heart of the
reference pipeline, re-expressed as column arithmetic, one groupBy, and
window functions.

Scale notes: every operator here partitions by the series key (stay_id in
the clinical pipeline); series are independent, so skew is bounded by the
longest single stay, not by data volume. The window operators (ffill,
bfill, the imputation cascade) share one partitioning and sort order, so
a chain of them costs one shuffle. A grid LEFT JOIN of observations
(dense_grid + event_indicator) is a real join, shuffling both sides on the
cell key unless one side broadcasts; mivdp.datagen densifies in one
grouped pass instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# single home for the NTZ-accepting epoch cast (ADVICE: three call
# sites had drifted copies); docstring with the UTC-pinning caveat
# lives there
from temporai_mivdp_spark.functions.scalars import epoch_micros  # noqa: E402


def floor_hours(later: Column, earlier: Column) -> Column:
    """W1 scalar core: floor-to-hour difference ``days*24 + hours``.

    The reference stringifies the timedelta and splits on " " and ":"
    (day_intervals_cohort_v1.py:103-106; data_generation_icu.py:214-219) —
    semantically ``floor(seconds/3600)`` for non-negative intervals, which
    is what we compute. For negative intervals (event before admit, kept
    until the sanity filter) pandas' days*24+hours floors toward -inf too,
    matching ``floor``.

    Microsecond arithmetic, not ``unix_timestamp`` — that truncates each
    timestamp to whole seconds *before* subtracting, which shifts the
    difference by up to a second and flips hours at exact boundaries.
    """
    return F.floor(
        (epoch_micros(later) - epoch_micros(earlier)) / F.lit(3_600_000_000)
    ).cast("long")


def hours_from_anchor(
    df: DataFrame,
    event_time: str,
    anchor_time: str,
    out_col: str = "event_time_from_admit",
) -> DataFrame:
    """W1: normalize event time to hours-from-admission
    (icu_preprocess_util.py:177-178,223,269,314)."""
    return df.withColumn(out_col, floor_hours(F.col(event_time), F.col(anchor_time)))


def tumbling_bucket(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str,
    bucket: int,
    aggs: Sequence[Column],
    bucket_col: str = "start_time",
) -> DataFrame:
    """W3: fixed-width tumbling-window aggregation.

    The reference loops ``for i in range(0, los, bucket)`` filtering and
    aggregating each slice separately with row-wise appends
    (data_generation_icu.py:522-604). The loop IS a group key:
    ``floor(time/bucket)`` — one groupBy produces the identical result in a
    single pass with map-side partial aggregation, and the same expression
    is a Structured Streaming tumbling window (`F.window`) if the input is
    a stream.
    """
    return (
        df.withColumn(bucket_col, F.floor(F.col(time_col) / F.lit(bucket)).cast("long"))
        .groupBy(*keys, bucket_col)
        .agg(*aggs)
    )


def rollup_cascade(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str,
    value_col: str,
    spans: Sequence[int],
    bucket_col: str = "bucket",
) -> list[DataFrame]:
    """Continuous-aggregate cascade (the hypertable-rollup pattern): one
    materialized aggregate per span in ``spans`` (e.g. ``(1, 24, 168)``
    for hourly/daily/weekly over an hour-grain ``time_col``), where each
    coarser level is re-aggregated FROM THE PREVIOUS LEVEL's partials,
    never from raw.

    That works because every stored measure is mergeable: sum/count/
    min/max combine associatively, and avg is derived (``sum/count``) at
    read time rather than stored — the same partial-aggregate algebra
    Catalyst uses for map-side combine, lifted to the storage layer. At
    100 TB the raw scan happens once (finest level); each further level
    reads the previous one, which is orders of magnitude smaller — and a
    streaming ingest can maintain the finest level with a tumbling
    window while the coarser ones refresh from it on a schedule.

    ``spans`` must be increasing and each a multiple of the previous.
    Returns one DataFrame per span with columns ``keys + [bucket_col,
    v_sum, v_cnt, v_min, v_max]`` (``bucket_col`` = floor(time/span)).
    """
    spans = list(spans)
    if not spans:
        raise ValueError("spans must be non-empty")
    for a, b in zip(spans, spans[1:]):
        if b % a != 0 or b <= a:
            raise ValueError(
                f"spans must be increasing and divisible: {b} not a multiple of {a}"
            )
    ks = list(keys)
    v = F.col(value_col)
    finest = (
        df.withColumn(
            bucket_col, F.floor(F.col(time_col) / F.lit(spans[0])).cast("long")
        )
        .groupBy(*ks, bucket_col)
        .agg(
            F.sum(v).alias("v_sum"),
            F.count(v).alias("v_cnt"),
            F.min(v).alias("v_min"),
            F.max(v).alias("v_max"),
        )
    )
    out = [finest]
    for prev_span, span in zip(spans, spans[1:]):
        prev = out[-1]
        factor = span // prev_span
        out.append(
            prev.withColumn(
                bucket_col, F.floor(F.col(bucket_col) / F.lit(factor)).cast("long")
            )
            .groupBy(*ks, bucket_col)
            .agg(
                F.sum("v_sum").alias("v_sum"),
                F.sum("v_cnt").alias("v_cnt"),
                F.min("v_min").alias("v_min"),
                F.max("v_max").alias("v_max"),
            )
        )
    return out


def dense_grid(
    series_dims: DataFrame,
    length_col: str,
    hour_col: str = "hour",
) -> DataFrame:
    """W4: dense per-series hour grid ``0 .. length-1``.

    The reference reindexes each stay's frame against ``range(los)`` in a
    Python loop (data_generation_icu.py:651-656,741-747). Set form:
    ``explode(sequence(0, length-1))`` over the (stay × item) dimension
    table — a narrow generator, no shuffle; the observed values then LEFT
    JOIN onto this grid.
    """
    return series_dims.withColumn(
        hour_col,
        F.explode(F.sequence(F.lit(0), F.col(length_col).cast("long") - 1)),
    )


def ffill(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """W5: forward-fill nulls within a series
    (data_generation_icu.py:745-756). ``last(ignorenulls)`` over an
    unbounded-preceding row frame — one window pass."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col or value_col, F.last(value_col, ignorenulls=True).over(w))


def bfill(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """W5: backward-fill (chart value bfill after ffill,
    data_generation_icu.py:659-667). ``first(ignorenulls)`` over the
    following frame — same sort as ffill, so Catalyst reuses the window
    exchange/sort between the two."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return df.withColumn(out_col or value_col, F.first(value_col, ignorenulls=True).over(w))


def impute_cascade(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    group_stat: str | None = "mean",
    default: float | int | None = 0,
    out_col: str | None = None,
) -> DataFrame:
    """W6: the reference's imputation cascade — ffill, then bfill, then the
    series' own mean (or median), then a constant
    (data_generation_icu.py:659-667,872-880). One coalesce over three
    window aggregates sharing a single partitioning+sort."""
    w_f = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_b = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_all = Window.partitionBy(*keys)
    parts: list[Column] = [
        F.last(value_col, ignorenulls=True).over(w_f),
        F.first(value_col, ignorenulls=True).over(w_b),
    ]
    if group_stat == "mean":
        parts.append(F.avg(value_col).over(w_all))
    elif group_stat == "median":
        parts.append(F.percentile(F.col(value_col), F.lit(0.5)).over(w_all))
    if default is not None:
        parts.append(F.lit(default).cast("double"))
    return df.withColumn(out_col or value_col, F.coalesce(*parts))


def active_signal(
    df: DataFrame,
    keys: Sequence[str],
    hour_col: str,
    stop_col: str,
    signal_col: str = "signal",
    order_col: str | None = None,
) -> DataFrame:
    """W7: medication active-mask derivation.

    The reference pivots stop_time onto the hour grid, ffills, subtracts
    the row index and thresholds at 0 (data_generation_icu.py:739-766):
    a med is "on" at hour h while its (forward-filled) stop time exceeds h.
    Here: ffill the stop column then one ``when`` — no pivot needed.
    ``order_col`` pins a total order when ``hour_col`` has ties.
    """
    filled = ffill(df, keys, order_col or hour_col, stop_col, out_col="__stop_f")
    return filled.withColumn(
        signal_col,
        F.when(F.col("__stop_f") - F.col(hour_col) > 0, F.lit(1)).otherwise(F.lit(0)),
    ).drop("__stop_f")


def event_indicator(
    grid: DataFrame,
    observed: DataFrame,
    on: Sequence[str],
    signal_col: str = "signal",
) -> DataFrame:
    """W8: 0/1 occurrence matrix — grid LEFT JOIN observed, indicator on
    match (data_generation_icu.py:793-803,827-835)."""
    marked = observed.select(*on).dropDuplicates().withColumn("__seen", F.lit(1))
    return grid.join(marked, on=list(on), how="left").withColumn(
        signal_col, F.when(F.col("__seen").isNotNull(), F.lit(1)).otherwise(F.lit(0))
    ).drop("__seen")


def rolling_stats(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    window_size: int,
    prefix: str = "roll_",
) -> DataFrame:
    """Trailing rolling-window statistics over a numeric time axis
    (range frame: all rows within the last ``window_size`` time units,
    inclusive). The natural companion to the hourly grids W4 produces —
    e.g. 6-hour moving vitals averages. One window partitioning, shared by
    all four aggregates."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col).asc())
        .rangeBetween(-(window_size - 1), Window.currentRow)
    )
    return (
        df.withColumn(f"{prefix}avg", F.avg(value_col).over(w))
        .withColumn(f"{prefix}min", F.min(value_col).over(w))
        .withColumn(f"{prefix}max", F.max(value_col).over(w))
        .withColumn(f"{prefix}count", F.count(value_col).over(w))
    )


def linear_interpolate(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Linear interpolation of nulls between observations within a series
    — the smoother alternative to W5's step-wise ffill for continuous
    vitals. Boundary nulls (before first / after last observation) take
    the nearest observation (ffill/bfill semantics).

    Four window aggregates over ONE partitioning+sort: previous/next
    observed value and their time positions, then the interpolation
    formula in plain arithmetic.
    """
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t = F.col(order_col).cast("double")
    obs_t = F.when(F.col(value_col).isNotNull(), t)
    prev_v = F.last(value_col, ignorenulls=True).over(w_prev)
    next_v = F.first(value_col, ignorenulls=True).over(w_next)
    prev_t = F.last(obs_t, ignorenulls=True).over(w_prev)
    next_t = F.first(obs_t, ignorenulls=True).over(w_next)
    interpolated = F.when(F.col(value_col).isNotNull(), F.col(value_col)).otherwise(
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t))
    )
    return df.withColumn(out_col or value_col, interpolated)


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    gap: int,
    session_col: str = "session_id",
    time_col: str | None = None,
) -> DataFrame:
    """Batch sessionization: a new session starts after more than ``gap``
    time units of silence per key (the batch twin of
    streaming.stream_session_windows). lag + conditional cumsum — one
    window partitioning, two passes sharing its sort.

    ``order_col`` pins the total order (may be a tiebreak struct);
    ``time_col`` is the numeric axis the gap measures (defaults to
    ``order_col``).
    """
    t = time_col or order_col
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    is_new = F.when(
        F.lag(t).over(w).isNull() | (F.col(t) - F.lag(t).over(w) > gap),
        1,
    ).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"),
    )
