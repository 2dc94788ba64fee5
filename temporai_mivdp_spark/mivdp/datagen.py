"""Time-series generation (EP-3: data_generation_icu.py:16-988).

The reference materializes per-stay pandas frames in a Python loop over
stays (create_Dict, :693-923). Here the whole densification is ONE plan
over the long (stay_id, hour, itemid) shape:

    events x broadcast(stays)                      [isin + los merge]
      -> bucket + hourly collapse (groupBy)        [pivot_table mean]
      -> per-series hour -> values map (groupBy)   [per-stay pivot]
      -> explode hours 0..n-1, look each one up    [reindex range(los)]
      -> window ffill / imputation cascade         [ffill/bfill/fillna]
      -> mask arithmetic                           [signal derivation]

The stay table joins once, as a broadcast; the event side never joins
after that. A chart grid plans two shuffles: the hourly collapse by
(stay, item, hour), then the series grouping by (stay, item), whose
partitioning every fill window reuses. Stays are independent and a
series' grid is bounded by n_buckets, so skew is bounded by the longest
stay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from temporai_mivdp_spark.operators.filters import semi_join_filter
from temporai_mivdp_spark.operators.timeseries import bfill, ffill, floor_hours

# ---------------------------------------------------------------------------
# generate_adm / generate_* (data_generation_icu.py:205-390)
# ---------------------------------------------------------------------------


def cohort_hours(cohort: DataFrame) -> DataFrame:
    """los in whole hours from the stay interval, keep positive stays
    (generate_adm, :205-224). The reference's string-split timedelta math
    is ``floor((outtime-intime)/3600s)``."""
    return (
        cohort.withColumn("los", floor_hours(F.col("outtime"), F.col("intime")))
        .filter(F.col("los") > 0)
        .withColumn("Age", F.col("Age").cast("int"))
    )


def _with_los(events: DataFrame, data: DataFrame) -> DataFrame:
    """Keep the events of ``data``'s stays and attach their los: one
    broadcast inner join (a semi-join and a left join on the same key)."""
    return events.join(F.broadcast(data.select("stay_id", "los")), "stay_id", "inner")


def prepare_point_events(
    events: DataFrame, data: DataFrame, time_col: str = "event_time_from_admit"
) -> DataFrame:
    """proc/out/chart prep (:226-337): start_time = event hours, keep
    start >= 0 and strictly before discharge (``los - start > 0``)."""
    evt = events.withColumn("start_time", F.col(time_col).cast("long"))
    evt = evt.filter(F.col("start_time") >= 0)
    evt = _with_los(evt, data).filter((F.col("los") - F.col("start_time")) > 0)
    return evt.drop("los", time_col)


def prepare_meds(meds: DataFrame, data: DataFrame) -> DataFrame:
    """Medication prep (generate_meds, :341-390): start/stop hours, keep
    stop > start, start before discharge, clamp stop to los."""
    m = meds.withColumn("start_time", F.col("start_hours_from_admit").cast("long")).withColumn(
        "stop_time", F.col("stop_hours_from_admit").cast("long")
    )
    m = m.filter((F.col("stop_time") - F.col("start_time")) > 0)
    m = _with_los(m, data).filter((F.col("los") - F.col("start_time")) > 0)
    m = m.withColumn(
        "stop_time", F.least(F.col("stop_time"), F.col("los"))
    ).drop("los")
    return m.withColumn("rate", F.col("rate").cast("double")).withColumn(
        "amount", F.col("amount").cast("double")
    )


# ---------------------------------------------------------------------------
# task windows (mortality_length / los_length / readmission_length,
# :392-520)
# ---------------------------------------------------------------------------


def trim_anchored_start(
    data: DataFrame,
    include_time: int,
    pred_window: int = 0,
) -> DataFrame:
    """Mortality/LOS stay filter (:392-458): keep stays with
    ``los >= include_time (+ pred_window)``, then fix los = include_time."""
    kept = data.filter(F.col("los") >= include_time + pred_window)
    return kept.withColumn("los", F.lit(include_time).cast("long"))


def trim_events_start(
    events: DataFrame, data: DataFrame, include_time: int, clamp_stop: bool = False
) -> DataFrame:
    """Event trim for start-anchored tasks (:405-424): events starting at
    or before include_time survive (inclusive!); med stop clamps to the
    window."""
    return _trim_start(semi_join_filter(events, data, "stay_id"), include_time, clamp_stop)


def _trim_start(evt: DataFrame, include_time: int, clamp_stop: bool) -> DataFrame:
    """``trim_events_start`` for events already restricted to the kept
    stays (``prepare_*`` against the same ``data``)."""
    evt = evt.filter(F.col("start_time") <= include_time)
    if clamp_stop:
        evt = evt.withColumn(
            "stop_time", F.least(F.col("stop_time"), F.lit(include_time).cast("long"))
        )
    return evt


def trim_readmission(data: DataFrame, include_time: int) -> DataFrame:
    """Readmission stay filter (:460-470): keep ``los >= include_time``;
    the observation window anchors at the END of stay, so
    ``select_time = los - include_time`` shifts event clocks."""
    kept = data.filter(F.col("los") >= include_time)
    return kept.withColumn(
        "select_time", (F.col("los") - include_time).cast("long")
    ).withColumn("los", F.lit(include_time).cast("long"))


def trim_events_end_anchored(
    events: DataFrame, data: DataFrame, has_stop: bool = False
) -> DataFrame:
    """Readmission event trim (:472-520): shift clocks by select_time;
    point events keep shifted start >= 0; med intervals keep shifted
    stop >= 0 and clamp start up to 0."""
    evt = events.join(F.broadcast(data.select("stay_id", "select_time")), "stay_id", "inner")
    evt = evt.withColumn("start_time", F.col("start_time") - F.col("select_time"))
    if has_stop:
        evt = (
            evt.withColumn("stop_time", F.col("stop_time") - F.col("select_time"))
            .filter(F.col("stop_time") >= 0)
            .withColumn("start_time", F.greatest(F.col("start_time"), F.lit(0).cast("long")))
        )
    else:
        evt = evt.filter(F.col("start_time") >= 0)
    return evt.drop("select_time")


# ---------------------------------------------------------------------------
# smooth_meds: tumbling buckets (:522-636)
# ---------------------------------------------------------------------------


def _bucket_filter(include_hours: int, bucket: int) -> F.Column:
    """The reference's ``for i in range(0, los, bucket)`` covers bucket
    ordinals t = 0 .. ceil(los/bucket)-1; events beyond that never join a
    bucket. Replicated as a predicate on floor(start/bucket)."""
    n_loop_buckets = -(-include_hours // bucket)  # ceil
    return F.floor(F.col("start_time") / bucket) < n_loop_buckets


def bucket_meds(meds: DataFrame, include_hours: int, bucket: int) -> DataFrame:
    """Med bucketing (:540-556): per (stay, item, orderid, bucket): max
    stop, mean rate/amount (avg skips nulls = np.nanmean); start_time
    becomes the bucket ordinal; stop rescales to bucket units (float
    division, :555). The reference's per-bucket loop with appends is one
    groupBy with map-side combine."""
    return (
        meds.filter(_bucket_filter(include_hours, bucket))
        .withColumn("__t", F.floor(F.col("start_time") / bucket).cast("long"))
        .groupBy("stay_id", "itemid", "orderid", "__t")
        .agg(
            (F.max("stop_time") / F.lit(float(bucket))).alias("stop_time"),
            F.max("subject_id").alias("subject_id"),
            F.avg("rate").alias("rate"),
            F.avg("amount").alias("amount"),
        )
        .withColumnRenamed("__t", "start_time")
    )


def bucket_point_events(
    events: DataFrame,
    include_hours: int,
    bucket: int,
    value_col: str | None = None,
) -> DataFrame:
    """proc/out/chart bucketing (:558-603): dedup to one row per
    (stay, item, bucket); chart keeps nan-mean of valuenum."""
    base = events.filter(_bucket_filter(include_hours, bucket)).withColumn(
        "__t", F.floor(F.col("start_time") / bucket).cast("long")
    )
    aggs = [F.max("subject_id").alias("subject_id")] if "subject_id" in events.columns else []
    if value_col is not None:
        aggs = [F.avg(value_col).alias(value_col)]
    grouped = base.groupBy("stay_id", "itemid", "__t").agg(*aggs) if aggs else (
        base.select("stay_id", "itemid", "__t").dropDuplicates()
    )
    return grouped.withColumnRenamed("__t", "start_time")


def per_adm_maxima(bucketed: DataFrame, keys: list[str]) -> DataFrame:
    """metaDic scalars (:607-629): max per-stay event count and max
    per-stay distinct key-group count — one pass each, returned as a 1-row
    DataFrame instead of driver-side pickles."""
    per_group = bucketed.groupBy("stay_id", *keys).agg(F.count(F.lit(1)).alias("__n"))
    per_stay = per_group.groupBy("stay_id").agg(
        F.sum("__n").alias("__events"), F.count(F.lit(1)).alias("__groups")
    )
    return per_stay.agg(
        F.max("__events").cast("long").alias("max_events_per_adm"),
        F.max("__groups").cast("long").alias("max_groups_per_adm"),
    )


# ---------------------------------------------------------------------------
# create_Dict densification (:693-923) — long-format equivalent
# ---------------------------------------------------------------------------


def _densify(hourly: DataFrame, n_buckets: int, values: list[str]) -> DataFrame:
    """Dense grid of every (stay, item) series ``hourly`` holds (the
    stay's own items, observed at any hour) x hours 0..n_buckets-1 — the
    reference reindexes each stay's pivot against ``range(los)``
    (:741-747) — with ``values`` looked up per cell (null where
    unobserved) and ``__seen`` marking observed cells.

    One groupBy(stay_id, itemid): each series collects its grid hours'
    entries into an hour -> values map (``hourly`` holds at most one row
    per hour, so the buffer holds at most n_buckets entries), then
    explodes the grid and reads each hour from the map. The result stays
    hash-partitioned by (stay_id, itemid), so the per-series fill
    windows that follow add no exchange.
    """
    hour = F.col("start_time")
    # the hours sequence(0, n_buckets-1) enumerates, also for n_buckets < 1
    in_grid = hour.between(min(0, n_buckets - 1), max(0, n_buckets - 1))
    entry = F.when(in_grid, F.struct(hour, F.struct(*values)))
    series = hourly.groupBy("stay_id", "itemid").agg(
        F.map_from_entries(F.collect_list(entry)).alias("__obs")
    )
    grid = series.withColumn(
        "hour", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(n_buckets - 1).cast("long")))
    )
    cell = F.col("__obs")[F.col("hour")]
    return grid.select(
        "stay_id", "itemid", "hour", cell.isNotNull().alias("__seen"),
        *[cell[v].alias(v) for v in values],
    )


def densify_meds(bucketed_meds: DataFrame, n_buckets: int) -> DataFrame:
    """Med densification (:727-766), long form.

    Reference: pivot stop_time/rate/amount per (hour x item) — the
    pivot_table's implicit *mean over orderids* becomes an explicit
    groupBy — reindex to the dense grid, ffill, fill(0 / -1), then
    signal = (ffilled stop - hour > 0), rate/amount masked by signal.
    Output: (stay_id, hour, itemid, signal, rate, amount).
    """
    hourly = bucketed_meds.groupBy("stay_id", "itemid", "start_time").agg(
        F.avg("stop_time").alias("stop_time"),
        F.avg("rate").alias("rate"),
        F.avg("amount").alias("amount"),
    )
    dense = _densify(hourly, n_buckets, ["stop_time", "rate", "amount"])
    keys = ["stay_id", "itemid"]
    filled = ffill(dense, keys, "hour", "stop_time", out_col="__stop_f")
    filled = filled.na.fill({"__stop_f": 0.0})
    filled = ffill(filled, keys, "hour", "rate", out_col="rate")
    filled = ffill(filled, keys, "hour", "amount", out_col="amount")
    filled = filled.na.fill({"rate": -1.0, "amount": -1.0})
    signaled = filled.withColumn(
        "signal",
        F.when(F.col("__stop_f") - F.col("hour") > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return signaled.select(
        "stay_id",
        "hour",
        "itemid",
        "signal",
        (F.col("rate") * F.col("signal")).alias("rate"),
        (F.col("amount") * F.col("signal")).alias("amount"),
    )


def densify_indicator(bucketed: DataFrame, n_buckets: int) -> DataFrame:
    """proc/out densification (:784-843): 0/1 occurrence per grid cell.
    Output: (stay_id, hour, itemid, signal)."""
    observed = bucketed.select("stay_id", "itemid", "start_time").dropDuplicates()
    return _densify(observed, n_buckets, []).select(
        "stay_id", "hour", "itemid",
        F.when(F.col("__seen"), F.lit(1)).otherwise(F.lit(0)).alias("signal"),
    )


def densify_chart(
    bucketed_chart: DataFrame, n_buckets: int, impute: str | None = "Mean"
) -> DataFrame:
    """Chart densification (:845-883): value grid + signal.

    Imputation cascade per (stay, item) series: ffill -> bfill -> series
    mean/median -> 0 (the reference's column-mean step is unreachable for
    per-stay pivots — every observed column fully fills after ffill+bfill —
    but is kept for contract parity). ``impute=None`` skips filling and
    zero-fills directly (:860-868).
    Output: (stay_id, hour, itemid, signal, valuenum).
    """
    hourly = bucketed_chart.groupBy("stay_id", "itemid", "start_time").agg(
        F.avg("valuenum").alias("valuenum")
    )
    signaled = _densify(hourly, n_buckets, ["valuenum"]).withColumn(
        "signal", F.when(F.col("valuenum").isNotNull(), 1).otherwise(0)
    )
    keys = ["stay_id", "itemid"]
    if impute in ("Mean", "Median"):
        filled = ffill(signaled, keys, "hour", "valuenum", out_col="__v")
        filled = bfill(filled, keys, "hour", "__v", out_col="__v")
        out = filled.withColumn("valuenum", F.coalesce(F.col("__v"), F.lit(0.0))).drop("__v")
    elif impute is None:
        out = signaled.withColumn("valuenum", F.coalesce(F.col("valuenum"), F.lit(0.0)))
    else:
        raise ValueError(f"unknown impute {impute!r}")
    return out.select("stay_id", "hour", "itemid", "signal", "valuenum")


def one_hot_conditions(cond: DataFrame, data: DataFrame) -> DataFrame:
    """Condition one-hot (:905-921), long form: distinct (stay_id,
    new_icd_code) pairs restricted to the cohort — the wide 0/1 matrix is
    a pivot of this against the code vocabulary."""
    return (
        semi_join_filter(cond, data, "stay_id")
        .select("stay_id", "new_icd_code")
        .dropDuplicates()
    )


def vocabulary(df: DataFrame, col: str) -> DataFrame:
    """Vocab dims replacing the pickled lists (:937-984)."""
    return df.select(col).dropDuplicates().orderBy(col)


def dynamic_wide(
    dense_long: DataFrame,
    value_col: str,
    vocab: list,
    prefix: str,
) -> DataFrame:
    """Optional wide export matching dynamic.csv's (modality, itemid)
    columns (:893-901): pivot the long form with the full vocabulary,
    zero-filling items a stay never received (the reference's column-set
    union, :768-774). Keep data long until this final export."""
    pivoted = (
        dense_long.groupBy("stay_id", "hour")
        .pivot("itemid", vocab)
        .agg(F.first(value_col))
        .na.fill(0)
    )
    for v in vocab:
        pivoted = pivoted.withColumnRenamed(str(v), f"{prefix}{v}")
    return pivoted
