"""Driver-facing query catalog.

One entry per implemented operator family from SURVEY.md §2, each expressed
over the driver's synthetic TPC-H-ish tables (TESTDATA.md) together with an
ANSI-SQL oracle DuckDB runs on the same parquet files. Column names and
rounding are pinned identically on both sides — the driver hash-compares
values after sorting columns by name.

Float discipline: a double SUM/AVG is summation-order-dependent, and the
two engines' ``round()`` implementations disagree on exact decimal ties
(Java BigDecimal-on-string vs C-on-binary). So aggregates over the
2-decimal testdata values are computed in integer cents (exact in any
order) and divided back — both engines then produce bit-identical doubles
with NO final rounding. ``round`` survives only where the computation
paths genuinely differ (percentile interpolation in a8).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from temporai_mivdp_spark.operators import (
    aggregates as agg_ops,
    joins as join_ops,
    reshape,
    skew as skew_ops,
    sorts,
    timeseries as ts_ops,
)
from temporai_mivdp_spark.functions import scalars
from temporai_mivdp_spark.sources import fan_out, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Driver-window ordering, derived from the driver's own artifacts. The
# driver hash-checks only the FIRST 50 entries ``queries()`` returns; the
# catalog holds 99. Sorting by the round of each key's last green driver
# row (never green first), newest-registered first within a round, makes
# each round's head the keys the previous round did not check plus the
# newest entry, so no key's green row is more than one round stale once
# that round's artifact lands. A new entry has no green row, so it faces
# the driver at once. Every entry keeps its oracle; tools/oracle_check.py
# re-verifies the whole catalog locally.
# ---------------------------------------------------------------------------

#: Driver-produced ``CORRECTNESS_r{N}.json`` files sit next to the package.
_ARTIFACT_DIR = Path(__file__).resolve().parents[1]


def driver_artifacts() -> dict[int, dict]:
    """round -> that round's driver rows (key -> row dict)."""
    return {
        int(p.stem.removeprefix("CORRECTNESS_r")): json.loads(p.read_text())
        for p in _ARTIFACT_DIR.glob("CORRECTNESS_r*.json")
    }


def last_green_rounds(artifacts: dict[int, dict]) -> dict[str, int]:
    """key -> newest round whose row is green: no ``err`` and rows,
    schema and hash all match."""
    last: dict[str, int] = {}
    for rnd, rows in sorted(artifacts.items()):
        for key, row in rows.items():
            if row.get("err") is None and all(
                row.get(f) for f in ("rows_match", "schema_match", "hash_match")
            ):
                last[key] = rnd
    return last


def window_ordered(mapping: dict, last_green: dict[str, int] | None = None) -> dict:
    """Reorder a catalog dict (in registration order) so the least
    recently driver-green keys come first, newest-registered first among
    equals; ``last_green`` defaults to the committed artifacts' rounds."""
    if last_green is None:
        last_green = last_green_rounds(driver_artifacts())
    keys = sorted(reversed(list(mapping)), key=lambda k: last_green.get(k, 0))
    return {k: mapping[k] for k in keys}


# ---------------------------------------------------------------------------
# Flagship: scan -> filter -> multi-join -> aggregate (EP-1 cohort shape:
# J1/J2 equi-join chain + P4 filters + A10 summary aggregation).
# ---------------------------------------------------------------------------


@_register(
    "flagship_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) / 100.0
             AS revenue,
           count(*) AS line_count
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus <> 'X'
    GROUP BY n.n_name
    """,
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP-1's plan shape (scan -> filter -> join chain -> agg) on testdata.

    Dimension sides (region/nation/customer) are broadcast — the fact
    table never shuffles for the joins; only the final groupBy exchanges
    the (tiny) aggregated set. Mirrors cohort extraction where icustays ⋈
    patients ⋈ admissions (day_intervals_cohort_v1.py:83,138-186).
    """
    # adaptive fan-out of the fact side (guide §2.5: the testdata file is
    # one row group = a one-task scan): the four broadcast probes + the
    # revenue arithmetic parallelize; keyed on l_orderkey (deterministic,
    # no round-robin pre-sort). No-op when the scan has real splits.
    lineitem = fan_out(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "X")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dim = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        # Sum integer cents, not raw doubles: per-row products are identical
        # across engines, but a double SUM is summation-order-dependent —
        # integer cents make the aggregate bit-exact and hash-stable.
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast("long"))
                / 100.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# ---------------------------------------------------------------------------
# P: projections / filters
# ---------------------------------------------------------------------------


@_register(
    "p2_derived_projection",
    """
    SELECT c_custkey,
           right(c_name, 4) AS name_suffix,
           CAST(right(c_name, 4) AS BIGINT) + c_nationkey AS derived_key,
           c_acctbal - 100.0 AS adj_balance
    FROM customer
    """,
)
def p2_derived_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: derived-column projection — the yob / min_valid_year arithmetic
    (day_intervals_cohort_v1.py:131-132: int(anchor_year_group[-4:])) as
    substring + cast + arithmetic, all codegen'd."""
    customer = _t(spark, sf_dir, "customer")
    suffix = F.substring(F.col("c_name"), -4, 4)
    return customer.select(
        "c_custkey",
        suffix.alias("name_suffix"),
        (suffix.cast("long") + F.col("c_nationkey")).alias("derived_key"),
        (F.col("c_acctbal") - 100.0).alias("adj_balance"),
    )


@_register(
    "p3_p4_null_comparison_filter",
    """
    SELECT event_id, user_id, value
    FROM events
    WHERE nullif(value, 0.0) IS NOT NULL
      AND value >= 10.0 AND value < 180.0
      AND event_type <> 'error'
    """,
)
def p3_p4_null_comparison_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4: null-predicate + comparison filters (dropna / Age>=18 /
    los>0 at day_intervals_cohort_v1.py:176,248-249;
    data_generation_icu.py:220). Pure pushed-down scan predicates."""
    events = _t(spark, sf_dir, "events")
    return (
        events.withColumn("__v", F.nullif(F.col("value"), F.lit(0.0)))
        .filter(F.col("__v").isNotNull())
        .filter((F.col("value") >= 10.0) & (F.col("value") < 180.0))
        .filter(F.col("event_type") != "error")
        .select("event_id", "user_id", "value")
    )


@_register(
    "p5_semi_join_filter",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def p5_semi_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/U4: the reference's ubiquitous ``isin(cohort.stay_id)``
    (day_intervals_cohort_v1.py:87,113,651) as a broadcast left-semi join."""
    from temporai_mivdp_spark.operators.filters import semi_join_filter

    orders = _t(spark, sf_dir, "orders")
    keys = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    return semi_join_filter(orders, keys, "o_custkey").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


@_register(
    "p6_string_match_filter",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE contains(lower(text), 'spark') AND lang = 'en'
    """,
)
def p6_string_match_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/F6/F7: substring-match filter (the ICD root
    ``str.contains`` at disease_cohort.py:86)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        F.lower(F.col("text")).contains("spark") & (F.col("lang") == "en")
    ).select("doc_id", "lang", "n_chars")


@_register(
    "p8_split_label_union",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 3000.0 THEN 1 ELSE 0 END AS label
    FROM orders
    WHERE o_orderdate IS NOT NULL
    """,
)
def p8_split_label_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/U1/F9: case/ctrl split + re-union collapsed to one ``when``
    (partition_by_mort at day_intervals_cohort_v1.py:336-367)."""
    from temporai_mivdp_spark.operators.filters import split_label_union

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    return split_label_union(orders, F.col("o_totalprice") > 3000.0).select("o_orderkey", "label")


# ---------------------------------------------------------------------------
# J: joins
# ---------------------------------------------------------------------------


@_register(
    "j7_lookup_first_match",
    """
    WITH first_cust AS (
      SELECT c_nationkey, c_name,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
      FROM customer
    )
    SELECT n.n_nationkey, n.n_name, f.c_name AS first_customer
    FROM nation n
    LEFT JOIN first_cust f ON f.c_nationkey = n.n_nationkey AND f.rn = 1
    """,
)
def j7_lookup_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/O3: first-match lookup join — the ICD-9→10 ``.iloc[0]`` lookup
    (disease_cohort.py:29-53) as deterministic row_number()==1 dedup +
    broadcast left join. Misses stay NULL."""
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    return join_ops.lookup_first_match(
        nation,
        customer.select(F.col("c_nationkey").alias("map_key"), "c_name", "c_custkey"),
        df_key="n_nationkey",
        map_key="map_key",
        value_cols=["c_name"],
        order_by=["c_custkey"],
    ).select("n_nationkey", "n_name", F.col("c_name").alias("first_customer"))


@_register(
    "j8_interval_exists_label",
    """
    SELECT a.o_custkey, a.o_orderkey,
           CASE WHEN EXISTS (
             SELECT 1 FROM orders b
             WHERE b.o_custkey = a.o_custkey
               AND b.o_orderdate > a.o_orderdate
               AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
           ) THEN 1 ELSE 0 END AS label
    FROM orders a
    """,
)
def j8_interval_exists_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/W9: readmission labeling — "any later visit within gap days"
    (day_intervals_cohort_v1.py:268-323 Python loop) as an equi+interval
    self-join aggregated back to one row per visit."""
    # adaptive fan-out keyed on the window's partition key: the one
    # exchange parallelizes the scan AND is reused by the per-customer
    # window (no second exchange — guide §2.4)
    orders = fan_out(_t(spark, sf_dir, "orders"), "o_custkey")
    labeled = join_ops.interval_exists_label(
        orders.select("o_custkey", "o_orderkey", "o_orderdate"),
        group_key="o_custkey",
        start_col="o_orderdate",
        end_col="o_orderdate",
        gap_days=30,
        id_cols=["o_orderkey"],
    )
    return labeled.select("o_custkey", "o_orderkey", "label")


# ---------------------------------------------------------------------------
# A: aggregations
# ---------------------------------------------------------------------------


@_register(
    "a1_a6_group_counts",
    """
    SELECT event_type,
           count(*) AS total_count,
           count(DISTINCT user_id) AS n_users,
           sum(CAST(round(value * 100) AS BIGINT)) / (100.0 * count(value)) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def a1_a6_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A6: group count + distinct count (feature summaries at
    feature_preproc_icu.py:328-342; vocab nuniques at
    data_generation_icu.py:937-984)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.countDistinct("user_id").alias("n_users"),
            # integer-cents mean: order-independent, hash-stable (see flagship)
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long")) / (100.0 * F.count("value"))
            ).alias("avg_value"),
        )
    )


@_register(
    "a2_two_level_agg",
    """
    WITH per_inner AS (
      SELECT l_partkey, l_orderkey, count(*) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_partkey,
           avg(n) AS mean_frequency,
           CAST(sum(n) AS BIGINT) AS total_count
    FROM per_inner GROUP BY l_partkey
    """,
)
def a2_two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2(+A1,J6): "mean events per stay per item" two-level aggregation
    (feature_preproc_icu.py:328-339) — one nested groupBy instead of two
    aggs + right merge."""
    # adaptive fan-out on the OUTER key: hash partitioning on l_partkey
    # satisfies both the (l_partkey, l_orderkey) inner grouping and the
    # l_partkey outer grouping, so the whole two-level aggregation runs
    # exchange-free above the one adaptive exchange (2 exchanges -> 1)
    out = agg_ops.two_level_agg(
        fan_out(_t(spark, sf_dir, "lineitem"), "l_partkey"),
        inner_keys=["l_partkey", "l_orderkey"],
        outer_keys=["l_partkey"],
    )
    return out.select("l_partkey", "mean_frequency", "total_count")


@_register(
    "a3_conditional_count",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_discount = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS missing_count
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a3_conditional_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: conditional "missing" count (amount==0 rows per item,
    feature_preproc_icu.py:341,375)."""
    return agg_ops.conditional_count(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"], F.col("l_discount") == 0.0
    )


@_register(
    "a7_mode_vote_filter",
    """
    WITH c AS (
      SELECT l_partkey AS k, l_linestatus AS v, count(*) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    g AS (
      SELECT k, count(*) AS nvals, max(n) AS topn, sum(n) AS tot FROM c GROUP BY k
    ),
    m AS (
      SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY n DESC, v ASC) AS rn FROM c
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_linestatus
    FROM lineitem l
    JOIN g ON g.k = l.l_partkey
    JOIN m ON m.k = l.l_partkey AND m.v = l.l_linestatus
    WHERE g.nvals = 1 OR g.topn * 1.0 / g.tot <= 0.5 OR m.rn = 1
    """,
)
def a7_mode_vote_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/X4: unit-of-measure majority voting (uom_conversion.py:9-26):
    keep a row unless its group has a >cutoff dominant value and the row
    holds a minority value. Window-function form of the reference's
    per-itemid Python loop; cutoff 0.5 here so both branches fire on the
    synthetic data."""
    # adaptive fan-out on the vote group key: the counts aggregation, its
    # window statistics, and the broadcast join-back probe all sit above
    # one reused exchange (previously 3 exchanges over a one-task scan)
    out = agg_ops.mode_vote_filter(
        fan_out(_t(spark, sf_dir, "lineitem"), "l_partkey"),
        group_key="l_partkey", vote_col="l_linestatus", cut_off=0.5
    )
    return out.select("l_orderkey", "l_linenumber", "l_partkey", "l_linestatus")


@_register(
    "a8_winsorize",
    """
    WITH b AS (
      SELECT l_returnflag AS k,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_orderkey, l.l_linenumber,
           round(CASE WHEN l.l_extendedprice < b.lo THEN b.lo
                      WHEN l.l_extendedprice > b.hi THEN b.hi
                      ELSE l.l_extendedprice END, 4) AS price_winsorized
    FROM lineitem l JOIN b ON b.k = l.l_returnflag
    """,
)
def a8_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/X3: per-group percentile winsorization
    (outlier_removal.py:11-37) with EXACT linear-interpolated percentiles
    matching numpy/duckdb ``quantile_cont``."""
    # adaptive fan-out keyed on l_orderkey (high-cardinality; the window
    # key l_returnflag has 3 values and would collapse the fan-out): the
    # rank-window branch's map side and the clamp join-back probe
    # parallelize; the per-flag window sort keeps its own exchange
    out = agg_ops.winsorize(
        fan_out(_t(spark, sf_dir, "lineitem"), "l_orderkey"),
        group_key="l_returnflag",
        value_col="l_extendedprice",
        lower_pct=5.0,
        upper_pct=95.0,
        impute=True,
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_extendedprice", 4).alias("price_winsorized")
    )


@_register(
    "a9_group_mean_impute",
    """
    WITH t AS (
      SELECT event_id, user_id,
             round(CASE WHEN event_type = 'error' THEN NULL
                        ELSE nullif(value, 0.0) END * 100) AS cents
      FROM events
    )
    SELECT event_id,
           coalesce(cents, avg(cents) OVER (PARTITION BY user_id)) / 100.0 AS value_imputed
    FROM t
    """,
)
def a9_group_mean_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: null -> per-group mean imputation
    (data_generation_icu.py:659-667). Nulls are synthesized (error rows /
    zero values) since the testdata has none."""
    events = _t(spark, sf_dir, "events").withColumn(
        "__v",
        F.round(
            F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
                F.nullif(F.col("value"), F.lit(0.0))
            )
            * 100,
            0,
        ),
    )
    out = agg_ops.group_mean_impute(events, "user_id", "__v", out_col="value_imputed")
    return out.select(
        "event_id", (F.col("value_imputed") / 100.0).alias("value_imputed")
    )


@_register(
    "a5_a10_summary_counts",
    """
    SELECT *
    FROM (
      SELECT count(*) AS n_orders,
             count(DISTINCT o_custkey) AS n_customers,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_value
      FROM orders
    ) CROSS JOIN (
      SELECT CAST(max(n) AS BIGINT) AS max_events_per_user
      FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    )
    """,
)
def a5_a10_summary_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/S7 one-row cohort summary (day_intervals_cohort_v1.py:667-683)
    plus the A5 scalar max-of-group-sizes (*_per_adm vocab caps at
    data_generation_icu.py:234-235,609-629) — two tiny aggregate rows
    cross-joined; no driver-side collect in the plan."""
    order_summary = _t(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("long").alias("n_finished"),
        (F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")) / 100.0).alias(
            "total_value"
        ),
    )
    max_group = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").cast("long").alias("max_events_per_user"))
    )
    return order_summary.crossJoin(max_group)


# ---------------------------------------------------------------------------
# W: time-series
# ---------------------------------------------------------------------------


@_register(
    "w1_w2_hours_window_trim",
    """
    WITH t AS (
      SELECT e.*,
             CAST(floor(epoch(ts - min(ts) OVER (PARTITION BY user_id)) / 3600) AS BIGINT) AS h
      FROM events e
    )
    SELECT event_id, user_id, h AS hours_from_first, least(h, 72) AS h_clamped
    FROM t WHERE h <= 168
    """,
)
def w1_w2_hours_window_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2/F4/F11: hours-from-admission normalization — the reference's
    stringify-and-split timedelta math (data_generation_icu.py:214-219) as
    floor((t-anchor)/3600) — feeding the fixed observation window + clamp
    (data_generation_icu.py:392-424: keep events inside include_time,
    clamp stop times). The raw hour offset is exposed so the W1 floor
    semantics are hash-checked alongside the W2 trim."""
    events = _t(spark, sf_dir, "events").withColumn(
        "__anchor", F.min("ts").over(Window.partitionBy("user_id"))
    )
    trimmed = (
        ts_ops.hours_from_anchor(events, "ts", "__anchor", out_col="h")
        .filter(F.col("h") <= 168)
        .withColumn("h_clamped", scalars.clamp(F.col("h"), hi=72.0).cast("long"))
    )
    return trimmed.select(
        "event_id", "user_id", F.col("h").alias("hours_from_first"), "h_clamped"
    )


@_register(
    "w3_tumbling_bucket",
    """
    WITH t AS (
      SELECT e.*,
             CAST(floor(epoch(ts - min(ts) OVER (PARTITION BY user_id)) / 3600) AS BIGINT) AS h
      FROM events e
    )
    SELECT user_id,
           CAST(floor(h / 6) AS BIGINT) AS start_time,
           count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / (100.0 * count(value)) AS avg_value
    FROM t GROUP BY 1, 2
    """,
)
def w3_tumbling_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: tumbling-bucket aggregation — the reference's
    ``for i in range(0, los, bucket)`` loop (data_generation_icu.py:522-604)
    as one groupBy on floor(h/bucket) with map-side combine."""
    # adaptive fan-out on user_id: the anchor window AND the bucket
    # aggregation both reuse the one exchange; the one-task scan's
    # timestamp math parallelizes
    events = fan_out(_t(spark, sf_dir, "events"), "user_id").withColumn(
        "__anchor", F.min("ts").over(Window.partitionBy("user_id"))
    )
    hourly = ts_ops.hours_from_anchor(events, "ts", "__anchor", out_col="h")
    return ts_ops.tumbling_bucket(
        hourly,
        keys=["user_id"],
        time_col="h",
        bucket=6,
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long")) / (100.0 * F.count("value"))
            ).alias("avg_value"),
        ],
    )


#: monotone suffix for streaming memory-sink names: repeat invocations in
#: one session (bench warmup + timed rounds, repeated oracle runs) each
#: need a fresh query name
_STREAM_SINK_SEQ = __import__("itertools").count()


def _stream_events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a Structured Streaming file source with an
    event-time ``ts`` ready for watermarking — shared by every catalog
    entry that executes a real stream.

    Same nanos handling as sources.load_table, but the conversion must
    live INSIDE the streaming plan (the file source reads raw longs).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events_path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(events_path).schema
    # pathGlobFilter matches LEAF file names: right when the table is a
    # single bare file inside a multi-table landing dir (the test
    # fixtures), wrong when it is a directory of part-files (any real
    # write, the decade-sweep inflation) — there the glob would match
    # zero part files and the stream would silently emit nothing, so
    # stream the directory itself as the source path
    from temporai_mivdp_spark import streaming as st_mod

    if __import__("os").path.isdir(events_path):
        src = st_mod.read_parquet_stream(
            spark, events_path, raw_schema, max_files_per_trigger=1024
        )
    else:
        src = st_mod.read_parquet_stream(
            spark,
            sf_dir,
            raw_schema,
            max_files_per_trigger=1024,
            path_glob="events.parquet",
        )
    ts_type = dict(src.dtypes).get("ts")
    if ts_type == "bigint":
        src = src.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # watermarks demand an event time of TIMESTAMP type (with time zone);
    # nanos parquet surfaces as TIMESTAMP_NTZ (or bigint under the legacy
    # conf) — the cast is wall-clock-preserving under the UTC session
    return src.withColumn("ts", F.col("ts").cast("timestamp"))


def _await_or_raise(q, seconds: int) -> None:
    """``awaitTermination(timeout)`` returns False on timeout, in which
    case the sink holds a PARTIAL result that would be silently compared
    against the oracle. Fail loudly instead: stop the hung query and
    raise, so a slow/hung stream surfaces as a harness error, never as a
    plausible-looking partial row set."""
    if not q.awaitTermination(seconds):
        try:
            q.stop()
        finally:
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish in {seconds}s; "
                "sink is partial — refusing to read it"
            )


def _run_stream_to_memory(df: DataFrame, prefix: str, mode: str) -> str:
    """Execute a streaming DataFrame to a fresh memory sink under an
    ``availableNow`` trigger; returns the sink table name."""
    name = f"{prefix}_{next(_STREAM_SINK_SEQ)}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, 300)
    return name


@_register(
    "stream_tumbling_bucket",
    """
    SELECT user_id,
           CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start,
           count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / (100.0 * count(value)) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_bucket_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3's STREAMING twin executed for real: a Structured Streaming
    query (parquet file source → epoch-aligned 6-hour ``window()``
    aggregation → memory sink, ``availableNow`` trigger) whose emitted
    result faces the same DuckDB oracle as every batch entry. Unlike
    the per-user-anchored batch `w3_tumbling_bucket`, buckets here are
    epoch-aligned — the only alignment an unbounded stream can know
    before seeing a user's first event — so the oracle is the
    epoch-floor groupBy. The replay watermark is set beyond the data's
    horizon: on a bounded replay nothing may be dropped as late, which
    is what makes the result deterministic and oracle-checkable (a
    deployment picks a real watermark from the feed's out-of-orderness
    and accepts the documented late-drop). avg_value goes through
    integer cents (queries.py module docstring discipline). The memory
    sink holds users × buckets rows — bounded output, not the stream.
    """
    from temporai_mivdp_spark import streaming as st_mod

    src = _stream_events_source(spark, sf_dir)
    bucketed = st_mod.stream_tumbling_bucket(
        src.select("user_id", "ts", "value"),
        "ts",
        ["user_id"],
        bucket_hours=6,
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                / (100.0 * F.count("value"))
            ).alias("avg_value"),
        ],
        watermark="100000 hours",
    )
    name = _run_stream_to_memory(bucketed, "stream_w3_sink", "complete")
    return spark.table(name).select(
        "user_id",
        F.col("bucket_start").cast("long").alias("bucket_start"),
        "n_events",
        "avg_value",
    )


@_register(
    "stream_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type,
           CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start
    FROM events
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup executed for real: the event feed deduped to
    one row per (user, event_type, 6-hour epoch bucket) with
    ``dropDuplicatesWithinWatermark`` (streaming/windows.py::
    stream_dedup) — the exactly-once admission gate an ingest pipeline
    puts in front of feature stores and training-corpus landing zones.

    Only the KEY columns are emitted: within-key ties are broken by
    micro-batch arrival order, which a distributed replay does not pin,
    so the deterministic, oracle-checkable surface is the deduped key
    SET (DuckDB: SELECT DISTINCT). The replay watermark again sits
    beyond the data horizon so the bounded replay drops nothing; a
    deployment picks a real horizon and gets state bounded to keys
    younger than watermark + bucket (dropDuplicatesWithinWatermark
    evicts older state — plain dropDuplicates would grow forever;
    eviction is measured by the state-bound sweeps of
    ``scale_stateful.py`` at commit 64a744e).
    """
    from temporai_mivdp_spark import streaming as st_mod

    src = _stream_events_source(spark, sf_dir)
    keyed = src.select(
        "user_id",
        "event_type",
        (F.floor(F.col("ts").cast("long") / 21600) * 21600)
        .cast("long")
        .alias("bucket_start"),
        "ts",
    )
    deduped = st_mod.stream_dedup(
        keyed,
        ["user_id", "event_type", "bucket_start"],
        "ts",
        watermark="100000 hours",
    )
    name = _run_stream_to_memory(
        deduped.select("user_id", "event_type", "bucket_start"),
        "stream_dedup_sink",
        "append",
    )
    return spark.table(name)


@_register(
    "stream_session_agg",
    """
    WITH l AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events
    ),
    m AS (
      SELECT user_id, ts,
             CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > 21600000000
                  THEN 1 ELSE 0 END AS brk
      FROM l
    ),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           min(epoch_us(ts)) AS session_start_us,
           max(epoch_us(ts)) + 21600000000 AS session_end_us,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows executed as a REAL Structured Streaming
    query (streaming/windows.py::stream_session_windows — the streaming
    twin of the batch `ts_sessionize` entry): per user, a session closes
    after 6 hours of silence; `session_window` state per key is ONE open
    session, merged/extended as events arrive, which is what makes the
    shape viable on an unbounded feed where the batch gaps-and-islands
    window (lag + cumulative sum) cannot run. The DuckDB oracle IS that
    batch gaps-and-islands rewrite — on a bounded replay the two must
    agree row for row, and the boundary semantics are pinned
    empirically: an event exactly `gap` after its predecessor MERGES
    (Spark starts a new session only when delta > gap, verified on
    synthetic rows), so the oracle's break predicate is strict `>`.
    Timestamps are emitted as exact MICROSECOND epochs (`unix_micros` /
    `epoch_us` — both truncate the parquet nanos the same way), with
    `session_end = last_event + gap` exactly as `session_window` defines
    it. The replay watermark sits beyond the data horizon so nothing is
    dropped as late (the determinism contract shared by every streaming
    entry here); a deployment picks a real horizon and gets state
    bounded to open sessions younger than watermark + gap.
    """
    from temporai_mivdp_spark import streaming as st_mod

    src = _stream_events_source(spark, sf_dir)
    sess = st_mod.stream_session_windows(
        src.select("user_id", "ts"),
        "ts",
        ["user_id"],
        gap="6 hours",
        watermark="100000 hours",
    )
    name = _run_stream_to_memory(sess, "stream_session_sink", "complete")
    return spark.table(name).select(
        "user_id",
        F.unix_micros(F.col("first_event")).alias("session_start_us"),
        (F.unix_micros(F.col("last_event")) + F.lit(21600000000)).alias(
            "session_end_us"
        ),
        "n_events",
    )


@_register(
    "stream_sliding_bucket",
    """
    WITH off AS (SELECT i FROM generate_series(0, 3) AS t(i)),
    w AS (
      SELECT user_id,
             (CAST(floor(epoch(ts) / 3600) AS BIGINT) - i) * 3600
               AS window_start,
             value
      FROM events CROSS JOIN off
    )
    SELECT user_id, window_start, count(*) AS n_events,
           sum(CAST(round(value * 100) AS BIGINT)) / (100.0 * count(value))
             AS avg_value
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding_bucket_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation executed as a REAL Structured Streaming
    query (streaming/windows.py::stream_sliding_bucket): 4-hour windows
    sliding every hour, so each event lands in exactly 4 overlapping
    epoch-aligned windows — rolling per-user stats with a bounded emit
    rate, the streaming twin of the batch rolling range window. The
    DuckDB oracle materializes the overlap explicitly: a 4-row offset
    dimension cross-joined onto the events (window_start =
    hour-floor − i hours, i ∈ 0..3) then the same groupBy — on a bounded
    replay the window() assignment and the offset arithmetic must agree
    row for row. State per key is (watermark + window)/slide open
    windows (the helper's documented bound); the replay watermark again
    sits beyond the horizon so nothing drops as late. avg_value goes
    through integer cents (module-docstring discipline).
    """
    from temporai_mivdp_spark import streaming as st_mod

    src = _stream_events_source(spark, sf_dir)
    agg = st_mod.stream_sliding_bucket(
        src.select("user_id", "ts", "value"),
        "ts",
        ["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                / (100.0 * F.count("value"))
            ).alias("avg_value"),
        ],
        window_hours=4,
        slide_hours=1,
        watermark="100000 hours",
    )
    name = _run_stream_to_memory(agg, "stream_slide_sink", "complete")
    return spark.table(name).select(
        "user_id",
        F.col("window_start").cast("long").alias("window_start"),
        "n_events",
        "avg_value",
    )


@_register(
    "stream_interval_join",
    """
    SELECT a.user_id,
           epoch_us(a.ts) AS click_us,
           epoch_us(b.ts) AS purchase_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click'
     AND b.event_type = 'purchase'
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 21600000000
    """,
)
def stream_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed for real
    (streaming/windows.py::stream_interval_join): every click matched
    with the same user's purchases in the following 6 hours — the
    click→conversion attribution shape, and the streaming twin of the
    batch readmission interval-exists join (J8). Both sides are streams
    (a self-join of the event feed split by type); the time-range
    predicate in the join condition is what lets Structured Streaming
    bound the buffered state — a click is droppable once the purchase
    watermark passes click_ts + 6h. Inner matches emit as they are
    found, so with the replay watermark beyond the horizon the emitted
    set is exactly the batch inequality join, which is the DuckDB
    oracle verbatim. The oracle compares MICROSECOND epochs on both
    sides (`epoch_us` / `unix_micros`) because the parquet carries
    nanos: comparing raw ns timestamps in DuckDB against Spark's
    µs-truncated event times would disagree on pairs that differ only
    below the microsecond.
    """
    from temporai_mivdp_spark import streaming as st_mod

    src = _stream_events_source(spark, sf_dir)
    clicks = src.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = src.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    joined = st_mod.stream_interval_join(
        clicks,
        purchases,
        "user_id",
        max_delay="6 hours",
        watermark="100000 hours",
    )
    name = _run_stream_to_memory(
        joined.select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("click_us"),
            F.unix_micros(F.col("ts_r")).alias("purchase_us"),
        ),
        "stream_ij_sink",
        "append",
    )
    return spark.table(name)


@_register(
    "stream_enrich",
    """
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS n_events,
           sum(CAST(round(e.value * 100) AS BIGINT)) / (100.0 * count(e.value))
             AS avg_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment executed for real
    (streaming/windows.py::stream_enrich): the event feed joined per
    micro-batch against the static customer dimension (market segment),
    then aggregated per (segment, event_type) — the streaming form of
    the engine's fact × dictionary broadcast joins (J3/J4), and the
    shape every feature-store ingest uses to attach slowly-changing
    attributes without shuffling the stream. The static side is
    broadcast inside each trigger (re-read if its files change); the
    stream side never shuffles for the join — only the 25-key
    aggregation exchanges. The DuckDB oracle is the same join +
    groupBy in batch; avg goes through integer cents (module-docstring
    discipline). State is the 5×5 (segment, type) running-agg keys —
    trivially bounded, which is why complete mode is safe here.
    """
    from temporai_mivdp_spark import streaming as st_mod

    src = _stream_events_source(spark, sf_dir)
    dim = (
        _t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    enriched = st_mod.stream_enrich(
        src.select("user_id", "event_type", "value"), dim, "user_id", how="inner"
    )
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            / (100.0 * F.count("value"))
        ).alias("avg_value"),
    )
    name = _run_stream_to_memory(agg, "stream_enrich_sink", "complete")
    return spark.table(name)


@_register(
    "w4_w8_dense_grid_indicator",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT u.user_id, g.h
      FROM users u CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) g
    ),
    seen AS (SELECT DISTINCT user_id, CAST(hour(ts) AS BIGINT) AS h FROM events)
    SELECT grid.user_id, grid.h AS hour,
           CASE WHEN seen.h IS NOT NULL THEN 1 ELSE 0 END AS signal
    FROM grid LEFT JOIN seen ON seen.user_id = grid.user_id AND seen.h = grid.h
    """,
)
def w4_w8_dense_grid_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4+W8: dense grid reindex + 0/1 occurrence indicator
    (data_generation_icu.py:651-656,793-803): explode a sequence per
    series, left-join observations, indicator on match."""
    # fan_out measured here and REJECTED (wash to +0.04s, paired A/B):
    # the per-row map work (hour() + projection) is too light to repay
    # the extra exchange; the distinct/join stages already parallelize
    events = _t(spark, sf_dir, "events")
    users = events.select("user_id").dropDuplicates().withColumn("__len", F.lit(24))
    grid = ts_ops.dense_grid(users, "__len", hour_col="hour").drop("__len")
    observed = events.select("user_id", F.hour("ts").cast("long").alias("hour"))
    return ts_ops.event_indicator(grid, observed, on=["user_id", "hour"])


@_register(
    "w5_w6_w7_impute_active",
    """
    WITH t AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
             CAST(floor(epoch(ts - min(ts) OVER (PARTITION BY user_id)) / 3600) AS BIGINT) AS h,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(epoch(ts - min(ts) OVER (PARTITION BY user_id)) / 3600) AS BIGINT) + 24
                  ELSE NULL END AS stop_h
      FROM events
    )
    SELECT event_id,
           coalesce(
             last_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             first_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
             0.0) AS v_filled,
           CASE WHEN last_value(stop_h IGNORE NULLS) OVER
                  (PARTITION BY user_id ORDER BY h, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - h > 0
                THEN 1 ELSE 0 END AS signal
    FROM t
    """,
)
def w5_w6_w7_impute_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5+W6+W7 in one per-event pass: forward-fill -> backward-fill ->
    constant imputation cascade (data_generation_icu.py:659-667,745-756)
    as one coalesce over two window aggregates, chained with the
    medication active-signal mask (data_generation_icu.py:739-766: ffill
    the stop hour, signal = stop - hour > 0; 'purchase' events act as 24h
    prescriptions). Both window stacks share the user_id partitioning, so
    one shuffle feeds the event-time sort and the hour sort."""
    # adaptive fan-out on user_id: every window stack below (anchor,
    # ffill/bfill, active-signal) shares the one exchange's partitioning
    events = fan_out(_t(spark, sf_dir, "events"), "user_id").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(F.col("value"))
    ).withColumn(
        "__anchor", F.min("ts").over(Window.partitionBy("user_id"))
    )
    hourly = ts_ops.hours_from_anchor(events, "ts", "__anchor", out_col="h").withColumn(
        "stop_h",
        F.when(F.col("event_type") == "purchase", F.col("h") + 24).cast("long"),
    )
    imputed = ts_ops.impute_cascade(
        hourly.withColumn("__ord_ts", F.struct(F.col("ts"), F.col("event_id"))),
        keys=["user_id"],
        order_col="__ord_ts",
        value_col="v",
        group_stat=None,
        default=0.0,
        out_col="v_filled",
    )
    out = ts_ops.active_signal(
        imputed.withColumn("__ord_h", F.struct(F.col("h"), F.col("event_id"))),
        keys=["user_id"], hour_col="h", stop_col="stop_h", order_col="__ord_h",
    )
    return out.select("event_id", "v_filled", "signal")


# ---------------------------------------------------------------------------
# O: sorts / top-k
# ---------------------------------------------------------------------------


@_register(
    "o_sort_topk_first",
    """
    WITH topk AS (
      SELECT l_partkey, count(*) AS total_count
      FROM lineitem GROUP BY l_partkey
      ORDER BY total_count DESC, l_partkey ASC LIMIT 10
    ),
    f AS (
      SELECT l.l_partkey, l.l_orderkey, l.l_shipdate,
             row_number() OVER (PARTITION BY l.l_partkey
                                ORDER BY l.l_shipdate, l.l_orderkey, l.l_linenumber) AS rn
      FROM lineitem l JOIN topk t ON t.l_partkey = l.l_partkey
    )
    SELECT t.l_partkey, t.total_count,
           f.l_orderkey AS first_orderkey, f.l_shipdate AS first_shipdate
    FROM topk t JOIN f ON f.l_partkey = t.l_partkey AND f.rn = 1
    ORDER BY t.total_count DESC, t.l_partkey ASC
    """,
)
def o_sort_topk_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2+O3 composed: top-k most frequent partkeys (feature caps at
    icu_preprocess_util.py:451-452, deterministic tie-break), each joined
    to its deterministic first row (``.iloc[0]`` at
    data_generation_icu.py:711-714), multi-key ordered output
    (sort_values at day_intervals_cohort_v1.py:261,288,368). The top-k
    agg is map-side combined; the 10-row key set broadcasts back so the
    first-row window only sorts the ~k matching rows, never the fact
    table; the final ORDER BY is a TakeOrdered over 10 rows."""
    li = _t(spark, sf_dir, "lineitem")
    topk = sorts.top_k_by_count(li, "l_partkey", k=10)
    matched = li.select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate").join(
        F.broadcast(topk.select("l_partkey")), "l_partkey", "left_semi"
    )
    firsts = sorts.first_row_per_group(
        matched,
        group_keys="l_partkey",
        order_by=["l_shipdate", "l_orderkey", "l_linenumber"],
    ).select(
        "l_partkey",
        F.col("l_orderkey").alias("first_orderkey"),
        F.col("l_shipdate").alias("first_shipdate"),
    )
    return (
        topk.join(F.broadcast(firsts), "l_partkey")
        .select("l_partkey", "total_count", "first_orderkey", "first_shipdate")
        .orderBy(F.col("total_count").desc(), F.col("l_partkey").asc())
    )


# ---------------------------------------------------------------------------
# U: set ops
# ---------------------------------------------------------------------------


@_register(
    "u1_u2_union_anti_grid",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT u.user_id, g.h
      FROM users u CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) g
    ),
    seen AS (SELECT DISTINCT user_id, CAST(hour(ts) AS BIGINT) AS h FROM events)
    SELECT grid.user_id, grid.h AS missing_hour
    FROM grid
    WHERE NOT EXISTS (
      SELECT 1 FROM seen WHERE seen.user_id = grid.user_id AND seen.h = grid.h
    )
    """,
)
def u1_u2_union_anti_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+U2+P7: missing-hours complement (index difference at
    data_generation_icu.py:651) as a left-anti join against the dense
    grid. The grid is assembled from two half-day grids via unionByName
    with mismatched column order (U1 — the pd.concat / append shim at
    utils/common.py:10-24: by-name resolution, no shuffle), and both the
    user dim and the observed set are deduplicated with the P7
    drop_duplicates operator (icu_preprocess_util.py:206,252,319)."""
    from temporai_mivdp_spark.operators.filters import dedup

    events = _t(spark, sf_dir, "events")
    users = dedup(events.select("user_id")).withColumn("__len", F.lit(12))
    am = ts_ops.dense_grid(users, "__len", hour_col="missing_hour").drop("__len")
    pm = am.select(
        (F.col("missing_hour") + 12).alias("missing_hour"), "user_id"
    )  # columns deliberately reordered: unionByName must resolve by name
    grid = am.unionByName(pm)
    observed = dedup(
        events.select("user_id", F.hour("ts").cast("long").alias("missing_hour"))
    )
    return join_ops.anti_join_filter(grid, observed, on=["user_id", "missing_hour"])


# ---------------------------------------------------------------------------
# F: scalar function suite
# ---------------------------------------------------------------------------


@_register(
    "f_scalar_suite",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           lower(o_orderpriority) AS priority_lc,
           substr(o_orderpriority, 1, 1) AS priority_code,
           CASE WHEN o_totalprice > 3000 THEN 'high' ELSE 'low' END AS price_band,
           least(greatest(o_totalprice, 1000.0), 5000.0) AS price_clamped,
           CAST(floor(o_totalprice) AS BIGINT) AS price_int,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled
    FROM orders
    """,
)
def f_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F12/F14 scalar surface in one projection: year extraction (F3),
    interval arithmetic (F2), lower (F6), substring (F5), ternary (F9),
    clamp (F11), cast (F8/F12), null-fill (F10) — all whole-stage
    codegen'd, zero UDFs (SURVEY.md §2.10)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).cast("date").alias("due_date"),
        F.lower("o_orderpriority").alias("priority_lc"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.when(F.col("o_totalprice") > 3000, "high").otherwise("low").alias("price_band"),
        scalars.clamp(F.col("o_totalprice"), 1000.0, 5000.0).alias("price_clamped"),
        F.floor("o_totalprice").cast("long").alias("price_int"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias("status_filled"),
    )


@_register(
    "f13_json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def f13_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: structured-string parsing (``ast.literal_eval`` at
    icu_preprocess_util.py:449 generalized to JSON props)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


# ---------------------------------------------------------------------------
# R: pivot / one-hot
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_register(
    "r1_r2_pivot_onehot",
    """
    SELECT user_id,
           avg(round(CASE WHEN event_type = 'click' THEN value END * 100)) / 100.0 AS click,
           avg(round(CASE WHEN event_type = 'error' THEN value END * 100)) / 100.0 AS error,
           avg(round(CASE WHEN event_type = 'purchase' THEN value END * 100)) / 100.0 AS purchase,
           avg(round(CASE WHEN event_type = 'signup' THEN value END * 100)) / 100.0 AS signup,
           avg(round(CASE WHEN event_type = 'view' THEN value END * 100)) / 100.0 AS view,
           max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS et_click,
           max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS et_error,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS et_purchase,
           max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS et_signup,
           max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS et_view
    FROM events GROUP BY user_id
    """,
)
def r1_r2_pivot_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1+R2: long->wide mean pivot with explicit vocabulary
    (data_generation_icu.py:647-649 — no extra distinct() scan) joined to
    the one-hot condition encoding (data_generation_icu.py:913-921). Both
    sides group on user_id, so AQE plans the 150x150 join broadcast with
    no extra exchange of the fact table."""
    events = _t(spark, sf_dir, "events").withColumn(
        "__cents", F.round(F.col("value") * 100, 0)
    )
    means = reshape.pivot_agg(
        events,
        index=["user_id"],
        pivot_col="event_type",
        values=_EVENT_TYPES,
        agg=(F.avg("__cents") / 100.0),
    )
    flags = reshape.one_hot(
        _t(spark, sf_dir, "events"), index="user_id", category_col="event_type",
        categories=_EVENT_TYPES, prefix="et_",
    )
    return means.join(flags, "user_id")


# ---------------------------------------------------------------------------
# remaining operator-family queries (J5/J6, O1, U1, R3)
# ---------------------------------------------------------------------------


@_register(
    "j6_right_merge_summary",
    """
    WITH freq AS (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
    ),
    mean_freq AS (SELECT event_type, avg(n) AS mean_frequency FROM freq GROUP BY 1),
    missing AS (
      SELECT event_type, count(*) AS missing_count FROM events WHERE value < 10 GROUP BY 1
    ),
    total AS (SELECT event_type, count(*) AS total_count FROM events GROUP BY 1)
    SELECT t.event_type,
           coalesce(m.mean_frequency, 0) AS mean_frequency,
           coalesce(x.missing_count, 0) AS missing_count,
           t.total_count
    FROM total t
    LEFT JOIN mean_freq m ON m.event_type = t.event_type
    LEFT JOIN missing x ON x.event_type = t.event_type
    """,
)
def j6_right_merge_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6(+A1-A3): the reference's right-merge summary assembly
    (feature_preproc_icu.py:331-386) — three aggregates stitched with the
    total side preserved and zero-filled (its fillna(0))."""
    events = _t(spark, sf_dir, "events")
    freq = (
        events.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
        .groupBy("event_type").agg(F.avg("n").alias("mean_frequency"))
    )
    missing = events.filter(F.col("value") < 10).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("missing_count")
    )
    total = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("total_count"))
    return (
        total.join(freq, "event_type", "left")
        .join(missing, "event_type", "left")
        .na.fill({"mean_frequency": 0, "missing_count": 0})
        .select("event_type", "mean_frequency", "missing_count", "total_count")
    )


@_register(
    "r3_multilabel_onehot",
    """
    WITH t AS (
      SELECT p_partkey, list_value(p_type, p_brand) AS labels FROM part
    )
    SELECT p_partkey,
           CASE WHEN list_contains(labels, 'STANDARD') THEN 1 ELSE 0 END AS lbl_standard,
           CASE WHEN list_contains(labels, 'ECONOMY') THEN 1 ELSE 0 END AS lbl_economy,
           CASE WHEN list_contains(labels, 'Brand#13') THEN 1 ELSE 0 END AS "lbl_Brand#13"
    FROM t
    """,
)
def r3_multilabel_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: MultiLabelBinarizer equivalent (icu_preprocess_util.py:448-460)
    — binarize an array-valued column against a known label set with
    array_contains; no scikit-learn, no UDF."""
    from temporai_mivdp_spark.operators.reshape import multi_label_one_hot

    part = _t(spark, sf_dir, "part").withColumn(
        "labels", F.array(F.col("p_type"), F.col("p_brand"))
    )
    return multi_label_one_hot(
        part, index="p_partkey", array_col="labels",
        labels=["STANDARD", "ECONOMY", "Brand#13"], prefix="lbl_",
    ).toDF("p_partkey", "lbl_standard", "lbl_economy", "lbl_Brand#13")


@_register(
    "a4_group_max_nanmean",
    """
    SELECT user_id, event_type,
           CAST(max(event_id) AS BIGINT) AS max_event_id,
           sum(CASE WHEN event_type <> 'error'
                    THEN CAST(round(value * 100) AS BIGINT) END)
             / (100.0 * count(CASE WHEN event_type <> 'error' THEN 1 END)) AS mean_value
    FROM events
    GROUP BY user_id, event_type
    """,
)
def a4_group_max_nanmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: the smooth_meds dictionary aggregate — max passthrough + null-
    skipping mean in one groupBy (data_generation_icu.py:541-552:
    ``{"stop_time": "max", "rate": np.nanmean}``). Spark avg/our cents-sum
    skip nulls exactly like np.nanmean; nulls synthesized from 'error'
    rows."""
    events = _t(spark, sf_dir, "events").withColumn(
        "__cents",
        F.when(F.col("event_type") != "error", F.round(F.col("value") * 100, 0).cast("long")),
    )
    return events.groupBy("user_id", "event_type").agg(
        F.max("event_id").cast("long").alias("max_event_id"),
        (F.sum("__cents") / (100.0 * F.count("__cents"))).alias("mean_value"),
    )


@_register(
    "j4_dictionary_join",
    """
    SELECT p.p_type,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_type
    """,
)
def j4_dictionary_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: fact ⋈ broadcast dictionary (read_diagnoses joins d_icd at
    icu_preprocess_util.py:82-88) — the dictionary never shuffles the
    fact side."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round(F.col("l_quantity"), 0).cast("long")).cast("long").alias("total_qty"),
        )
    )


@_register(
    "ts_rolling_interp_peak",
    """
    WITH t AS (
      SELECT event_id, user_id, value,
             CAST(floor(epoch(ts - min(ts) OVER (PARTITION BY user_id)) / 3600) AS BIGINT) AS h,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE CAST(round(value * 100) AS BIGINT) END AS ncents
      FROM events
    ),
    attrs AS (
      SELECT user_id, CAST(round(max(round(value * 100))) AS BIGINT) AS max_cents
      FROM events GROUP BY user_id
    ),
    interp AS (
      SELECT event_id,
             CASE WHEN ncents IS NOT NULL THEN ncents * 1.0
                  WHEN pv IS NULL THEN nv * 1.0
                  WHEN nv IS NULL THEN pv * 1.0
                  ELSE pv + (nv - pv) * (pos * 1.0 - pt) / (nt - pt)
             END / 100.0 AS v_interp
      FROM (
        SELECT event_id, pos, ncents,
               last_value(ncents IGNORE NULLS) OVER wp AS pv,
               first_value(ncents IGNORE NULLS) OVER wn AS nv,
               last_value(CASE WHEN ncents IS NOT NULL THEN pos * 1.0 END IGNORE NULLS) OVER wp AS pt,
               first_value(CASE WHEN ncents IS NOT NULL THEN pos * 1.0 END IGNORE NULLS) OVER wn AS nt
        FROM t
        WINDOW wp AS (PARTITION BY user_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      )
    )
    SELECT t.event_id,
           (sum(cents) OVER w * 1.0 / count(cents) OVER w) / 100.0 AS roll_avg,
           min(cents) OVER w / 100.0 AS roll_min,
           max(cents) OVER w / 100.0 AS roll_max,
           count(cents) OVER w AS roll_count,
           i.v_interp,
           a.max_cents,
           CASE WHEN cents = a.max_cents THEN 1 ELSE 0 END AS is_peak
    FROM t
    JOIN interp i ON i.event_id = t.event_id
    LEFT JOIN attrs a ON a.user_id = t.user_id
    WINDOW w AS (PARTITION BY t.user_id ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
    """,
)
def ts_rolling_interp_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event feature assembly in one plan: rolling trailing-window
    stats (6h range frame — moving vitals averages), linear interpolation
    of nulls between observations (boundary nulls take the nearest
    observation; positions = per-user row index), and J5 left-joined
    per-series attributes (the los / select_time joins at
    data_generation_icu.py:260,475-518 — tiny attr side broadcast) with a
    peak indicator. All window stacks share the user_id partitioning: one
    shuffle, three sorts, zero extra fact-table exchanges. Cents domain +
    mirrored division order keep every double bit-exact across engines."""
    events = _t(spark, sf_dir, "events").withColumn(
        "__anchor", F.min("ts").over(Window.partitionBy("user_id"))
    )
    w_pos = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    hourly = (
        ts_ops.hours_from_anchor(events, "ts", "__anchor", out_col="h")
        .withColumn("cents", F.round(F.col("value") * 100, 0).cast("long"))
        .withColumn("pos", F.row_number().over(w_pos) - 1)
        .withColumn(
            "ncents",
            F.when(F.col("event_type") == "error", F.lit(None).cast("long")).otherwise(
                F.round(F.col("value") * 100, 0).cast("long")
            ),
        )
    )
    rolled = ts_ops.rolling_stats(
        hourly, keys=["user_id"], order_col="h", value_col="cents", window_size=6
    )
    interped = ts_ops.linear_interpolate(
        rolled, keys=["user_id"], order_col="pos", value_col="ncents", out_col="v"
    )
    attrs = _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.round(F.max(F.round(F.col("value") * 100, 0)), 0).cast("long").alias("max_cents")
    )
    return (
        interped.join(F.broadcast(attrs), "user_id", "left")
        .withColumn("is_peak", F.when(F.col("cents") == F.col("max_cents"), 1).otherwise(0))
        .select(
            "event_id",
            (F.col("roll_avg") / 100.0).alias("roll_avg"),
            (F.col("roll_min") / 100.0).alias("roll_min"),
            (F.col("roll_max") / 100.0).alias("roll_max"),
            "roll_count",
            (F.col("v") / 100.0).alias("v_interp"),
            "max_cents",
            "is_peak",
        )
    )


@_register(
    "ts_sessionize",
    """
    WITH t AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts - min(ts) OVER (PARTITION BY user_id)) / 3600) AS BIGINT) AS h
      FROM events
    )
    SELECT event_id,
           CAST(sum(CASE WHEN prev_h IS NULL OR h - prev_h > 2 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY h, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM (
      SELECT event_id, user_id, h,
             lag(h) OVER (PARTITION BY user_id ORDER BY h, event_id) AS prev_h
      FROM t
    )
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: new session after >2h of silence per user
    (batch twin of streaming.stream_session_windows) — lag + conditional
    cumulative sum over one sort."""
    events = _t(spark, sf_dir, "events").withColumn(
        "__anchor", F.min("ts").over(Window.partitionBy("user_id"))
    )
    hourly = ts_ops.hours_from_anchor(events, "ts", "__anchor", out_col="h").withColumn(
        "__ord", F.struct(F.col("h"), F.col("event_id"))
    )
    out = ts_ops.sessionize(
        hourly, keys=["user_id"], order_col="__ord", gap=2, time_col="h"
    )
    return out.select("event_id", "session_id")


@_register(
    "olap_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def olap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup totals — not in the reference's surface
    (SURVEY.md §2.4: no grouping sets), but free OLAP breadth from
    Catalyst: one pass computes leaf + subtotal + grand-total rows."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round("l_quantity", 0).cast("long")).alias("total_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_lines",
            "total_qty",
        )
    )


@_register(
    "window_ranking_family",
    """
    SELECT o_orderkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           lag(o_orderkey) OVER w AS prev_key,
           lead(o_orderkey) OVER w AS next_key,
           CAST(round(o_totalprice * 100) AS BIGINT)
             - CAST(round(lag(o_totalprice) OVER w * 100) AS BIGINT) AS cents_delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_ranking_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking/offset window family (rank, dense_rank, ntile, lag,
    lead) in one pass over a single partitioning — the W9-adjacent surface
    the engine gets for free beyond the reference's loops."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    prev_cents = F.round(F.lag("o_totalprice").over(w) * 100, 0).cast("long")
    return orders.select(
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        (cents - prev_cents).alias("cents_delta"),
    )


@_register(
    "a_salted_skew",
    """
    SELECT c.c_mktsegment AS segment, e.event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def a_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit skew playbook as a checked entry
    (operators/skew.py): the fact side joins its dimension through
    `salted_join` (dim replicated once per salt bucket, hot fact keys
    scattered across buckets) and the rollup runs through
    `salted_group_count` (count per (key, salt), then sum the partials)
    — the fallback shapes for aggregations/joins AQE's runtime skew
    splitting can't fix. The oracle is the PLAIN join + group count:
    salting is a physical redistribution and must be invisible in the
    result, which is exactly what the hash-check pins (a salt leaking
    into keys, a lost/duplicated replica, or an unstable rand()-based
    salt all mismatch). The salt is a deterministic row hash, so
    retries and recomputation are stable; the skew stress tests
    (tests/test_skew_and_stateful.py) carry the injected-hot-key
    evidence."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    joined = skew_ops.salted_join(ev, dim, "user_id", salt_buckets=8)
    return skew_ops.salted_group_count(
        joined, ["segment", "event_type"], salt_buckets=16, count_name="n"
    )


@_register(
    "j_range_bucketed",
    """
    SELECT e.event_id, p.event_id AS purchase_id, epoch_us(e.ts) AS t_us
    FROM events e JOIN events p
      ON e.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND e.event_type IN ('click', 'view')
     AND epoch_us(e.ts) >= epoch_us(p.ts)
     AND epoch_us(e.ts) <= epoch_us(p.ts) + 259200000000
    """,
)
def j_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (operators/joins.py::range_join): every
    click/view matched to the same user's purchase windows [ts, ts+3d]
    that contain it (post-purchase attribution), planned as an EQUALITY
    join on (user, day-bucket) — the naive range predicate has no
    equi-key and Spark falls back to a BroadcastNestedLoopJoin,
    quadratic and OOM-prone at corpus scale; binning restores hash
    partitioning (each interval explodes into the ~4 day-buckets it
    touches, the exact predicate filters the coarse candidates, and a
    pair matches in exactly one bucket so no distinct pass). Both join
    sides derive from the events epoch, so the entry is non-vacuous at
    every sf (the round-7 version probed orders' 1995-2001 dates against
    2024 events — 0 rows both sides, a green row that proved nothing).
    The oracle is the PLAIN inequality join — the bucketing must be
    invisible in the result. Epochs compare in microseconds on both
    sides (the events parquet is TIMESTAMP(NANOS))."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    day_us = 86_400_000_000
    probes = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", "t_us"
    )
    wins = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("t_us").alias("w_start"),
        (F.col("t_us") + 3 * day_us).alias("w_end"),
    )
    out = join_ops.range_join(
        probes, wins, "t_us", "w_start", "w_end", bucket=float(day_us), keys=["user_id"]
    )
    return out.select("event_id", "purchase_id", "t_us")


@_register(
    "j_interval_overlap",
    """
    WITH o AS (
      SELECT o_custkey AS user_id, o_orderkey,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS s,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) + 864000000000 AS e
      FROM orders
    )
    SELECT a.user_id, a.o_orderkey AS a_key, b.o_orderkey AS b_key
    FROM o a JOIN o b
      ON a.user_id = b.user_id
     AND a.o_orderkey < b.o_orderkey
     AND a.s <= b.e AND b.s <= a.e
    """,
)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval-overlap join (operators/joins.py::
    interval_overlap_join): all pairs of the same customer's 10-day
    order windows that overlap, planned as an equality join on
    (user, bucket) with each pair kept in exactly ONE bucket (the first
    bucket of the overlap region) — the interval×interval companion of
    `j_range_bucketed`, and the same scale argument: the bare overlap
    predicate is a nested-loop plan, the binning makes it
    hash-partitioned and AQE-eligible. Oracle is the plain self-join on
    the overlap predicate — bucketing and dedup-by-region-start must be
    invisible in the result."""
    day_us = 86_400_000_000
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp")) + 10 * day_us
        ).alias("e"),
    )
    a = o.select(
        "user_id",
        F.col("o_orderkey").alias("a_key"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = o.select(
        "user_id",
        F.col("o_orderkey").alias("b_key"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    out = join_ops.interval_overlap_join(
        a, b, "a_s", "a_e", "b_s", "b_e", bucket=float(5 * day_us), keys=["user_id"]
    )
    return out.filter(F.col("a_key") < F.col("b_key")).select(
        "user_id", "a_key", "b_key"
    )


@_register(
    "j_asof_event_value",
    """
    WITH v AS (
      SELECT user_id, ts, max_by(value, event_id) AS view_value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id,
           CAST(floor(epoch(v.ts)) AS BIGINT) AS matched_unix_sec,
           v.view_value
    FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def j_asof_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click picks up the latest prior (or
    simultaneous) view's value for the same user. Union-tag plan — one
    shuffle, zero joins (operators/joins.py::asof_join); the oracle is
    DuckDB's native ASOF LEFT JOIN. Matched timestamps are emitted as
    unix seconds: the raw column is TIMESTAMP(NANOS) in the parquet and
    the engines truncate it differently below the microsecond."""
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("view_value"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = join_ops.asof_join(
        clicks, views, on="user_id", left_time="ts", right_time="ts",
        value_cols=["view_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        scalars.epoch_seconds(F.col("ts_matched")).alias("matched_unix_sec"),
        "view_value",
    )


# olap_cube was registered here through round 3: the same Expand-based
# grouping-sets plan as olap_rollup with two extra sets. Displaced from
# the 50-entry catalog by text_chunk_overlap (queries_llm.py) — the
# cube/rollup family stays covered by olap_rollup; df.cube() remains a
# one-liner on any query here.
