"""Unit tests for the generic operators, on tiny hand-built frames where
the expected output is computable by eye. The reference's own test style is
end-to-end column-set goldens (SURVEY.md §5); we test operator semantics
directly, which the reference never did.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from temporai_mivdp_spark.operators import (
    aggregates as agg_ops,
    joins as join_ops,
    sorts,
    timeseries as ts_ops,
)
from temporai_mivdp_spark.operators.filters import semi_join_filter, split_label_union
from tests.conftest import ts


def test_semi_join_filter(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    keys = spark.createDataFrame([(1,), (3,), (3,)], ["k"])
    out = semi_join_filter(df, keys, "k")
    assert sorted(r.v for r in out.collect()) == ["a", "c"]


def test_split_label_union(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 99.0)], ["k", "x"])
    out = split_label_union(df, F.col("x") > 50)
    assert {r.k: r.label for r in out.collect()} == {1: 0, 2: 1}


def test_lookup_first_match_takes_lowest_order_key(spark):
    df = spark.createDataFrame([(1,), (2,)], ["k"])
    mapping = spark.createDataFrame(
        [(1, "second", 20), (1, "first", 10), (9, "miss", 1)],
        ["mk", "val", "ord"],
    )
    out = join_ops.lookup_first_match(
        df, mapping, df_key="k", map_key="mk", value_cols=["val"], order_by=["ord"]
    )
    rows = {r.k: r.val for r in out.collect()}
    assert rows == {1: "first", 2: None}


def test_interval_exists_label_any_later_not_just_next(spark):
    # subject 1: v1 ends day 0; v2 starts day 40 (outside gap), v3 starts
    # day 20 (inside gap) -> v1 must be positive even though the *next*
    # visit by sort order could be chosen wrongly with lead().
    rows = [
        (1, ts("2020-01-01"), ts("2020-01-02")),   # v1: readmit via v3
        (1, ts("2020-02-11"), ts("2020-02-12")),   # v2: starts day 40
        (1, ts("2020-01-22"), ts("2020-01-23")),   # v3: starts day 21
        (2, ts("2020-01-01"), ts("2020-01-02")),   # single visit -> ctrl
    ]
    df = spark.createDataFrame(rows, ["subj", "start", "end"])
    out = join_ops.interval_exists_label(
        df, group_key="subj", start_col="start", end_col="end", gap_days=30
    )
    got = {(r.subj, r.start): r.label for r in out.collect()}
    assert got[(1, ts("2020-01-01"))] == 1
    assert got[(1, ts("2020-02-11"))] == 0  # last visit -> ctrl
    assert got[(1, ts("2020-01-22"))] == 1  # v2 is 20 days after v3 ends
    assert got[(2, ts("2020-01-01"))] == 0


def test_mode_vote_filter_drops_minority_only_above_cutoff(spark):
    rows = (
        [(1, "mg")] * 96 + [(1, "ml")] * 4          # 96% mg -> drop ml
        + [(2, "mg")] * 60 + [(2, "ml")] * 40       # 60% mg -> keep all
        + [(3, "mg")] * 5                            # single unit -> keep
    )
    df = spark.createDataFrame(rows, ["item", "uom"])
    out = agg_ops.mode_vote_filter(df, "item", "uom", cut_off=0.95)
    counts = {(r.item, r.uom): r["cnt"] for r in out.groupBy("item", "uom").agg(F.count("*").alias("cnt")).collect()}
    assert counts == {(1, "mg"): 96, (2, "mg"): 60, (2, "ml"): 40, (3, "mg"): 5}


def test_winsorize_clips_to_exact_percentiles(spark):
    vals = [float(i) for i in range(1, 101)]
    df = spark.createDataFrame([(1, v) for v in vals], ["item", "x"])
    out = agg_ops.winsorize(df, "item", "x", lower_pct=5, upper_pct=95, impute=True)
    xs = sorted(r.x for r in out.collect())
    # numpy-style linear interpolation: p5 of 1..100 = 5.95, p95 = 95.05
    assert xs[0] == 5.95 and xs[-1] == 95.05
    assert len(xs) == 100


def test_winsorize_drop_mode_removes_outliers(spark):
    vals = [float(i) for i in range(1, 101)]
    df = spark.createDataFrame([(1, v) for v in vals], ["item", "x"])
    out = agg_ops.winsorize(df, "item", "x", lower_pct=5, upper_pct=95, impute=False)
    xs = sorted(r.x for r in out.collect())
    assert xs[0] == 6.0 and xs[-1] == 95.0


def test_winsorize_exact_selection_bracket_path_matches_numpy(spark):
    """The round-12 GK-bracketed selection plan has two regimes: groups
    <= _WINSORIZE_SMALL_N recover order statistics from the whole
    collected group; larger groups rely on the sketch brackets plus
    rank arithmetic. This pins the BRACKET regime (n > 4096, which the
    hypothesis property test's n<=80 never reaches) against numpy,
    with heavy ties sitting exactly on the cut ranks — the adversarial
    case for the tie-run count arithmetic — and a tiny group alongside
    so both regimes execute in one plan. A bracket violation raises
    (raise_error guard) rather than silently unclamping.

    exact_sort_gate_rows=0 forces the selection tier (the r13 size gate
    would otherwise route this 18k-row input to the window plan)."""
    import numpy as np

    rng = np.random.RandomState(7)
    big_smooth = rng.uniform(-1e6, 1e6, size=9000).tolist()
    # ~p5 and ~p95 of this layout land inside the tie runs
    big_ties = [0.0] * 600 + [5.0] * 8000 + [9.0] * 600
    small = rng.uniform(0, 100, size=50).tolist()
    rows = (
        [("smooth", float(v)) for v in big_smooth]
        + [("ties", float(v)) for v in big_ties]
        + [("small", float(v)) for v in small]
    )
    df = spark.createDataFrame(rows, "g: string, x: double")
    out = agg_ops.winsorize(
        df, "g", "x", lower_pct=5, upper_pct=95, impute=True,
        exact_sort_gate_rows=0,
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.g, []).append(r.x)
    for name, vals in (("smooth", big_smooth), ("ties", big_ties), ("small", small)):
        p_lo, p_hi = np.percentile(vals, 5), np.percentile(vals, 95)
        want = sorted(float(min(max(v, p_lo), p_hi)) for v in vals)
        have = sorted(got[name])
        assert len(have) == len(want), name
        assert all(
            abs(a - b) < 1e-9 * max(1.0, abs(b)) for a, b in zip(have, want)
        ), name


def test_winsorize_size_gate_tiers_are_result_identical(spark, tmp_path):
    """The r13 size gate picks between the window and selection exact
    tiers at plan-build time; this pins that the two tiers clip a mixed
    smooth/tie/small corpus identically (the property the gate's
    transparency rests on) and that the adaptive-accuracy derivation is
    monotone, capped, and keeps the bracket-guarantee coupling
    small_n >= 2*accuracy/5 (ADVICE r12: a caller-raised accuracy
    without a raised small_n could leave groups whose brackets may not
    cover the target ranks)."""
    import numpy as np

    from temporai_mivdp_spark.operators.aggregates import (
        _WINSORIZE_ACCURACY,
        _WINSORIZE_ACCURACY_CAP,
        _adaptive_accuracy,
        _exact_bounds_by_selection,
        _exact_bounds_by_window,
        _selection_small_n,
    )

    rng = np.random.RandomState(11)
    rows = (
        [("a", float(v)) for v in rng.uniform(-1e3, 1e3, size=5000)]
        + [("b", 7.0)] * 4500
        + [("c", float(v)) for v in rng.uniform(0, 1, size=9)]
    )
    df = spark.createDataFrame(rows, "g: string, x: double")
    kw = dict(group_key="g", value_col="x", lower_pct=10, upper_pct=90, impute=True)
    via_window = agg_ops.winsorize(df, exact_sort_gate_rows=10**9, **kw)
    via_selection = agg_ops.winsorize(df, exact_sort_gate_rows=0, **kw)
    a = sorted((r.g, r.x) for r in via_window.collect())
    b = sorted((r.g, r.x) for r in via_selection.collect())
    assert a == b

    # file-backed input whose leaf statistics exceed the gate: the build
    # still pays the labelled count (restoring the caller's description),
    # and the selection tier it picks clips like the window tier
    path = str(tmp_path / "winsorize_input")
    df.write.parquet(path)
    file_df = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("winsorize-gate", "caller description", False)
    try:
        via_file = agg_ops.winsorize(file_df, exact_sort_gate_rows=1000, **kw)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        jobs = sc.statusTracker().getJobIdsForGroup("winsorize-gate")
        description = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    assert jobs and {store.job(j).description().get() for j in jobs} == {
        "winsorize: size-gate count"
    }
    assert description == "caller description"
    assert sorted((r.g, r.x) for r in via_file.collect()) == a

    # adaptive accuracy: floor at the default, linear middle, hard cap
    assert _adaptive_accuracy(0) == _WINSORIZE_ACCURACY
    assert _adaptive_accuracy(300_000_000) == 10_000
    assert _adaptive_accuracy(900_000_000) == 30_000
    assert _adaptive_accuracy(10**13) == _WINSORIZE_ACCURACY_CAP

    # the thinnest bracket margin the gate can produce: accuracy at its
    # cap, one group just above small_n (15n/accuracy = 6 ranks), all
    # values distinct so no tie run can hide a bracket miss
    small_n = _selection_small_n(_WINSORIZE_ACCURACY_CAP)
    assert small_n == 2 * _WINSORIZE_ACCURACY_CAP // 5
    n = small_n + 1
    edge = spark.range(n).select(
        F.lit("g").alias("g"), ((F.col("id") * 7919) % n).cast("double").alias("__v")
    )
    by_window = _exact_bounds_by_window(edge, ["g"], 0.1, 0.9).collect()
    by_selection = _exact_bounds_by_selection(
        edge, ["g"], 0.1, 0.9, accuracy=_WINSORIZE_ACCURACY_CAP, small_n=small_n
    ).collect()
    assert by_window == by_selection


def test_two_level_agg(spark):
    rows = [(10, 1), (10, 1), (10, 2), (20, 3)]
    df = spark.createDataFrame(rows, ["item", "stay"])
    out = agg_ops.two_level_agg(df, inner_keys=["item", "stay"], outer_keys=["item"])
    got = {r.item: (r.mean_frequency, r.total_count) for r in out.collect()}
    assert got == {10: (1.5, 3), 20: (1.0, 1)}


def test_rollup_cascade_levels_match_raw(spark):
    import random

    rng = random.Random(3)
    rows = [
        (i % 5, rng.randrange(0, 24 * 21), rng.uniform(-5, 5)) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "k: long, h: long, v: double")
    hourly, daily, weekly = ts_ops.rollup_cascade(
        df, keys=["k"], time_col="h", value_col="v", spans=(1, 24, 168)
    )
    # each cascaded level must equal the same aggregate computed from raw
    for span, level in ((24, daily), (168, weekly)):
        raw = (
            df.withColumn("bucket", (F.col("h") / span).cast("long"))
            .groupBy("k", "bucket")
            .agg(
                F.sum("v").alias("v_sum"),
                F.count("v").alias("v_cnt"),
                F.min("v").alias("v_min"),
                F.max("v").alias("v_max"),
            )
        )
        got = {(r.k, r.bucket): (round(r.v_sum, 9), r.v_cnt, r.v_min, r.v_max)
               for r in level.collect()}
        want = {(r.k, r.bucket): (round(r.v_sum, 9), r.v_cnt, r.v_min, r.v_max)
                for r in raw.collect()}
        assert got == want
    # derived avg at read time
    d = daily.withColumn("v_avg", F.col("v_sum") / F.col("v_cnt")).first()
    assert d.v_avg is not None

    with pytest.raises(ValueError, match="multiple"):
        ts_ops.rollup_cascade(df, ["k"], "h", "v", spans=(1, 36, 48))


def test_tumbling_bucket_matches_loop_semantics(spark):
    rows = [(1, 0, 10.0), (1, 5, 20.0), (1, 6, 30.0), (1, 17, 40.0)]
    df = spark.createDataFrame(rows, ["stay", "h", "v"])
    out = ts_ops.tumbling_bucket(
        df, keys=["stay"], time_col="h", bucket=6, aggs=[F.avg("v").alias("v")]
    )
    got = {r.start_time: r.v for r in out.collect()}
    assert got == {0: 15.0, 1: 30.0, 2: 40.0}


def test_dense_grid_and_ffill(spark):
    dims = spark.createDataFrame([(1, 5)], ["stay", "los"])
    grid = ts_ops.dense_grid(dims, "los")
    assert [r.hour for r in grid.orderBy("hour").collect()] == [0, 1, 2, 3, 4]

    obs = spark.createDataFrame([(1, 1, 7.0), (1, 3, 9.0)], ["stay", "hour", "v"])
    joined = grid.join(obs, ["stay", "hour"], "left")
    filled = ts_ops.ffill(joined, keys=["stay"], order_col="hour", value_col="v")
    got = [r.v for r in filled.orderBy("hour").collect()]
    assert got == [None, 7.0, 7.0, 9.0, 9.0]


def test_impute_cascade_ffill_bfill_default(spark):
    df = spark.createDataFrame(
        [(1, 0, None), (1, 1, 5.0), (1, 2, None), (2, 0, None)],
        "stay: long, hour: long, v: double",
    )
    out = ts_ops.impute_cascade(df, ["stay"], "hour", "v", group_stat=None, default=0.0)
    got = {(r.stay, r.hour): r.v for r in out.collect()}
    assert got == {(1, 0): 5.0, (1, 1): 5.0, (1, 2): 5.0, (2, 0): 0.0}


def test_active_signal(spark):
    # stop hour recorded at start event; signal stays 1 until stop passes
    df = spark.createDataFrame(
        [(1, 0, 2), (1, 1, None), (1, 2, None), (1, 3, None)],
        "stay: long, hour: long, stop: long",
    )
    out = ts_ops.active_signal(df, keys=["stay"], hour_col="hour", stop_col="stop")
    got = {r.hour: r.signal for r in out.collect()}
    assert got == {0: 1, 1: 1, 2: 0, 3: 0}


def test_first_row_per_group_and_topk(spark):
    df = spark.createDataFrame(
        [(1, "b", 2), (1, "a", 1), (2, "c", 9)], ["g", "v", "o"]
    )
    first = sorts.first_row_per_group(df, "g", order_by=["o"])
    assert {r.g: r.v for r in first.collect()} == {1: "a", 2: "c"}

    freq = spark.createDataFrame([(1,), (1,), (2,), (3,), (3,)], ["k"])
    top = sorts.top_k_by_count(freq, "k", k=2).collect()
    assert [(r.k, r.total_count) for r in top] == [(1, 2), (3, 2)]


def test_hours_from_anchor_floors_correctly(spark):
    df = spark.createDataFrame(
        [
            (1, ts("2020-01-01 00:00:00"), ts("2020-01-01 01:59:59")),
            (1, ts("2020-01-01 00:00:01"), ts("2020-01-01 00:00:00")),  # negative
        ],
        ["k", "anchor", "evt"],
    )
    out = ts_ops.hours_from_anchor(df, "evt", "anchor", out_col="h")
    assert sorted(r.h for r in out.collect()) == [-1, 1]


def test_rolling_stats_range_frame(spark):
    rows = [(1, 0, 10.0), (1, 1, 20.0), (1, 7, 30.0)]  # gap between 1 and 7
    df = spark.createDataFrame(rows, "k: long, h: long, v: double")
    out = {r.h: (r.roll_avg, r.roll_count) for r in ts_ops.rolling_stats(
        df, ["k"], "h", "v", window_size=6).collect()}
    assert out[0] == (10.0, 1)
    assert out[1] == (15.0, 2)
    assert out[7] == (30.0, 1)   # range frame: h=1 is 6 back, outside [-5, 0]


def test_linear_interpolate(spark):
    rows = [(1, 0, 10.0), (1, 1, None), (1, 2, None), (1, 3, 40.0), (1, 4, None)]
    df = spark.createDataFrame(rows, "k: long, h: long, v: double")
    out = {r.h: r.v for r in ts_ops.linear_interpolate(df, ["k"], "h", "v").collect()}
    assert out == {0: 10.0, 1: 20.0, 2: 30.0, 3: 40.0, 4: 40.0}  # trailing -> nearest


def test_sessionize_gap(spark):
    rows = [(1, 0), (1, 1), (1, 5), (1, 6), (2, 0)]
    df = spark.createDataFrame(rows, "k: long, h: long")
    out = {(r.k, r.h): r.session_id for r in ts_ops.sessionize(df, ["k"], "h", gap=2).collect()}
    assert out == {(1, 0): 1, (1, 1): 1, (1, 5): 2, (1, 6): 2, (2, 0): 1}


def test_mode_vote_null_votes_follow_reference_semantics(spark):
    """NULL votes: kept when the vote doesn't fire, dropped (as minority)
    when it does; all-null groups keep everything."""
    rows = (
        [(1, "mg")] * 96 + [(1, "ml")] * 2 + [(1, None)] * 2  # fires (96% > 95%): drop ml AND nulls
        + [(2, "mg"), (2, None)]                     # 1 distinct non-null -> keep all
        + [(3, None)] * 3                            # all-null group -> keep all
        + [(4, "mg")] * 60 + [(4, "ml")] * 30 + [(4, None)] * 10  # 60% <= 95% -> keep all
    )
    df = spark.createDataFrame(rows, "item: long, uom: string")
    out = agg_ops.mode_vote_filter(df, "item", "uom", cut_off=0.95)
    counts = {r.item: r.n for r in out.groupBy("item").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 96, 2: 2, 3: 3, 4: 100}


def test_interval_exists_label_null_dates_get_control(spark):
    rows = [
        (1, ts("2020-01-01"), ts("2020-01-02")),
        (1, None, None),                            # reference: NaT -> ctrl
        (1, ts("2020-01-10"), ts("2020-01-11")),
    ]
    df = spark.createDataFrame(rows, "subj: long, start: timestamp, end: timestamp")
    out = join_ops.interval_exists_label(df, "subj", "start", "end", gap_days=30)
    labels = {(r.subj, r.start): r.label for r in out.collect()}
    assert labels[(1, None)] == 0
    assert labels[(1, ts("2020-01-01"))] == 1


def test_asof_join_backward_with_tolerance(spark):
    # user 1: views at t=1h and t=3h; clicks at 0h30, 3h00 (tie -> inclusive
    # match), 9h00 (beyond 2h tolerance -> nulled). user 2: no views at all.
    views = spark.createDataFrame(
        [
            (1, ts("2024-01-01 01:00:00"), 10.0),
            (1, ts("2024-01-01 03:00:00"), 30.0),
        ],
        "user_id long, ts timestamp, v double",
    )
    clicks = spark.createDataFrame(
        [
            (100, 1, ts("2024-01-01 00:30:00")),
            (101, 1, ts("2024-01-01 03:00:00")),
            (102, 1, ts("2024-01-01 09:00:00")),
            (103, 2, ts("2024-01-01 05:00:00")),
        ],
        "event_id long, user_id long, ts timestamp",
    )
    out = join_ops.asof_join(
        clicks,
        views,
        on="user_id",
        left_time="ts",
        right_time="ts",
        value_cols=["v"],
        tolerance=F.expr("INTERVAL 2 HOURS"),
    )
    got = {r.event_id: (r.ts_matched, r.v) for r in out.collect()}
    assert got[100] == (None, None)  # no view yet
    assert got[101] == (ts("2024-01-01 03:00:00"), 30.0)  # inclusive tie
    assert got[102] == (None, None)  # 6h-old view outside tolerance
    assert got[103] == (None, None)  # user with no right rows
    # without tolerance the stale view matches
    out2 = join_ops.asof_join(
        clicks, views, on="user_id", value_cols=["v"]
    )
    got2 = {r.event_id: r.v for r in out2.collect()}
    assert got2[102] == 30.0


def test_asof_join_forward_and_nearest(spark):
    import datetime

    import pandas as pd

    views = spark.createDataFrame(
        [
            (1, ts("2024-01-01 01:00:00"), 10.0),
            (1, ts("2024-01-01 03:00:00"), 30.0),
            (1, ts("2024-01-01 08:00:00"), 80.0),
        ],
        "user_id long, ts timestamp, v double",
    )
    clicks = spark.createDataFrame(
        [
            (100, 1, ts("2024-01-01 00:30:00")),  # fwd->10, nearest->10
            (101, 1, ts("2024-01-01 03:00:00")),  # equal-time tie -> 30 both
            (102, 1, ts("2024-01-01 05:30:00")),  # fwd->80; nearest: 2.5h both ways, tie->backward 30
            (103, 1, ts("2024-01-01 09:00:00")),  # fwd->None, nearest->80
            (104, 2, ts("2024-01-01 05:00:00")),  # no right rows
        ],
        "event_id long, user_id long, ts timestamp",
    )
    fwd = {
        r.event_id: r.v
        for r in join_ops.asof_join(
            clicks, views, on="user_id", value_cols=["v"], direction="forward"
        ).collect()
    }
    assert fwd == {100: 10.0, 101: 30.0, 102: 80.0, 103: None, 104: None}
    near = {
        r.event_id: r.v
        for r in join_ops.asof_join(
            clicks, views, on="user_id", value_cols=["v"], direction="nearest"
        ).collect()
    }
    assert near == {100: 10.0, 101: 30.0, 102: 30.0, 103: 80.0, 104: None}

    # cross-check every direction against pandas merge_asof
    lpd = clicks.toPandas().sort_values("ts")
    rpd = views.toPandas().sort_values("ts")
    for direction in ("backward", "forward", "nearest"):
        want = pd.merge_asof(
            lpd, rpd, on="ts", by="user_id", direction=direction
        ).set_index("event_id")["v"]
        got = {
            r.event_id: r.v
            for r in join_ops.asof_join(
                clicks, views, on="user_id", value_cols=["v"], direction=direction
            ).collect()
        }
        for eid, v in got.items():
            pv = want[eid]
            assert (v is None and pd.isna(pv)) or v == pv, (direction, eid, v, pv)

    # forward with tolerance: match must be within the window ahead
    fwd_tol = {
        r.event_id: r.v
        for r in join_ops.asof_join(
            clicks, views, on="user_id", value_cols=["v"], direction="forward",
            tolerance=F.expr("INTERVAL 1 HOUR"),
        ).collect()
    }
    assert fwd_tol == {100: 10.0, 101: 30.0, 102: None, 103: None, 104: None}

    with pytest.raises(ValueError, match="direction"):
        join_ops.asof_join(clicks, views, on="user_id", direction="sideways")


def test_interval_exists_label_point_visits_range_window_path(spark):
    """start_col == end_col takes the one-shuffle RANGE-window fast path;
    semantics must be identical to the join path: strictly-later, within
    gap, sub-day precision for timestamps, NULLs -> control, duplicate
    instants don't self-match."""
    rows = [
        (1, 10, ts("2020-01-01 12:00:00")),
        (1, 11, ts("2020-01-01 12:00:00")),  # duplicate instant: no self/peer match
        (1, 12, ts("2020-01-31 11:59:59")),  # 29.99d later -> labels 10,11 positive
        (1, 13, ts("2020-03-15 00:00:00")),  # isolated -> control
        (2, 20, None),                       # NaT -> control
        (2, 21, ts("2020-05-01 00:00:00")),
        (2, 22, ts("2020-05-31 00:00:01")),  # 30d + 1s after 21 -> 21 control
    ]
    df = spark.createDataFrame(rows, "subj: long, vid: long, t: timestamp")
    out = join_ops.interval_exists_label(
        df, group_key="subj", start_col="t", end_col="t", gap_days=30, id_cols=["vid"]
    )
    # one-shuffle plan: the point path must not re-introduce a join.
    # (Inspect BEFORE collect — post-execution the adaptive plan string
    # contains both Final and Initial plans, double-counting nodes.)
    from temporai_mivdp_spark import plans

    assert plans.count_exchanges(out) == 1, plans.plan_summary(out)
    got = {r.vid: r.label for r in out.collect()}
    assert got == {10: 1, 11: 1, 12: 0, 13: 0, 20: 0, 21: 0, 22: 0}


def test_interval_exists_label_point_path_dates_whole_day_gap(spark):
    import datetime as dt

    rows = [
        (1, 1, dt.date(2020, 1, 1)),
        (1, 2, dt.date(2020, 1, 31)),  # exactly 30 days later -> inclusive
        (1, 3, dt.date(2020, 4, 1)),
    ]
    df = spark.createDataFrame(rows, "subj: long, vid: long, d: date")
    out = join_ops.interval_exists_label(
        df, group_key="subj", start_col="d", end_col="d", gap_days=30, id_cols=["vid"]
    )
    got = {r.vid: r.label for r in out.collect()}
    assert got == {1: 1, 2: 0, 3: 0}


def test_two_level_agg_single_exchange_matches_two_shuffle_form(spark):
    rows = [(p, o) for p in range(5) for o in range(p + 1) for _ in range(3)]
    df = spark.createDataFrame(rows, "pk: long, ok: long")
    fast = agg_ops.two_level_agg(df, ["pk", "ok"], ["pk"])
    slow = agg_ops.two_level_agg(df, ["pk", "ok"], ["pk"], single_exchange=False)
    from temporai_mivdp_spark import plans

    # plan checks before collect: post-execution adaptive plan strings
    # contain both Final and Initial plans (node counts double)
    assert plans.count_exchanges(fast) == 1
    assert plans.count_exchanges(slow) == 2
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_range_join_differential_vs_duckdb(spark):
    """Binned range join vs DuckDB's plain `BETWEEN` join on random
    data, across bucket widths that do and don't divide the spans; plan
    must be an equality join (no BroadcastNestedLoopJoin)."""
    import random

    import duckdb

    from temporai_mivdp_spark.operators.joins import range_join

    rng = random.Random(11)
    pts = [
        (rng.randint(1, 4), pid, round(rng.uniform(-50, 50), 3))
        for pid in range(120)
    ]
    ivs = []
    for iid in range(60):
        s = round(rng.uniform(-55, 45), 3)
        ivs.append((rng.randint(1, 4), iid, s, round(s + rng.uniform(0, 12), 3)))
    p_df = spark.createDataFrame(pts, "user long, pid long, t double")
    i_df = spark.createDataFrame(ivs, "user long, iid long, s double, e double")

    con = duckdb.connect()
    con.execute("CREATE TABLE p(user BIGINT, pid BIGINT, t DOUBLE)")
    con.execute("CREATE TABLE i(user BIGINT, iid BIGINT, s DOUBLE, e DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?,?,?)", pts)
    con.executemany("INSERT INTO i VALUES (?,?,?,?)", ivs)
    want = set(
        tuple(r)
        for r in con.execute(
            "SELECT p.pid, i.iid FROM p JOIN i ON p.user = i.user AND p.t BETWEEN i.s AND i.e"
        ).fetchall()
    )

    for bucket in (0.7, 5.0, 64.0):
        out = range_join(p_df, i_df, "t", "s", "e", bucket=bucket, keys=["user"])
        got = {(r.pid, r.iid) for r in out.select("pid", "iid").collect()}
        assert got == want, f"bucket={bucket}"

    plan = (
        range_join(p_df, i_df, "t", "s", "e", bucket=5.0, keys=["user"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan

    with pytest.raises(ValueError):
        range_join(p_df, i_df, "t", "s", "e", bucket=0)


def test_range_join_inclusive_bounds_and_no_keys(spark):
    from temporai_mivdp_spark.operators.joins import range_join

    p = spark.createDataFrame([(1, 0.0), (2, 4.0), (3, 8.0)], "pid long, t double")
    i = spark.createDataFrame([(10, 0.0, 4.0), (11, 4.0, 4.0)], "iid long, s double, e double")
    got = {
        (r.pid, r.iid)
        for r in range_join(p, i, "t", "s", "e", bucket=4.0).select("pid", "iid").collect()
    }
    # both endpoints inclusive; degenerate [4,4] interval matches the
    # boundary point; no shared keys -> pure bucket-equality join
    assert got == {(1, 10), (2, 10), (2, 11)}


def test_interval_overlap_join_differential_vs_duckdb(spark):
    """Interval×interval overlap join vs DuckDB's plain predicate join;
    the one-bucket anchor rule must dedup pairs exactly (no distinct)."""
    import random

    import duckdb

    from temporai_mivdp_spark.operators.joins import interval_overlap_join

    rng = random.Random(23)

    def mk(n):
        rows = []
        for i in range(n):
            s = round(rng.uniform(-40, 40), 3)
            rows.append((rng.randint(1, 3), i, s, round(s + rng.uniform(0, 15), 3)))
        return rows

    lrows, rrows = mk(80), mk(70)
    l_df = spark.createDataFrame(lrows, "user long, lid long, ls double, le double")
    r_df = spark.createDataFrame(rrows, "user long, rid long, rs double, re double")

    con = duckdb.connect()
    con.execute("CREATE TABLE l(user BIGINT, lid BIGINT, ls DOUBLE, le DOUBLE)")
    con.execute("CREATE TABLE r(user BIGINT, rid BIGINT, rs DOUBLE, re DOUBLE)")
    con.executemany("INSERT INTO l VALUES (?,?,?,?)", lrows)
    con.executemany("INSERT INTO r VALUES (?,?,?,?)", rrows)
    want = set(
        tuple(t)
        for t in con.execute(
            "SELECT l.lid, r.rid FROM l JOIN r "
            "ON l.user = r.user AND l.ls <= r.re AND r.rs <= l.le"
        ).fetchall()
    )

    for bucket in (0.9, 6.0, 100.0):
        out = interval_overlap_join(
            l_df, r_df, "ls", "le", "rs", "re", bucket=bucket, keys=["user"]
        )
        rows = [(r.lid, r.rid) for r in out.select("lid", "rid").collect()]
        assert len(rows) == len(set(rows)), f"duplicate pairs at bucket={bucket}"
        assert set(rows) == want, f"bucket={bucket}"
