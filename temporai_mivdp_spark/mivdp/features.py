"""Per-modality event feature extraction, cleaning, summaries, selection
(EP-2: feature_preproc_icu.py:26-529).

Every modality follows one shape: events ⋈ broadcast(cohort) on stay_id,
hours-from-admission normalization, null/dedup hygiene — a single scan of
the (huge) event table with the cohort broadcast, so nothing shuffles the
fact side. Cleaning (UoM voting, winsorization) and summaries reuse the
generic operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from temporai_mivdp_spark.mivdp.icd import standardize_icd
from temporai_mivdp_spark.operators.aggregates import (
    mode_vote_filter,
    two_level_agg,
    winsorize,
)
from temporai_mivdp_spark.operators.filters import semi_join_filter
from temporai_mivdp_spark.operators.timeseries import floor_hours


def extract_diag(diag_raw: DataFrame, cohort: DataFrame, mapping: DataFrame) -> DataFrame:
    """Diagnoses ⋈ cohort + ICD standardization
    (icu_preprocess_util.py:340-430 preproc_icd_module). Inner join on
    hadm_id picks up stay_id; conversion adds root_icd10_convert/root."""
    joined = diag_raw.join(
        F.broadcast(cohort.select("hadm_id", "stay_id")), "hadm_id", "inner"
    )
    std = standardize_icd(joined, mapping, root=True)
    return std.select(
        "subject_id", "hadm_id", "stay_id", "icd_code", "root_icd10_convert", "root"
    )


def extract_out(out_raw: DataFrame, cohort: DataFrame) -> DataFrame:
    """Output events ⋈ cohort (icu_preprocess_util.py:246-286 preproc_out):
    dedup, inner join on stay_id, event hours from intime, dropna."""
    module = out_raw.dropDuplicates()
    joined = module.drop("subject_id", "hadm_id").join(
        F.broadcast(cohort.select("subject_id", "hadm_id", "stay_id", "intime", "outtime")),
        "stay_id",
        "inner",
    )
    out = joined.withColumn(
        "event_time_from_admit", floor_hours(F.col("charttime"), F.col("intime"))
    ).na.drop()
    return out.select(
        "subject_id", "hadm_id", "stay_id", "itemid", "charttime", "intime",
        "event_time_from_admit",
    )


def extract_chart(chart_raw: DataFrame, cohort: DataFrame, uom_cut_off: float = 0.95) -> DataFrame:
    """Chart events ⋈ cohort (icu_preprocess_util.py:289-327 preproc_chart
    + uom_conversion at feature_preproc_icu.py:123).

    The reference hand-chunks this scan (chunksize=10M) — Spark's
    partitioned scan replaces the loop; the per-chunk dropna/join/dedup are
    ordinary transformations. UoM majority voting runs as the window-based
    mode_vote_filter (A7) instead of the per-itemid Python loop.

    The valuenum predicate is spelled out (``na.drop`` drops null and NaN
    alike) so that it already carries the ``IsNotNull`` the clip step
    would otherwise infer into one branch only: the vote and clip
    branches then plan one identical subtree, and both read one shared
    exchange of a single chartevents scan.
    """
    valuenum = F.col("valuenum")
    events = chart_raw.filter(valuenum.isNotNull() & ~F.isnan(valuenum))
    joined = events.join(
        F.broadcast(cohort.select("stay_id", "intime")), "stay_id", "inner"
    )
    hours = joined.withColumn(
        "event_time_from_admit", floor_hours(F.col("charttime"), F.col("intime"))
    ).drop("charttime", "intime")
    clean = hours.na.drop().dropDuplicates()
    voted = mode_vote_filter(clean, group_key="itemid", vote_col="valueuom", cut_off=uom_cut_off)
    return voted.select("stay_id", "itemid", "event_time_from_admit", "valuenum")


def extract_proc(proc_raw: DataFrame, cohort: DataFrame) -> DataFrame:
    """Procedure events ⋈ cohort (icu_preprocess_util.py:188-243
    preproc_proc)."""
    module = proc_raw.dropDuplicates()
    joined = module.join(
        F.broadcast(cohort.select("subject_id", "hadm_id", "stay_id", "intime", "outtime")),
        "stay_id",
        "inner",
    )
    out = joined.withColumn(
        "event_time_from_admit", floor_hours(F.col("starttime"), F.col("intime"))
    ).na.drop()
    return out.select(
        "subject_id", "hadm_id", "stay_id", "itemid", "starttime", "intime",
        "event_time_from_admit",
    )


def extract_med(med_raw: DataFrame, cohort: DataFrame) -> DataFrame:
    """Medication events ⋈ cohort (icu_preprocess_util.py:153-185
    preproc_meds): start/stop hours from intime; dropna (NB the reference
    drops rows with null rate/amount via the blanket dropna at :181)."""
    joined = med_raw.join(
        F.broadcast(cohort.select("hadm_id", "stay_id", "intime")), "stay_id", "inner"
    )
    out = (
        joined.withColumn(
            "start_hours_from_admit", floor_hours(F.col("starttime"), F.col("intime"))
        )
        .withColumn("stop_hours_from_admit", floor_hours(F.col("endtime"), F.col("intime")))
        .na.drop()
    )
    return out.select(
        "subject_id", "hadm_id", "stay_id", "itemid", "starttime", "endtime",
        "start_hours_from_admit", "stop_hours_from_admit", "rate", "amount", "orderid",
    )


# --- preprocessing stage (feature_preproc_icu.py:193-282) ---


def group_diag(diag: DataFrame, group_option: str = "convert_group") -> DataFrame:
    """Diag code-level regrouping (feature_preproc_icu.py:242-255):
    both -> raw code; convert -> converted ICD-10; convert_group -> root."""
    source = {
        "both": "icd_code",
        "convert": "root_icd10_convert",
        "convert_group": "root",
    }
    if group_option not in source:
        raise ValueError(f"invalid group_diag option {group_option!r}")
    return (
        diag.withColumn("new_icd_code", F.col(source[group_option]))
        .select("subject_id", "hadm_id", "stay_id", "new_icd_code")
        .na.drop()
    )


def clean_chart(
    chart: DataFrame,
    thresh: float = 98,
    left_thresh: float = 0,
    impute: bool = False,
) -> DataFrame:
    """Chart outlier pass (outlier_removal.py via feature_preproc_icu.py:
    257-279): per-itemid percentile clip (impute) or drop. Exact
    percentiles (numpy-compatible linear interpolation)."""
    return winsorize(
        chart,
        group_key="itemid",
        value_col="valuenum",
        lower_pct=left_thresh,
        upper_pct=thresh,
        impute=impute,
    )


# --- summaries (feature_preproc_icu.py:285-391) ---


def summary_diag(diag: DataFrame) -> DataFrame:
    return two_level_agg(
        diag, inner_keys=["stay_id", "new_icd_code"], outer_keys=["new_icd_code"]
    )


def summary_events(
    events: DataFrame, missing_col: str | None = None
) -> DataFrame:
    """Per-itemid mean_frequency/total_count (+missing_count for med/chart:
    rows where amount/valuenum == 0, feature_preproc_icu.py:341,375).

    With ``missing_col`` the missing count rides along two_level_agg's
    single-exchange nesting as a per-(stay, item) partial sum, so the
    table is read once and nothing joins back."""
    if missing_col is None:
        return two_level_agg(events, inner_keys=["stay_id", "itemid"], outer_keys=["itemid"])
    narrow = events.select(*dict.fromkeys(["stay_id", "itemid", missing_col])).repartition(
        "itemid"
    )
    per_stay = narrow.groupBy("stay_id", "itemid").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col(missing_col) == 0, 1).otherwise(0)).alias("__missing"),
    )
    return per_stay.groupBy("itemid").agg(
        F.avg("__n").alias("mean_frequency"),
        F.sum("__n").cast("long").alias("total_count"),
        F.sum("__missing").cast("long").alias("missing_count"),
    )


# --- selection (feature_preproc_icu.py:394-529) ---


def select_features(df: DataFrame, feature_ids: DataFrame, on: str = "itemid") -> DataFrame:
    """Feature selection: keep events whose id appears in the curated list
    (semi-join, P5)."""
    return semi_join_filter(df, feature_ids, on)
