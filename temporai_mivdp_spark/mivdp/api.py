"""High-level pipeline API mirroring the reference's entry points.

A reference user drives three calls (SURVEY.md §3):
``extract_data(...)`` -> ``feature_icu(...)`` + ``preprocess_features_icu``
+ ``generate_summary_icu`` -> ``ICUDataGenerator(...)``. This module keeps
those signatures (minus pandas-isms) over the Spark pipeline, reading the
same ``<root>/<version>/{core,hosp,icu}/*.csv.gz`` drop and writing
Parquet artifacts under ``<root>/data/``:

    data/cohort/<name>/            labeled cohort
    data/features/<modality>/      long event tables
    data/summary/<modality>/       per-feature summaries
    data/timeseries/<task>/...     dense grids + vocab + meta

Each function also RETURNS its DataFrames so callers can stay lazy and
skip the writes (pass ``persist=False``) — the reference forces a
gzip-CSV round trip between stages; here persistence is a choice.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from temporai_mivdp_spark.mivdp import cohort as _cohort
from temporai_mivdp_spark.mivdp import datagen as _dg
from temporai_mivdp_spark.mivdp import features as _feat
from temporai_mivdp_spark.mivdp import icd as _icd
from temporai_mivdp_spark.mivdp.io import load_mimic_table
from temporai_mivdp_spark.sources import write_parquet

_LABELS = {"mortality": "Mortality", "readmission": "Readmission", "los": "Length of Stay"}


def _norm_label(label: str) -> str:
    k = label.strip().lower().replace(" of ", " ").replace(" ", "_")
    aliases = {"mortality": "mortality", "readmission": "readmission",
               "length_stay": "los", "los": "los", "length_of_stay": "los"}
    if k not in aliases:
        raise ValueError(f"unknown label {label!r}; expected one of {sorted(_LABELS)}")
    return aliases[k]


def extract_data(
    spark: SparkSession,
    root_dir: str,
    version: str,
    use_icu: bool,
    label: str,
    time: int = 0,
    icd_code: str | None = None,
    disease_label: str | None = None,
    icd_map_path: str | None = None,
    cohort_output: str | None = None,
    persist: bool = True,
) -> tuple[DataFrame, str]:
    """EP-1 (reference extract_data, day_intervals_cohort_v1.py:444-685):
    build the labeled cohort. Returns ``(cohort_df, cohort_output)``.

    ``disease_label`` filters admissions BEFORE labeling (readmission
    "due to X"); ``icd_code`` filters the labeled cohort AFTER. Both need
    ``icd_map_path`` (the ICD-9->10 TSV)."""
    task = _norm_label(label)
    patients = load_mimic_table(spark, root_dir, version, "patients")
    admissions = load_mimic_table(spark, root_dir, version, "admissions")

    def _disease_ids(code: str) -> DataFrame:
        if icd_map_path is None:
            raise ValueError("icd_map_path is required for disease filters")
        diag = load_mimic_table(spark, root_dir, version, "diagnoses_icd")
        mapping = _icd.read_icd_mapping(spark, icd_map_path)
        return _icd.disease_hadm_ids(diag, mapping, code)

    pre_ids = _disease_ids(disease_label) if disease_label else None
    post_ids = _disease_ids(icd_code) if icd_code else None

    if use_icu:
        icustays = load_mimic_table(spark, root_dir, version, "icustays")
        out = _cohort.extract_cohort_icu(
            icustays, patients, admissions, label=task, time=time,
            disease_hadm_ids_df=pre_ids, cohort_disease_hadm_ids_df=post_ids,
        )
    else:
        out = _cohort.extract_cohort_hosp(
            admissions, patients, label=task, time=time,
            disease_hadm_ids_df=pre_ids, cohort_disease_hadm_ids_df=post_ids,
        )

    name = cohort_output or "cohort_{}_{}_{}{}".format(
        "icu" if use_icu else "non-icu",
        task,
        time,
        f"_{icd_code}" if icd_code else "",
    )
    if persist:
        write_parquet(out, os.path.join(root_dir, "data", "cohort", name))
    return out, name


def feature_icu(
    spark: SparkSession,
    root_dir: str,
    version: str,
    cohort: DataFrame,
    icd_map_path: str | None = None,
    diag_flag: bool = True,
    out_flag: bool = True,
    chart_flag: bool = True,
    proc_flag: bool = True,
    med_flag: bool = True,
    persist: bool = True,
) -> dict[str, DataFrame]:
    """EP-2 first half (feature_preproc_icu.py:26-183): per-modality event
    extraction against the cohort. Returns {'diag','out','chart','proc',
    'med'} for the enabled flags."""
    out: dict[str, DataFrame] = {}
    if diag_flag:
        if icd_map_path is None:
            raise ValueError("icd_map_path is required when diag_flag=True")
        diag_raw = load_mimic_table(spark, root_dir, version, "diagnoses_icd")
        mapping = _icd.read_icd_mapping(spark, icd_map_path)
        out["diag"] = _feat.extract_diag(diag_raw, cohort, mapping)
    if out_flag:
        out["out"] = _feat.extract_out(
            load_mimic_table(spark, root_dir, version, "outputevents"), cohort
        )
    if chart_flag:
        out["chart"] = _feat.extract_chart(
            load_mimic_table(spark, root_dir, version, "chartevents"), cohort
        )
    if proc_flag:
        out["proc"] = _feat.extract_proc(
            load_mimic_table(spark, root_dir, version, "procedureevents"), cohort
        )
    if med_flag:
        out["med"] = _feat.extract_med(
            load_mimic_table(spark, root_dir, version, "inputevents"), cohort
        )
    if persist:
        for name, df in out.items():
            write_parquet(df, os.path.join(root_dir, "data", "features", name))
    return out


def preprocess_features_icu(
    features: dict[str, DataFrame],
    group_diag: str = "convert_group",
    clean_chart: bool = True,
    impute_outlier_chart: bool = False,
    thresh: float = 98,
    left_thresh: float = 0,
) -> dict[str, DataFrame]:
    """EP-2 cleaning stage (feature_preproc_icu.py:193-282): diag
    regrouping + chart outlier handling. Returns the features dict with
    'diag'/'chart' replaced."""
    out = dict(features)
    if "diag" in out:
        out["diag"] = _feat.group_diag(out["diag"], group_diag)
    if "chart" in out and clean_chart:
        out["chart"] = _feat.clean_chart(
            out["chart"], thresh=thresh, left_thresh=left_thresh,
            impute=impute_outlier_chart,
        )
    return out


def generate_summary_icu(features: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """EP-2 summaries (feature_preproc_icu.py:285-391)."""
    out: dict[str, DataFrame] = {}
    if "diag" in features:
        out["diag"] = _feat.summary_diag(features["diag"])
    if "med" in features:
        out["med"] = _feat.summary_events(features["med"], missing_col="amount")
    if "proc" in features:
        out["proc"] = _feat.summary_events(features["proc"])
    if "out" in features:
        out["out"] = _feat.summary_events(features["out"])
    if "chart" in features:
        out["chart"] = _feat.summary_events(features["chart"], missing_col="valuenum")
    return out


def features_selection_icu(
    features: dict[str, DataFrame],
    selected: dict[str, DataFrame],
) -> dict[str, DataFrame]:
    """EP-2 selection (feature_preproc_icu.py:394-529): keep only curated
    feature ids per modality. ``selected`` maps modality -> id DataFrame
    (column 'itemid', or 'new_icd_code' for diag)."""
    out = dict(features)
    for name, ids in selected.items():
        on = "new_icd_code" if name == "diag" else "itemid"
        out[name] = _feat.select_features(out[name], ids, on=on)
    return out


def generate_time_series(
    cohort: DataFrame,
    features: dict[str, DataFrame],
    label: str,
    include_time: int = 24,
    bucket: int = 1,
    pred_window: int = 6,
    impute: str | None = "Mean",
) -> dict[str, DataFrame]:
    """EP-3 (ICUDataGenerator, data_generation_icu.py:16-988): task
    windows -> tumbling buckets -> dense long-format grids. Returns
    {'data', 'dense_<modality>', 'cond', 'vocab_<modality>'} for the
    provided features."""
    task = _norm_label(label)
    data = _dg.cohort_hours(cohort)
    if task == "mortality":
        data = _dg.trim_anchored_start(data, include_time, pred_window)
    elif task == "los":
        data = _dg.trim_anchored_start(data, include_time, 0)
    else:
        data = _dg.trim_readmission(data, include_time)
    end_anchored = task == "readmission"
    n_buckets = include_time // bucket
    out: dict[str, DataFrame] = {"data": data}

    if "med" in features:
        meds = _dg.prepare_meds(features["med"], data)
        meds = (
            _dg.trim_events_end_anchored(meds, data, has_stop=True)
            if end_anchored
            else _dg._trim_start(meds, include_time, clamp_stop=True)
        )
        bucketed = _dg.bucket_meds(meds, include_time, bucket)
        out["dense_med"] = _dg.densify_meds(bucketed, n_buckets)
        out["vocab_med"] = _dg.vocabulary(bucketed, "itemid")
    for name, value_col in [("chart", "valuenum"), ("out", None), ("proc", None)]:
        if name not in features:
            continue
        evt = _dg.prepare_point_events(features[name], data)
        evt = (
            _dg.trim_events_end_anchored(evt, data, has_stop=False)
            if end_anchored
            else _dg._trim_start(evt, include_time, clamp_stop=False)
        )
        bucketed = _dg.bucket_point_events(evt, include_time, bucket, value_col=value_col)
        if name == "chart":
            out["dense_chart"] = _dg.densify_chart(bucketed, n_buckets, impute=impute)
        else:
            out[f"dense_{name}"] = _dg.densify_indicator(bucketed, n_buckets)
        out[f"vocab_{name}"] = _dg.vocabulary(bucketed, "itemid")
    if "diag" in features:
        out["cond"] = _dg.one_hot_conditions(features["diag"], data)
        out["vocab_cond"] = _dg.vocabulary(features["diag"], "new_icd_code")
    return out
