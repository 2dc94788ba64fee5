"""End-to-end test of the reference-shaped API (mivdp.api) on a generated
csv.gz drop in the reference's directory layout."""

from __future__ import annotations

import gzip
import os
import re
import tempfile

import pytest

from temporai_mivdp_spark.mivdp import api
from temporai_mivdp_spark.mivdp import features as feat
from temporai_mivdp_spark.plans import plan_summary, read_schema_columns


def _write_gz(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with gzip.open(path, "wt") as f:
        f.write(text)


@pytest.fixture(scope="module")
def mimic_root(spark):
    root = tempfile.mkdtemp(prefix="mimic-api-")
    v = "1.0"
    _write_gz(
        f"{root}/{v}/core/patients.csv.gz",
        "subject_id,gender,dod,anchor_age,anchor_year,anchor_year_group\n"
        "1,F,,50,2150,2011 - 2013\n"
        "2,M,2150-01-03 12:00:00,70,2150,2014 - 2016\n",
    )
    _write_gz(
        f"{root}/{v}/core/admissions.csv.gz",
        "subject_id,hadm_id,admittime,dischtime,deathtime,hospital_expire_flag,insurance,ethnicity\n"
        "1,101,2150-01-01 00:00:00,2150-01-04 00:00:00,,0,Medicare,WHITE\n"
        "2,201,2150-01-01 00:00:00,2150-01-05 00:00:00,,0,Private,BLACK\n",
    )
    _write_gz(
        f"{root}/{v}/icu/icustays.csv.gz",
        "subject_id,hadm_id,stay_id,intime,outtime,los\n"
        "1,101,1001,2150-01-01 06:00:00,2150-01-03 18:00:00,2.5\n"
        "2,201,2001,2150-01-01 12:00:00,2150-01-04 12:00:00,3.0\n",
    )
    _write_gz(
        f"{root}/{v}/hosp/diagnoses_icd.csv.gz",
        "subject_id,hadm_id,seq_num,icd_code,icd_version\n"
        "1,101,1,42822,9\n"
        "2,201,1,I251,10\n",
    )
    _write_gz(
        f"{root}/{v}/icu/chartevents.csv.gz",
        "stay_id,charttime,itemid,valuenum,valueuom\n"
        + "".join(
            f"1001,2150-01-01 {6 + h:02d}:30:00,220045,{70 + h}.0,bpm\n" for h in range(10)
        )
        + "2001,2150-01-01 13:00:00,220045,90.0,bpm\n",
    )
    _write_gz(
        f"{root}/{v}/icu/outputevents.csv.gz",
        "subject_id,hadm_id,stay_id,charttime,itemid\n"
        "1,101,1001,2150-01-01 09:00:00,226559\n",
    )
    _write_gz(
        f"{root}/{v}/icu/procedureevents.csv.gz",
        "stay_id,starttime,itemid\n1001,2150-01-01 10:00:00,225441\n",
    )
    _write_gz(
        f"{root}/{v}/icu/inputevents.csv.gz",
        "subject_id,stay_id,itemid,starttime,endtime,rate,amount,orderid\n"
        "1,1001,221906,2150-01-01 07:00:00,2150-01-01 15:00:00,2.0,16.0,9001\n",
    )
    map_path = os.path.join(root, "icd_map.tsv")
    with open(map_path, "w") as f:
        f.write("diagnosis_type\tdiagnosis_code\tdiagnosis_description\ticd9cm\ticd10cm\tflags\n")
        f.write("ICD9\t428\tHEART FAILURE\t428\tI50\t1\n")
    return root, v, map_path


def test_extract_data_icu_mortality(spark, mimic_root):
    root, v, _ = mimic_root
    cohort, name = api.extract_data(spark, root, v, use_icu=True, label="Mortality")
    labels = {r.stay_id: r.label for r in cohort.collect()}
    assert labels == {1001: 0, 2001: 1}   # subject 2 dies within the stay
    assert os.path.isdir(os.path.join(root, "data", "cohort", name))


def test_extract_data_disease_filter(spark, mimic_root):
    root, v, map_path = mimic_root
    cohort, _ = api.extract_data(
        spark, root, v, use_icu=True, label="Mortality",
        icd_code="I50", icd_map_path=map_path, persist=False,
    )
    assert {r.stay_id for r in cohort.collect()} == {1001}


def test_extract_data_non_icu(spark, mimic_root):
    root, v, _ = mimic_root
    cohort, _ = api.extract_data(
        spark, root, v, use_icu=False, label="Length of Stay", time=3, persist=False
    )
    labels = {r.hadm_id: r.label for r in cohort.collect()}
    assert labels == {101: 0, 201: 1}   # 3 vs 4 whole days


def test_full_chain_to_time_series(spark, mimic_root):
    root, v, map_path = mimic_root
    cohort, _ = api.extract_data(spark, root, v, use_icu=True, label="Mortality", persist=False)
    feats = api.feature_icu(spark, root, v, cohort, icd_map_path=map_path, persist=False)
    assert set(feats) == {"diag", "out", "chart", "proc", "med"}
    feats = api.preprocess_features_icu(feats, group_diag="convert_group", clean_chart=False)
    assert {r.new_icd_code for r in feats["diag"].collect()} == {"I50", "I25"}

    summaries = api.generate_summary_icu(feats)
    assert set(summaries) == {"diag", "med", "proc", "out", "chart"}
    assert "missing_count" in summaries["med"].columns

    ts = api.generate_time_series(
        cohort, feats, label="Mortality", include_time=24, bucket=2, pred_window=6
    )
    assert {r.stay_id for r in ts["data"].collect()} == {1001, 2001}
    dense = ts["dense_chart"]
    rows = dense.filter(dense.stay_id == 1001).count()
    assert rows == 12            # 24h / bucket 2 -> 12 grid cells for the observed item
    sig = {r.hour: r.signal for r in dense.filter(dense.stay_id == 1001).collect()}
    assert sig[0] == 1           # observed in bucket 0
    assert ts["dense_med"].count() == 12
    assert [r.new_icd_code for r in ts["vocab_cond"].collect()] == ["I25", "I50"]


def test_unknown_label_rejected(spark, mimic_root):
    root, v, _ = mimic_root
    with pytest.raises(ValueError, match="unknown label"):
        api.extract_data(spark, root, v, use_icu=True, label="survival", persist=False)


def test_builders_launch_no_job(spark, mimic_root):
    """Building every frame of the chain, chart cleaning included, runs
    no Spark job: all the work lands in the caller's actions."""
    root, v, map_path = mimic_root
    sc = spark.sparkContext
    group = "api-build-only"
    sc.setJobGroup(group, "frame builds", False)
    try:
        cohort, _ = api.extract_data(spark, root, v, use_icu=True, label="Mortality",
                                     persist=False)
        feats = api.feature_icu(spark, root, v, cohort, icd_map_path=map_path,
                                persist=False)
        feats = api.preprocess_features_icu(feats, clean_chart=True)
        api.generate_summary_icu(feats)
        api.generate_time_series(cohort, feats, label="Mortality")
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []


def _executed_plan_of_write(spark, n_before: int) -> str:
    """The executed (post-AQE) plan section of the first write run after
    the status store held ``n_before`` executions."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()  # noqa: SLF001
    for i in range(n_before, execs.size()):
        desc = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc:
            # AQE labels the executed tree "Current" until its last update
            return re.split(r"== (?:Final|Current) Plan ==", desc)[1].split(
                "== Initial Plan =="
            )[0]
    raise AssertionError("no write execution recorded")


def test_chart_chain_plan_shapes(spark, mimic_root, tmp_path):
    """Plan pins for the chart chain, with the stage inputs read back from
    parquet as the api's persisted layout has them: the written features
    frame scans chartevents once (the vote and clip branches share one
    exchange), its summary reads the features once with no join, and the
    dense grid reads them once with no sort-merge join."""
    root, v, _ = mimic_root
    cohort, _ = api.extract_data(spark, root, v, use_icu=True, label="Mortality",
                                 persist=False)
    cohort.write.parquet(str(tmp_path / "cohort"))
    cohort = spark.read.parquet(str(tmp_path / "cohort"))
    feats = api.feature_icu(spark, root, v, cohort, diag_flag=False, out_flag=False,
                            proc_flag=False, med_flag=False, persist=False)
    feats = api.preprocess_features_icu(feats, clean_chart=True)

    chart_path = str(tmp_path / "chart")
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    n_before = store.executionsList().size()
    feats["chart"].write.parquet(chart_path)
    final = _executed_plan_of_write(spark, n_before)
    assert len(re.findall(r"Scan csv", final)) == 1, final

    chart = spark.read.parquet(chart_path)
    summary = feat.summary_events(chart, missing_col="valuenum")
    assert len(read_schema_columns(summary)) == 1
    assert not [k for k in plan_summary(summary) if "Join" in k or "Cartesian" in k]
    assert {r.itemid: r.missing_count for r in summary.collect()} == {220045: 0}

    dense = api.generate_time_series(cohort, {"chart": chart}, label="Mortality")["dense_chart"]
    # the features scan is the one reading valuenum (the other is the cohort)
    assert sum("valuenum" in c for c in read_schema_columns(dense)) == 1
    assert "SortMergeJoin" not in plan_summary(dense)
