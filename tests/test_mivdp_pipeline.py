"""Pipeline tests on synthetic MIMIC-shaped fixtures (FIXTURES.md),
following the reference's golden column-set style plus value assertions the
reference never had (its own tests note "TODO: More asserts",
tests/datagen/test_data_generation_icu.py:127).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from temporai_mivdp_spark.mivdp import cohort as coh
from temporai_mivdp_spark.mivdp import datagen as dg
from temporai_mivdp_spark.mivdp import features as feat
from temporai_mivdp_spark.mivdp import icd as icd_mod
from temporai_mivdp_spark.mivdp.schemas import COHORT_COLUMNS_ICU
from tests.conftest import ts


@pytest.fixture(scope="module")
def fixtures(spark):
    patients = spark.createDataFrame(
        [
            (1, "F", None, 50, 2150, "2011 - 2013"),
            (2, "M", ts("2150-01-05 12:00:00"), 70, 2150, "2014 - 2016"),
            (3, "F", None, 15, 2150, "2011 - 2013"),  # minor -> filtered
            (4, "M", None, 40, 2150, "2011 - 2013"),
        ],
        "subject_id: long, gender: string, dod: timestamp, anchor_age: int, "
        "anchor_year: int, anchor_year_group: string",
    )
    admissions = spark.createDataFrame(
        [
            (1, 101, ts("2150-01-01 00:00:00"), ts("2150-01-04 00:00:00"), None, 0, "Medicare", "WHITE"),
            (1, 102, ts("2150-01-20 00:00:00"), ts("2150-01-22 00:00:00"), None, 0, "Medicare", "WHITE"),
            (2, 201, ts("2150-01-01 00:00:00"), ts("2150-01-06 00:00:00"), ts("2150-01-05 12:00:00"), 1, "Private", "BLACK"),
            (3, 301, ts("2150-01-01 00:00:00"), ts("2150-01-02 00:00:00"), None, 0, "Private", "ASIAN"),
            (4, 401, ts("2150-02-01 00:00:00"), ts("2150-02-05 00:00:00"), None, 0, "Medicaid", "WHITE"),
        ],
        "subject_id: long, hadm_id: long, admittime: timestamp, dischtime: timestamp, "
        "deathtime: timestamp, hospital_expire_flag: int, insurance: string, ethnicity: string",
    )
    icustays = spark.createDataFrame(
        [
            # stay 1001: 72h stay
            (1, 101, 1001, ts("2150-01-01 06:00:00"), ts("2150-01-04 06:00:00"), 3.0),
            # stay 1002: second stay of subject 1, 16 days later (readmit in 30d)
            (1, 102, 1002, ts("2150-01-20 00:00:00"), ts("2150-01-21 12:00:00"), 1.5),
            # stay 2001: subject 2 dies in window
            (2, 201, 2001, ts("2150-01-01 12:00:00"), ts("2150-01-06 00:00:00"), 4.5),
            # stay 3001: minor, filtered by age
            (3, 301, 3001, ts("2150-01-01 00:00:00"), ts("2150-01-02 00:00:00"), 1.0),
            # stay 4001: 96h stay, no death
            (4, 401, 4001, ts("2150-02-01 00:00:00"), ts("2150-02-05 00:00:00"), 4.0),
        ],
        "subject_id: long, hadm_id: long, stay_id: long, intime: timestamp, "
        "outtime: timestamp, los: double",
    )
    mapping = spark.createDataFrame(
        [
            ("ICD9", "428", "heart failure", "428", "I50", "1", 0),
            ("ICD9", "428", "heart failure dup", "428", "I509", "1", 1),  # later line: loses
            ("ICD9", "585", "kidney disease", "585", "N18", "1", 2),
        ],
        "diagnosis_type: string, diagnosis_code: string, diagnosis_description: string, "
        "icd9cm: string, icd10cm: string, flags: string, __line: long",
    )
    diagnoses = spark.createDataFrame(
        [
            (1, 101, 1, "42822", 9),   # ICD-9 root 428 -> I50
            (1, 101, 2, "I509", 10),   # already ICD-10
            (2, 201, 1, "58510", 9),   # root 585 -> N18
            (2, 201, 2, "99999", 9),   # no mapping -> null
            (4, 401, 1, "I251", 10),
        ],
        "subject_id: long, hadm_id: long, seq_num: int, icd_code: string, icd_version: int",
    )
    chartevents = spark.createDataFrame(
        # stay 1001 itemid 220045: dominant uom 'bpm' (96%) + minority 'BPM'
        [(1001, ts("2150-01-01 07:30:00"), 220045, float(60 + i), "bpm") for i in range(48)]
        + [(1001, ts("2150-01-01 08:30:00"), 220045, 999.0, "BPM")]
        + [
            (1001, ts("2150-01-01 06:30:00"), 220210, 18.0, "insp/min"),
            (1001, ts("2150-01-02 10:00:00"), 220210, 22.0, "insp/min"),
            (4001, ts("2150-02-01 05:00:00"), 220045, 80.0, "bpm"),
            (4001, ts("2150-02-02 00:30:00"), 220045, 85.0, "bpm"),
            (2001, ts("2150-01-01 13:00:00"), 220045, None, "bpm"),  # null valuenum drops
        ],
        "stay_id: long, charttime: timestamp, itemid: long, valuenum: double, valueuom: string",
    )
    outputevents = spark.createDataFrame(
        [
            (1, 101, 1001, ts("2150-01-01 09:00:00"), 226559),
            (4, 401, 4001, ts("2150-02-01 00:30:00"), 226559),
        ],
        "subject_id: long, hadm_id: long, stay_id: long, charttime: timestamp, itemid: long",
    )
    procedureevents = spark.createDataFrame(
        [
            (1001, ts("2150-01-01 10:00:00"), 225441),
            (4001, ts("2150-02-03 00:00:00"), 225441),
        ],
        "stay_id: long, starttime: timestamp, itemid: long",
    )
    inputevents = spark.createDataFrame(
        [
            # stay 1001: med running hours 1..10
            (1, 1001, 221906, ts("2150-01-01 07:00:00"), ts("2150-01-01 16:30:00"), 2.0, 10.0, 9001),
            # stay 4001: med hours 0..2, plus a null-rate row (dropped by dropna)
            (4, 4001, 221906, ts("2150-02-01 00:00:00"), ts("2150-02-01 02:00:00"), 1.0, 4.0, 9002),
            (4, 4001, 225943, ts("2150-02-01 01:00:00"), ts("2150-02-01 05:00:00"), None, 3.0, 9003),
        ],
        "subject_id: long, stay_id: long, itemid: long, starttime: timestamp, "
        "endtime: timestamp, rate: double, amount: double, orderid: long",
    )
    return {
        "patients": patients,
        "admissions": admissions,
        "icustays": icustays,
        "mapping": mapping,
        "diagnoses": diagnoses,
        "chartevents": chartevents,
        "outputevents": outputevents,
        "procedureevents": procedureevents,
        "inputevents": inputevents,
    }


# --- EP-1: cohort ---


def test_mortality_cohort_columns_and_labels(spark, fixtures):
    out = coh.extract_cohort_icu(
        fixtures["icustays"], fixtures["patients"], fixtures["admissions"],
        label="mortality",
    )
    assert set(out.columns) == set(COHORT_COLUMNS_ICU)
    labels = {r.stay_id: r.label for r in out.collect()}
    # subject 3 filtered (minor); subject 2 died within stay 2001
    assert labels == {1001: 0, 1002: 0, 2001: 1, 4001: 0}


def test_readmission_cohort_labels(spark, fixtures):
    out = coh.extract_cohort_icu(
        fixtures["icustays"], fixtures["patients"], fixtures["admissions"],
        label="readmission", time=30,
    )
    labels = {r.stay_id: r.label for r in out.collect()}
    # stay 1001 readmitted via stay 1002 within 30d; 1002 is last -> 0;
    # subject 2 died before discharge -> excluded entirely; 4001 single -> 0
    assert labels == {1001: 1, 1002: 0, 4001: 0}


def test_los_cohort_labels(spark, fixtures):
    out = coh.extract_cohort_icu(
        fixtures["icustays"], fixtures["patients"], fixtures["admissions"],
        label="los", time=3,
    )
    labels = {r.stay_id: r.label for r in out.collect()}
    assert labels == {1001: 0, 1002: 0, 2001: 1, 4001: 1}


def test_disease_cohort_filter(spark, fixtures):
    hids = icd_mod.disease_hadm_ids(fixtures["diagnoses"], fixtures["mapping"], "I50")
    assert sorted(r.hadm_id for r in hids.collect()) == [101]


# --- ICD standardization ---


def test_standardize_icd_first_match_and_misses(spark, fixtures):
    std = icd_mod.standardize_icd(fixtures["diagnoses"], fixtures["mapping"])
    got = {r.icd_code: (r.root_icd10_convert, r.root) for r in std.collect()}
    assert got["42822"] == ("I50", "I50")      # first mapping line wins, not I509
    assert got["I509"] == ("I509", "I50")      # ICD-10 passthrough, root = prefix
    assert got["58510"] == ("N18", "N18")
    assert got["99999"] == (None, None)        # mapping miss -> null


# --- EP-2: features ---


@pytest.fixture(scope="module")
def mort_cohort(spark, fixtures):
    return coh.extract_cohort_icu(
        fixtures["icustays"], fixtures["patients"], fixtures["admissions"],
        label="mortality",
    )


def test_extract_chart_uom_vote_and_hours(spark, fixtures, mort_cohort):
    raw = fixtures["chartevents"]
    nan_row = spark.createDataFrame(
        [(2001, ts("2150-01-01 14:00:00"), 220045, float("nan"), "bpm")], raw.schema
    )
    chart = feat.extract_chart(raw.unionByName(nan_row), mort_cohort)
    assert set(chart.columns) == {"stay_id", "itemid", "event_time_from_admit", "valuenum"}
    rows = chart.collect()
    # minority 'BPM' row dropped (dominant share 48/49 > 0.95); null and
    # NaN valuenum dropped (stay 2001 has only those)
    assert all(r.valuenum != 999.0 for r in rows)
    assert len([r for r in rows if r.stay_id == 2001]) == 0
    # hour floor: 07:30 - 06:00 intime = 1h
    h = {
        (r.stay_id, r.itemid, r.valuenum): r.event_time_from_admit
        for r in rows
    }
    assert h[(1001, 220045, 60.0)] == 1
    assert h[(1001, 220210, 18.0)] == 0
    assert h[(1001, 220210, 22.0)] == 28


def test_extract_med_drops_nulls_and_hours(spark, fixtures, mort_cohort):
    med = feat.extract_med(fixtures["inputevents"], mort_cohort)
    rows = med.collect()
    assert sorted(r.orderid for r in rows) == [9001, 9002]  # null-rate row dropped
    got = {r.orderid: (r.start_hours_from_admit, r.stop_hours_from_admit) for r in rows}
    assert got[9001] == (1, 10)   # 07:00 and 16:30 from 06:00 intime
    assert got[9002] == (0, 2)


def test_group_diag_options(spark, fixtures, mort_cohort):
    diag = feat.extract_diag(fixtures["diagnoses"], mort_cohort, fixtures["mapping"])
    for opt, expected in [
        ("both", {"42822", "I509", "58510", "99999", "I251"}),
        ("convert", {"I50", "I509", "N18", "I251"}),
        ("convert_group", {"I50", "N18", "I25"}),
    ]:
        got = {r.new_icd_code for r in feat.group_diag(diag, opt).collect()}
        assert got == expected, opt


def test_summaries(spark, fixtures, mort_cohort):
    med = feat.extract_med(fixtures["inputevents"], mort_cohort)
    s = feat.summary_events(med, missing_col="amount")
    assert set(s.columns) == {"itemid", "mean_frequency", "total_count", "missing_count"}
    chart = feat.extract_chart(fixtures["chartevents"], mort_cohort)
    s2 = feat.summary_events(chart, missing_col="valuenum")
    row = {r.itemid: r for r in s2.collect()}
    assert row[220210].total_count == 2 and row[220210].mean_frequency == 2.0


def test_clean_chart_winsorize_drop(spark, fixtures, mort_cohort):
    chart = feat.extract_chart(fixtures["chartevents"], mort_cohort)
    cleaned = feat.clean_chart(chart, thresh=95, left_thresh=5, impute=False)
    assert cleaned.count() <= chart.count()


# --- EP-3: datagen ---


# slow tier (r13, conftest default-skip): ~9s end-to-end chain; each stage keeps its differential test
@pytest.mark.slow
def test_datagen_mortality_end_to_end(spark, fixtures, mort_cohort):
    data = dg.cohort_hours(mort_cohort)
    los_by_stay = {r.stay_id: r.los for r in data.collect()}
    assert los_by_stay == {1001: 72, 1002: 36, 2001: 108, 4001: 96}

    include_time, predW, bucket = 24, 6, 1
    kept = dg.trim_anchored_start(data, include_time, predW)
    assert sorted(r.stay_id for r in kept.collect()) == [1001, 1002, 2001, 4001]

    # meds
    med = feat.extract_med(fixtures["inputevents"], mort_cohort)
    meds = dg.prepare_meds(med, kept)
    meds_t = dg.trim_events_start(meds, kept, include_time, clamp_stop=True)
    bucketed = dg.bucket_meds(meds_t, include_time, bucket)
    dense = dg.densify_meds(bucketed, include_time // bucket)
    sig = {
        (r.stay_id, r.hour): (r.signal, r.rate, r.amount)
        for r in dense.filter(F.col("itemid") == 221906).collect()
    }
    # stay 1001: med starts hour 1, stops hour 10 -> signal 1 for hours 1..9
    assert sig[(1001, 1)] == (1, 2.0, 10.0)
    assert sig[(1001, 9)] == (1, 2.0, 10.0)
    assert sig[(1001, 10)] == (0, 0.0, 0.0)
    assert sig[(1001, 0)] == (0, 0.0, 0.0)   # pre-start: ffill had nothing, -1*0
    assert sig[(1001, 23)] == (0, 0.0, 0.0)

    # chart
    chart = feat.extract_chart(fixtures["chartevents"], mort_cohort)
    chart_p = dg.prepare_point_events(chart, kept)
    chart_t = dg.trim_events_start(chart_p, kept, include_time)
    cb = dg.bucket_point_events(chart_t, include_time, bucket, value_col="valuenum")
    cd = dg.densify_chart(cb, include_time // bucket, impute="Mean")
    vals = {
        r.hour: (r.signal, r.valuenum)
        for r in cd.filter((F.col("stay_id") == 1001) & (F.col("itemid") == 220210)).collect()
    }
    # observed at hour 0 (18.0); hour 28 trimmed away (>include_time bucket range)
    assert vals[0] == (1, 18.0)
    assert vals[1] == (0, 18.0)   # ffill
    assert vals[23] == (0, 18.0)
    assert len(vals) == 24

    # indicator events
    out_e = feat.extract_out(fixtures["outputevents"], mort_cohort)
    out_p = dg.prepare_point_events(out_e, kept)
    out_t = dg.trim_events_start(out_p, kept, include_time)
    ob = dg.bucket_point_events(out_t, include_time, bucket)
    od = dg.densify_indicator(ob, include_time // bucket)
    osig = {
        r.hour: r.signal
        for r in od.filter((F.col("stay_id") == 1001) & (F.col("itemid") == 226559)).collect()
    }
    assert osig[3] == 1 and osig[4] == 0 and sum(osig.values()) == 1


def test_datagen_readmission_end_anchor(spark, fixtures):
    cohort = coh.extract_cohort_icu(
        fixtures["icustays"], fixtures["patients"], fixtures["admissions"],
        label="readmission", time=30,
    )
    data = dg.cohort_hours(cohort)
    kept = dg.trim_readmission(data, include_time=24)
    sel = {r.stay_id: r.select_time for r in kept.collect()}
    # stay 1001 los=72 -> select_time 48; 1002 los=36 -> 12; 4001 96 -> 72
    assert sel == {1001: 48, 1002: 12, 4001: 72}

    chart = feat.extract_chart(fixtures["chartevents"], cohort)
    chart_p = dg.prepare_point_events(chart, data)
    trimmed = dg.trim_events_end_anchored(chart_p, kept, has_stop=False)
    # stay 1001 events at absolute hours 1..2 shift by -48 -> negative -> dropped
    assert trimmed.filter(F.col("stay_id") == 1001).count() == 0


def test_vocab_and_meta(spark, fixtures, mort_cohort):
    med = feat.extract_med(fixtures["inputevents"], mort_cohort)
    meds = dg.prepare_meds(med, dg.cohort_hours(mort_cohort))
    v = dg.vocabulary(meds, "itemid")
    assert [r.itemid for r in v.collect()] == [221906]
    meta = dg.per_adm_maxima(meds, ["itemid", "orderid"]).collect()[0]
    assert meta.max_events_per_adm == 1


def test_dynamic_wide_export_and_cond_onehot(spark, fixtures, mort_cohort):
    data = dg.cohort_hours(mort_cohort)
    kept = dg.trim_anchored_start(data, 24, 6)
    out_e = feat.extract_out(fixtures["outputevents"], mort_cohort)
    out_p = dg.trim_events_start(dg.prepare_point_events(out_e, kept), kept, 24)
    dense = dg.densify_indicator(dg.bucket_point_events(out_p, 24, 1), 24)
    vocab = [r.itemid for r in dg.vocabulary(dense, "itemid").collect()]
    wide = dg.dynamic_wide(dense, "signal", vocab, prefix="out_")
    assert set(wide.columns) == {"stay_id", "hour"} | {f"out_{v}" for v in vocab}
    row = {r.hour: r for r in wide.filter(F.col("stay_id") == 1001).collect()}
    assert row[3]["out_226559"] == 1 and row[4]["out_226559"] == 0
    assert len(row) == 24

    diag = feat.extract_diag(fixtures["diagnoses"], mort_cohort, fixtures["mapping"])
    cond = feat.group_diag(diag, "convert_group")
    onehot_long = dg.one_hot_conditions(cond, kept)
    got = {(r.stay_id, r.new_icd_code) for r in onehot_long.collect()}
    assert (1001, "I50") in got and (2001, "N18") in got


def test_cohort_with_disease_filters(spark, fixtures):
    # "readmission due to I50": only subject 1's stays survive the visit
    # filter (hadm 101 has an I50-root diagnosis)
    hids = icd_mod.disease_hadm_ids(fixtures["diagnoses"], fixtures["mapping"], "I50")
    out = coh.extract_cohort_icu(
        fixtures["icustays"], fixtures["patients"], fixtures["admissions"],
        label="readmission", time=30, disease_hadm_ids_df=hids,
    )
    assert {r.stay_id for r in out.collect()} == {1001}

    # mortality cohort restricted post-label (extract_data :643-653)
    out2 = coh.extract_cohort_icu(
        fixtures["icustays"], fixtures["patients"], fixtures["admissions"],
        label="mortality", cohort_disease_hadm_ids_df=hids,
    )
    assert {r.stay_id for r in out2.collect()} == {1001}


def test_non_icu_cohort_path(spark, fixtures):
    # hosp path: los in whole days via floor_days; hospital_expire_flag
    # filter only for readmission; min_valid_year required
    pts = coh.visit_pts_hosp(fixtures["admissions"], fixtures["patients"], use_admn=True)
    rows = {r.hadm_id: r for r in pts.collect()}
    # hadm 201 has hospital_expire_flag=1 -> dropped; 301 minor -> dropped
    assert set(rows) == {101, 102, 401}
    assert rows[101].los == 3.0 and rows[102].los == 2.0
    labeled = coh.label_readmission(
        pts, gap_days=30, admit_col="admittime", disch_col="dischtime"
    )
    got = {r.hadm_id: r.label for r in labeled.collect()}
    assert got == {101: 1, 102: 0, 401: 0}
