"""End-to-end clinical pipeline demo: EP-1 -> EP-2 -> EP-3 on synthetic
MIMIC-shaped data, writing the engine's artifact set (Parquet replacing
the reference's gzip-CSV + pickles).

    python tools/run_pipeline.py [out_dir] [n_subjects]

Produces under out_dir:
    cohort/            labeled cohort (mortality task)
    features/{diag,chart,out,proc,med}/   per-modality long event tables
    summary/{...}/     per-feature summaries
    dense/{meds,chart,out,proc}/          (stay, hour, itemid) dense grids
    vocab/{...}/       vocabulary dims (replacing pickled lists)
    meta/              per-modality per-admission maxima

This is the reference's extract_data -> feature_icu -> ICUDataGenerator
chain (SURVEY.md §3) as one Spark job; each stage is also usable alone.
"""

from __future__ import annotations

import datetime as dt
import random
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from temporai_mivdp_spark.mivdp import cohort as coh  # noqa: E402
from temporai_mivdp_spark.mivdp import datagen as dg  # noqa: E402
from temporai_mivdp_spark.mivdp import features as feat  # noqa: E402
from temporai_mivdp_spark.sources import write_parquet  # noqa: E402
from measure import HOST_CORES, session  # noqa: E402


def synth_inputs(spark, n_subjects: int = 200, seed: int = 42):
    """Deterministic MIMIC-shaped fixture generator (FIXTURES.md)."""
    rng = random.Random(seed)
    base = dt.datetime(2150, 1, 1)
    patients, admissions, icustays = [], [], []
    charts, outs, procs, meds = [], [], [], []
    stay_id = 1000
    for s in range(1, n_subjects + 1):
        age = rng.randint(15, 90)
        dod = None
        n_stays = rng.randint(1, 3)
        t0 = base + dt.timedelta(days=rng.randint(0, 300))
        for v in range(n_stays):
            hadm = s * 100 + v
            los_h = rng.randint(10, 200)
            intime = t0 + dt.timedelta(days=40 * v, hours=rng.randint(0, 12))
            outtime = intime + dt.timedelta(hours=los_h)
            if rng.random() < 0.08 and dod is None:
                dod = intime + dt.timedelta(hours=rng.randint(1, los_h))
            admissions.append(
                (s, hadm, intime - dt.timedelta(hours=2), outtime + dt.timedelta(hours=4),
                 None, 0, rng.choice(["Medicare", "Medicaid", "Private"]),
                 rng.choice(["WHITE", "BLACK", "ASIAN", "HISPANIC"]))
            )
            stay_id += 1
            icustays.append((s, hadm, stay_id, intime, outtime, los_h / 24.0))
            for _ in range(rng.randint(5, 40)):
                h = rng.randint(0, max(los_h - 1, 1))
                charts.append(
                    (stay_id, intime + dt.timedelta(hours=h, minutes=rng.randint(0, 59)),
                     rng.choice([220045, 220210, 223761]), round(rng.uniform(40, 180), 1),
                     "bpm" if rng.random() > 0.02 else "BPM")
                )
            for _ in range(rng.randint(0, 8)):
                h = rng.randint(0, max(los_h - 1, 1))
                outs.append((s, hadm, stay_id, intime + dt.timedelta(hours=h), rng.choice([226559, 226560])))
                procs.append((stay_id, intime + dt.timedelta(hours=h), rng.choice([225441, 225442])))
            for o in range(rng.randint(0, 5)):
                h = rng.randint(0, max(los_h - 2, 1))
                dur = rng.randint(1, 24)
                meds.append(
                    (s, stay_id, rng.choice([221906, 225943, 222168]),
                     intime + dt.timedelta(hours=h), intime + dt.timedelta(hours=h + dur),
                     round(rng.uniform(0.5, 10), 2), round(rng.uniform(1, 100), 2),
                     stay_id * 100 + o)
                )
        patients.append((s, rng.choice(["M", "F"]), dod, age, 2150, "2011 - 2013"))

    return {
        "patients": spark.createDataFrame(
            patients,
            "subject_id: long, gender: string, dod: timestamp, anchor_age: int, "
            "anchor_year: int, anchor_year_group: string"),
        "admissions": spark.createDataFrame(
            admissions,
            "subject_id: long, hadm_id: long, admittime: timestamp, dischtime: timestamp, "
            "deathtime: timestamp, hospital_expire_flag: int, insurance: string, ethnicity: string"),
        "icustays": spark.createDataFrame(
            icustays,
            "subject_id: long, hadm_id: long, stay_id: long, intime: timestamp, "
            "outtime: timestamp, los: double"),
        "chartevents": spark.createDataFrame(
            charts, "stay_id: long, charttime: timestamp, itemid: long, valuenum: double, valueuom: string"),
        "outputevents": spark.createDataFrame(
            outs, "subject_id: long, hadm_id: long, stay_id: long, charttime: timestamp, itemid: long"),
        "procedureevents": spark.createDataFrame(
            procs, "stay_id: long, starttime: timestamp, itemid: long"),
        "inputevents": spark.createDataFrame(
            meds,
            "subject_id: long, stay_id: long, itemid: long, starttime: timestamp, "
            "endtime: timestamp, rate: double, amount: double, orderid: long"),
    }


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/mivdp_pipeline_out"
    n_subjects = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    include_time, pred_w, bucket = 24, 6, 2

    spark = session(HOST_CORES)
    t = synth_inputs(spark, n_subjects)

    # --- EP-1: labeled cohort (mortality) ---
    cohort = coh.extract_cohort_icu(t["icustays"], t["patients"], t["admissions"], label="mortality")
    write_parquet(cohort, f"{out_dir}/cohort")
    summary = coh.cohort_summary(cohort).collect()[0]
    print(f"cohort: {summary.n_records} stays, {summary.n_patients} patients, "
          f"{summary.n_pos} pos / {summary.n_neg} neg")

    # --- EP-2: per-modality features + cleaning + summaries ---
    chart = feat.clean_chart(feat.extract_chart(t["chartevents"], cohort), thresh=98, left_thresh=2, impute=True)
    out_e = feat.extract_out(t["outputevents"], cohort)
    proc = feat.extract_proc(t["procedureevents"], cohort)
    med = feat.extract_med(t["inputevents"], cohort)
    for name, df in [("chart", chart), ("out", out_e), ("proc", proc), ("med", med)]:
        write_parquet(df, f"{out_dir}/features/{name}")
    write_parquet(feat.summary_events(chart, missing_col="valuenum"), f"{out_dir}/summary/chart")
    write_parquet(feat.summary_events(med, missing_col="amount"), f"{out_dir}/summary/med")
    write_parquet(feat.summary_events(out_e), f"{out_dir}/summary/out")
    write_parquet(feat.summary_events(proc), f"{out_dir}/summary/proc")

    # --- EP-3: task windows -> buckets -> dense grids ---
    data = dg.trim_anchored_start(dg.cohort_hours(cohort), include_time, pred_w)
    n_buckets = include_time // bucket

    meds_p = dg.trim_events_start(dg.prepare_meds(med, data), data, include_time, clamp_stop=True)
    dense_meds = dg.densify_meds(dg.bucket_meds(meds_p, include_time, bucket), n_buckets)
    chart_p = dg.trim_events_start(dg.prepare_point_events(chart, data), data, include_time)
    dense_chart = dg.densify_chart(
        dg.bucket_point_events(chart_p, include_time, bucket, value_col="valuenum"), n_buckets)
    out_p = dg.trim_events_start(dg.prepare_point_events(out_e, data), data, include_time)
    dense_out = dg.densify_indicator(dg.bucket_point_events(out_p, include_time, bucket), n_buckets)
    proc_p = dg.trim_events_start(dg.prepare_point_events(proc, data), data, include_time)
    dense_proc = dg.densify_indicator(dg.bucket_point_events(proc_p, include_time, bucket), n_buckets)

    for name, df in [("meds", dense_meds), ("chart", dense_chart), ("out", dense_out), ("proc", dense_proc)]:
        write_parquet(df, f"{out_dir}/dense/{name}", partition_by=None)
        write_parquet(dg.vocabulary(df, "itemid"), f"{out_dir}/vocab/{name}")
    write_parquet(dg.per_adm_maxima(dg.bucket_meds(meds_p, include_time, bucket), ["itemid", "orderid"]),
                  f"{out_dir}/meta")

    counts = {name: spark.read.parquet(f"{out_dir}/dense/{name}").count()
              for name in ["meds", "chart", "out", "proc"]}
    stays = spark.read.parquet(f"{out_dir}/cohort").count()
    print(f"dense rows: {counts}; artifact root: {out_dir}; stays: {stays}")
    spark.stop()


if __name__ == "__main__":
    main()
