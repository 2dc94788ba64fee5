"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(out_dir, seed, size)``: the same
seed writes byte-identical files. Nothing here touches Spark; inputs are
built with NumPy and written with pandas / pyarrow so that generation
cost stays small next to the runs it feeds.

* ``mimic_drop`` writes a MIMIC-IV-shaped ``<root>/<version>/{core,hosp,
  icu}/*.csv.gz`` drop plus a synthetic ICD-9 -> ICD-10 map TSV, with the
  properties FIXTURES.md asks for: a minority unit per chart item (the
  unit vote), outliers (winsorize), mixed ICD-9/10 codes, readmissions,
  in-stay deaths and stays spread across the LOS thresholds.
* ``curation_corpus`` writes a document corpus with salted exact copies,
  planted near-duplicates and a held-out bench slice, some of whose
  passages leak into the corpus.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

MIMIC_VERSION = "1.0"

#: words of the synthetic document language (the 30-word vocabulary of
#: the catalog's synthetic ``documents`` table)
WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)

_TS = "%Y-%m-%d %H:%M:%S"
_BASE = np.datetime64("2150-01-01T00:00:00", "s")

#: chart items: (itemid, dominant unit, minority unit, mean, sd)
_CHART_ITEMS = [
    (220045, "bpm", "BPM", 85.0, 15.0),
    (220210, "insp/min", "breaths/min", 18.0, 4.0),
    (220277, "%", "percent", 96.0, 2.5),
    (220179, "mmHg", "cmH2O", 120.0, 18.0),
    (220180, "mmHg", "cmH2O", 65.0, 10.0),
    (223761, "°F", "°C", 98.6, 1.2),
    (225664, "mg/dL", "mmol/L", 140.0, 35.0),
    (220615, "mg/dL", "umol/L", 1.2, 0.5),
]
_OUT_ITEMS = np.array([226559, 226560, 226561, 226584, 226627])
_PROC_ITEMS = np.array([225441, 225442, 224275, 225792, 221214])
_MED_ITEMS = np.array([221906, 225943, 222168, 220949, 225158, 221744])
#: ICD-9 roots with the ICD-10 category the real map sends them to
_ICD9_ROOTS = [
    ("428", "I50"), ("496", "J44"), ("414", "I25"), ("585", "N18"),
    ("401", "I10"), ("250", "E11"), ("486", "J18"), ("584", "N17"),
    ("427", "I48"), ("038", "A41"), ("276", "E87"), ("599", "N39"),
    ("285", "D64"), ("518", "J96"), ("272", "E78"), ("403", "I12"),
]
_ICD10_CODES = np.array(
    ["I509", "I5023", "J449", "J441", "I2510", "I252", "N183", "N189",
     "E119", "I10", "J189", "A419", "E872", "N390", "D649", "Z87891"]
)


def _fmt(ts: np.ndarray) -> pd.Series:
    """Seconds-resolution datetime64 array -> CSV timestamp strings;
    NaT becomes an empty field (CSV NULL)."""
    s = pd.Series(pd.to_datetime(ts)).dt.strftime(_TS)
    return s.fillna("")


def _write_gz(df: pd.DataFrame, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_csv(
        path, index=False,
        compression={"method": "gzip", "compresslevel": 1, "mtime": 0},
    )
    return len(df)


def _hours(rng: np.random.Generator, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Uniform offsets in seconds within [lo, hi) hours, per row."""
    return (rng.uniform(lo, hi) * 3600).astype("int64").astype("timedelta64[s]")


def mimic_drop(root: str, seed: int, n_subjects: int) -> dict[str, int]:
    """Write the csv.gz drop under ``root``; return rows per table
    (``icd_map`` included). The ICD map path is ``root/icd_map.tsv``."""
    rng = np.random.default_rng(seed)
    v = os.path.join(root, MIMIC_VERSION)
    rows: dict[str, int] = {}

    subj = 10_000_000 + np.arange(n_subjects, dtype="int64")
    n_adm = rng.choice([1, 2, 3], size=n_subjects, p=[0.6, 0.3, 0.1])
    adm_subj = np.repeat(subj, n_adm)
    adm_idx = np.concatenate([np.arange(k) for k in n_adm])
    n = len(adm_subj)
    hadm = 20_000_000 + np.arange(n, dtype="int64")
    stay = 30_000_000 + np.arange(n, dtype="int64")

    # successive admissions 10..200 days apart: a share lands inside the
    # 30-day readmission window
    first = _BASE + (rng.integers(0, 3000, n_subjects) * 86400).astype("timedelta64[s]")
    gap_days = rng.integers(10, 200, n) * adm_idx
    admit = np.repeat(first, n_adm) + (gap_days * 86400).astype("timedelta64[s]")
    intime = admit + _hours(rng, np.full(n, 1.0), np.full(n, 12.0))
    # LOS spread across the 3/7-day thresholds; nearly all >= 30 h
    los_h = rng.uniform(20.0, 260.0, n)
    outtime = intime + (los_h * 3600).astype("int64").astype("timedelta64[s]")
    disch = outtime + _hours(rng, np.full(n, 2.0), np.full(n, 48.0))

    # ~8% of subjects die during their last stay (mortality positives)
    last = np.cumsum(n_adm) - 1
    dies = rng.random(n_subjects) < 0.08
    dod = np.full(n_subjects, np.datetime64("NaT"), dtype="datetime64[s]")
    dod[dies] = intime[last][dies] + (
        rng.uniform(0.1, 0.9, dies.sum()) * los_h[last][dies] * 3600
    ).astype("int64").astype("timedelta64[s]")

    groups = np.array(["2008 - 2010", "2011 - 2013", "2014 - 2016", "2017 - 2019"])
    rows["patients"] = _write_gz(pd.DataFrame({
        "subject_id": subj,
        "gender": rng.choice(["M", "F"], n_subjects),
        "dod": _fmt(dod),
        "anchor_age": rng.integers(15, 91, n_subjects),
        "anchor_year": rng.integers(2110, 2191, n_subjects),
        "anchor_year_group": rng.choice(groups, n_subjects),
    }), f"{v}/core/patients.csv.gz")
    rows["admissions"] = _write_gz(pd.DataFrame({
        "subject_id": adm_subj,
        "hadm_id": hadm,
        "admittime": _fmt(admit),
        "dischtime": _fmt(disch),
        "deathtime": "",
        "hospital_expire_flag": 0,
        "insurance": rng.choice(["Medicare", "Medicaid", "Other"], n),
        "ethnicity": rng.choice(["WHITE", "BLACK/AFRICAN AMERICAN", "ASIAN",
                                 "HISPANIC/LATINO", "OTHER"], n),
    }), f"{v}/core/admissions.csv.gz")
    rows["icustays"] = _write_gz(pd.DataFrame({
        "subject_id": adm_subj, "hadm_id": hadm, "stay_id": stay,
        "intime": _fmt(intime), "outtime": _fmt(outtime),
        "los": np.round(los_h / 24.0, 4),
    }), f"{v}/icu/icustays.csv.gz")

    # diagnoses: 2..6 per admission, ~40% ICD-9 (rooted in the map)
    k = rng.integers(2, 7, n)
    d_adm = np.repeat(np.arange(n), k)
    is9 = rng.random(len(d_adm)) < 0.4
    roots9 = np.array([r for r, _ in _ICD9_ROOTS])
    code9 = np.char.add(rng.choice(roots9, len(d_adm)),
                        rng.integers(0, 10, len(d_adm)).astype(str))
    code = np.where(is9, code9, rng.choice(_ICD10_CODES, len(d_adm)))
    rows["diagnoses_icd"] = _write_gz(pd.DataFrame({
        "subject_id": adm_subj[d_adm], "hadm_id": hadm[d_adm],
        "seq_num": np.concatenate([np.arange(1, j + 1) for j in k]),
        "icd_code": code, "icd_version": np.where(is9, 9, 10),
    }), f"{v}/hosp/diagnoses_icd.csv.gz")

    # chart events: ~1.2 per stay-hour (counted up to 96 h), uniform over
    # the stay
    n_ch = rng.poisson(np.clip(los_h, 24, 96) * 1.2).astype("int64")
    c_st = np.repeat(np.arange(n), n_ch)
    m = len(c_st)
    item = rng.integers(0, len(_CHART_ITEMS), m)
    ids, unit, minor, mean, sd = (np.array(c) for c in zip(*_CHART_ITEMS))
    val = rng.normal(mean[item].astype(float), sd[item].astype(float))
    outlier = rng.random(m) < 0.01
    val[outlier] *= rng.choice([0.05, 12.0], outlier.sum())
    val = np.round(val, 2)
    valnull = rng.random(m) < 0.02
    uom = np.where(rng.random(m) < 0.03, minor[item], unit[item])
    rows["chartevents"] = _write_gz(pd.DataFrame({
        "stay_id": stay[c_st],
        "charttime": _fmt(intime[c_st] + _hours(rng, np.zeros(m), los_h[c_st])),
        "itemid": ids[item].astype("int64"),
        "valuenum": pd.Series(np.where(valnull, np.nan, val)),
        "valueuom": uom,
    }), f"{v}/icu/chartevents.csv.gz")

    n_out = rng.poisson(6, n)
    o_st = np.repeat(np.arange(n), n_out)
    rows["outputevents"] = _write_gz(pd.DataFrame({
        "subject_id": adm_subj[o_st], "hadm_id": hadm[o_st], "stay_id": stay[o_st],
        "charttime": _fmt(intime[o_st] + _hours(rng, np.zeros(len(o_st)), los_h[o_st])),
        "itemid": rng.choice(_OUT_ITEMS, len(o_st)),
    }), f"{v}/icu/outputevents.csv.gz")

    n_pr = rng.poisson(3, n)
    p_st = np.repeat(np.arange(n), n_pr)
    rows["procedureevents"] = _write_gz(pd.DataFrame({
        "stay_id": stay[p_st],
        "starttime": _fmt(intime[p_st] + _hours(rng, np.zeros(len(p_st)), los_h[p_st])),
        "itemid": rng.choice(_PROC_ITEMS, len(p_st)),
    }), f"{v}/icu/procedureevents.csv.gz")

    n_md = rng.poisson(4, n)
    md_st = np.repeat(np.arange(n), n_md)
    q = len(md_st)
    start = intime[md_st] + _hours(rng, np.zeros(q), np.maximum(los_h[md_st] - 1, 1))
    rate = np.round(rng.gamma(2.0, 2.0, q), 3)
    amount = np.round(rng.gamma(2.0, 20.0, q), 3)
    amount[rng.random(q) < 0.05] = 0.0
    rows["inputevents"] = _write_gz(pd.DataFrame({
        "subject_id": adm_subj[md_st], "stay_id": stay[md_st],
        "itemid": rng.choice(_MED_ITEMS, q),
        "starttime": _fmt(start),
        "endtime": _fmt(start + _hours(rng, np.full(q, 0.5), np.full(q, 24.0))),
        "rate": pd.Series(np.where(rng.random(q) < 0.2, np.nan, rate)),
        "amount": amount,
        "orderid": 40_000_000 + np.arange(q, dtype="int64"),
    }), f"{v}/icu/inputevents.csv.gz")

    # ICD map with the real file's shape: per ICD-9 root a 3-char row (the
    # root-join target), for half the roots a second 3-char row with
    # another target that first-match must skip, plus longer billable
    # codes the root join never hits
    recs = []
    for r, tgt in _ICD9_ROOTS:
        recs.append(("ICD9", r, f"CONDITION {r}", r, tgt, "10000"))
        if rng.random() < 0.5:
            recs.append(("ICD9", r, f"CONDITION {r} ALT", r, tgt + "9", "10000"))
        for j in range(rng.integers(1, 4)):
            c = f"{r}{j}{rng.integers(0, 10)}"
            recs.append(("ICD9", c, f"CONDITION {c} SPECIFIED", c, f"{tgt}{j}", "10000"))
    icd = pd.DataFrame(recs, columns=["diagnosis_type", "diagnosis_code",
                                      "diagnosis_description", "icd9cm",
                                      "icd10cm", "flags"])
    icd.to_csv(os.path.join(root, "icd_map.tsv"), sep="\t", index=False)
    rows["icd_map"] = len(icd)
    return rows


def _texts(rng: np.random.Generator, n: int, lo: int = 8, hi: int = 100) -> list[str]:
    """``n`` documents of lo..hi words from the 30-word vocabulary."""
    lens = rng.integers(lo, hi + 1, n)
    words = rng.choice(WORDS, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def _perturb(rng: np.random.Generator, text: str, n_edits: int) -> str:
    """A near-duplicate: ``n_edits`` word substitutions."""
    w = text.split()
    for i in rng.integers(0, len(w), n_edits):
        w[i] = str(rng.choice(WORDS))
    return " ".join(w)


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def curation_corpus(out_dir: str, seed: int, n_docs: int, n_bench: int) -> dict[str, int]:
    """Write ``corpus.parquet`` (doc_id, text) and ``bench.parquet``.

    Of ``n_docs`` corpus rows, 10% are salted exact copies (case and
    whitespace changes only, so normalization folds them), 10% are
    near-duplicates (1-2 word substitutions; all but the shortest stay
    above trigram Jaccard 0.5) and 5% quote a bench passage
    (contamination)."""
    rng = np.random.default_rng(seed)
    bench = _texts(rng, n_bench, 20, 60)
    n_base = n_docs - n_docs // 4
    texts = _texts(rng, n_base, 8, 100)
    src = rng.integers(0, n_base, n_docs // 10)
    salted = [("  " + texts[i].upper()) if j % 2 else texts[i].replace(" ", "  ")
              for j, i in enumerate(src)]
    src = rng.integers(0, n_base, n_docs // 10)
    near = [_perturb(rng, texts[i], 1 + j % 2) for j, i in enumerate(src)]
    n_leak = n_docs - n_base - len(salted) - len(near)
    leak = [bench[b] + " " + t for b, t in zip(
        rng.integers(0, n_bench, n_leak), _texts(rng, n_leak, 5, 20))]
    allt = texts + salted + near + leak
    order = rng.permutation(len(allt))
    _write_parquet(pd.DataFrame({
        "doc_id": np.arange(len(allt), dtype="int64"),
        "text": [allt[i] for i in order],
    }), os.path.join(out_dir, "corpus.parquet"))
    _write_parquet(pd.DataFrame({
        "doc_id": 9_000_000 + np.arange(n_bench, dtype="int64"),
        "text": bench,
    }), os.path.join(out_dir, "bench.parquet"))
    return {"corpus": len(allt), "bench": n_bench}
