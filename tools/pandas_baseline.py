"""Single-node pandas baseline vs this engine, same data, same semantics.

The reference publishes no benchmark numbers (BASELINE.md), so the
"matches-or-beats the reference's single-node throughput" question needs
a measured stand-in. This tool times reference-STYLE pandas
implementations of three catalog operators against the engine's Spark
plans on the same sf directory.

Charity rules (every one favors the pandas side):

* pandas gets VECTORIZED implementations (groupby/transform/clip) even
  where the reference actually runs Python loops with row appends — the
  reference's own self-reported bottleneck
  (day_intervals_cohort_v1.py:20-22, utils/common.py:9).
* pandas operates on DataFrames pre-loaded into RAM before the timer
  starts; the Spark numbers INCLUDE the parquet scan every run.
* the md5 in exact-dedup is row-wise ``hashlib`` for pandas (no
  vectorized md5 exists there) — same per-row work Spark's codegen'd
  ``md5()`` does.

Semantics matched to the catalog queries (same outputs, verified by
row-count equality at run time): ``a8_winsorize``,
``w3_tumbling_bucket``, ``dedup_exact``, ``a2_two_level_agg``,
``text_quality``, ``dedup_span_coverage``.

Usage: python tools/pandas_baseline.py [repeats] [SMALL_SF_DIR LARGE_SF_DIR]

(default sf0.01 and sf0.1; a 10x input for the second decade comes from
``python tools/measure.py --inflate 10 --keep DIR``). Spark runs in
``tools/measure.py``'s session on every core this process may use.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from temporai_mivdp_spark.queries import QUERIES  # noqa: E402
import temporai_mivdp_spark.queries_llm  # noqa: E402,F401
from measure import HOST_CORES, session  # noqa: E402

_WS = re.compile(r"\s+")


def pd_winsorize(li: pd.DataFrame) -> pd.DataFrame:
    b = li.groupby("l_returnflag")["l_extendedprice"].quantile([0.05, 0.95]).unstack()
    b.columns = ["lo", "hi"]
    m = li.merge(b, left_on="l_returnflag", right_index=True)
    out = m[["l_orderkey", "l_linenumber"]].copy()
    out["price_winsorized"] = m["l_extendedprice"].clip(m["lo"], m["hi"]).round(4)
    return out


def pd_tumbling(ev: pd.DataFrame) -> pd.DataFrame:
    anchor = ev.groupby("user_id")["ts"].transform("min")
    h = np.floor((ev["ts"] - anchor).dt.total_seconds() / 3600).astype("int64")
    g = ev.assign(
        start_time=h // 6, __r=np.round(ev["value"] * 100)
    ).groupby(["user_id", "start_time"])
    out = g.agg(
        n_events=("value", "size"), __s=("__r", "sum"), __n=("value", "count")
    ).reset_index()
    out["avg_value"] = out.pop("__s") / (100.0 * out.pop("__n"))
    return out


def pd_text_quality(docs: pd.DataFrame) -> pd.DataFrame:
    from temporai_mivdp_spark.llmdata.text import STOPWORDS

    norm = docs["text"].str.lower().str.replace(_WS, " ", regex=True).str.strip()
    out = pd.DataFrame({"doc_id": docs["doc_id"]})
    out["n_chars"] = docs["text"].str.len()
    words = norm.str.split(" ")
    out["n_tokens"] = words.str.len()
    out["chars_per_token"] = out["n_chars"] / out["n_tokens"]
    out["punct_ratio"] = docs["text"].str.count(r"[.!?,;:]") / out["n_chars"]
    out["digit_ratio"] = docs["text"].str.count(r"[0-9]") / out["n_chars"]
    # same \b alternation semantics as text._count_any_occurrence —
    # padded-space literal matching would undercount adjacent needles
    # (non-overlapping) and miss punctuation-adjacent tokens
    stop_pat = r"\b(?:" + "|".join(STOPWORDS) + r")\b"
    out["stopword_ratio"] = norm.str.count(stop_pat) / out["n_tokens"]
    # word-2gram repetition: explode to a long frame, two groupbys
    ex = pd.DataFrame(
        {"doc_id": docs["doc_id"].repeat(out["n_tokens"] - 1)}
    )
    flat = [
        f"{a} {b}"
        for ws in words
        for a, b in zip(ws, ws[1:])
    ]
    ex["g"] = flat
    gc = ex.groupby(["doc_id", "g"]).size().rename("c").reset_index()
    rep = gc.groupby("doc_id")["c"].agg(max_c="max", tot="sum", dist="size")
    out = out.merge(rep, on="doc_id", how="left")
    out["top_ngram_frac"] = (out["max_c"] * 2.0 / (out["tot"] + 1)).fillna(0.0)
    out["dup_ngram_frac"] = ((out["tot"] - out["dist"]) / out["tot"]).fillna(0.0)
    return out.drop(columns=["max_c", "tot", "dist"])


def pd_two_level(li: pd.DataFrame) -> pd.DataFrame:
    inner = li.groupby(["l_partkey", "l_orderkey"]).size().rename("n").reset_index()
    out = inner.groupby("l_partkey")["n"].agg(
        mean_frequency="mean", total_count="sum"
    )
    return out.reset_index()


def pd_dedup_exact(docs: pd.DataFrame) -> pd.DataFrame:
    doubled = pd.concat(
        [docs, docs.assign(doc_id=docs["doc_id"] + 1_000_000)], ignore_index=True
    )
    norm = doubled["text"].str.lower().str.replace(_WS, " ", regex=True).str.strip()
    key = norm.map(lambda s: hashlib.md5(s.encode()).hexdigest())
    g = doubled.assign(__k=key).groupby("__k")["doc_id"]
    return g.agg(keep_id="min", n_copies="size").reset_index(drop=True)


def pd_span_coverage(docs: pd.DataFrame) -> pd.DataFrame:
    """Per-doc duplicated-span coverage (dedup_span_coverage semantics,
    n=10, min_docs=2, on the augmented corpus). Shingling has no
    vectorized pandas form, so the per-doc loop below is exactly how a
    single-node implementation does it; the survivor filter and the
    interval union use groupby/numpy where possible."""
    aug = pd.concat(
        [docs, docs.assign(doc_id=docs["doc_id"] + 1_000_000, text=docs["text"] + " zqx")],
        ignore_index=True,
    )
    aug = aug[aug["text"].notna()]
    norm = aug["text"].str.lower().str.replace(_WS, " ", regex=True).str.strip()
    toks = norm.str.split(" ")
    ids = aug["doc_id"].to_numpy()
    n_tokens = toks.map(len).to_numpy()
    rows_doc: list = []
    rows_pos: list = []
    rows_h: list = []
    for did, tk in zip(ids, toks.to_numpy()):
        if len(tk) >= 10:
            for p in range(len(tk) - 9):
                rows_doc.append(did)
                rows_pos.append(p)
                rows_h.append(hash(" ".join(tk[p : p + 10])))
    sp = pd.DataFrame({"doc_id": rows_doc, "pos": rows_pos, "h": rows_h})
    nd = sp.groupby("h")["doc_id"].nunique()
    dup = sp[sp["h"].isin(set(nd[nd >= 2].index))]

    def union(g: pd.DataFrame) -> pd.Series:
        pos = np.sort(g["pos"].to_numpy())
        covered = int(np.minimum(np.diff(pos), 10).sum()) + 10
        return pd.Series({"dup_spans": len(pos), "covered_tokens": covered})

    cov = dup.groupby("doc_id").apply(union, include_groups=False)
    out = pd.DataFrame({"doc_id": ids, "n_tokens": n_tokens}).merge(
        cov, left_on="doc_id", right_index=True, how="left"
    )
    out[["dup_spans", "covered_tokens"]] = (
        out[["dup_spans", "covered_tokens"]].fillna(0).astype("int64")
    )
    out["coverage"] = out["covered_tokens"] / out["n_tokens"]
    return out


SFS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")


def _load(sf_dir: str) -> dict:
    return {
        "li": pd.read_parquet(f"{sf_dir}/lineitem.parquet"),
        "ev": pd.read_parquet(f"{sf_dir}/events.parquet")[["user_id", "ts", "value"]],
        "docs": pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]],
    }


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sfs = tuple(sys.argv[2:4]) if len(sys.argv) > 3 else SFS
    tables = {sf: _load(sf) for sf in sfs}

    def pandas_cases(sf: str) -> dict:
        t = tables[sf]
        return {
            "a8_winsorize": lambda: pd_winsorize(t["li"]),
            "w3_tumbling_bucket": lambda: pd_tumbling(t["ev"]),
            "dedup_exact": lambda: pd_dedup_exact(t["docs"]),
            "a2_two_level_agg": lambda: pd_two_level(t["li"]),
            "text_quality": lambda: pd_text_quality(t["docs"]),
            "dedup_span_coverage": lambda: pd_span_coverage(t["docs"]),
        }

    names = list(pandas_cases(sfs[0]))
    spark = session(HOST_CORES)
    spark_dfs = {
        (name, sf): QUERIES[name](spark, sf)
        for name in names
        for sf in sfs
    }

    # warm-up both engines + semantics check (row counts must agree)
    for sf in sfs:
        for name, fn in pandas_cases(sf).items():
            n_pd = len(fn())
            n_sp = spark_dfs[(name, sf)].count()
            assert n_pd == n_sp, (name, sf, n_pd, n_sp)
            spark_dfs[(name, sf)].write.format("noop").mode("overwrite").save()

    cells = [(name, sf) for name in names for sf in sfs]
    best_pd = {c: float("inf") for c in cells}
    best_sp = {c: float("inf") for c in cells}
    for _ in range(repeats):  # interleaved, same rule as bench.py
        for sf in sfs:
            cases = pandas_cases(sf)
            for name in names:
                t0 = time.perf_counter()
                cases[name]()
                best_pd[(name, sf)] = min(
                    best_pd[(name, sf)], time.perf_counter() - t0
                )
                t0 = time.perf_counter()
                spark_dfs[(name, sf)].write.format("noop").mode("overwrite").save()
                best_sp[(name, sf)] = min(
                    best_sp[(name, sf)], time.perf_counter() - t0
                )

    print("(pandas pre-loaded in RAM; Spark re-scans parquet each run)")
    a, b = (os.path.basename(sf.rstrip("/")) for sf in sfs)
    print(
        f"| operator | pandas {a} | pandas {b} | pd growth | "
        f"spark {a} | spark {b} | spark growth |"
    )
    print("|---|---|---|---|---|---|---|")
    for name in names:
        p1, p2 = best_pd[(name, sfs[0])], best_pd[(name, sfs[1])]
        s1, s2 = best_sp[(name, sfs[0])], best_sp[(name, sfs[1])]
        print(
            f"| {name} | {p1:.3f} | {p2:.3f} | {p2 / p1:.1f}× | "
            f"{s1:.3f} | {s2:.3f} | {s2 / s1:.1f}× |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
