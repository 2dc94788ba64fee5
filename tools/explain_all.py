"""Dump physical-plan summaries for every catalog query to PLANS.md
(one row per query, sorted by name) —
the plan-review artifact backing ARCHITECTURE.md's shuffle-discipline
claims — and the headline-query plan fingerprints to PLANS.json, the
committed reference that bench.py's per-query fingerprints are diffed
against (unchanged fingerprint + slower number = measurement noise;
changed fingerprint = the commit that changed the plan is accountable).
Regenerate after operator changes:

    python tools/explain_all.py

The session is ``tools/measure.py``'s, at ``local[32]`` by default
(``--cores``): the committed PLANS.json pins were made at 32 cores, and
plans can depend on parallelism (e.g. the Arrow top-k repartitions by
defaultParallelism), so a regeneration at another core count moves keys
that did not change.

With ``--formatted DIR`` it instead writes ``.explain("formatted")`` of
each named catalog query to ``DIR/<name>.txt`` (planning only, nothing
executes) — before/after plan evidence for a change:

    python tools/explain_all.py --formatted DIR [--sf SF_DIR] [--cores N]
        dedup_ngram_jaccard text_langid ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEADLINE, PINNED_EXTRAS  # noqa: E402
from measure import session  # noqa: E402
from temporai_mivdp_spark.plans import plan_summary, pushed_filters  # noqa: E402
from temporai_mivdp_spark.plans.fingerprint import plan_fingerprint  # noqa: E402

SF = "/root/testdata/sf0.001"
#: Fingerprints are taken at the bench scale factor: plan *shape* is
#: sf-invariant after path normalization, but size-stat-driven join
#: strategy choices are not, so the reference fingerprint must come from
#: the same sf the bench runs at.
BENCH_SF = "/root/testdata/sf0.1"


def write_formatted(spark, out_dir: str, sf_dir: str, names: list[str]) -> None:
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--formatted", metavar="DIR",
                    help="write each named query's formatted plan to DIR")
    ap.add_argument("--sf", default=BENCH_SF, help="input of --formatted")
    ap.add_argument("--cores", type=int, default=32, help="local[N] session")
    ap.add_argument("names", nargs="*", help="catalog queries for --formatted")
    args = ap.parse_args()
    if bool(args.formatted) != bool(args.names):
        ap.error("--formatted DIR and query names go together")
    spark = session(args.cores)
    if args.formatted:
        write_formatted(spark, args.formatted, args.sf, args.names)
        spark.stop()
        return
    lines = [
        "# PLANS — physical-plan summaries per catalog query",
        "",
        "Generated by tools/explain_all.py at sf0.001 (plan shapes are",
        "scale-invariant up to AQE's runtime broadcast decisions). Node",
        "counts per query: joins by strategy, exchanges, aggregates,",
        "windows, codegen spans; plus filters pushed into parquet scans.",
        "",
        "| query | plan nodes | pushed filters |",
        "|---|---|---|",
    ]
    # rows by name, not queries() order: that order follows the driver
    # artifacts, and a new one must not reorder the table
    for name, fn in sorted(entrymod.queries().items()):
        df = fn(spark, SF)
        s = plan_summary(df)
        pf = pushed_filters(df)
        nodes = ", ".join(f"{k}×{v}" for k, v in sorted(s.items()))
        pushed = "; ".join(pf[:4]) + ("…" if len(pf) > 4 else "") if pf else "—"
        lines.append(f"| {name} | {nodes} | {pushed} |")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(lines) - 9} queries)")

    qs = entrymod.queries()
    # HEADLINE (timed) + PINNED_EXTRAS (planning-only) — same set bench.py
    # fingerprints, so a regeneration here never drops the extras' pins
    fingerprints = {
        name: plan_fingerprint(qs[name](spark, BENCH_SF))
        for name in HEADLINE + PINNED_EXTRAS
        if name in qs
    }
    with open("PLANS.json", "w") as f:
        json.dump(fingerprints, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote PLANS.json ({len(fingerprints)} headline fingerprints)")
    spark.stop()


if __name__ == "__main__":
    main()
