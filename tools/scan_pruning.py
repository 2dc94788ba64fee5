"""Measure what write layout buys a selective scan: row groups that
MUST be read (parquet footer min/max vs the predicate — what any
stats-pruning reader does) and filtered-scan wall time, across four
layouts of the same sf0.1 lineitem:

- hash:   repartition(N) — arrival-order baseline, ranges span everything
- range:  cluster_for_scan on l_shipdate — 1-D range clustering
- lexico: cluster_for_scan on (l_partkey, l_suppkey) — leading-column sort
- zorder: cluster_for_scan on zorder_key(l_partkey, l_suppkey) — 2-D locality

Predicates: a ~1-month shipdate range (1-D case) and a 2-D box on
(l_partkey, l_suppkey) covering ~1/8 of each dimension (~1.6%
selectivity). The zorder-vs-lexico comparison also probes the box on
the TRAILING dimension only — the case lexicographic clustering cannot
prune at all.

Usage: python tools/scan_pruning.py [n_files] [repeats]
Output: a markdown table (pasted into SCALING.md). The scans are timed by
``tools/measure.py``'s ``time_queries`` in its session, on every core
this process may use.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, ".")

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from measure import HOST_CORES, session, time_queries  # noqa: E402
from temporai_mivdp_spark.operators.layout import (  # noqa: E402
    cluster_for_scan,
    quantize_uniform,
    zorder_key,
)
from temporai_mivdp_spark.sources import load_table  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
BITS = 14  # 2 dims x 14 bits = 28-bit morton key


def rowgroups_must_read(path: str, bounds: dict[str, tuple]) -> tuple[int, int]:
    """(must_read, total) row groups whose [min,max] overlaps EVERY
    column bound — exactly the footer-stats test a pruning reader
    applies. Missing stats count as must-read (reader can't skip)."""
    must, total = 0, 0
    for part in sorted(Path(path).glob("*.parquet")):
        pf = pq.ParquetFile(part)
        names = pf.schema_arrow.names
        for rg in range(pf.metadata.num_row_groups):
            total += 1
            overlap = True
            meta = pf.metadata.row_group(rg)
            for col, (lo, hi) in bounds.items():
                st = meta.column(names.index(col)).statistics
                if st is None or not st.has_min_max:
                    continue  # no stats -> cannot skip on this column
                if st.max < lo or st.min > hi:
                    overlap = False
                    break
            must += overlap
    return must, total


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_files = int(args[0]) if args else 64
    repeats = int(args[1]) if len(args) > 1 else 3

    spark = session(HOST_CORES)

    li = load_table(spark, BASE_SF, "lineitem")
    pk_hi = li.agg(F.max("l_partkey")).collect()[0][0]
    sk_hi = li.agg(F.max("l_suppkey")).collect()[0][0]

    qp = quantize_uniform(F.col("l_partkey"), 0, pk_hi, BITS)
    qs = quantize_uniform(F.col("l_suppkey"), 0, sk_hi, BITS)
    with_z = li.withColumn("__z", zorder_key([qp, qs], BITS))

    tmp = tempfile.mkdtemp(prefix="mivdp_pruning_")
    layouts = {
        "hash": li.repartition(n_files),
        "range_shipdate": cluster_for_scan(li, ["l_shipdate"], n_files),
        "lexico_part_supp": cluster_for_scan(li, ["l_partkey", "l_suppkey"], n_files),
        "zorder_part_supp": cluster_for_scan(with_z, ["__z"], n_files).drop("__z"),
    }
    for name, df in layouts.items():
        df.write.mode("overwrite").parquet(f"{tmp}/{name}")

    # l_shipdate is timestamp[us]: footer stats come back as datetime —
    # bound with datetimes so the overlap comparison is same-typed
    import datetime as dt

    d_lo = dt.datetime(1995, 6, 1)
    d_hi = dt.datetime(1995, 6, 30, 23, 59, 59)
    p_lo, p_hi = int(pk_hi * 0.25), int(pk_hi * 0.375)  # 1/8 of partkey
    s_lo, s_hi = int(sk_hi * 0.25), int(sk_hi * 0.375)  # 1/8 of suppkey

    cases = [
        ("date_1mo", {"l_shipdate": (d_lo, d_hi)},
         F.col("l_shipdate").between(d_lo.isoformat(), d_hi.isoformat())),
        ("box_2d", {"l_partkey": (p_lo, p_hi), "l_suppkey": (s_lo, s_hi)},
         F.col("l_partkey").between(p_lo, p_hi)
         & F.col("l_suppkey").between(s_lo, s_hi)),
        ("trailing_dim", {"l_suppkey": (s_lo, s_hi)},
         F.col("l_suppkey").between(s_lo, s_hi)),
    ]

    def scan(path, pred):
        return lambda spark, sf: (
            spark.read.parquet(path)
            .filter(pred)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("s"),
            )
        )

    print(f"| layout | predicate | rowgroups must-read | scan s (best of {repeats}) |")
    print("|---|---|---|---|")
    try:
        fns = {
            (lname, cname): scan(f"{tmp}/{lname}", pred)
            for lname in layouts
            for cname, _, pred in cases
        }
        recs = time_queries(spark, fns, BASE_SF, repeats)
        for lname in layouts:
            for cname, bounds, _ in cases:
                must, total = rowgroups_must_read(f"{tmp}/{lname}", bounds)
                t = recs[(lname, cname)]["exec_min_s"]
                print(f"| {lname} | {cname} | {must}/{total} | {t:.3f} |")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
