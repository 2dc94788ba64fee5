"""One measurement harness for catalog queries: build and execution time,
a result hash and Spark stage totals per (query, core count).

Usage::

    python tools/measure.py [--queries a,b,...] [--sf DIR] [--inflate K]
                            [--keep DIR] [--cores 1,2,4] [--repeats N]

Axes:

* ``--queries``: catalog names (default: ``bench.HEADLINE``) and/or
  ``path/to/file.py:fn`` callables with the catalog signature
  ``fn(spark, sf_dir) -> DataFrame``. A one-off variant A/B keeps its
  variant functions next to its write-up and passes them here.
* input: an sf dir (``--sf``, default ``/root/testdata/sf0.1``), or
  ``--inflate K`` copies of it (see Inflation). The inflated tables go to
  a temporary dir that is deleted after the run, or to ``--keep DIR``,
  which is left in place (e.g. as ``tools/pandas_baseline.py``'s input).
* ``--cores``: one fresh JVM (``local[c]``, ``c`` shuffle partitions)
  per core count, all reading the same input.
* ``--repeats``: timed executions per query.

Method, per JVM (``time_queries``, which ``bench.py`` also times
through): every query is built and run once untimed (JIT,
codegen, first-touch shuffle files), then built again under the timer
(``build_s``, including any eager jobs the builder runs), then executed
``--repeats`` rounds to a noop sink, interleaved across queries so one
host stall spoils at most one sample per query. After timing, the
result is collected and hashed with ``oracle_check``'s canonical frame
(order-insensitive, floats to 1e-6). The harness exits 1 when a query's
hash differs between core counts.

Output: stdout carries one JSON record per line. With ``--inflate``
the first is ``{"inflate": K, "tables": {name: {"base_rows", "rows"}}}``;
then one record per (query, cores)::

    {"query", "cores", "sf", "inflate", "build_s", "exec_min_s", "exec_median_s",
     "exec_s": [samples], "rows", "hash", "codegen_classes",
     "stages": {"jobs", "stages", "tasks", "task_s", "cpu_s",
                "shuffle_mb", "spill_mb", "peak_task_mem_mb"}}

``codegen_classes`` and ``stages`` describe the fastest timed execution:
the number of classes Janino compiled during it (Spark's
``CodegenMetrics`` compilation count; 0 when every generated class came
from the codegen cache), and the sum of its stage metrics
(``task_s``/``cpu_s`` are executor run and CPU time over all its tasks;
``peak_task_mem_mb`` is the largest single task's peak execution
memory). A markdown summary table goes to stderr.

Inflation: copy ``k`` (0 <= k < K) of every fact table shifts its key
columns by ``k * 10**7``, so group counts grow K-fold while per-group
cardinality and intra-copy join fan-outs stay the base's. Documents
shift ``doc_id`` by ``k * DOC_SHIFT`` and salt every token with the
delimited ``q{k}z`` fence, so copies share no token or shingle and
candidate pairs grow exactly K-fold. Dimension tables are copied as-is.
The inflation asserts, per table, that rows and distinct key values both
grow exactly K-fold: keys never repeat across copies, so every key that
is unique in the base (all but lineitem's l_orderkey) stays unique.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path[:0] = [REPO, TOOLS]

MB = 1024.0 * 1024.0
#: the default core count: the cores this process may run on
HOST_CORES = len(os.sched_getaffinity(0))
FACT_SHIFT = 10**7
#: 5460 = 4*3*5*7*13: every residue class the catalog and the media
#: fixtures key on (doc_id mod 2..7, 10, 12, 13) repeats exactly in each
#: copy. Copy 99 of a base with doc_id < 5460 (sf0.1 has 5000) stays
#: below 1e6, hence below the 9e6 hostile-media floor and disjoint from
#: the catalog's doc_id + 1e6 augmented ids.
DOC_SHIFT = 5460
MAX_INFLATE = 100
#: table -> (key column, columns shifted per copy)
FACTS = {
    "customer": ("c_custkey", ["c_custkey"]),
    "orders": ("o_orderkey", ["o_orderkey", "o_custkey"]),
    "lineitem": ("l_orderkey", ["l_orderkey", "l_partkey", "l_suppkey"]),
    "events": ("event_id", ["event_id", "user_id"]),
    "embeddings": ("vec_id", ["vec_id"]),
    "documents": ("doc_id", ["doc_id"]),
}
DIMS = ("region", "nation", "supplier", "part")


def session(cores: int):
    """The measurement session: ``local[cores]`` with ``cores`` shuffle
    partitions, an 8 GB driver heap, no UI, and enough retained jobs and
    stages for ``stage_totals`` to see every run. On a 4-vCPU, 15 GB
    host (local[4], sf0.1) the bench headline measured slower with a
    4 GB heap than with 8 GB, with no spill recorded at either; 16 GB
    would exceed that host's RAM."""
    from temporai_mivdp_spark.session import get_session

    spark = get_session(
        app_name=f"mivdp-measure-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _copy(df, name: str, k: int):
    from pyspark.sql import functions as F

    shift = DOC_SHIFT if name == "documents" else FACT_SHIFT
    for c in FACTS[name][1]:
        df = df.withColumn(c, F.col(c) + F.lit(k * shift))
    if name == "documents":
        df = df.withColumn("text", F.regexp_replace("text", r"(\S+)", f"$1q{k}z"))
    return df


def inflate(spark, base: str, out: str, k: int) -> dict:
    """Write ``k`` disjoint copies of ``base``'s tables to ``out``."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    os.makedirs(out, exist_ok=True)
    tables = {}
    for name, (key, _) in FACTS.items():
        src = spark.read.parquet(f"{base}/{name}.parquet")
        copies = [_copy(src, name, i) for i in range(k)]
        functools.reduce(DataFrame.unionByName, copies).write.mode(
            "overwrite"
        ).parquet(f"{out}/{name}.parquet")
        dst = spark.read.parquet(f"{out}/{name}.parquet")
        (n0, d0), (n1, d1) = (
            df.agg(F.count(F.lit(1)), F.countDistinct(key)).first()
            for df in (src, dst)
        )
        if (n1, d1) != (k * n0, k * d0):
            raise SystemExit(
                f"inflate {name}: rows {n0}->{n1}, distinct {key} {d0}->{d1};"
                f" copies of {key} overlap (base ids must stay below the shift)"
            )
        tables[name] = {"base_rows": n0, "rows": n1}
    for name in DIMS:
        src = f"{base}/{name}.parquet"
        dst = f"{out}/{name}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        elif os.path.exists(src):
            shutil.copy(src, dst)
    return tables


def resolve(spec: str):
    """A catalog name or a ``file.py:fn`` callable."""
    if ":" in spec:
        path, fn = spec.rsplit(":", 1)
        mod_spec = importlib.util.spec_from_file_location("measure_variants", path)
        mod = importlib.util.module_from_spec(mod_spec)
        mod_spec.loader.exec_module(mod)
        return getattr(mod, fn)
    from temporai_mivdp_spark.queries import QUERIES
    import temporai_mivdp_spark.queries_llm  # noqa: F401  (registers llm-data queries)

    if spec not in QUERIES:
        raise SystemExit(f"unknown query {spec!r}")
    return QUERIES[spec]


def result_hash(df) -> tuple[int, str]:
    from oracle_check import canon_frame, spark_frame

    rows = canon_frame(spark_frame(df))
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def stage_totals(store, first_job: int) -> dict:
    """Summed metrics of every stage the jobs since ``first_job`` ran."""
    jobs = store.jobs(first_job)
    stages = [s for j in jobs for s in j["stages"]]
    got = [m for m in (store.stage(s) for s in sorted(set(stages))) if m]
    total = lambda k: sum(m[k] for m in got)  # noqa: E731
    peak = max((m["peak_task_mem_b"] for m in got), default=0)
    return {
        "jobs": len(jobs),
        "stages": len(got),
        "tasks": total("tasks"),
        "task_s": round(total("run_s"), 3),
        "cpu_s": round(total("cpu_s"), 3),
        "shuffle_mb": round(total("shuffle_write_b") / MB, 3),
        "spill_mb": round(total("spill_b") / MB, 3),
        "peak_task_mem_mb": round(peak / MB, 3),
    }


def time_queries(spark, fns: dict, sf: str, repeats: int) -> dict[str, dict]:
    """Time every ``fn(spark, sf) -> DataFrame`` in ``fns`` in this
    session (see Method); returns ``{name: record}`` in ``fns`` order."""
    from perfbench.trace import StatusStore

    store = StatusStore(spark)
    cores = spark.sparkContext.defaultParallelism
    # counts one update per class Janino compiles (a codegen-cache miss)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME()

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for q, fn in fns.items():
        noop(fn(spark, sf))
    dfs, build = {}, {}
    for q, fn in fns.items():
        t0 = time.perf_counter()
        dfs[q] = fn(spark, sf)
        build[q] = time.perf_counter() - t0
    samples = {q: [] for q in fns}
    stages, classes = {}, {}
    for _ in range(repeats):
        for q, df in dfs.items():
            first, c0 = store.next_job_id(), compiled.getCount()
            t0 = time.perf_counter()
            noop(df)
            dt = time.perf_counter() - t0
            if dt <= min(samples[q], default=dt):
                stages[q] = stage_totals(store, first)
                classes[q] = compiled.getCount() - c0
            samples[q].append(dt)
    recs = {}
    for q, df in dfs.items():
        rows, digest = result_hash(df)
        recs[q] = {
            "query": q, "cores": cores,
            "build_s": round(build[q], 3),
            "exec_min_s": round(min(samples[q]), 3),
            "exec_median_s": round(statistics.median(samples[q]), 3),
            "exec_s": [round(s, 3) for s in samples[q]],
            "rows": rows, "hash": digest, "codegen_classes": classes[q],
            "stages": stages[q],
        }
    return recs


def run_cores(args) -> None:
    """Child: time every query in this JVM; one record per query."""
    spark = session(args.cores[0])
    fns = {q: resolve(q) for q in args.queries}
    for rec in time_queries(spark, fns, args.sf, args.repeats).values():
        print(json.dumps(rec), flush=True)
    spark.stop()


def run_inflate(args) -> None:
    """Child: write the inflated input to ``args.keep``."""
    spark = session(max(args.cores))
    tables = inflate(spark, args.sf, args.keep, args.inflate)
    print(json.dumps({"inflate": args.inflate, "sf": args.sf, "tables": tables}), flush=True)
    spark.stop()


def child(args, role: str, cores: list[int], sf: str) -> list[dict]:
    """Run this script in a fresh interpreter (and so a fresh JVM)."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--role", role,
        "--queries", ",".join(args.queries), "--sf", sf,
        "--cores", ",".join(map(str, cores)), "--repeats", str(args.repeats),
    ]
    if role == "inflate":
        cmd += ["--inflate", str(args.inflate), "--keep", args.keep]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    recs = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not recs:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        raise SystemExit(f"measure: {role} child (cores {cores}) failed")
    return recs


def table(recs: list[dict]) -> str:
    lines = [
        "| query | cores | build s | exec min s | exec median s | task s "
        "| shuffle MB | spill MB | peak task MB | hash |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in recs:
        s = r["stages"]
        lines.append(
            f"| {r['query']} | {r['cores']} | {r['build_s']:.3f} "
            f"| {r['exec_min_s']:.3f} | {r['exec_median_s']:.3f} "
            f"| {s['task_s']:.1f} | {s['shuffle_mb']:.1f} | {s['spill_mb']:.1f} "
            f"| {s['peak_task_mem_mb']:.1f} | {r['hash']} |"
        )
    return "\n".join(lines)


def parse(argv=None):
    from bench import HEADLINE

    ints = lambda s: [int(x) for x in s.split(",")]  # noqa: E731
    # variant files resolve against the caller's cwd, not the child's
    queries = lambda s: [  # noqa: E731
        "{}:{}".format(os.path.abspath(q.rsplit(":", 1)[0]), q.rsplit(":", 1)[1])
        if ":" in q else q
        for q in s.split(",")
    ]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--queries", type=queries, default=HEADLINE)
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--inflate", type=int, default=0, metavar="K")
    p.add_argument("--keep", metavar="DIR")
    p.add_argument("--cores", type=ints, default=[HOST_CORES])
    p.add_argument("--repeats", type=int, default=3)
    p.add_argument("--role", choices=["inflate", "cores"], help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not 0 <= args.inflate <= MAX_INFLATE:
        p.error(f"--inflate must be in 0..{MAX_INFLATE}")
    if args.keep and not args.inflate:
        p.error("--keep needs --inflate")
    if args.repeats < 1:
        p.error("--repeats must be >= 1")
    return args


def main(argv=None) -> int:
    args = parse(argv)
    if args.role == "inflate":
        run_inflate(args)
        return 0
    if args.role == "cores":
        run_cores(args)
        return 0
    scratch = None
    sf = args.sf
    try:
        if args.inflate:
            if not args.keep:
                scratch = args.keep = tempfile.mkdtemp(prefix="mivdp_measure_")
            print(json.dumps(child(args, "inflate", args.cores, args.sf)[0]), flush=True)
            sf = args.keep
        recs = []
        for c in args.cores:
            for r in child(args, "cores", [c], sf):
                r.update(sf=args.sf, inflate=args.inflate)
                print(json.dumps(r), flush=True)
                recs.append(r)
    finally:
        if scratch:
            shutil.rmtree(scratch, ignore_errors=True)
    print(table(recs), file=sys.stderr)
    bad = sorted(q for q in args.queries
                 if len({r["hash"] for r in recs if r["query"] == q}) > 1)
    if bad:
        print("measure: result hash differs across core counts: " + ",".join(bad),
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
