"""S-op roundtrips (csv.gz / tsv / parquet readers+sinks) and the X6
grouped-map differential test for chart densification."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from temporai_mivdp_spark.mivdp import datagen as dg
from temporai_mivdp_spark.mivdp.differential import densify_chart_pandas
from temporai_mivdp_spark.sources import read_csv_gz, read_tsv, write_csv_gz, write_parquet
from tests.conftest import SF_SMOKE, ts


def test_csv_gz_roundtrip_with_schema_and_projection(spark):
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("when", TimestampType()),
            StructField("v", DoubleType()),
            StructField("s", StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, ts("2150-01-01 06:30:00"), 1.5, "a"), (2, None, None, "b")], schema
    )
    d = tempfile.mkdtemp(prefix="csvgz-")
    write_csv_gz(df, d, single_file=True)
    back = read_csv_gz(spark, d, schema, columns=["id", "when", "v"])
    rows = {r.id: (r.when, r.v) for r in back.collect()}
    assert rows[1] == (ts("2150-01-01 06:30:00"), 1.5)
    assert rows[2] == (None, None)
    assert back.columns == ["id", "when", "v"]  # usecols projection


def test_tsv_reader(spark):
    import gzip, os

    d = tempfile.mkdtemp(prefix="tsv-")
    p = os.path.join(d, "map.tsv")
    with open(p, "w") as f:
        f.write("diagnosis_code\ticd10cm\n428\tI50\n585\tN18\n")
    # inferred schema coerces digit-only codes to ints — exactly why every
    # production read passes an explicit schema (mivdp.schemas.ICD_MAPPING)
    inferred = read_tsv(spark, p)
    assert {r.diagnosis_code for r in inferred.collect()} == {428, 585}

    schema = StructType(
        [StructField("diagnosis_code", StringType()), StructField("icd10cm", StringType())]
    )
    out = read_tsv(spark, p, schema=schema)
    assert {r.diagnosis_code: r.icd10cm for r in out.collect()} == {"428": "I50", "585": "N18"}


def test_jsonl_reader_permissive_and_strict(spark):
    import os

    from temporai_mivdp_spark.sources import read_jsonl

    d = tempfile.mkdtemp(prefix="jsonl-")
    p = os.path.join(d, "docs.jsonl")
    with open(p, "w") as f:
        f.write('{"doc_id": 1, "text": "hello world"}\n')
        f.write("this is not json\n")
        f.write('{"doc_id": 2, "text": "zweite zeile"}\n')
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    out = read_jsonl(spark, p, schema).collect()
    good = {r.doc_id: r.text for r in out if r._corrupt_record is None}
    bad = [r._corrupt_record for r in out if r._corrupt_record is not None]
    assert good == {1: "hello world", 2: "zweite zeile"}
    assert bad == ["this is not json"]

    import pytest as _pytest

    with _pytest.raises(Exception):  # FAILFAST surfaces the malformed line
        read_jsonl(spark, p, schema, corrupt_col=None).collect()


def test_parquet_partitioned_sink(spark):
    df = spark.createDataFrame([(1, 10), (1, 11), (2, 12)], "stay_id: long, v: int")
    d = tempfile.mkdtemp(prefix="pq-")
    write_parquet(df, d, partition_by=["stay_id"])
    back = spark.read.parquet(d)
    assert back.count() == 3
    import os

    assert any(x.startswith("stay_id=") for x in os.listdir(d))


def test_densify_chart_differential(spark):
    """Native window/join densification == per-stay pandas densification
    on a randomized bucketed-chart frame."""
    import random

    random.seed(7)
    rows = []
    for stay in range(1, 8):
        for item in random.sample([10, 20, 30], k=random.randint(1, 3)):
            for t in random.sample(range(12), k=random.randint(1, 6)):
                rows.append((stay, item, t, round(random.uniform(50, 150), 2)))
    bucketed = spark.createDataFrame(
        rows, "stay_id: long, itemid: long, start_time: long, valuenum: double"
    )
    native = dg.densify_chart(bucketed, n_buckets=12, impute="Mean")
    pandas_ref = densify_chart_pandas(bucketed, n_buckets=12)

    n = {(r.stay_id, r.hour, r.itemid): (r.signal, round(r.valuenum, 9)) for r in native.collect()}
    p = {(r.stay_id, r.hour, r.itemid): (r.signal, round(r.valuenum, 9)) for r in pandas_ref.collect()}
    assert n == p


def test_bucketed_write_joins_without_shuffle(spark):
    """Two tables bucketed on the same key must join with zero Exchange."""
    from temporai_mivdp_spark.plans import plan_summary
    from temporai_mivdp_spark.sources.sinks import write_bucketed

    import shutil

    # managed-table locations survive across sessions even though the
    # in-memory catalog doesn't — clear both before writing
    for t in ("t_bfacts", "t_bdim"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    facts = spark.createDataFrame([(i % 50, i) for i in range(1000)], "k: long, v: long")
    dim = spark.createDataFrame([(i, f"n{i}") for i in range(50)], "k: long, name: string")
    write_bucketed(facts, "t_bfacts", ["k"], 8, sort_by=["k"])
    write_bucketed(dim, "t_bdim", ["k"], 8, sort_by=["k"])
    joined = (
        spark.table("t_bfacts")
        .hint("merge")  # force SMJ so the broadcast path can't hide a shuffle
        .join(spark.table("t_bdim"), "k")
    )
    s = plan_summary(joined)
    n_exchanges = sum(v for kk, v in s.items() if kk.startswith("Exchange"))
    assert n_exchanges == 0, s
    assert joined.count() == 1000


def test_compact_parquet_reduces_files_and_preserves_rows(spark):
    import glob
    import os

    from temporai_mivdp_spark.sources.sinks import compact_parquet

    with tempfile.TemporaryDirectory() as d:
        src, dst = os.path.join(d, "src"), os.path.join(d, "dst")
        # simulate shard-accreted small files: 40 partitions for 4000 rows
        spark.range(4000).withColumn("v", F.col("id") * 2).repartition(40).write.parquet(src)
        assert len(glob.glob(src + "/part-*")) == 40
        n = compact_parquet(spark, src, dst, target_file_mb=512)
        assert n == 1  # tiny data -> one target-size file
        assert len(glob.glob(dst + "/part-*")) == 1
        a = {(r.id, r.v) for r in spark.read.parquet(dst).collect()}
        assert len(a) == 4000 and (0, 0) in a and (3999, 7998) in a


def test_compact_parquet_partitioned_layout(spark):
    import glob
    import os

    from temporai_mivdp_spark.sources.sinks import compact_parquet

    with tempfile.TemporaryDirectory() as d:
        src, dst = os.path.join(d, "src"), os.path.join(d, "dst")
        df = spark.range(1000).withColumn("part", (F.col("id") % 3).cast("string"))
        df.repartition(20).write.parquet(src)
        compact_parquet(spark, src, dst, target_file_mb=64, partition_by=["part"])
        dirs = sorted(os.path.basename(p) for p in glob.glob(dst + "/part=*"))
        assert dirs == ["part=0", "part=1", "part=2"]
        assert spark.read.parquet(dst).count() == 1000


def test_compact_parquet_file_count_tracks_bytes(spark):
    """Pin the compaction sizing math the `layout_compaction` entry
    relies on: the output file count is ceil(actual compressed source
    bytes / target), NOT a row-count heuristic — and the rewrite
    produces exactly that many files. Incompressible payloads (md5 hex)
    make the byte math meaningful at test size."""
    import glob
    import math
    import os

    from temporai_mivdp_spark.sources.sinks import compact_parquet

    with tempfile.TemporaryDirectory() as d:
        src, dst = os.path.join(d, "src"), os.path.join(d, "dst")
        (
            spark.range(100_000)
            .select(
                "id",
                F.repeat(F.md5(F.col("id").cast("string")), 4).alias("payload"),
            )
            .repartition(32)
            .write.parquet(src)
        )
        total = sum(
            os.path.getsize(p) for p in glob.glob(src + "/part-*.parquet")
        )
        target_mb = 1
        expected = math.ceil(total / (target_mb * 1024 * 1024))
        assert expected > 1, f"fixture too small to exercise the math ({total}B)"
        n = compact_parquet(spark, src, dst, target_file_mb=target_mb)
        assert n == expected, (n, expected, total)
        assert len(glob.glob(dst + "/part-*.parquet")) == n
        # content invariance across the rewrite (the oracle's job in the
        # catalog entry, asserted directly here)
        assert (
            spark.read.parquet(dst).selectExpr("sum(id)", "count(*)").first()
            == spark.read.parquet(src).selectExpr("sum(id)", "count(*)").first()
        )


def test_materialized_corpus_roundtrip_and_run_keying(spark):
    """The guard composition's per-run stage boundary (r13): the
    materialized corpus must be row-identical to the lazy augmented
    frame (long+string parquet roundtrip is exact), and two builds must
    write to DISTINCT run-keyed paths — the property that makes it a
    stage boundary, not a cache (r12 verdict item 5: 'path keyed on the
    run, not the dataset')."""
    from temporai_mivdp_spark.queries_llm import _augmented, _materialized_corpus

    lazy = _augmented(spark, SF_SMOKE)
    mat1 = _materialized_corpus(spark, SF_SMOKE)
    assert sorted(map(tuple, lazy.collect())) == sorted(map(tuple, mat1.collect()))

    def scan_paths(df):
        import re

        plan = df._jdf.queryExecution().executedPlan().toString()
        return set(re.findall(r"guard_corpus_[0-9a-f]{32}", plan))

    mat2 = _materialized_corpus(spark, SF_SMOKE)
    p1, p2 = scan_paths(mat1), scan_paths(mat2)
    assert len(p1) == 1 and len(p2) == 1
    assert p1 != p2  # run-keyed: every build materializes afresh


def test_fan_out_adaptive(spark):
    """fan_out (guide §2.5 adaptive scan fan-out): a narrow scan is
    redistributed to defaultParallelism, an already-parallel frame is
    returned untouched, and the rows are invariant either way."""
    from temporai_mivdp_spark.sources import fan_out, load_table

    target = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    assert docs.rdd.getNumPartitions() < target  # one-row-group fixture

    fanned = fan_out(docs, "doc_id")
    assert fanned.rdd.getNumPartitions() == target
    # hash partitioning on the key: a doc_id-keyed aggregation reuses the
    # fan-out exchange instead of adding its own
    from temporai_mivdp_spark import plans

    agg = fanned.groupBy("doc_id").count()
    assert plans.count_exchanges(agg) == 1, plans.plan_summary(agg)

    # no-op above the adaptive threshold
    wide = docs.repartition(target)
    assert fan_out(wide, "doc_id") is wide

    # row invariance
    a = sorted(r.doc_id for r in docs.collect())
    b = sorted(r.doc_id for r in fanned.collect())
    assert a == b


def test_fan_out_streaming_frame_unchanged(spark):
    """A streaming frame has no partition count before it starts: fan_out
    returns it unchanged, still streaming, and launches no job."""
    from temporai_mivdp_spark.sources import fan_out

    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    sc = spark.sparkContext
    sc.setJobGroup("fan-out-stream", "fan_out on a stream", False)
    try:
        out = fan_out(stream, "value")
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        jobs = sc.statusTracker().getJobIdsForGroup("fan-out-stream")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out is stream and out.isStreaming
    assert list(jobs) == []
