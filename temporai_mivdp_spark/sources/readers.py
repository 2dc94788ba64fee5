"""Readers (S1-S3 in SURVEY.md §2.1).

S1  gzipped CSV scan with projection + date parsing
    (reference: day_intervals_cohort_v1.py:65-71,116-129;
    icu_preprocess_util.py:155-175) -> ``read_csv_gz`` with explicit schema.
S2  chunked out-of-core CSV scan (icu_preprocess_util.py:289-327;
    data_generation_icu.py:298-337) -> unnecessary: Spark scans are
    partitioned and streamed by design; the per-chunk filter+join becomes a
    plain transformation on the same DataFrame.
S3  TSV scan for the ICD map (disease_cohort.py:17) -> ``read_tsv``.

Parquet is the primary storage format for this engine; CSV readers exist
for compatibility with MIMIC-shaped raw drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Tables the driver's synthetic testdata provides (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: per-table columns stored as TIMESTAMP(NANOS) in the synthetic parquet
#: (pandas default); Spark reads them as long-ns (legacy conf in
#: session.DEFAULT_CONFS) and we convert to TimestampType here. Integer
#: `div` keeps full precision — a double division of an ns epoch would
#: lose the low bits past float53.
_NANOS_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic parquet table.

    Parquet scans give Catalyst column pruning + predicate pushdown for
    free; callers should still ``.select`` only what they need so
    ``ReadSchema`` stays narrow.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin the semantics the catalog depends on even on externally-created
    # sessions (the driver harness owns the SparkSession): UTC so
    # hour()/year()/date casts match the timezone-naive oracle, ANSI off
    # so malformed casts coerce to NULL (pandas to_numeric semantics)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANOS_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan every testdata table; keys match TESTDATA.md names."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive scan fan-out for narrow inputs (optimization guide
    §2.5, "input skew": an unsplittable/too-few-splits input starves the
    map side — repartition immediately after the read).

    A parquet file is splittable only at row-group boundaries; a
    one-row-group file scans as ONE task, so every row-local derivation
    above it (normalize / tokenize / explode / broadcast probe / partial
    aggregation — the CPU-heavy part of the text and fact operators) runs
    on one core while the rest of the machine idles. When the upstream
    plan yields at most half the session's ``defaultParallelism``,
    redistribute to ``defaultParallelism`` partitions; otherwise return
    ``df`` unchanged. At production scale a large table scans into
    thousands of splits, so this is a structural no-op there — the
    exchange only ever exists when the scan is narrower than the machine,
    and its cost is one shuffle of the (small, by construction) input.

    ``keys`` picks HASH partitioning on those columns so that downstream
    aggregations/windows keyed on them (or on a superset) reuse this
    exchange instead of planning their own (guide §2.4: two operations
    keyed the same way share one exchange). Choose a high-cardinality
    key; with no ``keys`` the split is round-robin (deterministic under
    retry via Spark's sort-before-repartition). Row placement never
    affects results — every catalog entry is partitioning-stable by
    construction (md5-deterministic sampling, commutative aggregates),
    pinned by tests.

    A streaming frame is returned unchanged: it has no partition count
    to read before it starts, and each micro-batch is planned on its own.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 > target:
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def read_csv_gz(
    spark: SparkSession,
    path: str,
    schema: StructType,
    columns: list[str] | None = None,
    header: bool = True,
) -> DataFrame:
    """S1: gzipped-CSV scan with an explicit schema.

    ``parse_dates`` becomes TimestampType fields in the schema; ``usecols``
    becomes a ``.select`` (Catalyst prunes it into the scan). Gzip is not
    splittable — at scale, land gzipped CSV once, immediately rewrite to
    Parquet, and run the pipeline from Parquet.
    """
    df = (
        spark.read.option("header", str(header).lower())
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .schema(schema)
        .csv(path)
    )
    return df.select(*columns) if columns else df


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """S3: TSV scan (the ICD-9→10 map is a ~24k-row dimension — broadcast
    it at join time, never shuffle the fact side against it)."""
    reader = spark.read.option("sep", "\t").option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")  # small dims only
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    corrupt_col: str | None = "_corrupt_record",
) -> DataFrame:
    """JSON-lines scan — the canonical interchange format for web/LLM
    document corpora (one JSON object per line; splittable when
    uncompressed or zstd-framed, unlike gzip).

    Explicit schema always: schema inference reads the whole corpus
    twice. PERMISSIVE mode routes malformed lines into ``corrupt_col``
    instead of failing the 100 TB job on one bad shard; pass
    ``corrupt_col=None`` for strict FAILFAST semantics.
    """
    if corrupt_col is not None:
        from pyspark.sql.types import StringType

        if corrupt_col not in schema.fieldNames():
            schema = schema.add(corrupt_col, StringType(), True)
        return (
            spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
            .schema(schema)
            .json(path)
        )
    return spark.read.option("mode", "FAILFAST").schema(schema).json(path)
