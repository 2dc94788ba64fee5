"""SparkSession factory with confs tuned for large-scale batch ETL.

The reference pipeline bounds memory by hand-chunking CSV reads
(reference: utils/icu_preprocess_util.py:289, datagen/data_generation_icu.py:298).
Spark's partitioned scans + spill-safe shuffle make that unnecessary; what
we tune instead is the optimizer/runtime surface that matters at 100 TB:

* AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion after real stats are known).
* Arrow on (any pandas interchange — grouped-map UDFs in llmdata — moves
  in columnar batches, not pickled rows).
* `spark.sql.shuffle.partitions` sized for the deployment: the default here
  suits local test scale; at cluster scale set ~2-3x total cores or rely on
  AQE coalescing from a high initial value.
* Explicit UTC session timezone so timestamp semantics match the DuckDB
  oracle and are stable across clusters.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Confs applied to every session this engine creates. Values chosen for
#: determinism + scale; all are overridable via ``extra_conf``.
DEFAULT_CONFS: dict[str, str] = {
    # Runtime adaptivity: re-plan with real stats (coalesce tiny shuffle
    # partitions, split skewed ones, convert to broadcast late).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Columnar Arrow transfer for pandas UDF / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (nation/region-sized, the ICD map, cohort tables) should
    # broadcast; AQE can also upgrade joins at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamp semantics (matches DuckDB oracle).
    "spark.sql.session.timeZone": "UTC",
    # Don't truncate plan strings — plan review (plans/) needs full
    # PushedFilters/ReadSchema lists, and plan fingerprints
    # (plans/fingerprint.py) need truncation-free FileScan metadata:
    # the default 100-char cut point shifts with expression-id digit
    # widths, which would make fingerprints depend on session history.
    "spark.sql.debug.maxToStringFields": "200",
    "spark.sql.maxMetadataStringLength": "2000",
    # ANSI off: we want NULL (not error) on bad casts, matching the
    # reference's `pd.to_numeric(errors="coerce")` semantics
    # (reference: day_intervals_cohort_v1.py:105).
    "spark.sql.ansi.enabled": "false",
    # Stable timestamp type for parquet round-trips.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Read TIMESTAMP(NANOS) parquet columns (pandas ns default) as long;
    # sources.load_table converts them to TimestampType (µs truncation,
    # identical to DuckDB's ns->µs cast).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # PySpark's DataFrame debugging walks the Python stack on every
    # ``F.*``/Column call (about 4 py4j round trips each) to attach a call
    # site to error messages; Spark documents "a non-trivial performance
    # overhead". Builders make hundreds of such calls, so plan
    # construction pays it per expression. Off, errors only lose that
    # Python call site.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_session(
    app_name: str = "temporai-mivdp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's tuned confs.

    Parameters
    ----------
    master:
        Cluster master; ``None`` defers to spark-submit / env (falls back
        to ``local[*]`` when nothing is configured, useful in tests).
    shuffle_partitions:
        Override for ``spark.sql.shuffle.partitions``. Leave ``None`` to
        keep Spark's default and let AQE coalesce; set explicitly when the
        target scale is known (rule of thumb: 2-3x total executor cores,
        or ``input_bytes / 200MB`` for very large shuffles).
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def job_description(spark: SparkSession, label: str):
    """Run the block's Spark jobs under the description ``label``, so an
    eager job inside a builder is attributed to the operator that
    launched it, then restore the caller's ``spark.job.description``.
    The job group is left alone: a caller grouping its jobs still sees
    these ones in its group."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def get_test_session(cpus: int = 4) -> SparkSession:
    """Local session for unit tests / the driver harness."""
    return get_session(
        app_name="temporai-mivdp-spark-test",
        master=f"local[{cpus}]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
