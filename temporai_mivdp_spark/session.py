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
* A generated-class cache that holds a session's working set. Spark's
  default of 100 entries is below every pass we run: a cold
  ``llm_curation`` benchmark pass compiles 132 classes and a cold
  ``icu_pipeline`` pass 120, so each warm pass compiled 87-124 of them
  again. The streaming ingest twin re-plans ``curation_gate`` on every
  micro-batch and hit the same thrash. Sizes and measurements sit next
  to the confs.
"""

from __future__ import annotations

from collections.abc import Iterable
from contextlib import contextmanager
from typing import TYPE_CHECKING

from pyspark.sql import SparkSession

if TYPE_CHECKING:
    import pyarrow as pa

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
    # Generated-class cache, JVM-wide and static (fixed when the first
    # session starts). At Spark's default 100 entries the LRU evicted each
    # class before its next use: warm perfbench passes recompiled 122-124
    # (llm_curation) and 87 (icu_pipeline) classes, and a bench.py run
    # compiled 2,490 classes in all. At 1000 warm passes compile none and
    # a bench.py run compiles 393. A class averages 2.5 KB of bytecode;
    # Metaspace after a bench.py run went from 179.8 to 182.5 MB.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # The cache key is the generated source, and by default a whole-stage
    # class is named after its codegen stage id. AQE numbers the stages it
    # re-plans in the order their inputs finish, so the same plan could
    # get new ids on a later run and miss the cache (4-12 recompiles in
    # some warm llm_curation passes). Without the id, identical stages
    # share one class (a cold llm_curation pass compiles 121, not 132);
    # only the name in a stack trace loses the id.
    "spark.sql.codegen.useIdInClassName": "false",
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


def arrow_rows(rows: Iterable[tuple], schema: pa.Schema) -> pa.Table:
    """Driver-side ``rows`` (tuples in ``schema`` field order) as an Arrow
    table. ``spark.createDataFrame(table)`` plans it as a JVM-local
    ``LocalTableScan`` that runs no Python worker. The same rows passed
    as a list plan ``Scan ExistingRDD`` over a Python RDD instead, and
    PySpark's reserializing ``map`` on that RDD starts Python-worker
    tasks on every execution. Callers whose rows are constant memoize
    the table once per process."""
    import pyarrow as pa

    cols = list(zip(*rows)) or [() for _ in schema]
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )


def get_test_session(cpus: int = 4) -> SparkSession:
    """Local session for unit tests / the driver harness."""
    return get_session(
        app_name="temporai-mivdp-spark-test",
        master=f"local[{cpus}]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
