"""Rolling-ingest deduplication: the streaming twin of the incremental
batch dedup (`llmdata/dedup.py::incremental_exact_novel` /
`incremental_lsh_candidates`).

A 100 TB corpus is not deduplicated once — it is *ingested*, shard after
shard, and each shard must be deduped against everything already
accepted WITHOUT rescanning the corpus. The batch layer provides the
per-shard operators; this module turns them into a Structured Streaming
pipeline whose only cross-shard memory is two slim state tables:

* ``keys``  — one md5 content key per accepted doc (exact dedup state)
* ``bands`` — (doc_id, band, bh) LSH rows per accepted doc (near-dup
  state)

Each micro-batch joins against state (state-sized but key-only — the
accepted TEXT is never re-read), filters exact and near duplicates,
writes the survivors to the output, and writes the survivors'
keys/bands to state.

``foreachBatch`` is at-least-once, so every write is made idempotent
the same way: output, keys, and bands all land in a partition named by
``ingest_batch`` (the foreachBatch epoch id, stable across replays via
the checkpoint) under dynamic partition overwrite, and the state reads
EXCLUDE the current batch's own partition. A replayed batch therefore
sees exactly the state its first attempt saw — regardless of which of
the three writes the failed attempt completed — recomputes the same
survivors, and overwrites its own partitions byte-for-byte instead of
appending duplicates or (worse) colliding with its own half-written
state. Plain ``append`` state writes would NOT be safe: a failure
between the keys write and the bands write would make the replay see
its own keys, compute zero survivors, and overwrite the output
partition with nothing.

At scale, compact each state partition periodically with
``sources/sinks.py::compact_parquet`` and lay the consolidated state
out with ``sources/sinks.py::write_bucketed`` (keys bucketed by
``content_key``, bands by ``(band, bh)``) so the per-batch joins
shuffle only the shard side — the same zero-exchange re-read layout
``llmdata/pipeline.py`` demonstrates for the curation output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from temporai_mivdp_spark.llmdata.dedup import (
    incremental_exact_novel,
    incremental_lsh_candidates,
    lsh_band_index,
)

_KEYS_SCHEMA = "content_key string, ingest_batch long"
_BANDS_SCHEMA = "doc_id long, band long, bh string, ingest_batch long"


def _read_state(
    spark: SparkSession, path: str, schema: str, exclude_batch: int
) -> DataFrame:
    try:
        df = spark.read.parquet(path)
    except Exception:  # first batch: state dir does not exist yet
        df = spark.createDataFrame([], schema)
    # a replay must not see its own first attempt's rows; the filter is
    # on the partition column, so it prunes rather than scans
    return df.filter(F.col("ingest_batch") != exclude_batch)


def _write_partition(df: DataFrame, batch_id: int, path: str) -> None:
    (
        df.withColumn("ingest_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(path)
    )


def ingest_dedup_stream(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    output_dir: str,
    schema: StructType | str,
    num_hashes: int = 8,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
):
    """Build (not start) a streaming query that watches ``input_path``
    for document parquet shards and writes only never-seen-before,
    not-near-duplicate docs to ``output_dir`` (partitioned by
    ``ingest_batch``), maintaining dedup state under ``state_dir``.

    Returns the ``DataStreamWriter``; call ``.trigger(availableNow=True)
    .start()`` (or a processing-time trigger) on it. The checkpoint
    lives under ``state_dir/checkpoint`` so stream restarts resume with
    both their offsets and their dedup state intact.
    ``max_files_per_trigger`` bounds each micro-batch's file count —
    batch boundaries are SEMANTIC here (a doc dedups against prior
    batches' state but within its own batch by min-id), so a landing
    zone whose shards must dedup against each other in arrival order
    sets it to the per-shard file count.
    """
    keys_path = f"{state_dir}/keys"
    bands_path = f"{state_dir}/bands"

    def _process(batch: DataFrame, batch_id: int) -> None:
        seen = _read_state(spark, keys_path, _KEYS_SCHEMA, batch_id)
        index = _read_state(spark, bands_path, _BANDS_SCHEMA, batch_id)

        novel = incremental_exact_novel(
            batch, seen, text_col=text_col, id_col=id_col
        )
        near = (
            incremental_lsh_candidates(
                novel,
                index,
                num_hashes=num_hashes,
                bands=bands,
                text_col=text_col,
                id_col=id_col,
            )
            .select(F.col("new_id").alias(id_col))
            .dropDuplicates()
        )
        kept = novel.join(near, id_col, "left_anti")
        # three consumers (output, keys, bands) of one batch-sized plan
        kept = kept.persist()
        try:
            _write_partition(kept.drop("content_key"), batch_id, output_dir)
            _write_partition(kept.select("content_key"), batch_id, keys_path)
            _write_partition(
                lsh_band_index(
                    kept,
                    num_hashes=num_hashes,
                    bands=bands,
                    text_col=text_col,
                    id_col=id_col,
                ),
                batch_id,
                bands_path,
            )
        finally:
            kept.unpersist()

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    return stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", f"{state_dir}/checkpoint"
    )


def serve_topk_stream(
    spark: SparkSession,
    probe_path: str,
    index_path: str,
    output_dir: str,
    schema: StructType | str,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
):
    """Build (not start) a streaming ANN server: probe vectors arriving
    as parquet shards under ``probe_path`` are answered against a
    ``persist_ivf_index`` layout and the (probe, neighbor, cosine, rank)
    results land under ``output_dir`` partitioned by micro-batch.

    Why foreachBatch and not a stream-static join: top-k needs a rank
    window over candidates and the index scan's partition pruning needs
    the batch's routed buckets collected first — both are per-batch
    plan decisions, which is exactly the contract foreachBatch provides
    (each micro-batch runs ``ivf_topk_from_index`` as a normal batch
    query, pruned to that batch's buckets). Exactly-once via the
    checkpoint + idempotent batch-partitioned output, same recipe as
    ``ingest_dedup_stream``.
    """
    from temporai_mivdp_spark.llmdata.similarity import ivf_topk_from_index

    def _process(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        result = ivf_topk_from_index(
            spark,
            index_path,
            batch,
            k=k,
            nprobe=nprobe,
            vec_col=vec_col,
            id_col=id_col,
            probe_id_col=probe_id_col,
        )
        _write_partition(result, batch_id, output_dir)

    stream = spark.readStream.schema(schema).parquet(probe_path)
    return stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", f"{output_dir}/_checkpoint"
    )


def ingest_curation_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    schema: StructType | str,
    min_tokens: int = 10,
    max_punct: float = 0.2,
    keep_langs: tuple[str, ...] = ("en", "und"),
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Build (not start) the streaming twin of the batch curation GATE:
    document shards arriving under ``input_path`` pass through
    ``llmdata.pipeline.curation_gate`` — the SAME function the batch
    pipeline uses, so trigram language-ID, real pretrained-BPE counts,
    and the keep policy cannot drift between the two paths (a parity
    test asserts row-for-row agreement) — and land under ``output_dir``
    partitioned by micro-batch: accepted docs in ``accepted/``, rejects
    with their gate columns in ``quarantine/`` as the audit trail.

    The gate needs a doc-keyed aggregate (langid score sums, BPE piece
    sums), which append-mode streaming cannot express without
    watermarks the use case doesn't have — so each micro-batch runs the
    batch gate inside ``foreachBatch`` (the established contract of
    this module), with the usual idempotent batch-partitioned writes:
    a replayed epoch overwrites its own partitions byte-for-byte.

    Each micro-batch's gate takes the pretrained merge ranks from the
    per-process memoized table (``merges=None``: driver side, no model
    file, no merge-table collect per batch) — a fixed tokenizer, exactly
    what a production ingest does — so building a batch's gate launches
    no Spark job.
    """
    from temporai_mivdp_spark.llmdata.pipeline import curation_gate

    def _process(batch: DataFrame, batch_id: int) -> None:
        gated = curation_gate(
            batch,
            None,
            min_tokens=min_tokens,
            max_punct=max_punct,
            keep_langs=keep_langs,
            text_col=text_col,
            id_col=id_col,
        )
        # two consumers of one batch-sized plan
        gated = gated.persist()
        try:
            _write_partition(
                gated.filter(F.col("keep")).drop("keep"),
                batch_id,
                f"{output_dir}/accepted",
            )
            _write_partition(
                gated.filter(~F.col("keep")).drop("keep"),
                batch_id,
                f"{output_dir}/quarantine",
            )
        finally:
            gated.unpersist()

    stream = spark.readStream.schema(schema).parquet(input_path)
    return stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", f"{output_dir}/_checkpoint"
    )
