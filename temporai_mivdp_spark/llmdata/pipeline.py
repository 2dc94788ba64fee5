"""Curation-pipeline materialization: the output layout half of
``pipeline_docs_curation`` (queries_llm.py).

A 100 TB curation run is not done when the DataFrame is computed — the
layout it lands in decides every downstream read:

* **Curated metadata + doc texts are written BUCKETED on doc_id**
  (sources.write_bucketed). The first thing every training job does is
  join curated metadata back to payloads; with both tables bucketed
  identically that join is a zero-exchange sort-merge over co-located
  buckets — the dominant shuffle of the read path is gone, forever,
  for every consumer.
* **Sequence-packed text shards are COMPACTED** (sources.compact_parquet)
  into ~target-sized files from actual on-disk bytes: per-shard ingest
  and streaming sinks accrete KB-sized files that turn scans into
  file-listing storms; compaction is the standing repair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temporai_mivdp_spark.sources.sinks import compact_parquet, write_bucketed


def materialize_curation(
    spark: SparkSession,
    curated: DataFrame,
    docs: DataFrame,
    out_path: str,
    table_prefix: str = "curation",
    num_buckets: int = 8,
    target_file_mb: int = 512,
) -> dict[str, int]:
    """Write the curation pipeline's outputs in their production layout.

    ``curated`` is the per-doc curation metadata (the
    ``pipeline_docs_curation`` result: doc_id, token counts, lang, split,
    pack_id); ``docs`` is the (doc_id, text) payload table. Returns
    ``{"text_files": n}`` — the compacted shard count.

    Bucket count at real scale: size so each bucket's largest file is a
    few hundred MB (e.g. 100 TB / 1024 buckets ≈ 100 GB per bucket split
    across files); at test scale a handful suffices — the co-location
    property, not the count, is what the plan depends on.
    """
    write_bucketed(
        curated,
        f"{table_prefix}_meta",
        bucket_by=["doc_id"],
        num_buckets=num_buckets,
        sort_by=["doc_id"],
    )
    write_bucketed(
        docs,
        f"{table_prefix}_docs",
        bucket_by=["doc_id"],
        num_buckets=num_buckets,
        sort_by=["doc_id"],
    )
    # Packed text shards: curated ⋈ texts ordered by (split, pack_id) —
    # the file stream a training loader consumes. Written first however
    # the upstream parallelism left them, then compacted by real bytes.
    raw = f"{out_path}/text_shards_raw"
    final = f"{out_path}/text_shards"
    (
        spark.table(f"{table_prefix}_meta")
        .join(spark.table(f"{table_prefix}_docs"), "doc_id")
        .write.mode("overwrite")
        .parquet(raw)
    )
    n = compact_parquet(spark, raw, final, target_file_mb=target_file_mb)
    return {"text_files": n}


def curation_media_report(media: DataFrame) -> DataFrame:
    """First-class curation output for multimodal corpora: per
    (modality, decode_status) item/byte counts and within-modality
    fractions — "what fraction of audio/image bytes did we only
    header-scan (or skip)" is a number a 100 TB run must report, not
    bury in per-row nulls. Delegates to
    ``multimodal.media_decode_rollup`` (header-sniff classification,
    bounded-key aggregation); returns the ≤ #modalities × #statuses row
    rollup, so callers can ``.collect()`` it into run telemetry or
    union it across ingest epochs.

    Reference parity note: the reference pipeline is text-only — this
    surface extends it for the multimodal columns (SURVEY.md §2
    additions), same accounting-over-silent-loss discipline as
    ``decode_status`` itself (multimodal.py:292-345)."""
    from temporai_mivdp_spark.llmdata import multimodal as mm

    return mm.media_decode_rollup(media)


def guard_corpus(
    docs: DataFrame,
    bench: DataFrame,
    weights: dict[str, float],
    near_pairs: DataFrame | None = None,
    n: int = 8,
    m_bits: int | None = None,
    min_hits: int = 1,
    min_hit_frac: float = 0.0,
    fpr: float = 1e-6,
    exact: bool = False,
    containment_threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Eval-integrity layer in one composition: every doc gets a split
    label that keeps near-dup clusters together AND a contamination flag
    that sees through paraphrase.

    * ``shingle_bloom(bench)`` + ``bloom_contamination`` — n-gram leak
      detection with a fixed-size index and a joinless corpus side;
    * ``duplicate_clusters(near_pairs)`` — near-dup components (pass the
      MinHash/embedding pairs you already computed for dedup);
    * ``expand_contamination`` — a flagged doc contaminates its whole
      cluster (rewritten leaks);
    * ``leakage_safe_split`` — the split key is the cluster id, so
      train/test never straddles a duplicate cluster.

    ``contaminated`` means ``n_bloom_hits >= min_hits AND hit_frac >=
    min_hit_frac``: at the published-decontamination default ``n=8``
    (recipes use 8-13-gram windows) a single shared short phrase cannot
    flag a document the way a trigram default would, and the two
    thresholds let a corpus owner demand sustained overlap (e.g.
    ``min_hit_frac=0.1``) instead of any-single-window. ``m_bits=None``
    sizes the bloom from the benchmark itself via ``bloom_params_for``
    (distinct-shingle count at the target ``fpr`` — one small count job
    over the bench side at plan-build time), so false positives stay at
    the chosen rate no matter how large the eval suite grows; pass an
    explicit power-of-two to pin the layout instead.

    Two contamination backends share the composition:

    * ``exact=False`` (default) — the bloom path: fixed-size index,
      joinless corpus side; flag columns ``n_bloom_hits``/``hit_frac``.
      The scale default (the bloom's xxhash64 probes are Spark-native,
      so this path is test-covered rather than oracle-mirrored).
    * ``exact=True`` — ``benchmark_contamination``: per-doc max n-gram
      CONTAINMENT against each benchmark example (hashed shingles whose
      set sizes alone reach the output, so it matches the DuckDB oracle
      bit for bit — the ``pipeline_guard_corpus``
      catalog entry hash-checks this whole composition); flag columns
      ``n_bench_hits``/``max_containment``, contaminated when
      ``n_bench_hits >= min_hits`` at ``containment_threshold``.

    Returns the input columns plus ``split``, the backend's two flag
    columns, and ``contaminated`` (cluster-expanded). Drop/require
    ``contaminated`` downstream; the flag is kept rather than filtered
    so removal decisions stay auditable.
    """
    from temporai_mivdp_spark.llmdata.dedup import (
        _shingles_raw,
        benchmark_contamination,
        bloom_contamination,
        bloom_params_for,
        duplicate_clusters,
        expand_contamination,
        shingle_bloom,
    )
    from temporai_mivdp_spark.llmdata.sampling import leakage_safe_split

    if exact:
        flags = benchmark_contamination(
            docs,
            bench,
            n=n,
            threshold=containment_threshold,
            text_col=text_col,
            id_col=id_col,
        )
        flag_cols = ["n_bench_hits", "max_containment"]
        flags = flags.withColumn(
            "contaminated", flags["n_bench_hits"] >= min_hits
        )
    else:
        if m_bits is None:
            n_items = (
                _shingles_raw(bench, n=n, text_col=text_col, id_col=id_col)
                .select("shingle")
                .distinct()
                .count()
            )
            m_bits, k_hashes = bloom_params_for(max(n_items, 1), fpr=fpr)
        else:
            k_hashes = 4
        bloom = shingle_bloom(
            bench,
            n=n,
            m_bits=m_bits,
            k_hashes=k_hashes,
            text_col=text_col,
            id_col=id_col,
        )
        flags = bloom_contamination(
            docs, bloom, n=n, text_col=text_col, id_col=id_col
        )
        flag_cols = ["n_bloom_hits", "hit_frac"]
        flags = flags.withColumn(
            "contaminated",
            (flags["n_bloom_hits"] >= min_hits)
            & (flags["hit_frac"] >= min_hit_frac),
        )
    if near_pairs is not None:
        clusters = duplicate_clusters(near_pairs)
        flags = expand_contamination(flags, clusters, id_col=id_col).select(
            id_col,
            *flag_cols,
            F.col("contaminated_expanded").alias("contaminated"),
        )
    else:
        clusters = None
        flags = flags.select(id_col, *flag_cols, "contaminated")
    split = leakage_safe_split(docs, weights, clusters=clusters, key_col=id_col)
    return split.join(flags, id_col)


def training_read(spark: SparkSession, table_prefix: str = "curation") -> DataFrame:
    """The downstream consumer's re-read join: curated metadata ⋈ doc
    payloads on the bucketed key. With both sides bucketed on doc_id the
    physical plan contains NO exchange (asserted in tests) — this is the
    join whose shuffle bucketing exists to delete."""
    return spark.table(f"{table_prefix}_meta").join(
        spark.table(f"{table_prefix}_docs"), "doc_id"
    )


def curation_gate(
    docs: DataFrame,
    merges: DataFrame | None = None,
    min_tokens: int = 10,
    max_punct: float = 0.2,
    keep_langs: tuple[str, ...] = ("en", "und"),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The per-document quality gate of ``pipeline_docs_curation`` as a
    reusable component — ONE place defines what "acceptable" means, and
    the batch pipeline and the streaming ingest twin both call it, so
    the two paths cannot drift (tests assert row-for-row parity).

    Adds to ``docs``: ``n_tokens``, ``punct_ratio`` (quality features),
    ``lang_pred`` (trigram NB language-ID — the 20-language fidelity
    tier, not the marker heuristic), ``bpe_tokens`` (REAL pretrained-BPE
    counts, the packing/budget currency), and the boolean ``keep``.
    Output columns are ``id_col``, the other input columns in order,
    then those five. Filtering is the caller's choice
    (``.filter("keep")``) — ingest pipelines usually want the rejects
    too, routed to a quarantine sink with their gate columns as the
    audit trail.

    Plan: the two quality features are projections on ``docs`` itself,
    language-ID carries every column through (``passthrough``), and the
    sparse BPE sum is left-joined once and zero-filled — no join of
    ``docs`` back to a projection of itself. With ``merges=None`` the
    pretrained ranks come from a per-process dict and the langid weights
    are memoized too, so building launches no Spark job; a ``merges``
    DataFrame is collected to its rank dict (one small job).

    Rows with a null ``id_col`` are dropped. Each input row yields one
    output row, but the id-keyed language scores and BPE sums pool the
    text of every row sharing an id, so duplicate-id documents share
    ``lang_pred`` and ``bpe_tokens`` (their ``n_tokens``/``punct_ratio``
    stay per row).

    Every stage is micro-batch-safe: quality is a projection, langid is
    an explode + broadcast-dimension join + doc-keyed sum, BPE counting
    touches word TYPES only — no global state, so the streaming twin
    runs it per batch inside foreachBatch unchanged.
    """
    from temporai_mivdp_spark.llmdata import bpe as bpe_mod
    from temporai_mivdp_spark.llmdata import text as text_mod

    ranks = (
        bpe_mod._pretrained_ranks()
        if merges is None
        else bpe_mod.merge_ranks(merges)
    )
    quality = text_mod._quality_columns(F.col(text_col), ("n_tokens", "punct_ratio"))
    rest = [c for c in docs.columns if c != id_col]
    carried = [*rest, *quality]
    feats = docs.filter(F.col(id_col).isNotNull()).select(
        id_col, *rest, *[c.alias(name) for name, c in quality.items()]
    )
    lang = text_mod.language_id_ngram(
        feats, text_col=text_col, id_col=id_col, passthrough=carried
    ).select(id_col, *carried, "lang_pred")
    real = bpe_mod._token_count(feats, ranks, text_col, id_col, "bpe_tokens")
    out = lang.join(real, id_col, "left").withColumn(
        "bpe_tokens", F.coalesce("bpe_tokens", F.lit(0).cast("long"))
    )
    keep = (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("punct_ratio") < max_punct)
        & F.col("lang_pred").isin(*keep_langs)
    )
    # punct_ratio is NULL for null/empty-text docs and the conjunction
    # propagates it; keep must be two-valued or the ingest twin's
    # filter(keep) / filter(~keep) pair drops such docs from BOTH
    # accepted/ and quarantine/ — degenerate docs route to quarantine
    return out.withColumn("keep", F.coalesce(keep, F.lit(False)))
