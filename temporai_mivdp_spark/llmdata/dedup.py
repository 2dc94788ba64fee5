"""Deduplication operators for document corpora.

Scale design: every method here is a groupBy/join plan with a bounded
blocking key — nothing compares all pairs.

* exact: one hash-shuffle on the text (or its md5 at 100 TB so the
  shuffle carries 16 bytes, not documents).
* n-gram Jaccard: pairs are generated only through shared shingles
  (inverted-index join), with a frequency cap dropping degenerate
  stop-shingles that would quadratically blow up a bucket.
* MinHash+LSH: signatures shrink each doc to ``num_hashes`` ints; banding
  turns near-dup search into equality joins on band hashes.
* SimHash: one 16/64-bit fingerprint per doc; near-dups share fingerprint
  (or low Hamming distance) — again an equality join.

Hashes are md5-derived (first 8 hex chars -> int32 range) so DuckDB
oracles can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from temporai_mivdp_spark.session import job_description


def _md5_hash32(col: Column) -> Column:
    """Portable 32-bit hash: int(md5(x)[:8], 16). Same in DuckDB via
    ``('0x' || substr(md5(x),1,8))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


#: universal-hash permutation family for MinHash: h_i(x) = (a_i*x+b_i) mod p
_MERSENNE_P = 2_147_483_647  # 2^31 - 1
_PERM_A0, _PERM_A_STEP = 1_000_003, 999_983
_PERM_B0, _PERM_B_STEP = 12_345, 7_919


def normalize_text(col: Column) -> Column:
    """Canonical form for content comparison: lowercase, collapsed
    whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words(col: Column) -> Column:
    """The word tokens of every llmdata operator: ``normalize_text``, then
    a split on single spaces. Empty or whitespace-only text gives
    ``[""]``, null text gives null. Bind the result to a column before a
    higher-order function reads it: an inline tokenizer inside a lambda
    re-runs the regex at every element (see text.language_id_ngram)."""
    return F.split(normalize_text(col), " ")


def word_ngrams(toks: Column, n: int, hashed: bool) -> Column:
    """Every ``n``-token window of the token array ``toks`` in order, each
    joined by single spaces, or its ``xxhash64`` when ``hashed``. Windows
    repeat as often as they occur. Callers keep ``size(toks) >= n``:
    below it the descending ``sequence`` reaches ``slice`` start 0 and
    the query fails, and a null array gives empty-string windows."""

    def window(i: Column) -> Column:
        gram = F.concat_ws(" ", F.slice(toks, i + 1, n))
        return F.xxhash64(gram) if hashed else gram

    return F.transform(F.sequence(F.lit(0), F.size(toks) - n), window)


def content_key(col: Column) -> Column:
    """md5 of the normalized text: the exact-duplicate identity, 32 hex
    characters, so shuffles keyed on it are fixed-width."""
    return F.md5(normalize_text(col))


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one row per distinct normalized text with the keeper
    (min id) and the copy count. At 100 TB, group on ``md5(normalized)``
    instead of the text itself so the shuffle is fixed-width."""
    return (
        docs.withColumn("__k", content_key(F.col(text_col)))
        .groupBy("__k")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def tokenize(docs: DataFrame, text_col: str = "text", out_col: str = "token") -> DataFrame:
    """Whitespace tokens of the normalized text, one row per position."""
    return docs.withColumn(
        out_col, F.explode(words(F.col(text_col)))
    )


def _shingles_raw(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Word n-gram shingles per document, WITH duplicates: (id, shingle).

    Docs with fewer than ``n`` tokens are dropped up front (empty shingle
    set) — cheaper than the emit-then-refilter of a ragged tail, and the
    oracle's ``generate_series`` + length filter excludes them the same
    way. Consumers that need set semantics dedup on their own key (the
    string here, or a hash of it — see ``ngram_jaccard_pairs``); MinHash
    takes ``min`` over the hashes, for which duplicates are a no-op, and
    skips the distinct shuffle entirely."""
    toks = docs.select(
        id_col, words(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= n)
    return toks.select(
        id_col,
        F.explode(word_ngrams(F.col("__toks"), n, hashed=False)).alias("shingle"),
    )


def shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle)."""
    return _shingles_raw(docs, n=n, text_col=text_col, id_col=id_col).dropDuplicates(
        [id_col, "shingle"]
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Inverted-index plan: explode shingles, self-join on the shingle (only
    docs sharing at least one shingle ever meet), count intersections,
    then Jaccard = inter / (|A| + |B| - inter). ``max_shingle_freq`` drops
    shingles appearing in more than that many docs — at corpus scale a
    boilerplate shingle shared by millions of docs would otherwise create
    a quadratic bucket (and contributes almost no discriminative signal).
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    The cap is exact and applied BEFORE the self-join: the over-cap
    shingles are counted (one fixed-width aggregate over the shingle
    rows) and broadcast left-anti-joined away, so a hot shingle never
    reaches the join. The set sizes keep every shingle, capped or not.
    The shingle rows are row-local (no aggregate below them), so when
    the join shuffles, its second side reuses the first side's exchange:
    the shingle subtree runs once for the join and once for the count.
    With ``max_shingle_freq=None`` a shingle shared by L docs emits its
    L(L-1)/2 pairs out of the join, which buffers (and spills) one key's
    rows at a time; no buffer holds the pairs.
    """
    # hash-then-dedup: the 64-bit shingle hash is computed row-locally in
    # the same codegen stage as the explode, so every shuffle carries 8
    # bytes per shingle instead of ~n words. xxhash64, not md5+conv: the
    # output (pairs + jaccard) is invariant to WHICH collision-free hash
    # identifies a shingle — only set cardinalities survive into the
    # result — so Spark uses its native codegen'd hash while the DuckDB
    # oracle keeps md5; both engines see the same sets. (MinHash can NOT
    # do this: its hash values feed the band signatures, so it stays on
    # the portable md5-based family.) ``array_distinct`` is the set and
    # ``F.size`` its cardinality, so the (id, sz, shingle) rows come out
    # of the scan's codegen stage with no shuffle.
    # A document's shingles all live in one row's array, so its set is a
    # row-local fact: no aggregation and no per-doc object-agg buffer.
    # Contract: id_col uniquely identifies documents (every caller in
    # this repo dedups by a key); duplicate-id rows keep separate sets.
    toks = docs.select(
        id_col, words(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= n)
    # explode_outer, NOT explode: InferFiltersFromGenerate would add
    # size(__set) > 0 for a plain explode and push the whole
    # tokenize+shingle+array_distinct expression below the fan-out
    # exchange into the scan filter — re-running the heaviest map work
    # single-threaded on the scan (measured 2.4x on the whole query).
    # Sets are provably non-empty (size(__toks) >= n), so outer vs inner
    # is a no-op on the data.
    sets = toks.select(
        id_col,
        F.array_distinct(word_ngrams(F.col("__toks"), n, hashed=True)).alias("__set"),
    )
    sh = sets.select(
        id_col, F.size("__set").alias("__sz"), F.explode_outer("__set").alias("shingle")
    )
    if max_shingle_freq is not None:
        # one row per (doc, shingle), so the count is the doc frequency;
        # the over-cap side stays broadcastable because boilerplate
        # shingles are few (if they were many, the cap would be mis-set)
        hot = (
            sh.groupBy("shingle").count()
            .filter(F.col("count") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh.select("shingle", F.col(id_col).alias("id_a"), F.col("__sz").alias("sa"))
    b = sh.select("shingle", F.col(id_col).alias("id_b"), F.col("__sz").alias("sb"))
    sized_pairs = a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
    # Size filter (the prefix-filter family's cheapest member, round 12):
    # jaccard = inter/(sa+sb-inter) is monotone-increasing in inter, and
    # inter <= min(sa, sb), so a pair's best achievable jaccard is
    # min/(sa+sb-min). Evaluating that bound with the SAME IEEE-double
    # expression as the final filter makes the emit-side drop provably
    # lossless (a pair is dropped only when even inter == min(sa, sb)
    # fails the final >=). One row-local comparison per emitted pair,
    # applied BEFORE the pair-count exchange: pairs of very different
    # set sizes never cross the wire. Selectivity is corpus-dependent
    # (near-zero on the augmented bench corpus, whose pairs are
    # same-doc-sized by construction; strong on length-heterogeneous
    # crawls at the same threshold).
    if threshold > 0.0:
        best = F.least(F.col("sa"), F.col("sb"))
        sized_pairs = sized_pairs.filter(
            best / (F.col("sa") + F.col("sb") - best) >= threshold
        )
    inter = (
        # sa/sb are functionally dependent on the ids, so grouping by them
        # too changes nothing semantically and saves the join-back
        sized_pairs.groupBy("id_a", "id_b", "sa", "sb")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    jac = inter.withColumn(
        "jaccard",
        F.col("__inter") / (F.col("sa") + F.col("sb") - F.col("__inter")),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def _minhash_wide(
    docs: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Wide MinHash: one row per doc, columns __m0..__m{k-1}.

    Over word ``shingle_n``-gram shingles, not unigrams: documents drawn
    from a shared vocabulary have near-identical unigram SETS, which
    would make every LSH band collide. All ``num_hashes`` permutations
    are plain affine column expressions of the one md5-based shingle
    hash, aggregated as k ``min()`` columns in a
    SINGLE groupBy(id) — fully map-side combined, whole-stage codegen'd.
    The earlier long-format plan exploded every shingle ``num_hashes``x
    and shuffled (id, h_idx) pairs; this shuffles one k-long row per doc
    per map partition — k× less shuffle volume. Neutral on local[32] at
    sf0.1 (shuffle isn't the bottleneck there) but strictly less data
    movement on a real cluster, so the wide form is kept.
    """
    # raw (non-distinct) shingles: min over a multiset equals min over its
    # set, so the distinct shuffle buys nothing here and is skipped.
    sh = _shingles_raw(docs, n=shingle_n, text_col=text_col, id_col=id_col)
    # one md5 per shingle, then arithmetic permutations — universal hashing
    # h_i(x) = (a_i*x + b_i) mod p with p = 2^31-1. 8x cheaper than
    # md5-per-permutation and still bit-portable to the DuckDB oracle
    # (pure BIGINT math; a*x < 2^62 so no overflow).
    base = sh.withColumn("__x", _md5_hash32(F.col("shingle")) % F.lit(_MERSENNE_P))
    aggs = [
        F.min(
            (
                (F.lit(_PERM_A0 + i * _PERM_A_STEP)) * F.col("__x")
                + F.lit(_PERM_B0 + i * _PERM_B_STEP)
            )
            % F.lit(_MERSENNE_P)
        ).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return base.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    prefilter_hot: bool | None = None,
    hot_sample_inv: int = 8,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band hash become candidate
    pairs (id_a < id_b). Scales as colliding docs per bucket, not corpus².

    Pairs are emitted row-locally from each (band, bh) bucket's sorted
    id list (posexplode + strictly-later tail slice), NOT via a
    self-join of the band index on (band, bh): the signature is a
    groupBy(id) aggregate, the join form instantiates the whole
    corpus-scan -> signature subtree twice (exchange/AQE stage reuse did
    not deduplicate it, measured via persist), and its output is the
    same k² rows per bucket this emit produces. One groupBy exchange
    replaces two signature computations plus a shuffle join; measured
    1.01s vs 1.13s at sf0.1 on top of halving the scans.

    ``max_bucket_size`` drops degenerate buckets (e.g. a boilerplate
    corpus where one band hash collides across millions of docs) the
    way ``max_shingle_freq`` bounds ngram buckets; None keeps every
    bucket — the classic LSH contract where an over-full bucket means
    the docs really are near-identical.

    ``prefilter_hot`` bounds the ``collect_list`` buffers: the size
    filter above runs AFTER ``collect_list``, so a degenerate bucket of
    10M ids still builds its full list in one aggregation task before
    being dropped. The prefilter computes the band index of a
    deterministic 1/``hot_sample_inv`` hash-sample of the docs
    (``xxhash64(id) % inv == 0``) and broadcast anti-joins away the
    (band, bh) buckets whose SAMPLED size already exceeds the cap. It
    is ON BY DEFAULT whenever ``max_bucket_size`` is set (``None``
    resolves to ``cap is not None``); ``False`` restores unbounded list
    buffers, ``True`` with no cap raises.

    Why a sample and not a count-min sketch: the sample is a subset, so
    a bucket's sampled size is a LOWER bound on its true size, and only
    buckets the post-aggregation filter would drop anyway are removed —
    results are identical by construction, with no verification pass.
    A count-min sketch errs the other way (it over-estimates), so
    thresholding it could drop an under-cap bucket and silently change
    results. The trade is the evade window: buckets between ``cap`` and
    roughly ``2 * cap * hot_sample_inv`` may evade the sample (they are
    still dropped exactly, after the aggregation), so the practical
    buffer bound is ~``2 * cap * inv`` ids instead of a hard ``cap``. A
    degenerate bucket at 10^3-10^4 x cap is caught with near-certainty
    (to evade it needs a sampled size <= cap; P[Binom(10M, 1/8) <= 1000]
    ~ e^-1.2M). ``hot_sample_inv=1`` is the exact full count.

    Why LSH keeps the sample while ``ngram_jaccard_pairs`` counts
    exactly: the sampled detector costs the signature subtree over 1/inv
    of the docs plus one fixed-width shuffle of 1/inv of the band rows,
    and an exact count over the full band index measured slower
    (exec_min 1.22 s against 0.94 s at sf0.1 with
    ``max_bucket_size=50``)."""
    if prefilter_hot and max_bucket_size is None:
        raise ValueError(
            "prefilter_hot=True requires max_bucket_size: with no cap "
            "there is no degenerate-bucket definition to enforce"
        )
    if hot_sample_inv < 1:
        raise ValueError(f"hot_sample_inv must be >= 1, got {hot_sample_inv}")
    if prefilter_hot is None:
        prefilter_hot = max_bucket_size is not None
    band_hash = lsh_band_index(
        docs, num_hashes=num_hashes, bands=bands, text_col=text_col, id_col=id_col
    )
    if prefilter_hot:
        sampled = docs
        if hot_sample_inv > 1:
            sampled = docs.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(hot_sample_inv)) == 0
            )
        hot = (
            lsh_band_index(
                sampled,
                num_hashes=num_hashes,
                bands=bands,
                text_col=text_col,
                id_col=id_col,
            )
            .groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "bh")
        )
        band_hash = band_hash.join(F.broadcast(hot), ["band", "bh"], "left_anti")
    buckets = band_hash.groupBy("band", "bh").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("__ids")
    )
    size_floor = F.size("__ids") > 1
    if max_bucket_size is not None:
        buckets = buckets.filter(size_floor & (F.size("__ids") <= max_bucket_size))
    else:
        buckets = buckets.filter(size_floor)
    pos = buckets.select(F.posexplode("__ids").alias("__p", "id_a"), "__ids")
    return (
        pos.select(
            "id_a",
            F.explode(F.expr("slice(__ids, __p + 2, size(__ids))")).alias("id_b"),
        )
        .dropDuplicates()
    )


def lsh_band_index(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persistable LSH index of a corpus: (id, band, bh) rows.

    Write this partitioned/bucketed by ``(band, bh)`` once per corpus;
    incremental dedup of every future shard is then a join against it
    (``incremental_lsh_candidates``) instead of an O(corpus) recompute —
    the only state a rolling 100 TB ingest pipeline has to maintain.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "a remainder would silently create extra bands and change the "
            "LSH collision threshold"
        )
    rows_per_band = num_hashes // bands
    wide = _minhash_wide(docs, num_hashes=num_hashes, text_col=text_col, id_col=id_col)
    # band hashes are row-local over the wide signature: sort the band's
    # minhash values (matching the oracle's ORDER BY mh string_agg),
    # stringify, md5 — no (id, band) shuffle, no collect_list
    band_cols = [
        F.md5(
            F.concat_ws(
                ",",
                F.sort_array(
                    F.array(
                        *[F.col(f"__m{b * rows_per_band + j}") for j in range(rows_per_band)]
                    )
                ),
            )
        ).alias(f"__bh{b}")
        for b in range(bands)
    ]
    stack_args = ", ".join(f"CAST({b} AS BIGINT), __bh{b}" for b in range(bands))
    return wide.select(id_col, *band_cols).selectExpr(
        id_col, f"stack({bands}, {stack_args}) AS (band, bh)"
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    index: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs of a NEW shard against an EXISTING corpus
    index (from ``lsh_band_index``): (new_id, old_id) where any band
    collides. The join is new-shard-sized on one side — never rescans
    the corpus text; if the index is bucketed by (band, bh) the shuffle
    is one-sided too."""
    new_bands = lsh_band_index(
        new_docs, num_hashes=num_hashes, bands=bands, text_col=text_col, id_col=id_col
    ).select(F.col(id_col).alias("new_id"), "band", "bh")
    old = index.select(F.col(id_col).alias("old_id"), "band", "bh")
    return (
        new_bands.join(old, ["band", "bh"])
        .select("new_id", "old_id")
        .dropDuplicates()
    )


def incremental_exact_novel(
    new_docs: DataFrame,
    seen_keys: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_col: str = "content_key",
) -> DataFrame:
    """Exact incremental dedup: rows of ``new_docs`` whose normalized
    content hash is NOT in ``seen_keys`` (a 1-column DataFrame of
    ``key_col``, the persisted corpus state), deduped within the shard
    (min id wins). Returns the surviving rows plus ``key_col`` so the
    caller appends them to the seen-set — constant state per doc, no
    corpus rescan."""
    keyed = new_docs.withColumn(key_col, content_key(F.col(text_col)))
    w_min = F.min(id_col).over(Window.partitionBy(key_col))
    in_shard_kept = (
        keyed.withColumn("__keep", w_min)
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
    )
    return in_shard_kept.join(seen_keys.select(key_col), key_col, "left_anti")


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per training document, the n-gram
    containment against a (small) benchmark/eval corpus.

    For each (doc, bench example) pair sharing at least one shingle,
    containment = |shingles(doc) ∩ shingles(bench)| / |shingles(bench)| —
    "what fraction of the eval example's n-grams leak into this doc".
    Output: one row per input doc — ``max_containment`` (0.0 when no
    overlap) and ``n_bench_hits`` (bench examples with containment >=
    threshold). Filter/flag on either downstream.

    Scale shape: the benchmark side is eval-set sized (thousands of
    rows), so its distinct shingle sets broadcast; the corpus side's
    distinct sets are ROW-LOCAL ``array_distinct`` facts (zero
    aggregation, no per-doc object-agg buffer; same move as
    ``ngram_jaccard_pairs``) and the corpus never meets itself — cost
    is corpus-linear, unlike the near-dup self-joins. ``explode_outer`` for the same
    InferFiltersFromGenerate reason documented there. Shingle identity
    goes through ``xxhash64`` (only set cardinalities survive into the
    output, so any collision-free hash gives the same answer — same
    argument as ``ngram_jaccard_pairs``).
    """

    def shingle_sets(side: DataFrame, key: str) -> DataFrame:
        # (key, __set): the distinct hashed shingles of each >= n-token doc
        toks = side.select(
            F.col(id_col).alias(key), words(F.col(text_col)).alias("__toks")
        ).filter(F.size("__toks") >= n)
        sets = F.array_distinct(word_ngrams(F.col("__toks"), n, hashed=True))
        return toks.select(key, sets.alias("__set"))

    bsets = shingle_sets(bench, "__bid").select(
        "__bid", F.size("__set").alias("__bsz"), F.explode_outer("__set").alias("__sh")
    )
    dsh = shingle_sets(docs, id_col).select(id_col, F.explode_outer("__set").alias("__sh"))
    # long/long division -> IEEE double, bit-identical across engines;
    # the threshold compare must happen on that exact value (the DuckDB
    # oracle casts to DOUBLE the same way).
    cont = F.col("__i") / F.col("__bsz")
    inter = (
        dsh.join(F.broadcast(bsets), "__sh")
        .groupBy(id_col, "__bid", "__bsz")
        .agg(F.count(F.lit(1)).alias("__i"))
        .select(id_col, cont.alias("__cont"))
    )
    per_doc = inter.groupBy(id_col).agg(
        F.max("__cont").alias("max_containment"),
        F.sum(F.when(F.col("__cont") >= threshold, 1).otherwise(0))
        .cast("long")
        .alias("n_bench_hits"),
    )
    # short docs (< n tokens) have no shingles; re-attach every input doc
    # with zero contamination so the output is total over the corpus
    return (
        docs.select(id_col)
        .dropDuplicates([id_col])
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("max_containment", F.lit(0.0)).alias("max_containment"),
            F.coalesce("n_bench_hits", F.lit(0).cast("long")).alias("n_bench_hits"),
        )
    )


def bloom_params_for(n_items: int, fpr: float = 1e-6) -> tuple[int, int]:
    """Size a ``shingle_bloom`` from expected item count and target
    false-positive rate: the textbook optimum ``m = -n ln p / (ln 2)^2``
    rounded up to a power of two (keeps ``pmod`` cheap and layouts
    comparable across shards) and ``k = round(m/n ln 2)`` clamped to
    [1, 16]. E.g. 10M benchmark n-grams at 1e-6 → m ≈ 2.88e8 → 2^29
    bits = 64 MB, unclamped k ≈ 37 → 16 — still a trivial plan literal
    next to a 100 TB scan."""
    import math

    if n_items <= 0:
        raise ValueError(f"n_items must be positive, got {n_items}")
    if not 0.0 < fpr < 1.0:
        raise ValueError(f"fpr must be in (0,1), got {fpr}")
    m = -n_items * math.log(fpr) / (math.log(2) ** 2)
    m_bits = 1 << max(6, math.ceil(math.log2(m)))
    k = min(16, max(1, round(m_bits / n_items * math.log(2))))
    return m_bits, k


def _bloom_positions(shingle: Column, m_bits: int, k_hashes: int) -> list[Column]:
    """The k probe positions of one shingle, by Kirsch–Mitzenmacher
    double hashing: ``pos_j = (h1 + j*h2) mod m`` needs TWO xxhash64
    evaluations per shingle instead of k (same asymptotic false-positive
    rate as k independent hashes — Kirsch & Mitzenmacher, "Less Hashing,
    Same Performance", ESA'06). Both bases are reduced mod m first so
    the combination arithmetic stays tiny — no 64-bit overflow, which
    would throw under ANSI mode rather than wrap. Build and probe MUST
    share this derivation; it is the single definition both use."""
    b1 = F.pmod(F.xxhash64(shingle), F.lit(m_bits))
    b2 = F.pmod(F.xxhash64(shingle, F.lit(1)), F.lit(m_bits))
    return [F.pmod(b1 + j * b2, F.lit(m_bits)) for j in range(k_hashes)]


def _bloom_probe(shingle: Column, bits: Column, m_bits: int, k_hashes: int) -> Column:
    """True iff every probe bit of ``shingle`` is set in ``bits`` (the
    bloom's word array; bit i of the index lives at bit ``i % 64`` of
    word ``i // 64``). The single probe definition both consumers
    (``bloom_contamination``, ``bloom_hit_columns``) share — the word
    layout and ``_bloom_positions`` must move together or the no-false-
    negative guarantee silently breaks."""
    cond = F.lit(True)
    for p in _bloom_positions(shingle, m_bits, k_hashes):
        cond = cond & (
            F.bit_get(
                F.element_at(bits, (p / 64).cast("int") + 1), (p % 64).cast("int")
            )
            == 1
        )
    return cond


def _bloom_literal(bloom: DataFrame) -> tuple[int, int, Column]:
    """``(m_bits, k_hashes, words)`` of a ``shingle_bloom`` row, the words
    as ONE ``array<bigint>`` literal. Collects the row at plan-build
    time."""
    row = bloom.select("m_bits", "k_hashes", "words").first()
    if row is None:
        raise ValueError("bloom DataFrame is empty — build it with shingle_bloom()")
    bits = F.lit([int(w) for w in row["words"]]).cast("array<bigint>")
    return int(row["m_bits"]), int(row["k_hashes"]), bits


def shingle_bloom(
    bench: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom filter over a benchmark corpus's word n-grams, as ONE row:
    ``(m_bits, k_hashes, words array<long>)`` with ``ceil(m_bits/64)``
    64-bit words — the standard big-eval-suite decontamination index.

    Why a bloom next to ``benchmark_contamination``'s exact hash join:
    the exact path broadcasts the benchmark's distinct shingle *hashes*
    (8 bytes each), hash-joins every distinct corpus shingle against
    them and shuffles the hits for a per-(doc, example) count. When the
    eval suite grows to tens of millions of n-grams, the bloom is the
    ~64x smaller ship (m_bits is chosen, not data-sized) and — more
    importantly — lets the corpus side probe *row-locally* with zero
    joins (see ``bloom_contamination``).
    False positives only (rate ~ (1-e^{-kn/m})^k), never false
    negatives: a clean verdict from the bloom is definitive.

    Build shape: bench shingles explode to ``k_hashes`` bit positions
    (double-hashed — see ``_bloom_positions``), one hash-aggregate ORs
    them into sparse words (map-side combined — duplicates die before
    the wire), and a final 1-row aggregate densifies via
    ``map_from_entries`` + a ``sequence`` transform. The result stays
    a DataFrame so it can be persisted/unioned like any index; it is
    m_bits/8 bytes regardless of benchmark size.
    """
    positions = _shingles_raw(bench, n=n, text_col=text_col, id_col=id_col).select(
        F.explode(
            F.array(*_bloom_positions(F.col("shingle"), m_bits, k_hashes))
        ).alias("__pos")
    )
    sparse = (
        positions.select(
            (F.col("__pos") / 64).cast("int").alias("__w"),
            (F.col("__pos") % 64).cast("int").alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), __b)")).alias("__bits"))
    )
    nwords = (m_bits + 63) // 64
    return sparse.agg(
        F.map_from_entries(F.collect_list(F.struct("__w", "__bits"))).alias("__m")
    ).select(
        F.lit(m_bits).alias("m_bits"),
        F.lit(k_hashes).alias("k_hashes"),
        F.transform(
            F.sequence(F.lit(0), F.lit(nwords - 1)),
            # try_element_at, not element_at: absent map keys (words with
            # no set bits) must densify to 0 under ANSI mode too —
            # element_at throws MAP_KEY_DOES_NOT_EXIST on any
            # user-supplied session with spark.sql.ansi.enabled=true
            lambda i: F.coalesce(
                F.try_element_at(F.col("__m"), i), F.lit(0).cast("long")
            ),
        ).alias("words"),
    )


def bloom_contamination(
    docs: DataFrame,
    bloom: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents whose n-grams hit a benchmark bloom
    (``shingle_bloom``): per doc, ``n_shingles`` (n-gram windows),
    ``n_bloom_hits`` (windows whose all-k bits are set) and ``hit_frac``.

    The 100 TB shape this buys: the corpus side has NO join and NO
    per-shingle shuffle — the bloom words are a plan literal, membership
    is a codegen'd conjunction of ``bit_get`` probes, and the only
    exchange is the doc-keyed count aggregate, map-side combined.
    Counting is over raw
    n-gram *windows* (occurrences), not the distinct-shingle sets of
    ``benchmark_contamination`` — deduping per (doc, shingle) would
    reintroduce a full corpus shuffle, which is exactly what the bloom
    exists to avoid; for flag/filter decisions the occurrence fraction
    carries the same signal. No false negatives: ``n_bloom_hits = 0``
    proves zero n-gram overlap with the benchmark.

    Eager in one tiny way: the bloom row (params + words) is collected
    at plan-build time and the words inline as ONE array literal, so the
    bloom build runs once here and the probe is a plain codegen'd
    conjunction of ``bit_get`` lookups — no join at all on the corpus
    side, and no higher-order function. (The first version shipped the
    words as a crossJoined COLUMN and probed it with ``forall``; the
    interpreted HOF evaluator re-materialized the 16k-long array per
    probe and measured ~8x slower than this literal form at sf0.1 —
    same lesson as the LSH literal planes.)
    """
    m_bits, k_hashes, bits = _bloom_literal(bloom)
    hit = _bloom_probe(F.col("shingle"), bits, m_bits, k_hashes)
    per_doc = (
        _shingles_raw(docs, n=n, text_col=text_col, id_col=id_col)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(hit.cast("long")).alias("n_bloom_hits"),
        )
    )
    return (
        docs.select(id_col)
        .dropDuplicates([id_col])
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias("n_shingles"),
            F.coalesce("n_bloom_hits", F.lit(0).cast("long")).alias("n_bloom_hits"),
            F.coalesce(
                F.col("n_bloom_hits") / F.col("n_shingles"), F.lit(0.0)
            ).alias("hit_frac"),
        )
    )


def merge_blooms(*blooms: DataFrame) -> DataFrame:
    """OR together blooms built by ``shingle_bloom`` with identical
    ``m_bits``/``k_hashes`` — the shard-composition rule: build one bloom
    per benchmark (or per ingest epoch) where the data lives, union the
    one-row indexes, and fold the bit words with ``zip_with(bit-or)``.
    Membership in the merged bloom == membership in any input (bloom
    unions are exact — no precision loss beyond each input's FPR).
    Raises at plan-build time on parameter mismatch (different m/k would
    silently corrupt probes)."""
    if not blooms:
        raise ValueError("merge_blooms needs at least one bloom")
    params = [b.select("m_bits", "k_hashes").first() for b in blooms]
    empties = [i for i, p in enumerate(params) if p is None]
    if empties:
        raise ValueError(
            f"bloom inputs at positions {empties} are empty DataFrames — "
            "build each with shingle_bloom() (an unbuilt shard index would "
            "silently vanish from the union)"
        )
    if len({(int(p["m_bits"]), int(p["k_hashes"])) for p in params}) != 1:
        raise ValueError(f"bloom parameter mismatch: {params}")
    merged = blooms[0]
    for b in blooms[1:]:
        merged = merged.unionByName(b)
    return merged.groupBy("m_bits", "k_hashes").agg(
        F.reduce(
            F.collect_list("words"),
            F.expr("CAST(NULL AS ARRAY<BIGINT>)"),
            lambda acc, w: F.when(acc.isNull(), w).otherwise(
                F.zip_with(acc, w, lambda a, b: a.bitwiseOR(b))
            ),
        ).alias("words")
    )


def bloom_hit_columns(
    docs: DataFrame,
    bloom: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Streaming-safe sibling of ``bloom_contamination``: ADD per-row
    ``n_shingles`` / ``n_bloom_hits`` / ``hit_frac`` columns with pure
    row-local expressions — no join, no shuffle, no state.

    The bloom words are inlined as ONE array literal (the index is
    m_bits/8 bytes by construction, so it ships inside the serialized
    plan like the LSH planes), the doc's n-gram windows are built as an
    in-row array, and the hit count is a ``filter``/``size`` over it
    with the k bit probes conjoined at plan time. Because nothing
    aggregates, this drops straight into a ``readStream`` ingest path —
    contamination flags at ingest time, before anything lands — and
    composes with any downstream batch query.

    Trade-off vs ``bloom_contamination``: the per-element probe runs in
    Spark's interpreted HOF evaluator rather than the codegen'd
    explode+aggregate pipeline, so for pure-batch scoring over a static
    corpus the exploded form measures faster; this form exists for
    streaming and for plans that must stay shuffle-free. Eager peek of
    the bloom row at plan-build time (same contract as
    ``bloom_contamination``).
    """
    m_bits, k_hashes, bits = _bloom_literal(bloom)

    def is_hit(s: Column) -> Column:
        return _bloom_probe(s, bits, m_bits, k_hashes)

    # tokens bound to a column first: the window lambda then reads an
    # attribute instead of re-running the normalize regex per position
    toks = F.col("__toks")
    spans = F.when(
        F.size(toks) >= n, word_ngrams(toks, n, hashed=False)
    ).otherwise(F.array().cast("array<string>"))
    out = docs.withColumn("__toks", words(F.col(text_col))).withColumn("__spans", spans)
    return (
        out.withColumn("n_shingles", F.size("__spans").cast("long"))
        .withColumn(
            "n_bloom_hits", F.size(F.filter(F.col("__spans"), is_hit)).cast("long")
        )
        .withColumn(
            "hit_frac",
            F.when(F.col("n_shingles") > 0, F.col("n_bloom_hits") / F.col("n_shingles"))
            .otherwise(F.lit(0.0)),
        )
        .drop("__toks", "__spans")
    )


def expand_contamination(
    flags: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    flag_col: str = "contaminated",
    out_col: str = "contaminated_expanded",
) -> DataFrame:
    """Propagate contamination flags across near-dup clusters: if ANY
    member of a cluster is flagged, every member is.

    Closes the paraphrase hole in n-gram decontamination: a benchmark
    leak that was lightly rewritten evades the n-gram match, but its
    near-dup edge to the verbatim leak (MinHash/embedding pairs →
    ``duplicate_clusters``) still ties it to a flagged doc. The cluster
    key is the canonical min id, so this is one groupBy + two id-keyed
    joins — no text moves.
    """
    keyed = flags.join(
        clusters.select(F.col("doc_id").alias(id_col), "cluster_id"),
        id_col,
        "left",
    ).withColumn("__k", F.coalesce("cluster_id", F.col(id_col)))
    any_hit = keyed.groupBy("__k").agg(
        F.max(F.col(flag_col).cast("int")).alias("__any")
    )
    return (
        keyed.join(any_hit, "__k")
        .withColumn(out_col, F.col("__any") == 1)
        .drop("__k", "cluster_id", "__any")
    )


def repeated_spans(
    docs: DataFrame,
    window: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated token windows — the memorization /
    boilerplate surface of a corpus (license headers, navigation chrome,
    quoted passages) that document-level dedup can't see because the
    surrounding documents differ.

    One row per ``window``-token span occurring in at least ``min_docs``
    distinct documents: ``(span_hash, n_docs, n_occurrences, span)``.

    Two-pass shape, sized for 100 TB:

    1. Spans are hashed row-local (``xxhash64``) and aggregated on the
       8-byte hash alone — (hash, doc) then hash — so the wide shuffles
       move fixed-width keys, never span text. Map-side combine
       collapses within-doc repeats before the wire.
    2. Only the surviving hashes (repeated spans are a tiny fraction of
       all spans) are joined back against a second shingle scan to
       recover one example string per span. The join is a broadcast of
       the survivors when they fit, and the string materialization cost
       is proportional to the *report*, not the corpus.

    Span identity is the 64-bit hash (collisions merge spans; at 1e12
    spans the expected collision count is ~30 — acceptable for a
    report/filter op, same argument as ``ngram_jaccard_pairs``).
    """
    spans = _shingles_raw(docs, n=window, text_col=text_col, id_col=id_col).select(
        id_col, F.xxhash64("shingle").alias("span_hash")
    )
    per_doc = spans.groupBy("span_hash", id_col).agg(
        F.count(F.lit(1)).alias("__occ")
    )
    survivors = (
        per_doc.groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__occ").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    examples = (
        _shingles_raw(docs, n=window, text_col=text_col, id_col=id_col)
        .select(F.xxhash64("shingle").alias("span_hash"), "shingle")
        .join(survivors, "span_hash")
        .groupBy("span_hash", "n_docs", "n_occurrences")
        .agg(F.min("shingle").alias("span"))
    )
    return examples.select("span_hash", "n_docs", "n_occurrences", "span")


def _sized_span_hashes(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> tuple[DataFrame, Column]:
    """The prefix ``span_coverage`` and ``remove_duplicated_spans`` share:
    the non-null-text docs as ``(id, __toks, n_tokens)``, and the column
    of their ``n``-token span hashes in position order, for rows with
    ``n_tokens >= n``."""
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, words(F.col(text_col)).alias("__toks")
    )
    sized = toks.select(id_col, "__toks", F.size("__toks").alias("n_tokens"))
    return sized, word_ngrams(F.col("__toks"), n, hashed=True)


def span_coverage(
    docs: DataFrame,
    n: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-content coverage: for every document, the
    fraction of its tokens lying inside an ``n``-token span that also
    occurs in at least ``min_docs`` distinct documents. This is the
    actionable per-doc form of the cross-corpus signal
    ``repeated_spans`` reports per SPAN — the exact-substring dedup
    policy of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") drops or trims documents by exactly this
    measure (e.g. "remove docs whose duplicated coverage exceeds 80%"),
    and it needs positions, not just span identities.

    One row per non-null-text document:
    ``(doc_id, n_tokens, dup_spans, covered_tokens, coverage)`` where
    ``dup_spans`` counts this doc's span START positions whose span is
    cross-doc duplicated, ``covered_tokens`` is the size of the UNION of
    those spans' ``[pos, pos+n)`` token intervals (overlapping spans are
    not double-counted), and ``coverage = covered_tokens / n_tokens``.
    Docs shorter than ``n`` tokens have no spans and coverage 0.

    Shape, sized for 100 TB:

    1. Span hashes are computed row-local inside the explode
       (``xxhash64`` — output depends only on which spans collide
       across docs, not on hash values, so the native codegen hash is
       safe; same argument as ``ngram_jaccard_pairs``) and every wide
       shuffle moves fixed-width (hash, id, pos) rows, never span text.
    2. Survivor detection counts docs per hash over ROW-LOCAL
       per-doc-distinct span hashes (``array_distinct`` of the span
       array, round 12 — same move as ``ngram_jaccard_pairs``): each
       unique-id doc contributes a hash once, so ONE map-side-combined
       ``groupBy(hash).count`` replaces the earlier two-level
       (hash, doc) → hash aggregate — the (hash, doc) dedup pair (a
       hash map over every raw span row; plus its own exchange whenever
       the input is not already id-partitioned) is gone. No posting
       lists, no distinct-count sketch. ``explode_outer`` for the
       InferFiltersFromGenerate pushdown reason documented on
       ``ngram_jaccard_pairs`` (sets are provably non-empty under the
       ``n_tokens >= n`` filter).
    3. Positions join back to survivors on the 8-byte hash (plain
       shuffled equality join; survivors are the small side but can
       exceed broadcast at corpus scale, so the planner decides).
    4. The interval union is a per-document window (``partitionBy`` the
       doc id — bounded by document length, never a global sort): for
       duplicated start positions p1 < p2 < ... the union size is
       sum(min(n, p_next − p)) with n for the last — one ``lead`` and
       one aggregate.
    """
    sized, span_hashes = _sized_span_hashes(docs, n, text_col, id_col)
    long_docs = sized.filter(F.col("n_tokens") >= n)
    spans = long_docs.select(
        id_col, "n_tokens", F.posexplode(span_hashes).alias("pos", "__h")
    )
    survivors = (
        long_docs.select(F.explode_outer(F.array_distinct(span_hashes)).alias("__h"))
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h")
    )
    dup_pos = spans.join(survivors, "__h").select(id_col, "n_tokens", "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    pieces = dup_pos.withColumn(
        "__piece",
        F.coalesce(F.least(F.lit(n), F.lead("pos").over(w) - F.col("pos")), F.lit(n)),
    )
    per_doc = pieces.groupBy(id_col, "n_tokens").agg(
        F.count(F.lit(1)).alias("dup_spans"),
        F.sum("__piece").alias("covered_tokens"),
    )
    return (
        sized.select(id_col, "n_tokens")
        .join(per_doc, [id_col, "n_tokens"], "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            # exact-integer IEEE division — bit-identical across engines,
            # so no rounding (the harness rounds floats itself)
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("coverage"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ACTION for ``span_coverage``'s measurement: rewrite each
    document with its cross-doc duplicated ``n``-token spans removed —
    the exact-substring dedup of Lee et al. 2022 applied as a transform
    rather than a report.

    Keeper policy, deterministic and corpus-stable: for each duplicated
    span hash the document with the MINIMUM id keeps every occurrence;
    every other document removes the tokens in the union of its
    duplicated ``[pos, pos+n)`` intervals. One occurrence of every
    duplicated substring therefore survives in the corpus (the Lee et
    al. invariant), rerun/repartition-stable because min-id is order-
    independent.

    Output: ``(doc_id, text_clean, n_tokens, removed_tokens)`` — one row
    per non-null-text doc; ``text_clean`` is the surviving tokens of the
    NORMALIZED text joined by single spaces (normalization is shared
    with every other dedup operator; the un-normalized original is the
    caller's to keep). Docs shorter than ``n`` tokens pass through.

    Scale shape: ``span_coverage``'s tokenize and row-local span hashes
    (fixed-width (hash, id, pos) shuffles, no posting lists), but
    survivor detection is a two-level doc-count over the raw span rows —
    (hash, doc) then hash — whose second level also carries each hash's
    min id, the keeper. Removable positions then come back to each doc
    ONCE as one ``array_distinct`` of the expanded ``[pos, pos+n)``
    intervals, bounded by document length (the per-doc bound every
    other collect in this file relies on), and the rewrite is one
    row-local higher-order filter: an ``array_contains`` per token
    against at most n_tokens entries. Nothing downstream of the
    survivor join shuffles anything wider than (id, pos)."""
    sized, span_hashes = _sized_span_hashes(docs, n, text_col, id_col)
    spans = sized.filter(F.col("n_tokens") >= n).select(
        id_col, F.posexplode(span_hashes).alias("pos", "__h")
    )
    survivors = (
        spans.groupBy("__h", id_col)
        .agg(F.count(F.lit(1)).alias("__occ"))
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__nd"), F.min(id_col).alias("__keeper"))
        .filter(F.col("__nd") >= min_docs)
        .select("__h", "__keeper")
    )
    removable = (
        spans.join(survivors, "__h")
        .filter(F.col(id_col) != F.col("__keeper"))
        .select(id_col, "pos")
    )
    # per-doc removable position SET: expand each [pos, pos+n) and
    # dedup — bounded by n_tokens entries regardless of span overlap
    rm = removable.groupBy(id_col).agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.sequence(F.col("pos"), F.col("pos") + n - 1))
            )
        ).alias("__rm")
    )
    out = sized.join(rm, id_col, "left")
    kept = F.filter(
        F.transform(
            F.col("__toks"), lambda x, i: F.struct(x.alias("t"), i.alias("i"))
        ),
        lambda s: ~F.coalesce(F.array_contains(F.col("__rm"), s["i"]), F.lit(False)),
    )
    return out.select(
        id_col,
        F.when(F.col("__rm").isNull(), F.concat_ws(" ", F.col("__toks")))
        .otherwise(F.concat_ws(" ", F.transform(kept, lambda s: s["t"])))
        .alias("text_clean"),
        F.col("n_tokens"),
        # size(NULL) is -1 under legacy sizeOfNull; branch explicitly
        F.when(F.col("__rm").isNull(), F.lit(0))
        .otherwise(F.size("__rm"))
        .cast("long")
        .alias("removed_tokens"),
    )


def simhash(
    docs: DataFrame,
    bits: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash fingerprint: per token a portable 32-bit hash; each of the
    low ``bits`` bit positions votes +count/-count by whether the bit is
    set; fingerprint sets bits with positive balance.

    Wide form (the ``_minhash_wide`` pattern): all ``bits`` bit balances
    are conditional sums in ONE groupBy(doc) — each bit's predicate is a
    row-local shift of the token hash — and the fingerprint assembles
    row-locally from the balance columns. The earlier long form exploded
    every token row ``bits``× and paid a (doc, bit) exchange over the
    multiplied stream plus a second per-doc aggregation; the wide form
    shuffles each distinct token once. ``bits`` is capped at 32 (the
    base hash width); the shift runs in BIGINT so bit 31 does not wrap
    negative."""
    if not 1 <= bits <= 32:
        raise ValueError(f"bits must be in [1, 32] (32-bit base hash), got {bits}")
    toks = (
        tokenize(docs, text_col=text_col)
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn("__h", _md5_hash32(F.col("token")))
    )
    balances = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"shiftright(__h, {b}) & 1") == 1, F.col("__cnt"))
                .otherwise(-F.col("__cnt"))
            ).alias(f"__b{b}")
            for b in range(bits)
        ]
    )
    fingerprint = sum(
        F.when(F.col(f"__b{b}") > 0, F.lit(1 << b)).otherwise(0) for b in range(bits)
    )
    return balances.select(id_col, fingerprint.cast("long").alias("simhash"))


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs.

    ``block_col`` is the blocking key (a cluster id / LSH bucket / shard):
    only pairs inside a block are compared. Omitting it plans an O(n²)
    cartesian — a corpus-scale cartesian at 100 TB — so the unblocked
    path is gated behind an explicit ``allow_all_pairs=True`` (r10
    verdict "What's wrong" §1); calling with neither raises rather than
    quietly planning the cross join. At scale always pass a block (e.g.
    an IVF assignment from similarity.assign_ivf_buckets).
    """
    if block_col is None and not allow_all_pairs:
        raise ValueError(
            "embedding_near_duplicates without block_col plans an O(n²) "
            "cartesian over the corpus; pass block_col (an IVF/LSH/shard "
            "key) or opt in explicitly with allow_all_pairs=True at "
            "test scale"
        )
    from temporai_mivdp_spark.llmdata.similarity import _dot, _norm, finite_vectors

    # norms are per-VECTOR, so compute them once on each join side —
    # folding them inside a per-pair cosine would run two extra
    # higher-order-function folds per candidate pair (HOF lambdas are
    # interpreted, not codegen'd; measured ~3x on the blocked self-join)
    cols = [id_col, vec_col] + ([block_col] if block_col else [])
    sided = (
        finite_vectors(embeddings, vec_col, nonzero=True)
        .select(*cols)
        .withColumn("__nrm", _norm(F.col(vec_col)))
    )
    a = sided.select(
        *[F.col(c).alias(f"a_{c}") for c in cols], F.col("__nrm").alias("a___nrm")
    )
    b = sided.select(
        *[F.col(c).alias(f"b_{c}") for c in cols], F.col("__nrm").alias("b___nrm")
    )
    if block_col:
        cond = F.col(f"a_{block_col}") == F.col(f"b_{block_col}")
        paired = a.join(b, on=cond)
    else:
        paired = a.crossJoin(b)
    paired = paired.filter(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
    sim = paired.withColumn(
        "cosine",
        _dot(F.col(f"a_{vec_col}"), F.col(f"b_{vec_col}"))
        / (F.col("a___nrm") * F.col("b___nrm")),
    )
    return sim.filter(F.col("cosine") >= threshold).select(
        F.col(f"a_{id_col}").alias("id_a"),
        F.col(f"b_{id_col}").alias("id_b"),
        F.round("cosine", 6).alias("cosine"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame,
    eps: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, call two items
    semantic duplicates when their cosine exceeds ``eps`` WITHIN a
    cluster, and keep one representative per duplicate set — preferring
    the item FARTHEST from its centroid (the paper's choice: it keeps
    the cluster's fringe and thins the dense core).

    Parallel keep rule (deterministic, one pass): an item is dropped iff
    some item with strictly higher keep-priority in its cluster sits
    within ``eps`` of it, where priority orders by (centroid_sim ASC,
    id ASC) — farthest first, id tie-break. This is the DOMINANCE form
    of the paper's sequential greedy: slightly stricter (an item can be
    dropped by a neighbour that was itself dropped), but order-free, so
    it runs as one bucket-equality self-join instead of a per-cluster
    sequential scan, and an oracle can replay it clause for clause.

    Plan at 100 TB: assignment is the zero-shuffle literal-centroid
    projection (``assign_ivf_buckets``); the only wide operations are
    the self-join on the cluster id and the drop-set distinct. The
    self-join is quadratic IN CLUSTER OCCUPANCY, so the deployment rule
    is the paper's: scale the centroid count with the corpus (k ∝ N —
    SemDeDup uses 50k clusters for 440M items) so occupancy stays
    bounded and the join is corpus-linear; pass ``kmeans_fit(corpus,
    n=...)`` as ``centroids``. The measured fixed-k decade ratio (8.2×
    at k=16, SCALING.md round 7) is the quadratic term showing —
    correct, and exactly what occupancy-bounded k removes (measured:
    10× data costs 2.9× at fixed k, 2.3× with k ∝ N). With k ∝ N the
    dominant remaining term is the O(N·k) literal-centroid assignment —
    the cost the paper brute-forces on accelerators; swap in a
    hierarchical (coarse→fine) centroid frame to bound it on CPU.
    ``centroid_sim``
    is rounded to 1e-6 BEFORE ranking so the priority order — not just
    the emitted value — is identical across engines.

    Returns (id, bucket, centroid_sim, keep) for every finite input row
    (null / non-finite vectors are excluded up front —
    ``similarity.finite_vectors``).
    Citation (behavioral contract only — no reference code exists for
    this; the reference pipeline is tabular/clinical):
    SURVEY.md §2 "beyond-reference additions".
    """
    from temporai_mivdp_spark.llmdata.similarity import (
        _centroid_array,
        _centroid_sims,
        _dot,
        _norm,
        finite_vectors,
    )

    cents = _centroid_array(centroids, "centroid_id", vec_col)
    best = F.array_max(
        F.transform(
            _centroid_sims(F.col(vec_col), cents),
            lambda s: F.struct(s["sim"].alias("sim"), (-s["cid"]).alias("negcid")),
        )
    )
    assigned = finite_vectors(embeddings, vec_col, nonzero=True).withColumn(
        "__nrm", _norm(F.col(vec_col))
    ).select(
        id_col,
        vec_col,
        "__nrm",
        (-best["negcid"]).cast("long").alias("bucket"),
        # full cosine to the OWN centroid: best.sim is dot/|c|; divide by
        # |v| (rounded → cross-engine-stable ranking AND output)
        F.round(best["sim"] / F.col("__nrm"), 6).alias("centroid_sim"),
    ).withColumn("__pri", F.struct("centroid_sim", id_col))

    a = assigned.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_v"),
        F.col("__nrm").alias("a_n"), F.col("bucket").alias("a_bucket"),
        F.col("__pri").alias("a_pri"),
    )
    b = assigned.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_v"),
        F.col("__nrm").alias("b_n"), F.col("bucket").alias("b_bucket"),
        F.col("__pri").alias("b_pri"),
    )
    dropped = (
        a.join(b, (F.col("a_bucket") == F.col("b_bucket")) & (F.col("a_pri") < F.col("b_pri")))
        .filter(_dot(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n")) >= eps)
        .select(F.col("b_id").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            id_col,
            "bucket",
            "centroid_sim",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
        )
    )


def _rotate_checkpoint(df: DataFrame, prev_ids: set):
    """``localCheckpoint(eager=True)`` with deterministic cleanup: after
    the new checkpoint materializes, unpersist the backing RDDs of the
    PREVIOUS rotation (``prev_ids``) — nothing references them anymore.
    Returns ``(checkpointed_df, new_backing_ids)``. Talks to the JVM
    persistent-RDD registry because ``DataFrame.unpersist`` only
    reaches the SQL cache manager, which localCheckpoint bypasses.
    Assumes rotations are not raced by concurrent checkpoints on the
    same SparkContext (true for a per-query loop)."""
    sc = df.sparkSession.sparkContext
    jmap = sc._jsc.getPersistentRDDs()
    before = {int(k) for k in jmap.keySet().toArray()}
    out = df.localCheckpoint(eager=True)
    jmap = sc._jsc.getPersistentRDDs()
    new_ids = {int(k) for k in jmap.keySet().toArray()} - before
    for rid in prev_ids:
        jr = jmap.get(rid)
        if jr is not None:
            jr.unpersist(False)
    return out, new_ids


#: Edge cap of ``duplicate_clusters``' driver tier. Measured with
#: ``tools/measure.py`` at local[4] (4-core Xeon, 15 GB) on synthetic
#: graphs of 4-node chains with scattered ids, each tier forced, build +
#: fastest execution: 10k edges star 2.06 s / driver 0.26 s; 100k 3.96 /
#: 0.78; 1M 19.96 / 6.60; 4M 77.51 / 7.45, identical hashes throughout.
#: No crossover shows below 4M edges on four cores: the star tier pays
#: about four jobs per round and a shuffle per half-round, the driver
#: tier about 2 µs per edge on one core. The cap is set where the
#: driver's share stays bounded instead: at 1M edges the collected
#: edges and the labelling arrays take about 100 MB of driver memory,
#: and the labels (at most 2M rows, 32 MB as Arrow) stay under Spark's
#: 48 MB ``spark.sql.execution.arrow.localRelationThreshold``, so they
#: plan as a ``LocalTableScan`` with real size statistics. A local
#: relation ships its rows with every execution's tasks, which is where
#: the 1M-edge driver tier spends 3.8 of its 6.6 s. A caller that reads
#: the labels twice per execution, as ``pipeline.guard_corpus`` does
#: (``expand_contamination`` and ``leakage_safe_split``), pays more: its
#: joins plan as broadcasts of the labels. Measured on the same graphs
#: with that caller, build + one execution, star / driver: 100k edges
#: 3.88 + 1.66 / 1.29 + 2.24 s; 300k 6.53 + 2.82 / 2.95 + 5.51; 1M
#: 23.38 + 9.21 / 11.03 + 21.52. The cap holds for one execution of the
#: result (a tie at 1M); a caller that executes such labels again loses
#: past about 300k edges, and its largest task's peak memory is 1.8-3x
#: the star tier's (608 against 336 MB at 1M). The catalog's graphs stay
#: far below: 6,024 edges at sf0.1, growing linearly with inflation.
_CLUSTERS_DRIVER_MAX_EDGES = 1_000_000

#: Id types whose Arrow sort order is Spark's: integers, and strings in
#: the default binary collation (UTF-8 byte order is code point order).
#: Any other id type takes the star tier.
_CLUSTERS_DRIVER_ID_TYPES = (
    T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(), T.StringType()
)


def _min_label_roots(a, b, n: int):
    """Component roots of nodes ``0..n-1`` under the edges ``a[i]–b[i]``
    (numpy int arrays): every root hooks onto the smallest root it
    shares an edge with, and the parent pointers, which only ever point
    to a smaller node, are jumped until each points at its root. Returns
    ``(label, rounds)``: ``label[x]`` is the smallest node of ``x``'s
    component, ``rounds`` the hooking rounds it took. Every root with a
    smaller neighbour hooks in each round, so a chain whose ids
    alternate low/high halves its roots per round. Over a random
    permutation of 1M ids a chain took 14 rounds and a binary tree 7,
    under log2(n) = 20 (a permuted chain's bound is tested)."""
    import numpy as np

    label, rounds = np.arange(n), 0
    while not np.array_equal(la := label[a], lb := label[b]):
        np.minimum.at(label, np.maximum(la, lb), np.minimum(la, lb))
        while not np.array_equal(up := label[label], label):
            label = up
        rounds += 1
    return label, rounds


def _clusters_on_driver(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame | None:
    """``duplicate_clusters``' driver tier: collect at most
    ``_CLUSTERS_DRIVER_MAX_EDGES + 1`` edges in one labelled job, label
    the components on the driver and return them as a local relation.
    Returns None for the star tier to take over: before any job when the
    id type is not in ``_CLUSTERS_DRIVER_ID_TYPES``, after that one job
    when the graph has more edges than the cap.

    Null and self-loop edges are dropped in Spark by the star tier's own
    ``u != v`` filter, after both ends are cast to the type the star
    tier's union gives them. On the driver, every id is replaced by its
    rank in sorted id order, so the smallest rank of a component is its
    smallest id, and ``_min_label_roots`` labels the ranks."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = pairs.sparkSession
    u = pairs.select(F.col(id_a).alias("u")).unionByName(
        pairs.select(F.col(id_b).alias("u"))
    ).schema["u"]
    if u.dataType not in _CLUSTERS_DRIVER_ID_TYPES:
        return None
    edges = pairs.select(
        F.col(id_a).cast(u.dataType).alias("u"), F.col(id_b).cast(u.dataType).alias("v")
    ).filter(F.col("u") != F.col("v"))
    with job_description(spark, "duplicate_clusters: collect edges"):
        table = edges.limit(_CLUSTERS_DRIVER_MAX_EDGES + 1).toArrow()
    if table.num_rows > _CLUSTERS_DRIVER_MAX_EDGES:
        return None
    ends = pa.concat_arrays(
        [table.column(c).combine_chunks() for c in ("u", "v")]
    ).dictionary_encode()
    order = pc.sort_indices(ends.dictionary).to_numpy().astype(np.int64)
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    label, _ = _min_label_roots(*np.split(rank[ends.indices.to_numpy()], 2), len(order))
    ids = ends.dictionary.take(pa.array(order))
    schema = T.StructType([
        T.StructField("doc_id", u.dataType, u.nullable),
        T.StructField("cluster_id", u.dataType, True),
    ])
    return spark.createDataFrame(
        pa.table({"doc_id": ids, "cluster_id": ids.take(pa.array(label))}), schema
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Resolve near-dup pairs into duplicate clusters: connected
    components, labelled on the driver for a small graph and otherwise by
    alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — plain
    window + shuffle rounds, no graph library). Returns
    (doc_id, cluster_id) where cluster_id is the smallest doc id
    reachable through the pair graph — the canonical keeper.

    Pairwise dedup alone under-deletes: A~B and B~C leave both B and C
    if handled independently.

    Two tiers, chosen by the observed graph size and returning the same
    rows and schema. Every call first tries the driver tier
    (``_clusters_on_driver``): one labelled ``duplicate_clusters:
    collect edges`` job collects at most ``_CLUSTERS_DRIVER_MAX_EDGES +
    1`` edges, and a graph within the cap is labelled on the driver and
    returned as a local relation. A graph over the cap, or an id type
    other than integers and binary-collated strings, takes the star
    rounds below. A graph over the cap computes its pair stream twice:
    once for the collect and again for the first star round. At sf0.1
    local[4] that added 5.0 s to the catalog's ``dedup_duplicate_clusters``
    build and 4.3 s to ``pipeline_guard_corpus`` (cap forced to 0; the
    cap's measurements are next to it and in SCALING.md). Both tiers
    drop an edge whose ends are equal or null and label every other end
    with the smallest id of its component. ``max_iterations`` bounds the
    star tier only.

    Min-label propagation in Spark rounds (the earlier implementation)
    converges in O(diameter) rounds, which is fine for
    the star/chain micro-components of a near-dup graph but degenerates
    on a pathological long-chain corpus (a 10k-chain needs 10k rounds).
    Star contraction halves component heights every alternation —
    O(log n) rounds on ANY topology:

    * large-star (center u, m = min over N(u) ∪ {u}): emit (v, m) for
      neighbors v > u — strictly larger neighbors re-attach to the
      local minimum.
    * small-star: emit (v, m) for v <= u plus the center's own (u, m).

    Both phases preserve connectivity; the edge set monotonically
    flattens into per-component stars rooted at the minimum id.

    One job set per round. Each half-round takes ``m`` from a window
    over ``u`` and ends in ``repartition(u).dropDuplicates()``: hash
    partitioning on ``u`` satisfies both the dedup and the next window,
    so a half-round costs exactly one exchange. The round's output is
    then checked for convergence INSIDE its own checkpoint job: a row is
    bad unless its ``u`` is a root (every neighbour larger) or a leaf
    (exactly one neighbour, and it is smaller), and an ``observe``d sum
    of bad rows arrives with the checkpoint. Zero (or null, the empty
    graph) means every edge joins a root to a leaf, i.e. the graph is a
    forest of stars each rooted at its component's minimum — exactly a
    fixed point of the round, so no confirming round is run. The input
    is not checkpointed; each round's eager checkpoint runs under the
    job description ``duplicate_clusters: star round <k>`` and
    deterministically unpersists the previous round's backing RDDs
    (dead weight the moment the new one materializes), so at most ONE
    checkpoint — the one backing the returned frame — is ever live,
    instead of O(log n) pinned RDDs per call lingering until context
    GC. ``max_iterations`` bounds the round count; running out raises.
    """
    labelled = _clusters_on_driver(pairs, id_a, id_b)
    if labelled is not None:
        return labelled
    u, v, m = F.col("u"), F.col("v"), F.col("m")
    by_u = Window.partitionBy("u")

    def distinct_by_u(e: DataFrame) -> DataFrame:
        return e.repartition("u").dropDuplicates()

    def star_round(e: DataFrame, large: bool) -> DataFrame:
        j = e.withColumn("m", F.least(F.min("v").over(by_u), u))
        if large:
            emitted = j.filter(v > u).select("v", "m")
        else:
            emitted = j.filter(v <= u).select("v", "m").unionByName(
                j.select(u.alias("v"), "m")
            )
        sym = emitted.filter(v != m)
        return distinct_by_u(
            sym.select(v.alias("u"), m.alias("v")).unionByName(
                sym.select(m.alias("u"), v.alias("v"))
            )
        )

    edges = distinct_by_u(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .filter(u != v)
    )
    root_or_leaf = (F.min("v").over(by_u) > u) | (
        (F.count(F.lit(1)).over(by_u) == 1) & (v < u)
    )
    live_ids: set = set()
    for k in range(1, max_iterations + 1):
        edges = star_round(star_round(edges, large=True), large=False)
        obs = Observation()
        flagged = (
            edges.withColumn("__bad", (~root_or_leaf).cast("long"))
            .observe(obs, F.sum("__bad").alias("bad"))
            .drop("__bad")
        )
        with job_description(
            pairs.sparkSession, f"duplicate_clusters: star round {k}"
        ):
            edges, live_ids = _rotate_checkpoint(flagged, live_ids)
        if not obs.get["bad"]:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iterations} "
            "alternation rounds (components deeper than 2^iterations — "
            "should be unreachable); raise max_iterations — silently "
            "returning non-canonical cluster ids would split components"
        )
    # converged: per-component stars rooted at the min id. Every node's
    # label is min(N(u) ∪ {u}) — the root's own label is itself.
    return edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("cluster_id")
    ).select(F.col("u").alias("doc_id"), "cluster_id")


def keep_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every clustered doc except its cluster's keeper (min id);
    docs in no cluster pass through untouched."""
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    from temporai_mivdp_spark.operators.joins import anti_join_filter

    return anti_join_filter(docs, losers, on=id_col)
