"""Deterministic dataset splitting, sampling, and sequence shaping.

The ops every training-data pipeline needs after curation:

* ``hash_split`` — stable train/val/test assignment. Hash-based, not
  ``randomSplit``: the assignment is a pure function of (seed, key), so
  it survives reruns, repartitions, late-arriving shards, and engine
  changes — `randomSplit` re-draws per task and is none of those.
* ``stratified_hash_sample`` — per-stratum deterministic downsampling
  (e.g. keep 10% of 'en' but 100% of a rare language). The rate table
  broadcasts; the keep decision is row-local, so the op is a single
  scan with no shuffle.
* ``pack_sequences`` — concat-and-chunk packing: assign each document a
  pack id by the starting offset of its tokens in the concatenated
  stream. Window cumsum, the standard LLM pretraining batch layout.
* ``chunk_documents`` — the inverse shaping op: split docs LONGER than
  the context window into overlapping token chunks, row-locally.
* ``sample_exact_k`` — exact-budget uniform draw (eval sets): the k
  smallest (seed, key) hashes via map-side top-k, no global sort.

All hash decisions are md5-based and bit-portable to the DuckDB oracles
(``int(md5(x)[:8], 16)`` on both engines).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from temporai_mivdp_spark.session import arrow_rows

#: hash buckets for split/sample decisions — 10k gives 0.01% rate
#: granularity while keeping the arithmetic in exact integers
_BUCKETS = 10_000


def _hash_bucket(key: Column, seed: str) -> Column:
    """Deterministic bucket in [0, _BUCKETS): 32-bit md5 prefix of
    seed||key. Portable: DuckDB ``('0x' || substr(md5(s || CAST(k AS
    VARCHAR)), 1, 8))::BIGINT % 10000``."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), key.cast("string"))), 1, 8), 16, 10
    ).cast("long")
    return h % F.lit(_BUCKETS)


def hash_split(
    df: DataFrame,
    weights: Mapping[str, float],
    key_col: str = "doc_id",
    seed: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a split label with probability proportional to
    ``weights`` (e.g. ``{"train": 0.9, "val": 0.05, "test": 0.05}``),
    deterministically in ``(seed, key)``.

    Row-local projection — no shuffle, no RNG state, safe to call on a
    100 TB scan. Changing ``seed`` re-rolls every assignment; adding a
    split to ``weights`` only moves rows at range boundaries.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError(f"weights must sum > 0, got {dict(weights)}")
    bucket = _hash_bucket(F.col(key_col), seed)
    expr: Column | None = None
    hi = 0.0
    # iterate in insertion order so the range layout is reproducible
    items = list(weights.items())
    for name, w in items[:-1]:
        hi += w / total * _BUCKETS
        cond = bucket < F.lit(int(round(hi)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def leakage_safe_split(
    df: DataFrame,
    weights: Mapping[str, float],
    clusters: DataFrame | None = None,
    key_col: str = "doc_id",
    seed: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """``hash_split`` with a train/eval leakage guard: every near-dup
    cluster lands in exactly ONE split.

    Independent per-doc splitting puts copies of the same document on
    both sides of the train/test boundary, silently inflating eval —
    the standard failure mode of splitting *after* dedup misses what
    dedup itself missed (sub-threshold near-dups). Fix: the split key
    is the doc's ``cluster_id`` from ``duplicate_clusters`` (the
    canonical min reachable id) when it has one, its own id otherwise,
    so all members of a cluster hash to the same bucket.

    ``clusters`` is (doc_id, cluster_id); the equality join on the id is
    the only exchange added over plain ``hash_split`` (clusters usually
    cover a small fraction of the corpus — Spark broadcasts it when it
    fits, AQE handles the rest). With ``clusters=None`` this IS
    ``hash_split``.
    """
    if clusters is None:
        return hash_split(df, weights, key_col=key_col, seed=seed, out_col=out_col)
    keyed = df.join(
        clusters.select(
            F.col("doc_id").alias(key_col), F.col("cluster_id").alias("__ck")
        ),
        key_col,
        "left",
    ).withColumn("__split_key", F.coalesce("__ck", F.col(key_col)))
    return hash_split(
        keyed, weights, key_col="__split_key", seed=seed, out_col=out_col
    ).drop("__ck", "__split_key")


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    tokens_col: str = "n_tokens",
    group_col: str | None = None,
    key_col: str = "doc_id",
    seed: str = "budget",
    order_expr: Column | None = None,
) -> DataFrame:
    """Deterministic token-budget sampling: keep a pseudo-random subset
    of documents whose combined token count fills ``budget_tokens`` —
    per ``group_col`` when given (the "3B tokens per source" mixture
    recipe), else one global budget.

    Mechanics by composition: rows are ordered by a seeded hash of the
    key (a deterministic shuffle — every executor agrees, re-runs
    agree), ``pack_sequences`` lays token counts along that order, and
    the sample is exactly pack 0: a document is admitted iff the budget
    was not exhausted before its first token. The budget is honored to
    within one document's overshoot (the admitted doc that crosses the
    line stays — matching how packing would consume it). Changing
    ``seed`` redraws the sample; raising the budget only ever ADDS
    documents (prefix property — a 2B-token sample is a subset of the
    3B one, which makes scaling-law data ladders consistent).

    Scale shape is inherited: per-group budgets use a partitioned
    window; the global variant uses pack_sequences' two-level prefix
    sum, never a single-partition window.

    Ordering is by ``(hash, key)`` — the key itself breaks 64-bit hash
    collisions, so admission at the budget boundary is deterministic.
    ``key_col`` must be unique per row (a doc id): rows sharing a key
    value are indistinguishable by any function of the key, and which
    of them crosses the boundary would be partition-order luck.

    ``order_expr`` overrides the layout hash (default ``xxhash64(seed:
    key)``) with a caller-supplied deterministic expression over the
    row — the engine-portability lever: xxhash64 has no DuckDB/ANSI
    twin, so a cross-engine mirror (the catalog oracle) supplies the
    shared md5-prefix hash instead. The expression must be a pure
    function of the row (same determinism contract as the default) and
    collisions are still broken by ``key_col``.
    """
    h = (
        order_expr
        if order_expr is not None
        else F.xxhash64(F.concat_ws(":", F.lit(seed), F.col(key_col).cast("string")))
    )
    packed = pack_sequences(
        df.withColumn("__ord", h),
        max_tokens=budget_tokens,
        tokens_col=tokens_col,
        order_col="__ord",
        partition_cols=[group_col] if group_col else None,
        out_col="__pack",
        tiebreak_col=key_col,
    )
    return packed.filter(F.col("__pack") == 0).drop("__ord", "__pack")


def stratified_hash_sample(
    df: DataFrame,
    rates: Mapping[str, float],
    strata_col: str,
    key_col: str = "doc_id",
    seed: str = "sample",
    default_rate: float = 1.0,
) -> DataFrame:
    """Keep each row with its stratum's rate, deterministically in
    ``(seed, key)``: rebalancing a corpus (downsample the dominant
    language / source / quality band) without a shuffle.

    The rate table is a broadcast join (strata counts are small by
    definition); the keep decision compares the row's hash bucket to the
    stratum rate, so resampling with a higher rate is a superset of the
    lower-rate sample — handy for curriculum re-runs.
    """
    import pyarrow as pa

    schema = pa.schema([(strata_col, pa.string()), ("__rate", pa.float64())])
    rate_rows = ((k, float(v)) for k, v in rates.items())
    rate_df = df.sparkSession.createDataFrame(arrow_rows(rate_rows, schema))
    out = df.join(F.broadcast(rate_df), strata_col, "left")
    keep = _hash_bucket(F.col(key_col), seed) < (
        F.coalesce(F.col("__rate"), F.lit(default_rate)) * _BUCKETS
    )
    return out.filter(keep).drop("__rate")


def temperature_resample(
    df: DataFrame,
    temperature: float,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "mix",
    target_fraction: float = 1.0,
) -> DataFrame:
    """Temperature-based source rebalancing — the standard multi-source
    mixing rule (multilingual/multi-corpus pretraining): sample source i
    with probability ∝ (n_i/N)^(1/T), so T=1 keeps natural proportions
    and T→∞ approaches uniform-over-sources, up-weighting rare sources
    at the head corpus's expense.

    Implementation is one aggregation + a broadcast: per-source counts
    → renormalized target share → per-source keep rate
    ``target_fraction · N · p_i / n_i`` (capped at 1 — sampling without
    replacement cannot up-sample; rare sources saturate at keeping
    everything, the classic behavior). The keep decision reuses the
    deterministic md5 bucket of (seed, key): row-local, rerun-stable,
    no shuffle of the corpus itself.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    # single-group windows are fine HERE: input is one row per source
    # (bounded by contract). The partition key is a column-derived
    # constant (__n % 1) rather than an empty spec so WindowExec doesn't
    # WARN "No Partition Defined" on every run — the ratio-table pattern
    # shared with dsir/build_vocabulary.
    w = Window.partitionBy(F.col("__n") % 1)
    total = F.sum("__n").over(w)
    share = F.pow(F.col("__n") / total, F.lit(1.0 / temperature))
    norm = F.sum(share).over(w)
    rates = counts.select(
        group_col,
        F.least(
            F.lit(1.0),
            F.lit(target_fraction) * (share / norm) * (total / F.col("__n")),
        ).alias("__rate"),
    )
    out = df.join(F.broadcast(rates), group_col, "left")
    keep = _hash_bucket(F.col(key_col), seed) < (
        F.coalesce(F.col("__rate"), F.lit(0.0)) * _BUCKETS
    )
    return out.filter(keep).drop("__rate")


def source_quota(
    df: DataFrame,
    max_per_group: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "quota",
    out_col: str = "quota_rank",
) -> DataFrame:
    """Per-group document cap (the web-corpus "at most N pages per
    domain" rule): keep at most ``max_per_group`` rows per group, chosen
    by hash order of ``(seed, key)`` — a pure function of the data, so
    reruns, repartitions, and late shards elect the same winners (unlike
    arrival-order ``limit``). Emits ``out_col`` (1-based rank within the
    group) alongside the surviving rows.

    Because the rank filter sits directly on the ``row_number``, Catalyst
    plans a WindowGroupLimit pair: every map task pre-trims to the top
    ``max_per_group`` per group BEFORE the exchange, so the shuffle
    carries at most ``max_per_group × map_partitions`` rows per group —
    a pathologically dominant domain never materializes on one reducer.
    (Keep the filter fused to this op; splitting rank and filter across a
    materialization boundary loses the pushdown.)
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return df.withColumn(out_col, F.row_number().over(w)).filter(
        F.col(out_col) <= max_per_group
    )


def cluster_quota(
    df: DataFrame,
    centroids: DataFrame,
    max_per_cluster: int,
    vec_col: str = "embedding",
    key_col: str = "doc_id",
    seed: str = "cluster-quota",
) -> DataFrame:
    """Diversity-balanced sampling: cap how many documents any one
    embedding cluster contributes. ``assign_ivf_buckets`` (row-local
    literal-centroid scoring — zero shuffle) labels each doc with its
    nearest ``kmeans_fit`` centroid; ``source_quota`` then keeps at most
    ``max_per_cluster`` per bucket by deterministic hash order.

    The mixture-shaping counterpart of per-domain caps: domains bound
    *provenance* concentration, clusters bound *semantic* concentration
    (one topic flooding the corpus through many domains slips past a
    domain cap but not this)."""
    from temporai_mivdp_spark.llmdata.similarity import assign_ivf_buckets

    labeled = assign_ivf_buckets(
        df, centroids, vec_col=vec_col, id_col=key_col, keep_all=True
    )
    return source_quota(
        labeled,
        max_per_group=max_per_cluster,
        group_col="bucket",
        key_col=key_col,
        seed=seed,
    )


def deterministic_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "shuffle",
) -> DataFrame:
    """Global deterministic training-order shuffle: total order by
    ``md5(seed || key)`` (key as the tie-break for hash collisions).
    Changing ``seed`` re-deals the epoch order; the same seed always
    reproduces it, independent of input partitioning or cluster size —
    the property ``df.orderBy(rand())`` lacks.

    Physical plan is Spark's distributed sort (sample boundaries ->
    range exchange -> per-partition sort), the same machinery as any
    global ``orderBy``; downstream writes preserve the order per output
    file, which is exactly the contract sequence packing and epoch
    sharding need.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string")))
    return df.orderBy(h.asc(), F.col(key_col).asc())


def shard_assign(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    seed: str = "shard",
    shard_col: str = "shard",
    order_col: str = "shard_order",
) -> DataFrame:
    """Deterministic shard assignment + within-shard training order for
    a sharded corpus writer: ``shard = md5_32(seed||key) % n_shards``
    and ``order = md5('order:'||seed||key)`` — the
    ``deterministic_shuffle`` key restricted to a shard. Both are
    row-local projections (no shuffle, no RNG state); the writer then
    does ``df.repartition(n_shards, shard).sortWithinPartitions(order)``
    and gets byte-reproducible, evenly-loaded output files on ANY
    cluster size — the property a ``repartition().orderBy(rand())``
    layout lacks. One shard = one write task = one bounded sort, which
    is how output sharding is SUPPOSED to bound per-task state at
    100 TB (pick n_shards so corpus/n_shards fits a task). Changing
    ``seed`` re-deals both placement and order (epoch reshuffling
    without rewriting upstream stages). Portable: both hashes have
    exact DuckDB twins (see ``_hash_bucket``)."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    key = F.col(key_col).cast("string")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), key)), 1, 8), 16, 10
    ).cast("long")
    order = F.md5(F.concat(F.lit("order:" + seed), key))
    return df.withColumn(shard_col, h % n_shards).withColumn(order_col, order)


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    partition_cols: Sequence[str] | None = None,
    out_col: str = "pack_id",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in
    ``order_col`` order and each is assigned the pack (context-window
    index) its FIRST token lands in: ``floor(exclusive_cumsum /
    max_tokens)``.

    ``partition_cols`` shards the stream: each shard packs independently
    in parallel, ``pack_id`` is unique within a shard, and
    (shard, pack_id) is the global key — the standard layout, since
    training shards are independent anyway.

    With ``partition_cols=None`` the GLOBAL packing is still fully
    distributed — a two-level prefix sum instead of the naive
    single-partition ``Window.orderBy``: split the key space into range
    shards, cumsum within each shard, then add per-shard offsets from a
    tiny exclusive-cumsum table (#shards rows) broadcast back.

    The shard boundaries are computed ONCE (``percentile_approx`` of
    ``order_col``, collected to the driver — this op is therefore
    eager, it runs a small aggregate job when called) and the shard id
    is a row-local balanced comparison tree over those literals.
    Row-local assignment is what makes the plan CORRECT, not just fast:
    ``repartitionByRange`` + ``spark_partition_id()`` looks equivalent,
    but each of the two consumers (window pass, offsets pass) would
    re-execute the range exchange — Spark does not reuse range
    exchanges across subtrees (verified on 4.1) — and each execution
    re-SAMPLES boundaries with a different seed, so row→pid could
    disagree between the passes and silently corrupt the offsets. The
    boundaries need not be exact quantiles (any split is valid — skew
    only costs balance); they must only be consistent, which one
    driver-side computation guarantees. Requires a numeric
    ``order_col``; bit-identical to the naive global window for unique
    keys.

    ``tiebreak_col`` appends a secondary sort column so equal
    ``order_col`` values (hash collisions, when the order is a seeded
    hash) still yield one total order. It composes with the global
    path for free: shard assignment is a row-local function of the
    ``order_col`` VALUE, so tied rows always land in the same shard and
    the within-shard window sees every member of the tie.
    """
    order_cols = (
        [F.col(order_col).asc(), F.col(tiebreak_col).asc()]
        if tiebreak_col
        else [F.col(order_col).asc()]
    )
    parts = list(partition_cols) if partition_cols else []
    if parts:
        w = Window.partitionBy(*parts).orderBy(*order_cols)
        cum_before = F.coalesce(
            F.sum(tokens_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        )
        return df.withColumn(out_col, F.floor(cum_before / F.lit(max_tokens)))

    n_shards = min(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")), 256
    )
    qs = [i / n_shards for i in range(1, n_shards)]
    sampled = df.agg(
        F.percentile_approx(F.col(order_col), qs, 10_000).alias("__b")
    ).first()["__b"]
    bounds = sorted(set(sampled)) if sampled else []

    def pid_expr(v: Column, lo: int, hi: int) -> Column:
        # count of boundaries <= v, as a depth-log2(n) when-tree (stays
        # in codegen; a linear scan over an array literal would run
        # interpreted per row)
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (
            F.when(v < F.lit(bounds[mid]), pid_expr(v, lo, mid))
            .otherwise(pid_expr(v, mid + 1, hi))
        )

    v = F.col(order_col)
    # nulls sort first under the window's default asc_nulls_first —
    # pin them to shard 0 (v < lit(...) is null-valued for null v,
    # which would otherwise fall through to the LAST shard)
    pid = F.when(v.isNull(), F.lit(0)).otherwise(pid_expr(v, 0, len(bounds)))
    sharded = df.withColumn("__pid", pid)

    wp = Window.partitionBy("__pid").orderBy(*order_cols)
    local_cum = F.coalesce(
        F.sum(tokens_col).over(wp.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    # exclusive cumsum of per-shard totals: #shards rows, so the
    # single-partition window here is O(parallelism), not O(rows); the
    # offsets pass re-scans the source but its shuffle is #shards rows
    # of partial sums (map-side combined)
    wo = Window.orderBy("__pid")
    offsets = (
        sharded.groupBy("__pid")
        .agg(F.sum(tokens_col).alias("__tot"))
        .select(
            "__pid",
            F.coalesce(
                F.sum("__tot").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("long"),
            ).alias("__off"),
        )
    )
    out = sharded.join(F.broadcast(offsets), "__pid", "left").withColumn(
        out_col, F.floor((F.col("__off") + local_cum) / F.lit(max_tokens))
    )
    return out.drop("__pid", "__off")


def chunk_documents(
    docs: DataFrame,
    chunk_size: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into word-token chunks of at most
    ``chunk_size`` tokens, consecutive chunks sharing ``overlap`` tokens
    — the context-length-bounded layout for training on documents longer
    than the model window (and the standard RAG passage shape).

    Distinct from ``pack_sequences``: packing concatenates SHORT docs
    into full windows; chunking splits LONG docs so no chunk exceeds
    the window. A pipeline typically chunks, then packs the chunks.

    Entirely row-local — tokenize, compute the chunk count, explode a
    chunk-index sequence, slice — so the op adds ZERO shuffles to
    whatever plan it is embedded in; at 100 TB it is a flat map over
    the scan, and the output inherits the input's partitioning by
    ``id_col`` prefix. Tokens come from ``dedup.words``, as in the
    dedup family, so chunk boundaries agree with shingle/token
    accounting elsewhere in the pipeline.

    Chunk starts sit at multiples of ``stride = chunk_size - overlap``;
    the final chunk is the ragged tail (shorter than ``chunk_size``,
    never empty). Docs with at most ``chunk_size`` tokens yield
    themselves as chunk 0. Returns (id, chunk_id, chunk_text,
    n_tokens) with chunk_id dense from 0 per document.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap=} {chunk_size=}")
    stride = chunk_size - overlap
    from .dedup import words

    toks = docs.select(id_col, words(F.col(text_col)).alias("__toks"))
    # array_size (null-propagating), not size (-1 sentinel): a null doc
    # must produce ZERO chunks — with size(null) = -1 the when() below
    # counted one chunk of null text (edgecase_check catch); with a null
    # n the chunk count is null and the explode drops the row
    n = F.array_size("__toks")
    # chunks = 1 + ceil((n - chunk_size) / stride) for n > chunk_size:
    # the first chunk covers chunk_size tokens, each later one extends
    # coverage by stride. Integer form (n - overlap - 1) div stride + 1
    # avoids a double-typed ceil in the codegen.
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.floor((n - F.lit(overlap) - 1) / F.lit(stride)) + 1
    ).cast("int")
    chunked = toks.select(
        id_col,
        "__toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice("__toks", F.col("chunk_id") * stride + 1, chunk_size)
    return chunked.select(
        id_col,
        "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


def sample_exact_k(
    df: DataFrame,
    k: int,
    key_col: str = "doc_id",
    seed: str = "exact-k",
) -> DataFrame:
    """Exactly ``k`` rows (fewer only if the input has fewer), drawn
    uniformly and DETERMINISTICALLY: the k smallest md5 hashes of
    ``(seed, key)``. Rate-based sampling (``stratified_hash_sample``)
    cannot hit an exact budget; ``df.limit(k)`` is arrival-order and
    changes under repartitioning. This is a pure function of the data —
    reruns, shard order, and engine changes elect the same rows, and a
    larger k' > k elects a superset (hash order is fixed), which is what
    an eval-set curator wants when budgets grow.

    Plan shape: ``orderBy(hash).limit(k)`` becomes TakeOrderedAndProject
    — each map task keeps its local top-k heap and the driver merges
    #partitions × k candidates, so there is no global sort and no
    shuffle of the losers. Driver memory is O(k): keep k in the
    "eval-set" range (thousands), not the "training-split" range — at
    that scale use ``hash_split``/``stratified_hash_sample`` rates.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string"))), 1, 16
        ),
        16,
        10,
    ).cast("decimal(20,0)")
    return (
        df.withColumn("__h", h)
        .orderBy(F.col("__h").asc(), F.col(key_col).asc())
        .limit(k)
        .drop("__h")
    )


def weighted_sample_k(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    seed: str = "ws",
    priority_col: str | None = None,
) -> DataFrame:
    """Exactly ``k`` rows drawn WITHOUT replacement with probability
    proportional to ``weight_col`` — Efraimidis & Spirakis (2006) A-ES:
    each row gets the priority ``-ln(u) / w`` for a uniform ``u`` and is
    selected iff its priority is among the k smallest (equivalent to the
    classic ``u^(1/w)`` top-k form, but the log form needs no pow). The
    one-pass weighted-reservoir algorithm every curation pipeline uses
    for "sample 10k docs, long documents proportionally more often" /
    importance-weighted eval draws.

    Derandomized and engine-portable like the rest of this module:
    ``u = (h + 1) / 2^52`` with ``h`` the 52-bit md5 prefix of
    ``seed || key`` — ``h + 1 ≤ 2^52`` is exact in a double and the
    division is by a power of two, so ``u ∈ (0, 1]`` is exact; ``ln``
    of the same bits is the same bits on every engine, and the final
    divide by the weight is one IEEE op. Reruns, shard order, and
    engines elect the SAME sample, and scaling every weight by a
    constant c scales every priority by 1/c — the ORDER, and therefore
    the sample, is invariant (pinned in tests). Rows with null or
    non-positive weight are excluded (they have zero selection mass).

    Plan shape: row-local priority then ``orderBy().limit(k)`` —
    TakeOrderedAndProject per-partition heaps, no global sort, driver
    memory O(k) (same contract as ``sample_exact_k``).
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(4503599627370496.0)  # 2^52
    pri = -F.log(u) / F.col(weight_col).cast("double")
    out = (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__pri", pri)
        .orderBy(F.col("__pri").asc(), F.col(key_col).asc())
        .limit(k)
    )
    if priority_col is None:
        return out.drop("__pri")
    return out.withColumnRenamed("__pri", priority_col)
