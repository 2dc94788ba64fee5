"""Data Selection via Importance Resampling (DSIR) — domain-targeted
corpus selection with hashed n-gram features.

The published recipe (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling"): fit two bag-of-hashed-ngram
distributions — one on a small TARGET corpus (the domain you want more
of), one on the RAW crawl — and score every raw document by the
log-likelihood ratio of its tokens under the two; resample the crawl
proportionally to the ratio. It is the standard way to tilt a 100 TB
crawl toward a domain without a trained classifier.

Spark-first shape, every stage bounded:

* the feature space is ``n_buckets`` hashed slots (default 4096), so
  BOTH distribution fits are explode → hash → groupBy(bucket) with
  map-side combine — the shuffle carries at most ``n_buckets`` rows per
  partition regardless of corpus size;
* the log-ratio table is an ``n_buckets``-row broadcast dimension (the
  langid weight-table discipline) — scoring is one broadcast join + one
  doc-keyed map-side-combined SUM, no driver round-trip;
* scores are INTEGER-scaled (round(log-ratio × 1e6) per bucket) so the
  per-doc sum is exact in any partitioning / summation order — the
  module-level float discipline (queries.py docstring);
* selection is either exact top-k on the integer score (deterministic,
  oracle-mirrorable) or Gumbel-top-k resampling (md5-derandomized noise
  — the faithful "sample ∝ exp(score)" form; float comparison at the
  selection boundary, so it is test-verified rather than hash-compared).

Hash portability: bucket = ``int(md5(token)[:8], 16) % n_buckets`` —
bit-identical in DuckDB (``('0x' || substr(md5(t),1,8))::BIGINT``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from temporai_mivdp_spark.llmdata.dedup import words

#: integer scaling for log-ratio scores: 1e-6 nat resolution, exact
#: 64-bit sums for any realistic document length
_SCALE = 1_000_000


def _token_buckets(
    docs: DataFrame, n_buckets: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, bucket) per token occurrence: normalize → whitespace split →
    32-bit md5 hash → modulo. Row-local until the caller aggregates."""
    toks = docs.select(
        F.col(id_col),
        F.explode(words(F.col(text_col))).alias("__tok"),
    ).filter(F.col("__tok") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("__tok")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    return toks.select(F.col(id_col), bucket.alias("bucket"))


def dsir_log_ratios(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """The n_buckets-row log-ratio dimension: for each hashed bucket,
    ``score = round(1e6 * (ln P_target(b) - ln P_raw(b)))`` with
    Laplace smoothing ``P(b) = (count_b + 1) / (total + n_buckets)``.

    Two bounded aggregations (≤ n_buckets rows each) full-outer-joined —
    buckets unseen on a side count 0 and still get a finite smoothed
    score. The result broadcasts; persist it to reuse one fit across
    many scoring runs.
    """
    def side(df: DataFrame, name: str) -> DataFrame:
        counts = (
            _token_buckets(df.select(F.lit(0).alias("__id"), text_col),
                           n_buckets, text_col, "__id")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(f"__c_{name}"))
        )
        return counts

    t = side(target, "t")
    r = side(raw, "r")
    # totals ride along as window sums over the tiny joined table — no
    # extra pass over either corpus
    joined = t.join(r, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("__c_t", F.lit(0)).alias("__c_t"),
        F.coalesce("__c_r", F.lit(0)).alias("__c_r"),
    )
    # single-group window over the ≤4096-row joined table — BOUNDED by
    # construction. Partition key is ``bucket % 1`` (constant 0) rather
    # than lit(1): Catalyst folds a literal partition key away entirely,
    # leaving an empty window spec that WARNs "No Partition Defined"
    # at every run; the column-derived constant keeps the spec populated
    # (one hash-exchange group of ≤4096 rows) and the logs clean.
    w = Window.partitionBy(F.col("bucket") % 1)
    log_ratio = (
        F.log((F.col("__c_t") + 1) / (F.sum("__c_t").over(w) + n_buckets))
        - F.log((F.col("__c_r") + 1) / (F.sum("__c_r").over(w) + n_buckets))
    )
    return joined.select(
        "bucket",
        F.round(log_ratio * _SCALE).cast("long").alias("score"),
    )


def dsir_importance(
    raw: DataFrame,
    ratios: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document importance: the integer sum of bucket scores over the
    document's tokens (∝ log ∏ P_t/P_r). One explode + broadcast join +
    map-side-combined sum; docs with no tokens surface with importance 0
    and ``n_scored`` 0 via the left join back."""
    scored = (
        _token_buckets(raw, n_buckets, text_col, id_col)
        .join(F.broadcast(ratios), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce("score", F.lit(0))).alias("importance"),
            F.count(F.lit(1)).cast("long").alias("n_scored"),
        )
    )
    return (
        raw.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("importance", F.lit(0)).cast("long").alias("importance"),
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
        )
    )


def _flag_top_k_by_threshold(
    importance: DataFrame,
    key: Column,
    k: int,
    id_col: str,
    out_col: str,
) -> DataFrame:
    """Flag the k largest rows under (``key`` desc, id asc) WITHOUT a
    global sort: the composite ``struct(-key, id)`` makes that ordering
    a plain ascending struct comparison, so the k-th boundary is
    ``orderBy(composite).limit(k)`` — TakeOrderedAndProject, per-
    partition k-row heaps merged on the driver, never a single-partition
    shuffle — reduced to ONE row by ``max``. The 1-row boundary
    broadcasts back and every row flags by comparison. Exactly the
    row_number()-over-global-window semantics (total order, exact k
    flags), at the cost of one extra scan of the narrow composite
    projection instead of shipping the whole frame through one window
    task. ``key`` must be non-null; ``k <= 0`` flags nothing."""
    comp = F.struct((-key).alias("neg_key"), F.col(id_col).alias("tie"))
    boundary = (
        importance.select(comp.alias("__comp"))
        .orderBy(F.col("__comp").asc())
        .limit(k)
        .agg(F.max("__comp").alias("__boundary"))
    )
    return (
        importance.crossJoin(F.broadcast(boundary))
        # null boundary = k<=0 (limit(0) → max over nothing): flag none
        .withColumn(out_col, F.coalesce(comp <= F.col("__boundary"), F.lit(False)))
        .drop("__boundary")
    )


def dsir_top_k(
    importance: DataFrame,
    k: int,
    id_col: str = "doc_id",
    out_col: str = "selected",
) -> DataFrame:
    """Deterministic selection: flag the ``k`` highest-importance docs
    (ties broken by ascending id — a total order, so the flag is exact
    and oracle-mirrorable) via the broadcast-threshold form of
    ``_flag_top_k_by_threshold`` — per-partition top-k heaps, no
    single-partition global window, so the plan holds at 10^10 docs."""
    return _flag_top_k_by_threshold(
        importance, F.col("importance").cast("long"), k, id_col, out_col
    )


def dsir_gumbel_key(
    seed: str, id_col: str = "doc_id", temperature: float = 1.0
) -> Column:
    """The integer-scaled Gumbel selection key: ``round(importance/T) +
    round(1e6 · g)`` with ``g = -ln(-ln(u))``, ``u = (md5_32(seed||id)
    + 0.5) / 2^32``. Scaling g to 1e-6-nat resolution keeps the key a
    64-bit integer — exact comparisons, hash-comparable output, and the
    same robustness contract as the catalog's other log-domain floats
    (round-to-6-decimals absorbs last-ulp libm differences everywhere
    off a measure-zero rounding boundary). Deterministic in (seed, id),
    partitioning-invariant; DuckDB mirror:
    ``round(importance/T) + round(1e6 * -ln(-ln(
    (('0x'||substr(md5(seed||id),1,8))::BIGINT + 0.5)/4294967296)))``."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(2**32))
    g = -F.log(-F.log(u))
    return (
        F.round(F.col("importance") / temperature).cast("long")
        + F.round(g * _SCALE).cast("long")
    )


def dsir_gumbel_sample(
    importance: DataFrame,
    k: int,
    seed: str = "dsir",
    id_col: str = "doc_id",
    temperature: float = 1.0,
    key_col: str | None = None,
) -> DataFrame:
    """Importance RESAMPLING proper — k draws without replacement with
    probability ∝ exp(importance / 1e6 / temperature) — via the Gumbel
    top-k trick with the md5-derandomized INTEGER key of
    ``dsir_gumbel_key`` (ties broken by ascending id). Selection uses
    the same broadcast-threshold plan as ``dsir_top_k`` — per-partition
    heaps, no global window — and because the key is integer-exact the
    selection is hash-comparable, not merely test-verified. Pass
    ``key_col`` to also emit the key for oracle comparison."""
    key = dsir_gumbel_key(seed, id_col, temperature)
    out = _flag_top_k_by_threshold(importance, key, k, id_col, "selected")
    if key_col is not None:
        out = out.withColumn(key_col, key)
    return out
