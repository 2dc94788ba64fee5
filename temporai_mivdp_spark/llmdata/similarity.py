"""Similarity search over embedding columns (``array<float>``).

Three tiers:

* ``brute_force_topk`` — exact cosine top-k of every probe against the
  corpus. The probe set is broadcast; the corpus streams through one
  narrow projection. Per-probe cost is linear — the correctness baseline
  and fine for probe sets x millions of vectors.
* ``assign_ivf_buckets`` + ``ivf_topk`` — IVF-style approximate search:
  a small deterministic centroid set partitions the corpus (the inverted
  file); probes search only their ``nprobe`` nearest centroids' buckets.
  At 100 TB this is the difference between scanning the corpus per probe
  and scanning ~nprobe/ncentroids of it; the bucket assignment is also the
  natural blocking key for embedding near-dup (dedup module).
* ``lsh_signatures`` + ``lsh_topk`` — random-hyperplane (SimHash-style)
  LSH: sign-of-projection bits onto pseudo-random ±1 hyperplanes
  derandomized from md5("table:bit:dim") parity and inlined as literal
  arrays — no fitted model, KB-sized plan constants identical on every
  executor (and re-derivable by the DuckDB oracle). Candidates are
  equality-join matches on (table, bucket); exact cosine re-ranks them.
  Complements IVF: no centroid set to maintain, and table count / bit
  width trade recall vs. candidate volume at plan-build time.

All math is JVM-side Catalyst higher-order functions (zip_with +
aggregate) over doubles — no UDFs, no Python in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from temporai_mivdp_spark.session import arrow_rows


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns in double (HOF fold).

    A flat ``a[0]*b[0] + a[1]*b[1] + ...`` expansion at a known dim was
    measured 3-5x SLOWER than this fold at dim=64 (the 128-element_at
    expression tree defeats codegen); keep the fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns, computed in double
    (sequential left-fold — deterministic and DuckDB-comparable)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def finite_vectors(
    df: DataFrame, vec_col: str = "embedding", nonzero: bool = False
) -> DataFrame:
    """Corrupt-embedding guard shared by every corpus-facing similarity /
    embedding-dedup function: drop null vectors and vectors containing
    any non-finite coordinate (NaN / ±inf).

    Why exclusion (not propagation): a null vector has no similarity to
    anything, and NaN poisons every dot product it touches — at corpus
    scale one corrupt row would otherwise seed a NaN centroid, rank
    nondeterministically (NaN ordering is a classic engine-semantics
    fork — measured by ``tools/edgecase_check.py --embeddings``), or
    silently occupy top-k slots. Excluding corrupt rows is the standard
    curation semantic and keeps every downstream comparison within IEEE
    totally-ordered finite doubles, where the DuckDB oracles agree bit
    for bit. Row-local filter — no shuffle, safe on a 100 TB scan.

    ``nonzero=True`` additionally drops all-zero vectors — required by
    every COSINE consumer (a zero vector has no direction; its 0/0
    cosine is NaN, which sorts LARGEST in both engines and would occupy
    the top-1 slot of every probe). Mean/centroid consumers keep zero
    vectors: a zero mean contribution is well-defined, and spherical
    assignment ranks zero vectors by the deterministic id tie-break.
    """
    v = F.col(vec_col)
    corrupt = F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    # null vec: isNotNull() is false, so the null-valued `corrupt` never
    # decides; three-valued AND resolves to false and the row drops
    out = df.filter(v.isNotNull() & ~corrupt)
    if nonzero:
        out = out.filter(F.exists(v, lambda x: x != F.lit(0.0)))
    return out


def _check_probe_contract(
    probes: DataFrame, max_probe_rows: int | None, fn_name: str
) -> None:
    """Enforce the serving-path "probe set is small by contract" invariant
    LOUDLY (round-12 hardening of the documented-but-unenforced contract):
    the serving functions collect/broadcast the probe side, so an
    over-large probe frame would otherwise OOM the driver with no signal
    about which contract was broken. The check runs ``limit(max+1)``
    then counts ON THE EXECUTORS — it never collects rows, so the guard
    itself cannot cause the failure it prevents, and it scans at most
    ``max_probe_rows + 1`` probe rows regardless of the frame's size.
    ``max_probe_rows=None`` disables (caller takes responsibility)."""
    if max_probe_rows is None:
        return
    if max_probe_rows < 1:
        raise ValueError(f"max_probe_rows must be >= 1 or None, got {max_probe_rows}")
    n = probes.limit(max_probe_rows + 1).count()
    if n > max_probe_rows:
        raise ValueError(
            f"{fn_name}: probe set exceeds the serving-path contract "
            f"(> {max_probe_rows} rows). The probe side is collected and "
            "broadcast, so it must stay driver-small. For a large probe "
            "set, run the batch path (brute_force_topk / ivf_topk over "
            "DataFrames) instead, or raise max_probe_rows explicitly "
            "(max_probe_rows=None disables the guard) if the driver "
            "genuinely has the memory."
        )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact top-k by cosine for each probe vector.

    Probes broadcast (small side); ties break on corpus id so results are
    deterministic. Self-matches (same id) are excluded.

    Norms are computed once per side BEFORE the cross join — the naive
    per-pair cosine evaluates both norms probes× (corpus side) and
    corpus× (probe side) redundantly; per-pair work should be one dot
    product.
    """
    p = finite_vectors(probes, vec_col, nonzero=True).select(
        F.col(probe_id_col).alias("__pid"), F.col(vec_col).alias("__pvec")
    ).withColumn("__pn", _norm(F.col("__pvec")))
    scored = (
        finite_vectors(corpus, vec_col, nonzero=True)
        .select(id_col, vec_col)
        .withColumn("__cn", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(p))
        .filter(F.col(id_col) != F.col("__pid"))
    )
    sim = scored.withColumn(
        "cosine",
        F.round(
            _dot(F.col("__pvec"), F.col(vec_col)) / (F.col("__pn") * F.col("__cn")),
            6,
        ),
    )
    w = Window.partitionBy("__pid").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__pid").alias(probe_id_col),
            F.col(id_col).alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q[i] = round(x[i] / scale)`` — 4× smaller than float32 at rest and
    over broadcast/shuffle, the standard storage tier for billion-vector
    corpora. Row-local HOF projection, no shuffle.

    Cosine between quantized vectors needs NO dequantization: the
    per-vector scale cancels in ``dot/(|a||b|)``, so similarity search
    runs directly on the tinyint arrays (``cosine_expr`` accepts them —
    every element is cast to double on the fly). Zero vectors get
    scale NULL and an all-zero qvec.
    """
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax > 0, amax / F.lit(127.0))
    q = F.transform(
        v,
        lambda x: F.coalesce(
            F.round(x.cast("double") / scale), F.lit(0.0)
        ).cast("tinyint"),
    )
    return df.withColumn(out_col, q).withColumn(scale_col, scale)


def dequantize_int8(
    df: DataFrame,
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_int8`` (lossy: values land on the 254-step
    grid): ``x[i] = q[i] * scale`` as float."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(qvec_col),
            lambda x: (x.cast("double") * F.coalesce(F.col(scale_col), F.lit(0.0))).cast(
                "float"
            ),
        ),
    )


def brute_force_topk_arrow(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    max_probe_rows: int | None = 100_000,
) -> DataFrame:
    """Exact cosine top-k, vectorized: the Arrow/numpy scale path of
    ``brute_force_topk`` (same contract: round-6 cosine, id tie-break,
    self-match excluded — the parity test pins equivalence).

    Plan: the probe matrix is collected once (probes are the small side
    by contract — same assumption the HOF version's broadcast makes) and
    closed over a ``mapInPandas`` stage; each Arrow batch of the corpus
    becomes one BLAS matmul ``C_normed @ P_normed.T`` — SIMD over the
    whole batch instead of an interpreted fold per pair — and emits only
    its LOCAL top-k per probe under the total order (-cosine, id). The
    global window then ranks ``num_batches x probes x k`` candidate rows
    instead of ``|corpus| x probes`` scored rows, which is what makes the
    final sort disappear at 100 TB: per-executor reduction first, tiny
    global merge second. Local top-k under a total order is lossless —
    the global top-k is contained in the union of per-batch top-ks.
    """
    import numpy as np
    import pandas as pd

    corpus = finite_vectors(corpus, vec_col, nonzero=True)
    probes = finite_vectors(probes, vec_col, nonzero=True)
    _check_probe_contract(probes, max_probe_rows, "brute_force_topk_arrow")
    pdf = probes.select(probe_id_col, vec_col).toPandas()
    pids = pdf[probe_id_col].to_numpy()
    P = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    P /= np.linalg.norm(P, axis=1, keepdims=True)

    def score_batches(batches):
        for b in batches:
            if len(b) == 0:
                continue
            ids = b[id_col].to_numpy()
            C = np.stack(b[vec_col].to_numpy()).astype(np.float64)
            C /= np.linalg.norm(C, axis=1, keepdims=True)
            sims = np.round(C @ P.T, 6)  # (batch, probes)
            sims[ids[:, None] == pids[None, :]] = -np.inf  # self-match
            kk = min(k, len(ids))
            # lossless local cut: top-kk by (-cosine, id) per probe
            out_pid, out_nid, out_cos = [], [], []
            for j in range(len(pids)):
                col = sims[:, j]
                cand = np.argpartition(-col, kk - 1)[:kk] if kk < len(ids) else np.arange(len(ids))
                cand = cand[np.lexsort((ids[cand], -col[cand]))][:kk]
                cand = cand[col[cand] > -np.inf]  # drop masked self-matches
                out_pid.append(np.full(len(cand), pids[j]))
                out_nid.append(ids[cand])
                out_cos.append(col[cand])
            yield pd.DataFrame(
                {
                    "__pid": np.concatenate(out_pid),
                    "neighbor_id": np.concatenate(out_nid),
                    "cosine": np.concatenate(out_cos),
                }
            )

    local = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, schema="__pid long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("__pid").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__pid").alias(probe_id_col),
            "neighbor_id",
            "cosine",
            "rank",
        )
    )


def _centroid_array(centroids: DataFrame, centroid_id_col: str, vec_col: str) -> Column:
    """The centroid set as ONE literal array-of-structs column
    (cid, cvec, cn). Collecting it is a tiny driver action (ncentroids
    rows — an IVF coarse quantizer is small by construction); inlining
    it makes centroid scoring a row-local expression, which deletes the
    corpus-wide machinery the DataFrame form needs (cross join + a
    per-vector argmax shuffle). Python's left-to-right ``sum`` matches
    the engine-side sequential fold bit-for-bit (both IEEE double), so
    the inlined norms rank identically to computed ones."""
    rows = centroids.select(
        F.col(centroid_id_col).alias("cid"), F.col(vec_col).alias("cvec")
    ).collect()
    if not rows:
        raise ValueError(
            "empty centroid set: assignment against zero centroids has no "
            "meaning (and a zero-length literal array would make every "
            "bucket NULL downstream)"
        )
    structs = []
    for r in sorted(rows, key=lambda r: r["cid"]):
        vec = [float(x) for x in r["cvec"]]
        structs.append(
            F.struct(
                F.lit(int(r["cid"])).alias("cid"),
                F.array(*[F.lit(x) for x in vec]).alias("cvec"),
                F.lit(float(sum(x * x for x in vec)) ** 0.5).alias("cn"),
            )
        )
    return F.array(*structs)


def _centroid_sims(vec: Column, cents: Column) -> Column:
    """Per-centroid ranking scores of ``vec``: array of (sim, cid)
    structs, sim = dot(c, v)/|c| (the vector's own norm is constant
    within its ranking, so full cosine is unnecessary)."""
    return F.transform(
        cents,
        lambda c: F.struct(
            (_dot(c["cvec"], vec) / c["cn"]).alias("sim"), c["cid"].alias("cid")
        ),
    )


def assign_ivf_buckets(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    keep_all: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine — the
    inverted file), with a deterministic tie-break on centroid id.

    ZERO-shuffle form: the centroid set is inlined as a literal array
    (``_centroid_array``), so assignment is one row-local projection —
    score all centroids with a transform, take the lexicographic
    ``array_max`` of (sim, -cid) structs (max sim, then min cid). The
    previous DataFrame form (broadcast cross join + per-vector
    row_number window) shuffled ncentroids×|corpus| rows just to pick
    each vector's argmax; at 100 TB that shuffle IS the job, and it
    carried no information the map side didn't already have.

    ``keep_all=True`` appends ``bucket`` to EVERY input column instead of
    projecting down to (id, vec, bucket) — for consumers that label and
    keep going (``cluster_quota``), where re-joining the projection back
    on the id would be a pointless self-join."""
    cents = _centroid_array(centroids, centroid_id_col, vec_col)
    best = F.array_max(
        F.transform(
            _centroid_sims(F.col(vec_col), cents),
            lambda s: F.struct(s["sim"].alias("sim"), (-s["cid"]).alias("negcid")),
        )
    )
    # coalesce to a sentinel that is UNREACHABLE (the centroid array is
    # literal and non-empty — _centroid_array raises otherwise — so
    # array_max never sees an empty array): its purpose is NULLABILITY,
    # not values. A nullable bucket makes every downstream equi-join
    # infer isnotnull(bucket) and push it below the aggregation into the
    # corpus scan, where it RE-EVALUATES this whole centroid-scoring
    # expression once per row in the filter and again in the projection
    # (2x the n_centroids x dim FLOPs of the assignment pass — the
    # round-12 plan audit caught it in embed_kmeans). Non-nullable
    # expressions generate no isnotnull constraint.
    bucket = F.coalesce((-best["negcid"]).cast("long"), F.lit(-1).cast("long")).alias(
        "bucket"
    )
    if keep_all:
        return corpus.withColumn("bucket", bucket)
    return corpus.select(id_col, vec_col, bucket)


def deterministic_centroids(
    corpus: DataFrame, n: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Centroid seed set: the n lowest-id vectors. Deterministic and cheap;
    replaceable by k-means (Spark ML) without changing the plan shape.
    Corrupt rows are excluded first — a null/NaN seed would poison every
    assignment it serves."""
    return (
        finite_vectors(corpus, vec_col, nonzero=True)
        .orderBy(F.col(id_col).asc())
        .limit(n)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias(vec_col))
    )


def mean_vectors(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    count_col: str = "n_vectors",
) -> DataFrame:
    """Element-wise mean embedding per group — the corpus-drift /
    source-fingerprint telemetry op (compare a new shard's per-source
    centroid against the corpus's to catch distribution shift before
    training on it), and the summary half of any cluster report.

    Same bounded-shuffle shape as the ``kmeans_fit`` mean update:
    ``posexplode`` to (group, pos) partial sums (map-side combine keeps
    the wire at groups x dim x partitions rows regardless of corpus
    size), then reassemble each group's array from exactly dim rows via
    ``array_sort(collect_list)``. Null and non-finite vectors are
    excluded from both mean and count (``finite_vectors``).
    """
    ex = finite_vectors(df, vec_col).select(
        group_col, F.posexplode(F.col(vec_col)).alias("__pos", "__x")
    )
    per_pos = ex.groupBy(group_col, "__pos").agg(
        F.sum(F.col("__x").cast("double")).alias("__s"),
        F.count(F.lit(1)).alias("__c"),
    )
    return (
        per_pos.groupBy(group_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__pos"), (F.col("__s") / F.col("__c")).alias("m"))
                )
            ).alias("__arr"),
            F.max(F.when(F.col("__pos") == 0, F.col("__c"))).alias(count_col),
        )
        .select(
            group_col,
            F.transform("__arr", lambda s: s["m"]).alias(vec_col),
            count_col,
        )
    )


def kmeans_fit(
    corpus: DataFrame,
    n: int = 16,
    iterations: int = 8,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_centroids: DataFrame | None = None,
    sample_fraction: float | None = None,
    snap_grid: float | None = None,
) -> tuple[DataFrame, list[float]]:
    """Train the IVF coarse quantizer: spherical k-means (Lloyd's), each
    round expressed as one distributed pass over the corpus.

    Upgrade path promised at ``deterministic_centroids``: seeds in,
    trained inverted file out — ``ivf_topk``/``assign_ivf_buckets``
    consume the result unchanged. The reference has no ANN layer at all
    (single-node pandas ETL); this is the scale-path component a 100 TB
    embedding corpus needs so IVF buckets follow the data's actual
    cluster structure instead of whatever the first n vectors were.

    Round anatomy (why each piece is shaped this way):

    * **Assignment is row-local** — the current centroids are inlined as
      a literal array (``_centroid_array``), so scoring all n centroids
      per vector is one codegen'd projection, zero shuffle (same plan as
      ``assign_ivf_buckets``, here keeping the winning sim).
    * **Mean update is one bounded shuffle** — ``posexplode`` the vector
      and hash-aggregate on (bucket, pos). The explode looks like a
      dim× row blowup, but partial aggregation combines map-side: what
      crosses the wire is at most n_centroids x dim x n_partitions
      partial sums, independent of corpus row count. The per-bucket
      arrays are then reassembled with an ``array_sort(collect_list)``
      over exactly dim rows per bucket.
    * **Per-round materialization, not lineage growth** — each round
      collects the new centroids (n x dim doubles, a KB-scale driver
      action by construction: the coarse quantizer must stay literal-
      array-sized for assignment to stay row-local). The next round's
      plan is rebuilt fresh from the corpus scan, so 20 rounds cost 20
      linear jobs, not one exponentially nested plan.

    Spherical variant: ranking sim is ``dot(c, v)/|c|`` — scale-
    invariant in the centroid, so means need no re-normalization. Empty
    buckets keep their previous centroid (deterministic; no re-seeding
    randomness). Ties on equal sim break to the lower centroid id,
    matching ``assign_ivf_buckets``.

    Returns ``(centroids, history)`` where history[r] is the corpus mean
    of the winning centroid sim after round r (monotone non-decreasing
    up to IEEE rounding — the convergence signal). Stops early when the
    max centroid L2 shift drops below ``tol``.

    ``sample_fraction`` is the 100 TB training lever: each round's
    assignment+mean pass runs over a deterministic hash-sample of the
    corpus (``pmod(xxhash64(id), 1e6) < frac*1e6`` — row-local, the
    same rows every round and every rerun, no RNG state) instead of all
    of it. Centroid quality converges on a fraction of the data long
    before the full corpus adds information; the full corpus only ever
    pays the one row-local ``assign_ivf_buckets`` pass at index-build
    time. ``history`` then reports the sample's mean winning-sim.

    ``snap_grid`` makes the iteration FIXED-POINT: each updated
    centroid coordinate is snapped to the nearest grid multiple
    (``floor(x/grid + 0.5) * grid``) before it re-enters the next
    round's literal array. With inputs pre-quantized to integer-valued
    doubles and ``snap_grid=1.0``, every quantity in the fit — dot
    products, norms², partial sums — is an exactly-representable
    integer in a double (dim 64 × 1e6-scale coords stays under 2^53),
    so the result is bit-identical regardless of summation order:
    across reruns, partitionings, and engines (the ``embed_kmeans``
    catalog oracle replays the fit clause for clause on that
    contract). Without it, the mean update's float summation order can
    drift a last ulp between runs; snapping is the standard fixed-point
    remedy and costs one multiply per coordinate per round.

    Why not ``pyspark.ml.clustering.KMeans``: MLlib's fit returns an
    opaque model object (RDD-era internals, nondeterministic k-means||
    init, Euclidean-only) whose assignment can't be inlined into a
    Catalyst plan; this fit IS the same literal-array assignment the
    search path uses, so train/assign/search share one deterministic
    code path the oracle and tests can replay.
    """
    spark = corpus.sparkSession
    cents = seed_centroids if seed_centroids is not None else deterministic_centroids(
        corpus, n=n, id_col=id_col, vec_col=vec_col
    )
    cur = {
        int(r["centroid_id"]): [float(x) for x in r[vec_col]]
        for r in cents.select("centroid_id", vec_col).collect()
    }
    history: list[float] = []
    src = finite_vectors(corpus, vec_col)
    if sample_fraction is not None and sample_fraction < 1.0:
        src = src.filter(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(1_000_000))
            < F.lit(int(sample_fraction * 1_000_000))
        )
    src = src.select(F.col(vec_col).alias("__v"))
    for _ in range(iterations):
        carr = F.array(
            *[
                F.struct(
                    F.lit(cid).alias("cid"),
                    F.array(*[F.lit(float(x)) for x in vec]).alias("cvec"),
                    F.lit(float(sum(x * x for x in vec)) ** 0.5).alias("cn"),
                )
                for cid, vec in sorted(cur.items())
            ]
        )
        best = F.array_max(
            F.transform(
                _centroid_sims(F.col("__v"), carr),
                lambda s: F.struct(s["sim"].alias("sim"), (-s["cid"]).alias("negcid")),
            )
        )
        # two selects: a generator (posexplode) in the same select as the
        # nested-lambda scoring makes Spark 4.1 re-resolve the lambda and
        # drop the struct-field aliases (FIELD_NOT_FOUND on `sim`)
        scored = src.select(
            (-best["negcid"]).cast("long").alias("__b"),
            best["sim"].alias("__sim"),
            F.col("__v"),
        )
        assigned = scored.select(
            "__b", "__sim", F.posexplode(F.col("__v")).alias("__pos", "__x")
        )
        per_pos = assigned.groupBy("__b", "__pos").agg(
            F.sum(F.col("__x").cast("double")).alias("__s"),
            F.count(F.lit(1)).alias("__c"),
            F.sum("__sim").alias("__ssim"),
        )
        per_bucket = per_pos.groupBy("__b").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__pos"), (F.col("__s") / F.col("__c")).alias("m"))
                )
            ).alias("__arr"),
            F.max(F.when(F.col("__pos") == 0, F.col("__c"))).alias("__n"),
            F.max(F.when(F.col("__pos") == 0, F.col("__ssim"))).alias("__simsum"),
        )
        rows = per_bucket.collect()
        total_n = sum(int(r["__n"]) for r in rows)
        if total_n == 0:
            raise ValueError(
                "kmeans_fit: training pass matched zero vectors"
                + (
                    f" (sample_fraction={sample_fraction} selected no rows — raise it)"
                    if sample_fraction is not None
                    else " (empty corpus)"
                )
            )
        total_sim = sum(float(r["__simsum"]) for r in rows)
        history.append(total_sim / total_n)
        shift = 0.0
        nxt = dict(cur)  # empty buckets keep their previous centroid
        for r in rows:
            mean = [float(s["m"]) for s in r["__arr"]]
            if snap_grid is not None:
                # math.floor on a float is exact IEEE; identical to the
                # oracle's SQL floor(x/grid + 0.5) * grid
                mean = [math.floor(x / snap_grid + 0.5) * snap_grid for x in mean]
            old = cur[int(r["__b"])]
            shift = max(shift, sum((a - b) ** 2 for a, b in zip(mean, old)) ** 0.5)
            nxt[int(r["__b"])] = mean
        cur = nxt
        if shift < tol:
            break
    import pyarrow as pa

    schema = pa.schema([("centroid_id", pa.int64()), (vec_col, pa.list_(pa.float64()))])
    out = spark.createDataFrame(arrow_rows(sorted(cur.items()), schema))
    return out, history


def _route_probes(
    probes: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    vec_col: str,
    probe_id_col: str,
) -> DataFrame:
    """(__pid, __pvec, bucket, __pn) rows: each probe exploded to its
    ``nprobe`` nearest centroids' buckets. Row-local — score the literal
    centroid array, sort by (-sim, cid) (max sim first, ties to the
    lower centroid id), explode the first nprobe. No cross join, no
    window. Shared by the in-memory and persisted-index search paths."""
    cents = _centroid_array(centroids, "centroid_id", vec_col)
    p = probes.select(F.col(probe_id_col).alias("__pid"), F.col(vec_col).alias("__pvec"))
    routed = F.slice(
        F.sort_array(
            F.transform(
                _centroid_sims(F.col("__pvec"), cents),
                lambda s: F.struct((-s["sim"]).alias("negsim"), s["cid"].alias("cid")),
            )
        ),
        1,
        nprobe,
    )
    return (
        p.select("__pid", "__pvec", F.explode(routed).alias("__r"))
        .select("__pid", "__pvec", F.col("__r.cid").cast("long").alias("bucket"))
        .withColumn("__pn", _norm(F.col("__pvec")))
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    max_probe_rows: int | None = 100_000,
) -> DataFrame:
    """Approximate top-k: probes search only their ``nprobe`` nearest
    centroids' buckets. Recall rises with nprobe (== exact when nprobe =
    #centroids). The bucket join is an equality join on the bucket id —
    this is what survives a 1000-executor corpus."""
    assigned = assign_ivf_buckets(
        finite_vectors(corpus, vec_col, nonzero=True),
        centroids,
        vec_col=vec_col,
        id_col=id_col,
    )
    probe_buckets = _route_probes(
        finite_vectors(probes, vec_col, nonzero=True),
        centroids,
        nprobe,
        vec_col,
        probe_id_col,
    )
    candidates = assigned.withColumn("__cn2", _norm(F.col(vec_col))).join(
        F.broadcast(probe_buckets), "bucket"
    ).filter(F.col(id_col) != F.col("__pid"))
    sim = candidates.withColumn(
        "cosine",
        F.round(
            _dot(F.col("__pvec"), F.col(vec_col))
            / (F.col("__pn") * F.col("__cn2")),
            6,
        ),
    )
    w = Window.partitionBy("__pid").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__pid").alias(probe_id_col),
            F.col(id_col).alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def persist_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantize: bool = False,
) -> None:
    """Write the inverted file to disk as a servable index: the corpus
    PARTITIONED BY bucket (one directory per centroid) next to the
    centroid table. The layout IS the index — a probe's search reads
    only its ``nprobe`` bucket directories via Spark partition pruning
    (``ivf_topk_from_index``), so serving cost scales with
    nprobe/ncentroids of the corpus *at the file level*: the other
    buckets are never opened, listed bytes are the whole touch. Rebuild
    when centroids retrain (the assignment is centroid-dependent);
    appending a new shard = assigning it and appending to the same
    partitioned layout.

    ``quantize=True`` stores int8 vectors instead of floats — 4x
    smaller at rest and over the wire, the standard storage tier for
    billion-vector serving. Search needs no dequantization: the
    per-vector scale cancels in cosine, so ``ivf_topk_from_index``
    ranks on the stored tinyints directly (cosines shift by the <1%
    int8 rounding error — ranks are near-identical, exact values are
    not; pick per index, the layout records which)."""
    assigned = assign_ivf_buckets(
        finite_vectors(corpus, vec_col, nonzero=True),
        centroids,
        vec_col=vec_col,
        id_col=id_col,
    )
    if quantize:
        assigned = quantize_int8(assigned, vec_col=vec_col, out_col="__q").select(
            id_col, F.col("__q").alias(vec_col), "bucket"
        )
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/corpus")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def append_to_ivf_index(
    shard: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Rolling ingest for the persisted IVF index: assign a NEW shard
    against the index's own stored centroids (so assignment stays
    consistent with everything already indexed — passing fresher
    centroids here would silently split buckets) and append it into the
    same bucket-partitioned layout. Cost is one row-local pass over the
    shard; the existing corpus is not read, let alone rewritten. Dynamic
    partition append only touches the bucket directories the shard lands
    in. Re-fit + ``persist_ivf_index`` when drift makes the stored
    centroids stale (``mean_vectors`` per bucket vs the centroid table
    is the drift probe). The shard is quantized iff the existing layout
    stores int8 vectors (peeked from the corpus schema — appending
    floats into a quantized index would break the schema, and silently
    quantizing into a float index would skew cosines)."""
    spark = shard.sparkSession
    centroids = spark.read.parquet(f"{path}/centroids")
    assigned = assign_ivf_buckets(shard, centroids, vec_col=vec_col, id_col=id_col)
    stored = spark.read.parquet(f"{path}/corpus").schema[vec_col].dataType
    if stored.elementType.typeName() in ("byte", "tinyint"):
        assigned = quantize_int8(assigned, vec_col=vec_col, out_col="__q").select(
            id_col, F.col("__q").alias(vec_col), "bucket"
        )
    assigned.write.mode("append").partitionBy("bucket").parquet(f"{path}/corpus")


def ivf_index_drift(spark, path: str, vec_col: str = "embedding") -> DataFrame:
    """The re-fit signal for a persisted IVF index: per bucket, the
    cosine between the stored centroid and the bucket's CURRENT mean
    vector, plus the member count. As shards append, data drifts away
    from the centroids it's being routed by; buckets whose
    ``mean_to_centroid_cosine`` sags (or whose counts skew hard) are
    telling you routing quality is decaying — re-fit (``kmeans_fit``)
    and rebuild when that happens, on evidence instead of a schedule.
    One pass over the index (the ``mean_vectors`` bounded shuffle) plus
    a centroid-table broadcast join."""
    corpus = spark.read.parquet(f"{path}/corpus")
    cents = spark.read.parquet(f"{path}/centroids").select(
        F.col("centroid_id").alias("bucket"), F.col(vec_col).alias("__cvec")
    )
    means = mean_vectors(corpus, "bucket", vec_col=vec_col)
    return (
        means.join(F.broadcast(cents), "bucket")
        .select(
            "bucket",
            "n_vectors",
            F.round(cosine_expr(F.col(vec_col), F.col("__cvec")), 6).alias(
                "mean_to_centroid_cosine"
            ),
        )
    )


def ivf_topk_from_index(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    max_probe_rows: int | None = 100_000,
) -> DataFrame:
    """Approximate top-k against a ``persist_ivf_index`` layout. Same
    semantics as ``ivf_topk`` over the same centroids; the difference is
    WHAT gets read: probes are routed row-local, the union of their
    routed buckets is collected (probe sets are small by contract —
    this is the serving path), and the corpus scan carries
    ``bucket IN (...)`` as a PARTITION filter, so non-routed bucket
    directories are skipped at file-listing time. The plan test pins
    the PartitionFilters clause."""
    _check_probe_contract(probes, max_probe_rows, "ivf_topk_from_index")
    centroids = spark.read.parquet(f"{path}/centroids")
    routed = _route_probes(probes, centroids, nprobe, vec_col, probe_id_col)
    # collect the (small, serving-path) probe routing ONCE: the Arrow
    # table feeds both the partition-filter list and — rebuilt as a
    # JVM-local relation (LocalTableScan, no Python worker) — the
    # broadcast join side, instead of re-executing the routing plan a
    # second time inside the join
    table = routed.toArrow()
    probe_buckets = spark.createDataFrame(table)
    needed = sorted(set(table.column("bucket").to_pylist()))
    corpus = (
        spark.read.parquet(f"{path}/corpus")
        .filter(F.col("bucket").isin(needed))
        .withColumn("bucket", F.col("bucket").cast("long"))
    )
    candidates = corpus.withColumn("__cn2", _norm(F.col(vec_col))).join(
        F.broadcast(probe_buckets), "bucket"
    ).filter(F.col(id_col) != F.col("__pid"))
    sim = candidates.withColumn(
        "cosine",
        F.round(
            _dot(F.col("__pvec"), F.col(vec_col)) / (F.col("__pn") * F.col("__cn2")),
            6,
        ),
    )
    w = Window.partitionBy("__pid").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__pid").alias(probe_id_col),
            F.col(id_col).alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def persist_lsh_index(
    corpus: DataFrame,
    path: str,
    tables: int = 4,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> None:
    """The LSH sibling of ``persist_ivf_index``: corpus signatures
    written PARTITIONED BY (table, bucket) — tables x 2^bits directories
    (1024 at the defaults; size ``bits`` so each holds hundreds of
    vectors, same rule as ``lsh_topk``). A probe touches ``tables``
    directories out of all of them, via partition pruning. The plane
    family is derandomized from md5 (``plane_signs``), so the index
    needs no stored model — any later session re-derives the identical
    planes from (tables, bits, dim) alone; those three are pinned in a
    tiny ``params`` table next to the data so readers can't mismatch.
    ``dim`` is peeked ONCE (when not given) and that single value feeds
    both the signature planes and the params table — two independent
    peeks could disagree on a heterogeneous corpus and silently break
    the probe/corpus plane agreement."""
    spark = corpus.sparkSession
    if dim is None:
        row = corpus.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        dim = int(row[0]["d"]) if row else 1
    sig = lsh_signatures(
        corpus, tables=tables, bits=bits, vec_col=vec_col, id_col=id_col, dim=dim
    )
    sig.write.mode("overwrite").partitionBy("table", "bucket").parquet(
        f"{path}/signatures"
    )
    spark.createDataFrame(
        [(tables, bits, dim)], "tables int, bits int, dim int"
    ).write.mode("overwrite").parquet(f"{path}/params")


def lsh_topk_from_index(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    max_probe_rows: int | None = 100_000,
) -> DataFrame:
    """Approximate top-k against a ``persist_lsh_index`` layout — same
    semantics as ``lsh_topk`` at the pinned (tables, bits, dim). Probe
    signatures are computed with the re-derived literal planes, their
    (table, bucket) pairs are collected (serving-path contract: probe
    sets are small), and the signature scan carries them as partition
    filters — only ``<= tables x n_probes`` directories are listed."""
    _check_probe_contract(probes, max_probe_rows, "lsh_topk_from_index")
    p = spark.read.parquet(f"{path}/params").first()
    tables, bits, dim = int(p["tables"]), int(p["bits"]), int(p["dim"])
    sig = lsh_signatures(
        probes, tables=tables, bits=bits, vec_col=vec_col, id_col=probe_id_col, dim=dim
    ).select(
        F.col(probe_id_col).alias("__pid"),
        F.col(vec_col).alias("__pvec"),
        "table",
        "bucket",
    )
    # one probe-side execution: the Arrow table feeds both the partition
    # filters and the rebuilt-local broadcast side (see ivf twin)
    table = sig.toArrow()
    p_sig = spark.createDataFrame(table)
    pairs = set(
        zip(table.column("table").to_pylist(), table.column("bucket").to_pylist())
    )
    cond = None
    for t, b in sorted(pairs):
        c = (F.col("table") == t) & (F.col("bucket") == b)
        cond = c if cond is None else cond | c
    c_sig = (
        spark.read.parquet(f"{path}/signatures")
        .filter(cond if cond is not None else F.lit(False))
        .withColumn("table", F.col("table").cast("int"))
        .withColumn("bucket", F.col("bucket").cast("long"))
    )
    candidates = c_sig.join(F.broadcast(p_sig), ["table", "bucket"]).filter(
        F.col(id_col) != F.col("__pid")
    )
    sim = candidates.withColumn("__pn", _norm(F.col("__pvec"))).withColumn(
        "__cn", _norm(F.col(vec_col))
    ).withColumn(
        "cosine",
        F.round(_dot(F.col("__pvec"), F.col(vec_col)) / (F.col("__pn") * F.col("__cn")), 6),
    )
    # score-then-dedup on the narrow projection — same rewrite and
    # rationale as lsh_topk (keys-only HashAggregate instead of a
    # SortAggregate carrying both embedding arrays through the shuffle)
    deduped = sim.select("__pid", id_col, "cosine").dropDuplicates()
    w = Window.partitionBy("__pid").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        deduped.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__pid").alias(probe_id_col),
            F.col(id_col).alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def plane_signs(table: int, bit: int, dim: int) -> list[float]:
    """The ±1 components of one LSH hyperplane, derandomized from md5:
    component i is +1 iff the first hex nibble of ``md5("t:b:i")`` is
    even. md5 (not a Spark-native hash) so ANY engine — the DuckDB
    oracle included — can re-derive the identical plane family; in
    practice the planes are tiny plan-time constants (tables x bits x
    dim ≈ KBs) inlined as literal arrays, so executors ship them with
    the serialized plan: zero broadcast state, zero per-row hashing.
    Rademacher (±1) projections preserve the sign-agreement ~ angle
    property of Gaussian planes (Charikar's SimHash construction with a
    derandomized plane family)."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{table}:{bit}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
        for i in range(dim)
    ]


def _hyperplane_bucket(vec: Column, table: int, bits: int, dim: int) -> Column:
    """Random-hyperplane bucket id for one LSH table: bit b is the sign
    of the projection onto the literal ±1 plane from ``plane_signs``.
    Each projection is one codegen'd zip_with/aggregate fold against a
    constant array — measured faster than re-deriving plane components
    from per-element xxhash64 calls (which evaluated tables*bits*dim
    hashes per row), and engine-portable for the oracle."""
    bucket = F.lit(0).cast("long")
    for b in range(bits):
        plane = F.array(*[F.lit(s) for s in plane_signs(table, b, dim)])
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return bucket


def lsh_signatures(
    df: DataFrame,
    tables: int = 4,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """One row per (vector, table) with the table's hyperplane bucket —
    the hash-table layout of multi-table LSH, flattened relationally.
    All ``tables`` buckets are computed in a single projection over one
    corpus scan, then unpivoted with ``stack`` (no per-table rescans,
    no shuffle).

    ``dim`` (embedding width) fixes the literal plane arrays at plan
    build; pass it when known. When ``None`` it is peeked from the first
    row — one tiny job at build time, never in the per-row path."""
    df = finite_vectors(df, vec_col, nonzero=True)
    if dim is None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        if not row:
            dim = 1  # empty input: any plane works, signatures are empty
        else:
            dim = int(row[0]["d"])
    sig_cols = [
        _hyperplane_bucket(F.col(vec_col), t, bits, dim).alias(f"__b{t}")
        for t in range(tables)
    ]
    stack_args = ", ".join(f"{t}, __b{t}" for t in range(tables))
    return (
        df.select(id_col, vec_col, *sig_cols)
        .selectExpr(
            id_col,
            vec_col,
            f"stack({tables}, {stack_args}) AS (table, bucket)",
        )
    )


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    tables: int = 4,
    bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: a candidate is
    any corpus vector sharing a bucket with the probe in >=1 of the
    ``tables`` hash tables; candidates are deduped and re-ranked by exact
    cosine. Expected candidate volume per probe ~ tables * |corpus| /
    2^bits — tune ``bits`` to the corpus size so each bucket holds a few
    hundred vectors; the join itself is a pure equality join on (table,
    bucket), which scales like any hash join (no cross join, no per-probe
    corpus scan)."""
    c_sig = lsh_signatures(
        corpus, tables=tables, bits=bits, vec_col=vec_col, id_col=id_col, dim=dim
    )
    p_sig = lsh_signatures(
        probes, tables=tables, bits=bits, vec_col=vec_col, id_col=probe_id_col, dim=dim
    ).select(
        F.col(probe_id_col).alias("__pid"),
        F.col(vec_col).alias("__pvec"),
        "table",
        "bucket",
    )
    candidates = c_sig.join(F.broadcast(p_sig), ["table", "bucket"]).filter(
        F.col(id_col) != F.col("__pid")
    )
    sim = candidates.withColumn("__pn", _norm(F.col("__pvec"))).withColumn(
        "__cn", _norm(F.col(vec_col))
    ).withColumn(
        "cosine",
        F.round(_dot(F.col("__pvec"), F.col(vec_col)) / (F.col("__pn") * F.col("__cn")), 6),
    )
    # a pair matching in several tables must rank once. Dedup AFTER
    # scoring, on the narrow (probe, id, cosine) projection: cosine is a
    # deterministic expression of the two vectors, so duplicates carry
    # bit-identical values and keys-only dropDuplicates is exact — a
    # fixed-width HashAggregate whose exchange ships 24 bytes/candidate.
    # Deduping BEFORE scoring (rounds 5-11) had to carry both embedding
    # arrays through the dedup as first() aggregates — a SortAggregate
    # (arrays are not hash-mutable buffer types) over ~2x dim floats per
    # candidate (round-12 plan audit). Re-scoring a <= tables-way
    # duplicate is row-local FLOPs; the array shuffle was the real cost.
    deduped = sim.select("__pid", id_col, "cosine").dropDuplicates()
    w = Window.partitionBy("__pid").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        deduped.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__pid").alias(probe_id_col),
            F.col(id_col).alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )
