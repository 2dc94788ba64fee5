"""LLM-data operator queries (dedup / similarity / text / multimodal) with
DuckDB oracles on the documents/embeddings testdata tables.

Portability notes baked into every oracle:
* DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's
  replace-all semantics.
* the shared 32-bit hash is ``int(md5(x)[:8], 16)`` — Spark ``conv(...,
  16, 10)`` == DuckDB ``('0x' || substr(md5(x),1,8))::BIGINT``.
* near-dup queries augment the corpus with a mutated copy of every doc
  (id + 1_000_000, one appended token) so true near-duplicate pairs exist
  deterministically — the all-distinct synthetic corpus would otherwise
  make the checks vacuous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from temporai_mivdp_spark.llmdata import bpe, dedup, sampling, similarity, text
from temporai_mivdp_spark.sources import fan_out
from temporai_mivdp_spark.queries import (
    ORACLE,
    QUERIES,
    _await_or_raise,
    _register,
    _run_stream_to_memory,
    _t,
)

#: DuckDB expression for the normalized text (mirror of dedup.normalize_text)
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ mutated copy (near-dup seed), see module docstring.

    The union is fanned out by doc_id (sources.fan_out — a structural
    no-op when the scan already has parallelism): the consumers are the
    dedup operators, whose first aggregation is doc_id-keyed
    (collect_set / signature min), so the one adaptive exchange both
    parallelizes the tokenize/shingle map side and is REUSED as those
    aggregations' required partitioning. Composite consumers
    (pipeline_guard_corpus) re-derive shingles in several subtrees —
    each sits above this same exchange, which Spark's exchange reuse
    dedups at runtime (ReusedExchange), where the previous shape
    re-scanned the parquet per subtree."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zqx")).alias("text"),
    )
    return fan_out(docs.unionByName(mutated), "doc_id")


def _materialized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-run stage boundary for the guard composition (r12 verdict
    item 5; guide §3.3 "materialising an intermediate truncates the
    plan"): write the augmented corpus ONCE to a RUN-KEYED scratch
    parquet and return the read-back frame, so the composition's many
    consumers (jaccard shingle sets + over-cap shingle count, exact
    contamination corpus side, all-ids frame, leakage-safe split) feed
    from one cheap columnar read instead of each re-deriving the
    scan → union → mutate subtree (Catalyst does not share subtrees
    across consumers — r12 audit).

    NOT a cache: the path is keyed on a fresh uuid per BUILD (never on
    the dataset), every build recomputes the write from the parquet
    inputs, and the app-scoped scratch dir is removed at exit
    (`_curation_scratch_dir`'s atexit + TTL sweep). This is the
    ingest_jsonl / curation-checkpoint pattern: the write happens at
    plan-build time (one extra job, measured in OPTIMIZATION_r13.md),
    the returned frame's plan starts at the read-back."""
    import os
    import uuid

    corpus = _augmented(spark, sf_dir)
    path = os.path.join(
        _curation_scratch_dir(spark), f"guard_corpus_{uuid.uuid4().hex}"
    )
    corpus.write.mode("overwrite").parquet(path)
    return fan_out(spark.read.parquet(path), "doc_id")


_AUG_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text || ' zqx' AS text FROM documents"
)

#: DuckDB twin of similarity.finite_vectors — the corrupt-embedding guard
#: every embedding-reading oracle applies before touching a vector (the
#: engine excludes null / non-finite vectors up front; NaN ordering and
#: null dot products are exactly where engine semantics fork, measured by
#: tools/edgecase_check.py --embeddings)
_FINITE_SQL = (
    "embedding IS NOT NULL "
    "AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0"
)

#: DuckDB twin of finite_vectors(nonzero=True) — the cosine consumers
#: additionally exclude all-zero vectors (no direction, 0/0-NaN cosine)
_DIRECTED_SQL = (
    _FINITE_SQL + " AND len(list_filter(embedding, x -> x <> 0)) > 0"
)


def _curation_scratch_dir(spark: SparkSession) -> str:
    """Engine-owned scratch directory for the curation stage checkpoint.

    One FIXED directory per Spark application (keyed by appId) under a
    common root, so repeated invocations in a session overwrite instead of
    leaking a fresh mkdtemp each run (bench runs the query 5× per round).
    Cleanup is two-tier: an ``atexit`` hook removes this process's
    directory (safe — the returned lazy frame is consumed before
    interpreter exit), and each call sweeps SIBLING app directories whose
    mtime is older than 24h. The TTL is a LIVENESS signal, not just a
    write timestamp: every call re-touches this app's directory
    (``os.utime``), so a long-lived session that keeps using its
    checkpoint keeps its mtime fresh and a concurrent sweeper never
    deletes a directory a live session still references — only sessions
    idle (or dead) for a full day lose theirs."""
    import atexit
    import os
    import re
    import shutil
    import tempfile
    import time

    root = os.path.join(tempfile.gettempdir(), "mivdp_curation_scratch")
    os.makedirs(root, exist_ok=True)
    app = re.sub(r"[^A-Za-z0-9_.-]", "_", spark.sparkContext.applicationId)
    mine = os.path.join(root, app)
    if mine not in _CURATION_SCRATCH_REGISTERED:
        _CURATION_SCRATCH_REGISTERED.add(mine)
        atexit.register(shutil.rmtree, mine, ignore_errors=True)
    # liveness heartbeat: keep this session's dir younger than any
    # concurrent sweeper's TTL for as long as it keeps being used
    try:
        os.utime(mine)
    except OSError:
        pass
    cutoff = time.time() - 24 * 3600
    for entry in os.listdir(root):
        stale = os.path.join(root, entry)
        if stale == mine:
            continue
        try:
            if os.path.getmtime(stale) < cutoff:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass
    return mine


_CURATION_SCRATCH_REGISTERED: set[str] = set()


@_register(
    "dedup_exact",
    f"""
    WITH d2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text FROM documents
    )
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM d2 GROUP BY md5({_NORM})
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text hash. The corpus is doubled with
    byte-identical copies (ids +1M) so every group has n_copies=2 and the
    keeper choice (min id) is exercised."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    return dedup.exact_duplicates(doubled)


@_register(
    "dedup_ngram_jaccard",
    f"""
    WITH d2 AS ({_AUG_SQL}),
    toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM d2),
    idx AS (
      SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS shingle
      FROM idx WHERE len(w[i:i+2]) = 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, i * 1.0 / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs via inverted-index join — every
    (doc, mutated doc) pair must surface with jaccard ~ (n-2)/(n+1)."""
    return dedup.ngram_jaccard_pairs(_augmented(spark, sf_dir), n=3, threshold=0.5)


@_register(
    "dedup_minhash_lsh",
    f"""
    WITH d2 AS ({_AUG_SQL}),
    toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM d2),
    idx AS (
      SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks
    ),
    tok AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM idx WHERE len(w[i:i+2]) = 3
    ),
    base AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS x
      FROM tok
    ),
    seeded AS (
      SELECT doc_id, g.i AS h_idx, x
      FROM base, (SELECT unnest(generate_series(0, 7)) AS i) g
    ),
    sig AS (
      SELECT doc_id, h_idx,
             min(((1000003 + h_idx * 999983) * x + (12345 + h_idx * 7919)) % 2147483647) AS mh
      FROM seeded GROUP BY 1, 2
    ),
    bh AS (
      SELECT doc_id, h_idx // 2 AS band,
             md5(string_agg(mh::VARCHAR, ',' ORDER BY mh)) AS bh
      FROM sig GROUP BY 1, 2
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bh a JOIN bh b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 perms) + LSH (4 bands of 2) candidate pairs over the
    augmented corpus — banding equality joins only, no pair scan."""
    return dedup.minhash_lsh_candidates(_augmented(spark, sf_dir), num_hashes=8, bands=4)


@_register(
    "dedup_simhash",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT doc_id, token, count(*) AS c,
             ('0x' || substr(md5(token), 1, 8))::BIGINT AS hv
      FROM tok GROUP BY doc_id, token
    ),
    votes AS (
      SELECT doc_id, g.b AS bit,
             sum(CASE WHEN (hv >> g.b) & 1 = 1 THEN c ELSE -c END) AS bal
      FROM cnt, (SELECT unnest(generate_series(0, 15)) AS b) g
      GROUP BY 1, 2
    ),
    sh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN bal > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id, md5(norm) AS content_md5,
             list_min(list_transform(
               generate_series(1, greatest(len(w) - 3, 1)),
               i -> CASE WHEN len(w[i:i+3]) = 4
                         THEN ('0x' || substr(md5(array_to_string(w[i:i+3], ' ')), 1, 8))::BIGINT
                         ELSE NULL END)) AS min_shingle_hash
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w, {_NORM} AS norm FROM documents)
    )
    SELECT sh.doc_id, simhash, content_md5, min_shingle_hash
    FROM sh JOIN fp ON sh.doc_id = fp.doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint suite: 16-bit SimHash (token-count weighted bit votes)
    joined with the content fingerprints (whole-content md5 + winnowing
    min 4-gram hash). The simhash aggregate already partitions by doc_id,
    so the join shuffles only the row-local fingerprint projection."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash(docs, bits=16).join(text.fingerprint(docs), "doc_id")


@_register(
    "dedup_embedding_neardup",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
               WHERE {_DIRECTED_SQL})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the blocking key
    stands in for an IVF/LSH bucket at scale — never all-pairs)."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_duplicates(emb, threshold=0.3, block_col="label")


@_register(
    "dedup_semantic",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE {_DIRECTED_SQL}),
    cents AS (
      SELECT vec_id AS cid, v AS cv, sqrt(list_dot_product(v, v)) AS cn
      FROM e ORDER BY vec_id LIMIT 16
    ),
    assign AS (
      SELECT vec_id, v, vn, bucket, round(sim / vn, 6) AS centroid_sim FROM (
        SELECT e.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS vn,
               c.cid AS bucket, list_dot_product(c.cv, e.v) / c.cn AS sim,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(c.cv, e.v) / c.cn DESC, c.cid ASC
               ) AS rn
        FROM e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b ON a.bucket = b.bucket
       AND (a.centroid_sim < b.centroid_sim
            OR (a.centroid_sim = b.centroid_sim AND a.vec_id < b.vec_id))
      WHERE list_dot_product(a.v, b.v) / (a.vn * b.vn) >= 0.25
    )
    SELECT a.vec_id, a.bucket, a.centroid_sim,
           d.vec_id IS NULL AS keep
    FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (llmdata/dedup.py::semantic_dedup;
    Abbas et al. 2023): 16 deterministic centroids (the sim_topk_ivf
    quantizer), zero-shuffle literal-centroid assignment, within-cluster
    cosine >= 0.25 = semantic duplicate (the synthetic embeddings'
    p99 pairwise cosine is ~0.29, so the threshold bites), keep the
    farthest-from-centroid representative via the order-free dominance
    rule. centroid_sim is 1e-6-rounded BEFORE ranking so priority order
    is engine-portable; the oracle replays assignment, priority, and
    dominance clause for clause."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.deterministic_centroids(emb, n=16)
    return dedup.semantic_dedup(emb, cents, eps=0.25)


@_register(
    "sim_topk_bruteforce",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE {_DIRECTED_SQL}),
    p AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 5),
    s AS (
      SELECT p.pid, e.vec_id,
             round(list_dot_product(p.pv, e.v)
                   / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(e.v, e.v))), 6)
               AS cosine
      FROM e CROSS JOIN p WHERE e.vec_id <> p.pid
    )
    SELECT pid AS probe_id, vec_id AS neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY pid ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM s
    ) WHERE rank <= 10
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 probe vectors — the exact-search
    baseline (zip_with/aggregate dot products, probes broadcast)."""
    # adaptive fan-out: the corpus-side dot products + map-side
    # WindowGroupLimit parallelize instead of running on the one-task scan
    emb = fan_out(_t(spark, sf_dir, "embeddings"), "vec_id")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return similarity.brute_force_topk(emb, probes, k=10)


#: the full IVF plan replay (16 lowest-id centroids, nprobe=4, k=10,
#: 1e-6-rounded cosine, id tie-breaks) — shared by the batch `sim_topk_ivf`
#: and the streaming `stream_serve_topk`, which must answer IDENTICALLY
#: from the persisted index layout
_IVF_TOPK_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE {_DIRECTED_SQL}),
    cents AS (
      SELECT vec_id AS cid, v AS cv, sqrt(list_dot_product(v, v)) AS cn
      FROM e ORDER BY vec_id LIMIT 16
    ),
    assign AS (
      SELECT vec_id, v, bucket FROM (
        SELECT e.vec_id, e.v, c.cid AS bucket,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(c.cv, e.v) / c.cn DESC, c.cid ASC
               ) AS rn
        FROM e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    pb AS (
      SELECT pid, pv, bucket FROM (
        SELECT p.vec_id AS pid, p.v AS pv, c.cid AS bucket,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY list_dot_product(c.cv, p.v) / c.cn DESC, c.cid ASC
               ) AS rn
        FROM e p CROSS JOIN cents c WHERE p.vec_id < 5
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT pb.pid, a.vec_id,
             round(list_dot_product(pb.pv, a.v)
                   / (sqrt(list_dot_product(pb.pv, pb.pv)) * sqrt(list_dot_product(a.v, a.v))),
                   6) AS cosine
      FROM assign a JOIN pb USING (bucket) WHERE a.vec_id <> pb.pid
    )
    SELECT pid AS probe_id, vec_id AS neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY pid ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@_register("sim_topk_ivf", _IVF_TOPK_SQL)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-10 (16 deterministic centroids,
    nprobe=4): the scale path — probes scan ~nprobe/16 of the corpus.
    Approximate vs brute force, but fully DETERMINISTIC: centroids are
    the 16 lowest-id vectors, assignment/probe ranking tie-break on
    centroid id, final rank on the 1e-6-rounded cosine — so the oracle
    mirrors the whole plan step by step and the driver hash-checks it
    like any exact query (recall vs brute force is asserted in tests/)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    cents = similarity.deterministic_centroids(emb, n=16)
    return similarity.ivf_topk(emb, probes, cents, k=10, nprobe=4)


@_register("stream_serve_topk", _IVF_TOPK_SQL)
def stream_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN serving executed for real
    (streaming/ingest.py::serve_topk_stream): probe vectors land as a
    parquet shard in a watched directory and are answered inside
    ``foreachBatch`` against a PERSISTED `persist_ivf_index` layout —
    the corpus scan carries the routed buckets as a partition filter,
    so each micro-batch opens only nprobe/16 of the index directories.
    The emitted (probe, neighbor, cosine, rank) rows must be IDENTICAL
    to the batch `sim_topk_ivf` over the same fixture (same 16
    lowest-id centroids, nprobe=4, k=10, 1e-6-rounded cosine, id
    tie-breaks), so both entries share one oracle — the serving path
    and the batch path provably cannot drift. Exactly-once via the
    checkpoint + idempotent batch-partitioned output (the
    `ingest_dedup_stream` recipe)."""
    import os
    import re

    from temporai_mivdp_spark.streaming.ingest import serve_topk_stream

    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", sf_dir)
    root = os.path.join(_curation_scratch_dir(spark), f"serve_topk_{safe}")
    index, probes_dir, out = f"{root}/index", f"{root}/probes", f"{root}/out"
    emb = _t(spark, sf_dir, "embeddings")
    if not os.path.exists(root):
        cents = similarity.deterministic_centroids(emb, n=16)
        similarity.persist_ivf_index(emb, cents, index)
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        ).coalesce(1).write.parquet(probes_dir)
    probe_schema = spark.read.parquet(probes_dir).schema
    q = (
        serve_topk_stream(
            spark, probes_dir, index, out, probe_schema, k=10, nprobe=4
        )
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, 600)
    return spark.read.parquet(out).select(
        "probe_id", "neighbor_id", "cosine", "rank"
    )




#: ``pad`` column: normalized text with every boundary char (anything
#: outside [a-z0-9_]) DOUBLED, then space-padded at both ends. RE2 has
#: no lookarounds, so the only way to express the Spark side's
#: zero-width ``(?<![a-z0-9_])word(?![a-z0-9_])`` count is to make the
#: boundary chars consumable without sharing: after doubling, adjacent
#: matches ('the,the' -> 'the,,the') each own a boundary char, so
#: non-overlapping extraction of '[^a-z0-9_]word[^a-z0-9_]' counts
#: exactly what the lookaround form counts — on ANY Unicode text (both
#: engines match the class per UTF-8 codepoint). Replaces the old \b
#: form, whose Java/RE2 semantics diverge off ASCII (UNICODE_EXEMPT,
#: retired round 10); on ASCII text the count is unchanged.
_PAD = (
    "' ' || regexp_replace(" + _NORM + ", '([^a-z0-9_])', '\\1\\1', 'g') || ' '"
)


def _occ_sql(word: str) -> str:
    # explicit-boundary regex count over the doubled-boundary pad,
    # mirroring text._count_occurrences (lookaround form, Java side).
    # The needle itself must be boundary-interior chars only — the pad
    # doubling rewrites anything else INSIDE the needle's occurrences
    # (import-time assertion mirrors text._assert_needles_safe)
    text._assert_needles_safe([word])
    return (
        f"CAST(len(regexp_extract_all(pad, '[^a-z0-9_]{word}[^a-z0-9_]')) AS BIGINT)"
    )


_STOP_SUM = " + ".join(_occ_sql(w) for w in text.STOPWORDS)


@_register(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_PAD} AS pad,
             length(text) AS n_chars,
             string_split({_NORM}, ' ') AS w,
             len(string_split({_NORM}, ' ')) AS n_tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM t WHERE n_tokens >= 2)
    ),
    gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
    rep AS (
      SELECT doc_id, max(c) AS max_c, sum(c) AS tot, count(*) AS dist
      FROM gc GROUP BY 1
    )
    SELECT t.doc_id, n_chars, n_tokens,
           n_chars * 1.0 / n_tokens AS chars_per_token,
           length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / n_chars AS punct_ratio,
           length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / n_chars AS digit_ratio,
           ({_STOP_SUM}) * 1.0 / n_tokens AS stopword_ratio,
           coalesce(max_c * 2.0 / (tot + 1), 0.0) AS top_ngram_frac,
           coalesce((tot - dist) * 1.0 / tot, 0.0) AS dup_ngram_frac
    FROM t LEFT JOIN rep ON t.doc_id = rep.doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals (C4/Gopher-style cheap filters) plus word-2gram
    repetition fractions — projection joined with the repetition agg."""
    # adaptive fan-out by doc_id: the quality projection and the bigram
    # explode+counts branches both parallelize above ONE reused exchange,
    # and the doc-keyed repetition aggregates inherit its partitioning
    docs = fan_out(_t(spark, sf_dir, "documents"), "doc_id")
    q = text.quality_features(docs)
    rep = text.repetition_features(docs, n=2)
    return q.join(rep, "doc_id", "left").select(
        q["*"],
        F.coalesce(F.col("top_ngram_frac"), F.lit(0.0)).alias("top_ngram_frac"),
        F.coalesce(F.col("dup_ngram_frac"), F.lit(0.0)).alias("dup_ngram_frac"),
    )


_LANG_SCORE_SQL = {
    lang: " + ".join(_occ_sql(w) for w in words)
    for lang, words in text.LANG_MARKERS.items()
}


def _langid_argmax_case(langs: list[str]) -> str:
    """Generated argmax CASE over ``score_<lang>`` columns: evaluated in
    alphabetical order with ``>= greatest(all others)``, so ties go to
    the alphabetically-first language — the Spark side's struct-greatest
    tie-break. All-zero rows (weights are strictly negative, so zero
    means "no feature matched") predict 'und'."""
    allz = f"greatest({', '.join(f'score_{la}' for la in langs)}) = 0"
    script = " ".join(
        f"WHEN regexp_matches(text, '{pat}') THEN '{la}'"
        for la, pat in text.SCRIPT_FALLBACK
    )
    whens = []
    for la in langs[:-1]:
        others = ", ".join(f"score_{o}" for o in langs if o != la)
        whens.append(f"WHEN score_{la} >= greatest({others}) THEN '{la}'")
    body = "\n                ".join(whens)
    return f"""CASE WHEN {allz} THEN (CASE {script} ELSE 'und' END)
                {body}
                ELSE '{langs[-1]}' END"""


def _langid_ngram_oracle_sql() -> str:
    """Mirror SQL for ``text_langid``: the character-trigram score tables
    (``text.trigram_score_tables`` — derived deterministically from the
    fixed in-repo samples) inline as a VALUES table, so DuckDB computes
    bit-identical integer score sums from the identical feature set —
    the same inlining discipline as ``_lsh_oracle_sql``. Fully generic
    over the language set: columns, sums, and the argmax CASE generate
    from the derived tables (20 languages as of round 5), plus the
    SCRIPT_FALLBACK tier mirrored into the zero-score branch."""
    tables = text.trigram_score_tables()
    langs = sorted(tables)
    feats = sorted(next(iter(tables.values())))

    def esc(s: str) -> str:
        return s.replace("'", "''")

    values = ",\n      ".join(
        "('" + esc(g) + "', " + ", ".join(str(tables[la][g]) for la in langs) + ")"
        for g in feats
    )
    w_cols = ", ".join(f"w_{la}" for la in langs)
    score_cols = ", ".join(f"CAST(sum(w_{la}) AS BIGINT) AS score_{la}" for la in langs)
    coalesced = ", ".join(f"coalesce(score_{la}, 0) AS score_{la}" for la in langs)
    score_list = ", ".join(f"score_{la}" for la in langs)
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_NORM} AS nt,
             len(string_split({_NORM}, ' ')) AS n_tokens,
             CAST(list_sum(list_transform(
                   string_split_regex({_NORM}, '[^a-z0-9]+'),
                   w -> CASE WHEN len(w) = 0 THEN 0
                             ELSE CAST(ceil(len(w) / 4.0) AS BIGINT) END)) AS BIGINT)
               AS bpe_estimate
      FROM documents
    ),
    g AS (
      SELECT doc_id, substr(nt, i, 3) AS g3
      FROM (SELECT doc_id, nt, unnest(generate_series(1, length(nt) - 2)) AS i
            FROM t WHERE length(nt) >= 3)
    ),
    w(g3, {w_cols}) AS (VALUES
      {values}
    ),
    s AS (
      SELECT doc_id, {score_cols}
      FROM g JOIN w USING (g3) GROUP BY doc_id
    ),
    f AS (
      SELECT t.doc_id, t.text, n_tokens, bpe_estimate, {coalesced}
      FROM t LEFT JOIN s ON t.doc_id = s.doc_id
    )
    SELECT doc_id, n_tokens, bpe_estimate,
           {_langid_argmax_case(langs)} AS lang_pred,
           {score_list}
    FROM f
    """


@_register("text_langid", _langid_ngram_oracle_sql())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Naive-Bayes language ID (integer-scaled
    log-prob score tables re-derived from fixed in-repo samples — no
    stored model) plus token accounting carried through as passthrough
    columns: whitespace tokens and the ceil(len/4) CHEAP-TIER estimate
    (`text.bpe_token_estimate`; the real pretrained-BPE counts are the
    `text_bpe_count` / `pipeline_docs_curation` currency). The
    upgrade over the marker-word heuristic (which remains the
    zero-shuffle cheap tier, `text.language_id`): 93% held-out accuracy
    over 20 languages / six scripts vs the marker tier's 58% on its
    four (tests/test_llmdata.py)."""
    # fan_out BEFORE the derived columns: the token arithmetic and the
    # trigram explode+score both run above the one adaptive exchange
    # (32-way instead of the single-row-group scan's one task), and the
    # doc_id-keyed score aggregation + the left join-back reuse its
    # partitioning instead of adding their own exchange (guide §2.4/§2.5)
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    docs = docs.select(
        "doc_id",
        "text",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_token_estimate(F.col("text")).cast("long").alias("bpe_estimate"),
    )
    return text.language_id_ngram(docs, passthrough=["n_tokens", "bpe_estimate"])


def _bpe_oracle_ctes(src: str) -> str:
    """CTE block (for a ``WITH RECURSIVE`` clause) that replays
    pretrained-BPE token counting in pure DuckDB SQL: the merge table
    inlines as VALUES (re-derived from the fixed seed corpus — the
    ``_langid_ngram_oracle_sql`` discipline) and merge APPLICATION runs
    as a recursive CTE over the distinct word types of ``src``
    (columns ``doc_id, text``), so the oracle is valid at any scale
    factor — no data-dependent literals.

    Encoding: a word's symbol list is the string ``'||a||b||'`` (every
    symbol wrapped in double bars). One round = merge ALL occurrences
    of the lowest-rank pair present: ``replace(s, '|a||b|', '|ab|')``
    — the pattern consumes one bar from each side's pair and the
    replacement restores them, so adjacent matches cannot interfere,
    and left-to-right non-overlapping ``replace`` is exactly the
    kernel's scan order (verified vs ``bpe.apply_merges_py`` on
    worst-case single-letter-run alphabets in tests). Words leave the
    working set when no merge applies (the rank join drops them);
    ``n_pieces`` = bar-count/2 − 1 of each word's final string.
    Produces ``bcnt(doc_id, bpe_tokens)`` — join it back LEFT so
    token-less docs count 0.

    Delimiter safety: a literal ``'|'`` inside a corpus token would
    corrupt the bar encoding, so BOTH the seed segmentation and the
    inlined merge-table symbols map ``'|' → chr(1)`` before replay —
    a per-symbol (single-char) substitution, so segmentation and merge
    matching stay isomorphic to ``apply_merges_py`` on the raw token.
    Residual precondition: corpus tokens contain no literal U+0001
    (which would be conflated with ``'|'``); ``bar()`` below and the
    ``replace(token, '|', chr(1))`` in ``bseg`` are the two sides of
    the mapping."""
    from temporai_mivdp_spark.llmdata.bpe import pretrained_merges_list

    def esc(s: str) -> str:
        return s.replace("'", "''")

    def bar(s: str) -> str:
        # mirror of the SQL-side replace(token, '|', chr(1))
        return s.replace("|", "\x01")

    vals = ",\n      ".join(
        f"({i}, '{esc(bar(a))}', '{esc(bar(b))}')"
        for i, (a, b) in enumerate(pretrained_merges_list())
    )
    return f"""
    bm(rank, l, r) AS (VALUES
      {vals}
    ),
    btok AS (
      SELECT doc_id, t AS token
      FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t FROM {src})
      WHERE t <> ''
    ),
    bocc AS (SELECT doc_id, token, count(*) AS occ FROM btok GROUP BY 1, 2),
    btypes AS (SELECT DISTINCT token FROM bocc),
    bseg(token, s, it) AS (
      SELECT token,
             '||' || array_to_string(
                       string_split(replace(token, '|', chr(1)), ''), '||') || '||',
             0
      FROM btypes
      UNION ALL
      SELECT x.token,
             replace(x.s, '|' || mm.l || '||' || mm.r || '|', '|' || mm.l || mm.r || '|'),
             x.it + 1
      FROM (SELECT token, s, it,
                   (SELECT min(rank) FROM bm
                    WHERE contains(s, '|' || bm.l || '||' || bm.r || '|')) AS best
            FROM bseg) x
      JOIN bm mm ON mm.rank = x.best
    ),
    bnp AS (
      SELECT token,
             CAST((length(s) - length(replace(s, '|', ''))) / 2 - 1 AS BIGINT) AS n_pieces
      FROM (SELECT token, s, row_number() OVER (PARTITION BY token ORDER BY it DESC) AS rn
            FROM bseg)
      WHERE rn = 1
    ),
    bcnt AS (
      SELECT o.doc_id, CAST(sum(o.occ * bnp.n_pieces) AS BIGINT) AS bpe_tokens
      FROM bocc o JOIN bnp USING (token) GROUP BY 1
    )"""


@_register(
    "text_bpe_count",
    f"""
    WITH RECURSIVE
    {_bpe_oracle_ctes("documents")}
    SELECT d.doc_id,
           CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(
                 string_split_regex({_NORM}, '[^a-z0-9]+'),
                 w -> CASE WHEN len(w) = 0 THEN 0
                           ELSE CAST(ceil(len(w) / 4.0) AS BIGINT) END)) AS BIGINT)
             AS bpe_estimate,
           coalesce(bc.bpe_tokens, 0) AS bpe_tokens
    FROM documents d LEFT JOIN bcnt bc ON d.doc_id = bc.doc_id
    """,
)
def text_bpe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE token accounting (llmdata/bpe.py) next to the two cheap
    tiers (whitespace tokens, ceil(len/4) estimate) — the counting
    currency `pipeline_docs_curation` packs on. The merge table is the
    pretrained one (re-derived from the fixed in-repo seed corpus — no
    stored model); application is one Arrow pandas-UDF pass per word
    TYPE, with the corpus staying JVM-side (explode → broadcast join →
    map-side-combined sum). The oracle replays merge application as a
    recursive CTE over the same inlined merge table, so the check is
    scale-factor-independent."""
    # fan_out measured here and REJECTED (+0.1s at sf0.1, paired A/B):
    # the heavy stage is the word-TYPE aggregation + Arrow merge kernel,
    # both already downstream of their own exchange; the doc-side map
    # work is too light to repay an extra corpus shuffle
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tiers = docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_token_estimate(F.col("text")).cast("long").alias("bpe_estimate"),
    )
    # dense=False + left join: `tiers` already carries every doc_id, so
    # the library's all-ids densification (a third corpus scan + an
    # id-keyed dropDuplicates shuffle) is pure duplication here —
    # left-join its sparse form and zero-fill instead (guide §2.4).
    counted = bpe.bpe_token_count(docs, bpe.pretrained_merges(spark), dense=False)
    return tiers.join(counted, "doc_id", "left").withColumn(
        "bpe_tokens", F.coalesce("bpe_tokens", F.lit(0).cast("long"))
    )


@_register(
    "multimodal_metadata",
    """
    SELECT doc_id AS media_id,
           CAST(strlen(text) AS BIGINT) AS byte_len,
           md5(text) AS content_md5,
           CASE WHEN text IS NULL THEN NULL
                ELSE 'application/octet-stream' END AS sniffed_mime
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary plumbing proof: docs' UTF-8 bytes as the payload of a
    media table, metadata extracted via Arrow-batched mapInPandas
    (llmdata.multimodal.extract_metadata) — the exact pattern a real
    image/audio decode stage uses, oracle-checkable byte-for-byte."""
    from temporai_mivdp_spark.llmdata import multimodal

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return multimodal.extract_metadata(media)


__all__ = ["QUERIES", "ORACLE"]


@_register(
    "dedup_duplicate_clusters",
    f"""
    WITH RECURSIVE d2 AS ({_AUG_SQL}),
    toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM d2),
    idx AS (
      SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS shingle
      FROM idx WHERE len(w[i:i+2]) = 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id
    )
    SELECT id AS doc_id, min(lbl) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component duplicate clusters over the n-gram near-dup
    pairs (augmented corpus): Spark iterates min-label propagation to a
    fixpoint; the oracle computes the same transitive closure with a
    recursive CTE. cluster_id = min reachable doc id."""
    pairs = dedup.ngram_jaccard_pairs(_augmented(spark, sf_dir), n=3, threshold=0.5)
    return dedup.duplicate_clusters(pairs)


@_register(
    "text_clean_redact",
    """
    WITH t AS (
      SELECT doc_id,
             'Contact ' || text || ' <b>now</b> at bob@example.com or +1 (555) 123-4567 via https://x.io/a'
               AS raw
      FROM documents
    ),
    s AS (
      SELECT doc_id, raw,
             trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS stripped
      FROM t
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(stripped, 'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-\\s]{6,}[0-9]', '<PHONE>', 'g') AS text_clean,
           length(raw) AS len_raw,
           length(regexp_replace(
             regexp_replace(
               regexp_replace(stripped, 'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-\\s]{6,}[0-9]', '<PHONE>', 'g')) AS len_clean
    FROM s
    """,
)
def text_clean_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping + PII redaction (email/URL/phone -> typed
    placeholders); PII is synthesized onto each doc since the corpus has
    none. Pure regexp_replace chain — no UDF."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Contact "), F.col("text"),
            F.lit(" <b>now</b> at bob@example.com or +1 (555) 123-4567 via https://x.io/a"),
        ).alias("text"),
    )
    return text.clean_documents(docs)


@_register(
    "pipeline_guard_corpus",
    f"""
    WITH RECURSIVE d2 AS ({_AUG_SQL}),
    toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM d2),
    idx AS (
      SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS shingle
      FROM idx WHERE len(w[i:i+2]) = 3
    ),
    -- near-dup pairs (3-gram Jaccard >= 0.5) -> connected components
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    inter_p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter_p
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id
    ),
    clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    -- exact benchmark contamination (bench = every 13th original doc)
    bs AS (SELECT doc_id AS bench_id, shingle FROM sh
           WHERE doc_id % 13 = 0 AND doc_id < 1000000),
    bsz AS (SELECT bench_id, count(*) AS bsz FROM bs GROUP BY 1),
    inter_c AS (
      SELECT d.doc_id, b.bench_id, count(*) AS i
      FROM sh d JOIN bs b ON d.shingle = b.shingle GROUP BY 1, 2
    ),
    cont AS (
      SELECT doc_id,
             max(i / CAST(bsz AS DOUBLE)) AS max_containment,
             CAST(sum(CASE WHEN i / CAST(bsz AS DOUBLE) >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bench_hits
      FROM inter_c JOIN bsz USING (bench_id) GROUP BY doc_id
    ),
    flags AS (
      SELECT ids.doc_id,
             coalesce(max_containment, 0.0) AS max_containment,
             coalesce(n_bench_hits, 0) AS n_bench_hits
      FROM (SELECT DISTINCT doc_id FROM d2) ids LEFT JOIN cont USING (doc_id)
    ),
    -- cluster-expanded contamination + leakage-safe split on the cluster key
    keyed AS (
      SELECT f.doc_id, f.max_containment, f.n_bench_hits,
             coalesce(c.cluster_id, f.doc_id) AS ck
      FROM flags f LEFT JOIN clusters c ON f.doc_id = c.doc_id
    ),
    anyhit AS (
      SELECT ck, max(CASE WHEN n_bench_hits >= 1 THEN 1 ELSE 0 END) AS anyc
      FROM keyed GROUP BY ck
    )
    SELECT k.doc_id,
           CASE WHEN ('0x' || substr(md5('split' || CAST(k.ck AS VARCHAR)), 1, 8))::BIGINT
                     % 10000 < 8000 THEN 'train'
                ELSE 'test' END AS split,
           k.n_bench_hits, k.max_containment,
           (a.anyc = 1) AS contaminated
    FROM keyed k JOIN anyhit a USING (ck)
    """,
)
def pipeline_guard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full eval-integrity composition, hash-checked end to end
    (displaces the plain `text_contamination` entry — this is its strict
    superset): exact benchmark decontamination (max 3-gram containment
    vs every 13th original doc, hit at >= 0.8) -> near-dup clusters
    (3-gram Jaccard >= 0.5 pairs -> connected components) ->
    cluster-EXPANDED contamination (a flagged doc contaminates its whole
    cluster: the mutated near-copy of a leaked bench doc gets flagged
    despite its own containment) -> leakage-safe 80/20 split keyed on
    the cluster id (near-dup pairs never straddle train/test). The
    oracle replays every stage: recursive-CTE components, md5 bucket
    split on the identical cluster key."""
    # per-run corpus materialization (r12 verdict item 5): the guard
    # composition consumes the augmented corpus in five-plus subtrees;
    # one run-keyed scratch-parquet write at build time replaces the
    # per-consumer scan → union → mutate re-derivations with cheap
    # columnar reads (see _materialized_corpus for the non-cache
    # argument; measured in OPTIMIZATION_r13.md §guardmat)
    corpus = _materialized_corpus(spark, sf_dir)
    bench = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 0)
        .select("doc_id", "text")
    )
    pairs = dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.5)
    from temporai_mivdp_spark.llmdata.pipeline import guard_corpus

    out = guard_corpus(
        corpus,
        bench,
        {"train": 0.8, "test": 0.2},
        near_pairs=pairs,
        n=3,
        exact=True,
        containment_threshold=0.8,
    )
    return out.select(
        "doc_id", "split", "n_bench_hits", "max_containment", "contaminated"
    )


@_register(
    "sample_source_quota",
    """
    SELECT doc_id, source, quota_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5('quota' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                        doc_id
             ) AS quota_rank
      FROM documents
    ) WHERE quota_rank <= 20
    """,
)
def sample_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the "max N pages per domain" corpus
    rebalancing rule): deterministic hash-order rank within each source,
    keep the first 20."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.source_quota(
        docs, max_per_group=20, group_col="source", key_col="doc_id", seed="quota"
    )


@_register(
    "sample_stratified",
    """
    SELECT doc_id, source FROM documents
    WHERE ('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
          < (CASE source
               WHEN 'src1' THEN 0.25
               WHEN 'src2' THEN 0.5
               WHEN 'src3' THEN 0.75
               ELSE 0.1
             END) * 10000
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling (llmdata/sampling.py::
    stratified_hash_sample): per-stratum keep rates via a broadcast
    rate table and an md5 hash-bucket compare — the corpus-rebalancing
    primitive (downsample the dominant source/language). Deterministic
    in (seed, doc_id), so higher rates give strict supersets (tested);
    the oracle replays the bucket arithmetic bit for bit."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.stratified_hash_sample(
        docs,
        rates={"src1": 0.25, "src2": 0.5, "src3": 0.75},
        strata_col="source",
        key_col="doc_id",
        seed="strat",
        default_rate=0.1,
    ).select("doc_id", "source")


@_register(
    "text_encode_vocab",
    f"""
    WITH toks AS (
      SELECT doc_id, w[i] AS token, i AS pos
      FROM (
        SELECT doc_id,
               list_filter(string_split({_NORM}, ' '), t -> t <> '') AS w
        FROM documents
      ), unnest(generate_series(1, len(w))) AS u(i)
    ),
    counts AS (SELECT token, count(*) AS count FROM toks GROUP BY 1),
    vocab AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY count DESC, token ASC) AS BIGINT)
               AS token_id
      FROM (SELECT * FROM counts ORDER BY count DESC, token ASC LIMIT 500)
    ),
    enc AS (
      SELECT t.doc_id,
             list(coalesce(v.token_id, 0) ORDER BY t.pos) AS token_ids
      FROM toks t LEFT JOIN vocab v USING (token)
      GROUP BY t.doc_id
    )
    -- serialized, not a bare BIGINT[]: the driver's pandas canonicalizer
    -- (sort_values -> factorize) raises on list cells (round-7 driver
    -- err). Integer csv text is formatting-stable across both engines.
    -- outer coalesce: DuckDB array_to_string([]) is NULL where Spark
    -- concat_ws(empty array) is '' (edgecase-tier catch: token-less docs)
    SELECT d.doc_id,
           coalesce(array_to_string(enc.token_ids, ','), '') AS token_ids_csv
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN enc USING (doc_id)
    """,
)
def text_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text→ids encoding under a deterministic frequency vocabulary
    (llmdata/text.py::build_vocabulary + encode_tokens): top-500 tokens
    by (count desc, token asc) get ids 1..500 (0 = OOV), every document
    becomes its ordered token-id array. The vocabulary selection is
    TakeOrderedAndProject (per-partition heaps — never a global rank
    window over the full distinct-token set) and the encode join
    broadcasts the size-bounded vocab; the oracle rebuilds the same
    vocab and arrays clause for clause, including empty arrays for
    token-less docs. The checked output serializes the id array to an
    integer csv (empty string for token-less docs): bare array columns
    crash the driver's pandas canonicalizer (round-7 lesson), and
    integer text is formatting-identical across engines."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = text.build_vocabulary(docs, size=500)
    enc = text.encode_tokens(docs, vocab)
    return enc.select(
        "doc_id",
        F.concat_ws(",", F.col("token_ids").cast("array<string>")).alias(
            "token_ids_csv"
        ),
    )


@_register(
    "sample_temperature",
    """
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    s AS (SELECT source, n, pow(n / (SELECT sum(n) FROM c), 0.5) AS share FROM c),
    r AS (
      SELECT source,
             least(1.0,
                   0.5 * (share / (SELECT sum(share) FROM s))
                       * ((SELECT sum(n) FROM c) / n)) AS rate
      FROM s
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN r ON d.source = r.source
    WHERE ('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 10000 < rate * 10000
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (llmdata/sampling.py::
    temperature_resample) — the standard multi-source pretraining
    rebalance: keep source i with rate ∝ (n_i/N)^(1/T) / n_i, T=2 and
    target_fraction=0.5 here, so rare sources are up-weighted (their
    rate saturates at 1 — sampling without replacement cannot
    up-sample) and the head source is cut hardest. One bounded count
    aggregation + a broadcast rate table + the row-local md5 keep
    decision; the oracle recomputes the rate algebra clause for
    clause. The share/normalizer sums run over #sources rows (bounded
    by contract), never the corpus."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.temperature_resample(
        docs,
        temperature=2.0,
        group_col="source",
        key_col="doc_id",
        seed="mix",
        target_fraction=0.5,
    ).select("doc_id", "source")


@_register(
    "split_leakage_safe",
    f"""
    WITH d2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text FROM documents
    ),
    ck AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5({_NORM})) AS cluster_id
      FROM d2
    ),
    b AS (
      SELECT doc_id,
             ('0x' || substr(md5('split' || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS bucket
      FROM ck
    )
    SELECT doc_id,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (llmdata/sampling.py::
    leakage_safe_split): the corpus is doubled with byte-identical
    copies (ids +1M) so every document HAS a duplicate, exact-dup
    clusters (min doc_id per normalized-content hash) feed the split as
    the hash key, and therefore each copy pair provably lands in one
    split — the guard that keeps train/test duplicates from inflating
    eval. Row-local split assignment (md5 bucket against the 90/5/5
    boundaries); the only exchanges are the content-hash window and the
    cluster join (broadcast-eligible). The oracle replays cluster
    formation and bucket arithmetic bit for bit."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    clusters = doubled.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.md5(dedup.normalize_text(F.col("text")))))
        .alias("cluster_id"),
    )
    out = sampling.leakage_safe_split(
        doubled,
        {"train": 0.9, "val": 0.05, "test": 0.05},
        clusters=clusters,
        seed="split",
    )
    return out.select("doc_id", "split")


@_register(
    "sample_token_budget",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split({_NORM}, ' ')) AS n_tokens,
             ('0x' || substr(md5('budget' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM documents
    ),
    c AS (
      SELECT *,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY h ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM t
    )
    SELECT doc_id, source, n_tokens FROM c WHERE before < 2000
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sampling (llmdata/sampling.py::
    token_budget_sample) — the "N tokens per source" mixture recipe:
    documents are laid out in deterministic hash order and admitted
    while the source's 2000-token budget is unexhausted (the crossing
    document stays, matching how packing consumes it; raising the
    budget strictly adds documents). The layout hash is the portable
    60-bit md5 prefix via ``order_expr`` — same sample on every
    engine, rerun, and partitioning — and the cumulative sum is the
    per-source partitioned window (the global variant's two-level
    prefix sum is exercised by ``pipeline_docs_curation``)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    counted = docs.withColumn("n_tokens", text.token_count(F.col("text")))
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("budget"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
    )
    return sampling.token_budget_sample(
        counted, budget_tokens=2000, group_col="source", order_expr=h
    ).select("doc_id", "source", "n_tokens")


#: integer quantization grid shared by the embedding-mean entries: float32
#: coords × 1e6 snap to integer-valued doubles, so every downstream sum
#: (dot products, norms², per-position partial sums) is exact in IEEE
#: double regardless of summation order — bit-identical across engines,
#: reruns, and partitionings. The exactness arithmetic needs a magnitude
#: bound, so the quantizer CLAMPS at ±2^23 (raw |x| ≤ 8.39 — unit-normish
#: embeddings never come close; the corpus max is 0.58): 64-dim dot
#: products stay ≤ 2^52 and per-group sums stay exact past 10^9 rows per
#: group. Unclamped, one 1e30-magnitude row would push sums past 2^53 and
#: re-open summation-order drift (measured by edgecase_check
#: --embeddings). Non-finite coords never reach the quantizer — the
#: entries exclude them via similarity.finite_vectors / _FINITE_SQL.
_QUANT = 1_000_000
_QCLAMP = 1 << 23

#: DuckDB twin of _quantize_vec (apply only after the _FINITE_SQL guard:
#: least/greatest on NaN is its own cross-engine fork)
_QUANT_SQL = (
    f"list_transform(embedding::DOUBLE[], x -> "
    f"least(greatest(floor(x * {_QUANT} + 0.5), -{_QCLAMP}.0), {_QCLAMP}.0))"
)


def _quantize_vec(col):
    def _q(x):
        f = F.floor(x.cast("double") * _QUANT + F.lit(0.5))
        return (
            F.when(f > _QCLAMP, F.lit(_QCLAMP))
            .when(f < -_QCLAMP, F.lit(-_QCLAMP))
            .otherwise(f)
            .cast("double")
        )

    return F.transform(col, _q)


@_register(
    "sim_mean_vectors",
    f"""
    WITH q AS (
      SELECT label, {_QUANT_SQL} AS v
      FROM embeddings WHERE {_FINITE_SQL}
    ),
    px AS (
      SELECT label, i AS pos, v[i] AS x
      FROM q, unnest(generate_series(1, len(v))) AS u(i)
    ),
    m AS (
      SELECT label, pos, sum(x) AS s, count(*) AS c
      FROM px GROUP BY label, pos
    ),
    nv AS (SELECT label, c AS n_vectors FROM m WHERE pos = 1)
    -- exploded (pos, mean_value) rows, not a bare DOUBLE[] column: the
    -- driver's pandas canonicalizer raises on list cells (round-7 err)
    SELECT m.label, CAST(m.pos AS BIGINT) AS pos,
           m.s / m.c / {_QUANT}.0 AS mean_value,
           nv.n_vectors
    FROM m JOIN nv USING (label)
    """,
)
def sim_mean_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean embedding (llmdata/similarity.py::mean_vectors) —
    the corpus-drift / source-fingerprint telemetry op. Bounded-shuffle
    shape: posexplode to (group, pos) partial sums with map-side
    combine (wire cost = groups × dim × partitions, corpus-size
    independent), reassembled from exactly dim rows per group. Inputs
    are 1e-6-grid quantized (``_QUANT``) so the partial sums are exact
    integers in doubles and the mean is bit-identical across engines
    and summation orders; the oracle replays quantize → per-position
    sum → descale clause for clause. The checked output is exploded
    (pos, mean_value) rows — a bare DOUBLE[] column crashes the
    driver's pandas canonicalizer (round-7 lesson), and exploding
    keeps the cells numeric instead of risking float text formatting."""
    emb = similarity.finite_vectors(
        _t(spark, sf_dir, "embeddings").select("label", "embedding")
    )
    q = emb.select("label", _quantize_vec(F.col("embedding")).alias("embedding"))
    mv = similarity.mean_vectors(q, "label")
    return mv.select(
        "label", "n_vectors", F.posexplode("embedding").alias("pos", "mean_value")
    ).select(
        "label",
        (F.col("pos") + 1).cast("long").alias("pos"),
        (F.col("mean_value") / _QUANT).alias("mean_value"),
        "n_vectors",
    )


def _kmeans_iter_sql(prev: str, a: str, m: str, out: str) -> str:
    """One Lloyd round of the ``embed_kmeans`` mirror: spherical
    assignment (max dot/|c|, ties to the lower centroid id — exactly
    ``assign_ivf_buckets``), per-(bucket, position) integer-exact mean,
    snap to the unit grid, empty buckets keep their previous centroid."""
    return f"""
    {a} AS (
      SELECT vec_id, v, cid AS b FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(c.cv, e.v)
                            / sqrt(list_dot_product(c.cv, c.cv)) DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN {prev} c
      ) WHERE rn = 1
    ),
    {m} AS (
      SELECT b, pos, floor(sum(x) / count(*) + 0.5) AS mu
      FROM (SELECT b, i AS pos, v[i] AS x
            FROM {a}, unnest(generate_series(1, len(v))) AS u(i))
      GROUP BY b, pos
    ),
    {out} AS (
      SELECT p.cid, coalesce(g.nv, p.cv) AS cv
      FROM {prev} p LEFT JOIN
        (SELECT b AS cid, list(mu ORDER BY pos) AS nv FROM {m} GROUP BY b) g
        USING (cid)
    )"""


@_register(
    "embed_kmeans",
    f"""
    WITH e AS (
      SELECT vec_id, {_QUANT_SQL} AS v
      FROM embeddings WHERE {_FINITE_SQL}
    ),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e
           WHERE len(list_filter(v, x -> x <> 0)) > 0 ORDER BY vec_id LIMIT 4),
    {_kmeans_iter_sql('c0', 'a1', 'm1', 'c1')},
    {_kmeans_iter_sql('c1', 'a2', 'm2', 'c2')},
    a3 AS (
      SELECT vec_id, cid AS b FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(c.cv, e.v)
                            / sqrt(list_dot_product(c.cv, c.cv)) DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    sz AS (SELECT b, count(*) AS n FROM a3 GROUP BY b)
    -- exploded (pos, centroid_value) rows, not a bare DOUBLE[] column:
    -- the driver's pandas canonicalizer raises on list cells (round-7 err)
    SELECT centroid_id, n_vectors, CAST(i AS BIGINT) AS pos,
           cv[i] / {_QUANT}.0 AS centroid_value
    FROM (SELECT c2.cid AS centroid_id,
                 coalesce(sz.n, 0) AS n_vectors,
                 c2.cv AS cv
          FROM c2 LEFT JOIN sz ON c2.cid = sz.b) t,
         unnest(generate_series(1, len(cv))) AS u(i)
    """,
)
def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means (llmdata/similarity.py::
    kmeans_fit, the IVF coarse-quantizer trainer): 4 deterministic
    seeds, 2 fixed-point Lloyd rounds (``snap_grid`` snaps each updated
    centroid to the 1e-6 quantization grid), then a final zero-shuffle
    literal-centroid assignment for bucket sizes. On the quantized
    corpus every dot product, norm², and mean numerator is an exact
    integer in a double, so the whole fit is bit-identical across
    engines, reruns, and partitionings — the oracle replays seed →
    assign → snap-mean → assign → snap-mean → final-assign clause for
    clause, including empty buckets keeping their previous centroid.
    Per round the corpus pays one row-local scoring pass and one
    bounded (bucket × dim × partitions) mean shuffle; centroids cross
    the driver as n × dim floats by construction."""
    emb = similarity.finite_vectors(
        _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    q = emb.select("vec_id", _quantize_vec(F.col("embedding")).alias("embedding"))
    cents, _ = similarity.kmeans_fit(q, n=4, iterations=2, tol=0.0, snap_grid=1.0)
    sizes = similarity.assign_ivf_buckets(q, cents).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    # exploded (pos, centroid_value) output: bare array columns crash the
    # driver's pandas canonicalizer (round-7 lesson)
    return (
        cents.join(sizes, cents.centroid_id == sizes.bucket, "left")
        .select(
            "centroid_id",
            F.coalesce("n_vectors", F.lit(0).cast("long")).alias("n_vectors"),
            F.posexplode(F.transform("embedding", lambda x: x / _QUANT)).alias(
                "pos", "centroid_value"
            ),
        )
        .select(
            "centroid_id",
            (F.col("pos") + 1).cast("long").alias("pos"),
            "centroid_value",
            "n_vectors",
        )
    )


def _lsh_oracle_sql(tables: int, bits: int, dim: int) -> str:
    """Mirror SQL for ``sim_topk_lsh``: the md5-derandomized ±1 planes
    (similarity.plane_signs) are inlined as list literals, so DuckDB
    computes bit-identical buckets from the identical plane family."""

    def bucket_expr(t: int) -> str:
        terms = []
        for b in range(bits):
            plane = ", ".join(str(s) for s in similarity.plane_signs(t, b, dim))
            terms.append(
                f"(CASE WHEN list_dot_product(v, [{plane}]) >= 0 THEN {1 << b} ELSE 0 END)"
            )
        return " + ".join(terms)

    sig_selects = " UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {bucket_expr(t)} AS bucket FROM e"
        for t in range(tables)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE {_DIRECTED_SQL}),
    sig AS ({sig_selects}),
    cand AS (
      SELECT DISTINCT p.vec_id AS pid, s.vec_id AS nid
      FROM sig s JOIN sig p ON s.tbl = p.tbl AND s.bucket = p.bucket
      WHERE p.vec_id < 5 AND s.vec_id <> p.vec_id
    ),
    scored AS (
      SELECT c.pid, c.nid,
             round(list_dot_product(pe.v, ne.v)
                   / (sqrt(list_dot_product(pe.v, pe.v)) * sqrt(list_dot_product(ne.v, ne.v))),
                   6) AS cosine
      FROM cand c
      JOIN e pe ON pe.vec_id = c.pid
      JOIN e ne ON ne.vec_id = c.nid
    )
    SELECT pid AS probe_id, nid AS neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY pid ORDER BY cosine DESC, nid ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@_register("sim_topk_lsh", _lsh_oracle_sql(tables=4, bits=6, dim=64))
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH top-10 (4 tables x 6 bits,
    planes derandomized from md5 — no stored model): the second scale
    path next to IVF. Candidates come from equality joins on (table,
    bucket); exact cosine re-ranks. Approximate vs brute force but fully
    deterministic, so the oracle re-derives the identical plane family
    (inlined list literals) and the driver hash-checks the result like
    any exact query (recall vs brute force is asserted in tests/)."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    return similarity.lsh_topk(emb, probes, k=10, tables=4, bits=6, dim=64)


@_register(
    "pipeline_docs_curation",
    f"""
    WITH RECURSIVE d2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text FROM documents
    ),
    keep AS (
      SELECT doc_id, text,
             min(doc_id) OVER (PARTITION BY md5({_NORM})) AS keep_id
      FROM d2
    ),
    base AS (
      SELECT doc_id, text, {_PAD} AS pad,
             length(text) AS n_chars,
             len(string_split({_NORM}, ' ')) AS n_tokens
      FROM keep WHERE doc_id = keep_id
    ),
    {_bpe_oracle_ctes("base")},
    feat AS (
      SELECT base.doc_id, n_chars, n_tokens,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / n_chars AS punct_ratio,
             CAST(list_sum(list_transform(
                   string_split_regex({_NORM}, '[^a-z0-9]+'),
                   w -> CASE WHEN len(w) = 0 THEN 0
                             ELSE CAST(ceil(len(w) / 4.0) AS BIGINT) END)) AS BIGINT)
               AS bpe_estimate,
             coalesce(bc.bpe_tokens, 0) AS bpe_tokens,
             {_LANG_SCORE_SQL['de']} AS score_de,
             {_LANG_SCORE_SQL['en']} AS score_en,
             {_LANG_SCORE_SQL['es']} AS score_es,
             {_LANG_SCORE_SQL['fr']} AS score_fr
      FROM base LEFT JOIN bcnt bc ON base.doc_id = bc.doc_id
    ),
    kept AS (
      SELECT doc_id, n_chars, n_tokens, bpe_estimate, bpe_tokens,
             CASE WHEN score_de = 0 AND score_en = 0 AND score_es = 0 AND score_fr = 0 THEN 'und'
                  WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
                  WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                  WHEN score_es >= score_fr THEN 'es'
                  ELSE 'fr' END AS lang_pred
      FROM feat
      WHERE n_tokens >= 10 AND punct_ratio < 0.2
        AND (CASE WHEN score_de = 0 AND score_en = 0 AND score_es = 0 AND score_fr = 0 THEN 'und'
                  WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
                  WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
                  WHEN score_es >= score_fr THEN 'es'
                  ELSE 'fr' END) IN ('en', 'und')
    )
    SELECT doc_id, n_chars, n_tokens, bpe_estimate, bpe_tokens, lang_pred,
           CASE WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 10000 < 9000 THEN 'train'
                WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 10000 < 9500 THEN 'val'
                ELSE 'test' END AS split,
           CAST(floor(coalesce(sum(bpe_tokens) OVER
                  (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 2048) AS BIGINT) AS pack_id
    FROM kept
    """,
)
def pipeline_docs_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation pipeline in ONE lazy plan —
    the composition the whole llmdata layer exists for:
    exact-dedup (keep min-id representative over the doubled corpus) ->
    quality filtering (token count + punctuation ratio) ->
    language filtering (marker-word heuristic, keep en/und) ->
    token accounting (whitespace tokens, the ceil(len/4) cheap-tier
    estimate carried for comparison, and REAL pretrained-BPE counts —
    llmdata/bpe.py — which are the packing currency) ->
    deterministic train/val/test hash split ->
    concat-and-chunk sequence packing (2048 REAL tokens per window).
    Dedup keeps the window/groupBy on md5(normalized text) (fixed-width
    shuffle key); quality + langid + token stats are all single-pass
    projections that Catalyst collapses into the same stage; the BPE
    count adds one word-keyed broadcast join plus a doc-keyed
    map-side-combined sum (the pandas UDF touches word TYPES only); the
    split is row-local and packing is one cumsum window over the real
    counts."""
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    keep_w = W.partitionBy(F.md5(dedup.normalize_text(F.col("text"))))
    kept = (
        doubled.withColumn("__keep_id", F.min("doc_id").over(keep_w))
        .filter(F.col("doc_id") == F.col("__keep_id"))
        .drop("__keep_id")
    )
    q = text.quality_features(kept).select("doc_id", "n_chars", "n_tokens", "punct_ratio")
    lang = text.language_id(kept).select("doc_id", "lang_pred")
    toks = kept.select(
        "doc_id", text.bpe_token_estimate(F.col("text")).cast("long").alias("bpe_estimate")
    )
    real = bpe.bpe_token_count(kept, bpe.pretrained_merges(spark))
    kept_docs = (
        q.join(lang, "doc_id")
        .join(toks, "doc_id")
        .join(real, "doc_id")
        .filter(
            (F.col("n_tokens") >= 10)
            & (F.col("punct_ratio") < 0.2)
            & F.col("lang_pred").isin("en", "und")
        )
        .select("doc_id", "n_chars", "n_tokens", "bpe_estimate", "bpe_tokens", "lang_pred")
    )
    split = sampling.hash_split(
        kept_docs, {"train": 0.9, "val": 0.05, "test": 0.05}, seed="split"
    )
    # stage boundary before packing: global pack_sequences reads its
    # input three times (boundary sample, window pass, offsets pass).
    # Materialize the curated metadata (6 narrow columns, orders of
    # magnitude smaller than the corpus) as a Parquet stage checkpoint —
    # NOT .persist(): a catalog query must leave no session cache state
    # behind (tests assert zero persistent RDDs after the action), and
    # the parquet stage is exactly what a production pipeline writes at
    # this boundary anyway
    ckpt = _curation_scratch_dir(spark)
    split.write.mode("overwrite").parquet(ckpt)
    split = spark.read.parquet(ckpt)
    return sampling.pack_sequences(split, max_tokens=2048, tokens_col="bpe_tokens")


@_register(
    "text_chunk_overlap",
    f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
    c AS (SELECT doc_id, w, len(w) AS n FROM toks),
    nc AS (
      SELECT doc_id, w,
             CASE WHEN n <= 24 THEN 1 ELSE (n - 8 - 1) // 16 + 1 END AS nch
      FROM c
    ),
    e AS (SELECT doc_id, w, unnest(generate_series(0, nch - 1)) AS chunk_id FROM nc)
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           array_to_string(w[chunk_id * 16 + 1 : chunk_id * 16 + 24], ' ') AS chunk_text,
           CAST(len(w[chunk_id * 16 + 1 : chunk_id * 16 + 24]) AS INT) AS n_tokens
    FROM e
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length-bounded chunking: every document split into
    24-token chunks overlapping by 8 (stride 16) — multi-chunk docs,
    ragged tails, and the <=24-token identity case all occur in the
    10-99-token corpus. Zero-shuffle row-local plan
    (llmdata/sampling.py::chunk_documents)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return sampling.chunk_documents(docs, chunk_size=24, overlap=8)


@_register(
    "text_tfidf",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term != '' GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             tf.tf * ln(n.nd * 1.0 / dfq.df) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS BIGINT)
             AS rank
    FROM scored QUALIFY tfidf > 0 AND rank <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf (llmdata/text.py::
    tfidf_top_terms) — the keyword/topic surface for corpus browsing
    and boilerplate spotting. One bounded (doc, term) aggregate, a
    vocabulary-sized df aggregate, idf as a plain expression with the
    corpus count inlined, a term-keyed broadcastable join back, and a
    per-doc top-k window; corpus-wide terms score idf exactly 0 and
    never rank. Deterministic under ties (tfidf desc, term asc)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.tfidf_top_terms(docs, k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


@_register(
    "text_perplexity",
    f"""
    WITH ctoks AS (
      -- drop blank docs BEFORE tokenizing (bigram_lm's nonblank filter):
      -- string_split('', ' ') is [''] in DuckDB, which would smuggle a
      -- '' unigram into the fit that the engine never counts
      SELECT string_split({_NORM}, ' ') AS w
      FROM (SELECT text FROM documents)
      WHERE coalesce({_NORM}, '') <> ''
    ),
    uni AS (
      SELECT u AS w, count(*) AS c
      FROM (SELECT unnest(w) AS u FROM ctoks) GROUP BY u
    ),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n, count(*) AS v FROM uni),
    big AS (
      SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS c12
      FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM ctoks WHERE len(w) >= 2)
      GROUP BY 1, 2
    ),
    p_uni AS (
      SELECT uni.w, 0.6 * uni.c / tot.n + 0.4 / tot.v AS p
      FROM uni CROSS JOIN tot
    ),
    lp_big AS (
      SELECT big.w1, big.w2,
             ln(0.6 * big.c12 / u1.c + 0.4 * pu.p) AS logp
      FROM big
      JOIN uni u1 ON u1.w = big.w1
      JOIN p_uni pu ON pu.w = big.w2
    ),
    crawl AS ({_AUG_SQL}),
    pairs AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM crawl)
            WHERE len(w) >= 2)
    ),
    lp AS (
      SELECT p.doc_id,
             coalesce(lb.logp, ln(pu.p), -20.0) AS lp
      FROM pairs p
      LEFT JOIN lp_big lb ON lb.w1 = p.w1 AND lb.w2 = p.w2
      LEFT JOIN p_uni pu ON pu.w = p.w2
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
             -avg(lp) AS anl
      FROM lp GROUP BY doc_id
    )
    SELECT c.doc_id, coalesce(n_scored, CAST(0 AS BIGINT)) AS n_scored,
           anl AS avg_neg_logp
    FROM crawl c LEFT JOIN per_doc USING (doc_id)
    """,
)
def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering surface (llmdata/text.py::
    bigram_lm + perplexity): fit the interpolated bigram LM on the
    documents corpus, score the AUGMENTED corpus (originals + copies
    suffixed with an unseen token, so the per-word OOV fallback path
    is exercised alongside in-distribution text). Reported as
    avg_neg_logp = ln(ppl) rather than ppl itself: the exp() form
    reaches ~1e8 where the driver's 1e-6 absolute float rounding
    cannot absorb cross-engine libm ulps; the log form stays O(10)
    with ~1e-15 cross-engine error. The LM is a flat vocab-sized
    table — both scoring joins are broadcastable."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zqx")).alias("text"),
        )
    )
    lm = text.bigram_lm(docs, alpha=0.4)
    scored = text.perplexity(aug, lm, oov_logp=-20.0)
    return scored.select(
        "doc_id", "n_scored", F.log("ppl").alias("avg_neg_logp")
    )


@_register(
    "text_boilerplate",
    """
    WITH bannered AS (
      SELECT doc_id,
             '=== COMMON HEADER ===' || chr(10) || text
               || chr(10) || '=== COMMON FOOTER ===' AS text
      FROM documents
    ),
    split AS (
      SELECT doc_id, string_split(text, chr(10)) AS parts FROM bannered
    ),
    lines AS (
      SELECT doc_id, parts[pos] AS line, pos
      FROM (SELECT doc_id, parts,
                   unnest(generate_series(1, len(parts))) AS pos
            FROM split)
    ),
    freq AS (
      SELECT trim(line) AS t FROM lines WHERE trim(line) != ''
      GROUP BY trim(line) HAVING count(DISTINCT doc_id) >= 2
    ),
    kept AS (
      SELECT doc_id, line, pos FROM lines
      WHERE trim(line) = '' OR trim(line) NOT IN (SELECT t FROM freq)
    )
    SELECT d.doc_id,
           coalesce((SELECT string_agg(line, chr(10) ORDER BY pos)
                     FROM kept WHERE kept.doc_id = d.doc_id), '') AS text
    FROM bannered d
    """,
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line removal (llmdata/text.py::
    strip_common_lines): every document is wrapped in a synthetic
    header/footer banner (so the strip path provably fires on the
    whole corpus), then any line repeating verbatim (after trim) in
    >= 2 distinct documents — the banners, plus any naturally
    duplicated document bodies — is stripped and documents are rebuilt
    in original line order. Two-tier frequency plan: 8-byte hash
    aggregate finds candidates, string-keyed recheck protects the
    mutation from hash collisions."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bannered = docs.select(
        "doc_id",
        F.concat(
            F.lit("=== COMMON HEADER ===\n"),
            F.col("text"),
            F.lit("\n=== COMMON FOOTER ==="),
        ).alias("text"),
    )
    return text.strip_common_lines(bannered, min_docs=2)


@_register(
    "text_repeated_spans",
    f"""
    WITH aug AS (
      SELECT doc_id,
             'shared license header tokens alpha beta ' || text AS text
      FROM documents
    ),
    t AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS w FROM aug
    ),
    spans AS (
      SELECT doc_id, array_to_string(w[i:i+5], ' ') AS span
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 5)) AS i
            FROM t WHERE len(w) >= 6)
    ),
    per_doc AS (
      SELECT span, doc_id, count(*) AS occ FROM spans GROUP BY 1, 2
    )
    SELECT span, count(*) AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occurrences
    FROM per_doc GROUP BY span HAVING count(*) >= 2
    """,
)
def text_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 6-token spans (llmdata/dedup.py::
    repeated_spans) — the memorization/boilerplate report document-level
    dedup can't see. Every document is prefixed with a shared header so
    the span machinery provably fires corpus-wide on top of any natural
    repeats. Two-pass shape: wide shuffles carry only 8-byte span
    hashes; span STRINGS materialize only for the surviving (tiny)
    report via a broadcast join back. The hash column is dropped here
    because span identity, not the hash value, is the oracle-checkable
    surface (Spark xxhash64 has no DuckDB twin)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("shared license header tokens alpha beta "), F.col("text")
        ).alias("text"),
    )
    out = dedup.repeated_spans(docs, window=6, min_docs=2)
    return out.select("span", "n_docs", "n_occurrences")


@_register(
    "dedup_span_coverage",
    f"""
    WITH d2 AS ({_AUG_SQL}),
    toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS w
      FROM d2 WHERE text IS NOT NULL
    ),
    sized AS (SELECT doc_id, w, len(w) AS n_tokens FROM toks),
    idx AS (
      SELECT doc_id, n_tokens, w,
             unnest(generate_series(1, n_tokens - 9)) AS i
      FROM sized WHERE n_tokens >= 10
    ),
    sp AS (
      SELECT doc_id, n_tokens, i,
             ('0x' || substr(md5(array_to_string(w[i:i+9], ' ')), 1, 15))::BIGINT AS h
      FROM idx
    ),
    surv AS (
      SELECT h FROM (SELECT DISTINCT h, doc_id FROM sp)
      GROUP BY h HAVING count(*) >= 2
    ),
    dup AS (SELECT doc_id, n_tokens, i FROM sp JOIN surv USING (h)),
    pieces AS (
      SELECT doc_id, n_tokens,
             coalesce(
               least(10, lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i),
               10) AS piece
      FROM dup
    ),
    cov AS (
      SELECT doc_id, n_tokens,
             count(*) AS dup_spans, sum(piece) AS covered
      FROM pieces GROUP BY 1, 2
    )
    SELECT s.doc_id, s.n_tokens,
           CAST(coalesce(c.dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens,
           CAST(coalesce(c.covered, 0) AS DOUBLE) / s.n_tokens AS coverage
    FROM sized s LEFT JOIN cov c ON s.doc_id = c.doc_id
    """,
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-content coverage (llmdata/dedup.py::
    span_coverage) — the exact-substring dedup DROP signal of Lee et
    al. 2022: the fraction of each doc's tokens inside a 10-token span
    that also occurs in >= 2 distinct documents, computed as a true
    interval UNION (overlapping spans never double-count). The
    `repeated_spans` entry reports the corpus's duplicated spans; this
    one turns positions into the per-doc filter column a curation
    pipeline thresholds on. Fixture is the augmented corpus (every doc
    + a near-exact mutated copy), so originals must come out at
    coverage 1.0 and mutants just under — on top of any natural
    repeats, which the oracle mirrors span for span. Hash identity
    never reaches the output (only which spans collide across docs
    does), so Spark uses codegen xxhash64 while the oracle keeps md5 —
    the `ngram_jaccard_pairs` portability argument. Scale shape: wide
    shuffles carry (8-byte hash, id, pos) only; survivor detection is
    two map-side-combinable aggregates; the interval union is one
    per-document window (bounded by doc length, never global)."""
    return dedup.span_coverage(_augmented(spark, sf_dir), n=10, min_docs=2)


def _jsonl_fixture_schema():
    from pyspark.sql.types import LongType, StringType, StructType

    return (
        StructType()
        .add("doc_id", LongType())
        .add("lang", StringType())
        .add("text", StringType())
    )


def _write_jsonl_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Serialize documents to JSON lines in the engine scratch dir with
    every ``doc_id % 7 == 3`` line deterministically TRUNCATED
    mid-object; returns the directory path. Shared by the batch and
    streaming JSONL ingest entries so both face the identical corrupt
    injection (and the identical DuckDB replay)."""
    import os
    import re

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    line = F.when(
        F.col("doc_id") % 7 == 3,
        F.concat(
            F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(', "text": ')
        ),
    ).otherwise(F.to_json(F.struct("doc_id", "lang", "text")))
    # subdir keyed by sf_dir: one session building this entry at two
    # scale factors (the decade sweep does) must not overwrite the files
    # an earlier build's lazy scan still references
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", sf_dir)
    path = os.path.join(_curation_scratch_dir(spark), f"ingest_jsonl_{safe}")
    docs.select(line.alias("value")).write.mode("overwrite").text(path)
    return path


def _jsonl_lang_accounting(parsed: DataFrame) -> DataFrame:
    """The shared rollup both JSONL ingest entries check: per-lang
    parsed rows / id checksum / null-text count / UTF-8 byte mass, with
    corrupt lines surfacing as a ``__corrupt__`` row."""
    tagged = parsed.select(
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("__corrupt__"))
        .otherwise(F.col("lang"))
        .alias("lang"),
        "doc_id",
        "text",
        "_corrupt_record",
    )
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.count(
            F.when(F.col("text").isNull() & F.col("_corrupt_record").isNull(), 1)
        ).alias("n_null_text"),
        F.sum(F.octet_length("text")).alias("sum_chars"),
    )


#: DuckDB replay of the JSONL fixture's corrupt-injection + accounting —
#: shared by the batch and streaming ingest entries (the scratch path is
#: session-scoped, so the oracle cannot read the file; what it checks is
#: that serialize → corrupt → parse → account is LOSSLESS for good rows
#: and exactly-counted for bad ones)
_JSONL_ACCOUNTING_SQL = """
    WITH tagged AS (
      SELECT CASE WHEN coalesce(doc_id % 7 = 3, FALSE)
                  THEN '__corrupt__' ELSE lang END AS lang,
             CASE WHEN coalesce(doc_id % 7 = 3, FALSE)
                  THEN NULL ELSE doc_id END AS doc_id,
             CASE WHEN coalesce(doc_id % 7 = 3, FALSE)
                  THEN NULL ELSE text END AS text,
             coalesce(doc_id % 7 = 3, FALSE) AS is_bad
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(count(CASE WHEN text IS NULL AND NOT is_bad THEN 1 END)
                AS BIGINT) AS n_null_text,
           CAST(sum(strlen(text)) AS BIGINT) AS sum_chars
    FROM tagged GROUP BY lang
    """


@_register("ingest_jsonl", _JSONL_ACCOUNTING_SQL)
def ingest_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion with corrupt-record accounting
    (sources/readers.py::read_jsonl) — the canonical web-corpus
    interchange format, read the way a 100 TB job must: EXPLICIT schema
    (inference = two full corpus scans), PERMISSIVE mode routing
    malformed lines into ``_corrupt_record`` instead of failing the job
    on one bad shard. The entry is a REAL write + re-read
    (`_write_jsonl_fixture`, the curation checkpoint pattern) with
    every ``doc_id % 7 == 3`` line deterministically TRUNCATED
    mid-object, then scanned back and rolled up per language
    (`_jsonl_lang_accounting`): parsed rows, id checksum, null-text
    count (``to_json`` omits null fields, so null text must round-trip
    to null), UTF-8 byte mass (multibyte round-trip check), corrupt
    lines as a ``__corrupt__`` row. One aggregation, map-side
    combinable; the single non-scan stage is the groupBy exchange on
    (lang)."""
    from temporai_mivdp_spark.sources import readers

    path = _write_jsonl_fixture(spark, sf_dir)
    parsed = readers.read_jsonl(spark, path, _jsonl_fixture_schema())
    return _jsonl_lang_accounting(parsed)


@_register("stream_ingest_jsonl", _JSONL_ACCOUNTING_SQL)
def stream_ingest_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming JSONL landing-zone ingestion executed for real
    (streaming/windows.py::read_jsonl_stream): the SAME corrupt-injected
    JSONL fixture as the batch `ingest_jsonl`, consumed as a Structured
    Streaming FILE SOURCE (the pattern for a landing directory that
    crawl dumps keep arriving into) — explicit schema, PERMISSIVE
    corrupt-line routing, ``maxFilesPerTrigger`` bounding micro-batch
    work — aggregated per language into a complete-mode memory sink
    under an ``availableNow`` trigger, so the bounded replay emits
    exactly the batch rollup and faces the identical DuckDB oracle.
    State is one running-agg row per language (+ the ``__corrupt__``
    bucket) — trivially bounded, which is what makes complete mode safe
    here; the corrupt accounting rides the stream, so a bad landed file
    surfaces in the sink instead of killing the query."""
    from temporai_mivdp_spark import streaming as st_mod

    path = _write_jsonl_fixture(spark, sf_dir)
    parsed = st_mod.read_jsonl_stream(
        spark, path, _jsonl_fixture_schema(), max_files_per_trigger=1024
    )
    agg = _jsonl_lang_accounting(parsed)
    name = _run_stream_to_memory(agg, "stream_jsonl_sink", "complete")
    return spark.table(name)


@_register(
    "shard_assign",
    """
    WITH a AS (
      SELECT doc_id, text,
             ('0x' || substr(md5('epoch0' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 8 AS shard,
             md5('order:epoch0' || CAST(doc_id AS VARCHAR)) AS ord
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
           arg_min(doc_id, ord) AS first_doc,
           arg_max(doc_id, ord) AS last_doc
    FROM a GROUP BY shard
    """,
)
def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard layout (llmdata/sampling.py::
    shard_assign) — the writer-side twin of `deterministic_shuffle`:
    every doc gets a shard (md5 mod 8) and a within-shard order key,
    both row-local, so a 100 TB writer reproduces byte-identical,
    evenly-loaded shard files on any cluster size and re-deals them per
    epoch by changing the seed. The checked surface is per-shard
    accounting: row count and byte mass (the BALANCE the md5 assignment
    must deliver) plus the first/last doc under the shard order (the
    ORDER determinism — one wrong boundary doc means the order key or
    the tie semantics diverged). One map-side-combinable aggregate;
    min_by/max_by keeps the boundary probe out of any sort."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    assigned = sampling.shard_assign(docs, 8, seed="epoch0")
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length("text")).alias("sum_bytes"),
        F.min_by("doc_id", "shard_order").alias("first_doc"),
        F.max_by("doc_id", "shard_order").alias("last_doc"),
    )


@_register(
    "dedup_incremental",
    f"""
    WITH old_docs AS (SELECT doc_id, text FROM documents),
    new_docs AS (
      SELECT doc_id + 2000000 AS doc_id,
             CASE WHEN doc_id % 2 = 0 THEN text ELSE text || ' zqx' END AS text
      FROM documents
    ),
    seen AS (SELECT DISTINCT md5({_NORM}) AS k FROM old_docs),
    keyed AS (SELECT doc_id, text, md5({_NORM}) AS k FROM new_docs),
    inshard AS (
      SELECT doc_id, text, k FROM (
        SELECT doc_id, text, k, min(doc_id) OVER (PARTITION BY k) AS mk
        FROM keyed
      ) WHERE doc_id = mk
    ),
    novel AS (
      SELECT i.doc_id, i.text FROM inshard i
      LEFT JOIN seen s ON i.k = s.k WHERE s.k IS NULL
    ),
    tok_o AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM old_docs),
    idx_o AS (
      SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      FROM tok_o
    ),
    sh_o AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM idx_o WHERE len(w[i:i+2]) = 3
    ),
    base_o AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS x
      FROM sh_o
    ),
    sig_o AS (
      SELECT doc_id, g.i AS h_idx,
             min(((1000003 + g.i * 999983) * x + (12345 + g.i * 7919))
                 % 2147483647) AS mh
      FROM base_o, (SELECT unnest(generate_series(0, 7)) AS i) g
      GROUP BY 1, 2
    ),
    bh_o AS (
      SELECT doc_id, h_idx // 2 AS band,
             md5(string_agg(mh::VARCHAR, ',' ORDER BY mh)) AS bh
      FROM sig_o GROUP BY 1, 2
    ),
    tok_n AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM novel),
    idx_n AS (
      SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      FROM tok_n
    ),
    sh_n AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM idx_n WHERE len(w[i:i+2]) = 3
    ),
    base_n AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS x
      FROM sh_n
    ),
    sig_n AS (
      SELECT doc_id, g.i AS h_idx,
             min(((1000003 + g.i * 999983) * x + (12345 + g.i * 7919))
                 % 2147483647) AS mh
      FROM base_n, (SELECT unnest(generate_series(0, 7)) AS i) g
      GROUP BY 1, 2
    ),
    bh_n AS (
      SELECT doc_id, h_idx // 2 AS band,
             md5(string_agg(mh::VARCHAR, ',' ORDER BY mh)) AS bh
      FROM sig_n GROUP BY 1, 2
    ),
    pairs AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM bh_n n JOIN bh_o o ON n.band = o.band AND n.bh = o.bh
    )
    SELECT nv.doc_id AS new_id,
           CAST(coalesce(m.c, 0) AS BIGINT) AS n_matches
    FROM novel nv
    LEFT JOIN (SELECT new_id, count(*) AS c FROM pairs GROUP BY 1) m
      ON nv.doc_id = m.new_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest dedup of a NEW shard against PERSISTED corpus
    state (llmdata/dedup.py::incremental_exact_novel +
    incremental_lsh_candidates) — the shape a daily 100 TB crawl
    pipeline actually runs: the corpus is never rescanned, only its two
    state tables are consulted (the exact content-key set and the LSH
    band index from `lsh_band_index`, both appendable). Fixture: the
    new shard is every doc re-submitted — even ids verbatim (must be
    REMOVED by the exact stage), odd ids mutated with a token appended
    (must SURVIVE the exact stage and then surface with band matches
    against their originals). Output is one row per exact-novel new doc
    with its count of colliding index docs — 0 = genuinely new
    content. The oracle replays every stage: the md5 key anti-join, the
    within-shard min-id keeper (window over the key, null keys grouped
    — identical in both engines), and the full minhash/band chain
    (the portable md5-seeded permutation family of
    `dedup_minhash_lsh`'s oracle). Scale shape: stage 1 is one
    shard-sized window + an anti-join against the key set; stage 2's
    join is new-shard-sized on one side and equality-keyed on
    (band, bh) — with the index bucketed by (band, bh) the shuffle is
    one-sided."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new_shard = docs.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" zqx")))
        .alias("text"),
    )
    seen = docs.select(
        F.md5(dedup.normalize_text(F.col("text"))).alias("content_key")
    ).distinct()
    novel = dedup.incremental_exact_novel(new_shard, seen)
    index = dedup.lsh_band_index(docs, num_hashes=8, bands=4)
    cands = dedup.incremental_lsh_candidates(novel, index, num_hashes=8, bands=4)
    matches = cands.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_matches"))
    return (
        novel.select(F.col("doc_id").alias("new_id"))
        .join(matches, "new_id", "left")
        .select(
            "new_id",
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        )
    )


@_register(
    "stream_ingest_dedup",
    f"""
    WITH old_docs AS (SELECT doc_id, text FROM documents),
    b0keys AS (
      SELECT md5({_NORM}) AS k, min(doc_id) AS keep FROM old_docs GROUP BY 1
    ),
    b0 AS (SELECT keep AS doc_id, CAST(0 AS BIGINT) AS ingest_batch FROM b0keys),
    kept0 AS (
      SELECT d.doc_id, d.text FROM old_docs d JOIN b0keys b ON d.doc_id = b.keep
    ),
    new_docs AS (
      SELECT doc_id + 2000000 AS doc_id,
             CASE WHEN doc_id % 2 = 0 THEN text ELSE text || ' zqx' END AS text
      FROM documents
    ),
    keyed AS (SELECT doc_id, text, md5({_NORM}) AS k FROM new_docs),
    inshard AS (
      SELECT doc_id, text, k FROM (
        SELECT doc_id, text, k, min(doc_id) OVER (PARTITION BY k) AS mk
        FROM keyed
      ) WHERE doc_id = mk
    ),
    novel AS (
      SELECT i.doc_id, i.text FROM inshard i
      LEFT JOIN b0keys s ON i.k = s.k WHERE s.k IS NULL
    ),
    tok_o AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM kept0),
    idx_o AS (
      SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      FROM tok_o
    ),
    sh_o AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM idx_o WHERE len(w[i:i+2]) = 3
    ),
    base_o AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS x
      FROM sh_o
    ),
    sig_o AS (
      SELECT doc_id, g.i AS h_idx,
             min(((1000003 + g.i * 999983) * x + (12345 + g.i * 7919))
                 % 2147483647) AS mh
      FROM base_o, (SELECT unnest(generate_series(0, 7)) AS i) g
      GROUP BY 1, 2
    ),
    bh_o AS (
      SELECT doc_id, h_idx // 2 AS band,
             md5(string_agg(mh::VARCHAR, ',' ORDER BY mh)) AS bh
      FROM sig_o GROUP BY 1, 2
    ),
    tok_n AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM novel),
    idx_n AS (
      SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
      FROM tok_n
    ),
    sh_n AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
      FROM idx_n WHERE len(w[i:i+2]) = 3
    ),
    base_n AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT % 2147483647 AS x
      FROM sh_n
    ),
    sig_n AS (
      SELECT doc_id, g.i AS h_idx,
             min(((1000003 + g.i * 999983) * x + (12345 + g.i * 7919))
                 % 2147483647) AS mh
      FROM base_n, (SELECT unnest(generate_series(0, 7)) AS i) g
      GROUP BY 1, 2
    ),
    bh_n AS (
      SELECT doc_id, h_idx // 2 AS band,
             md5(string_agg(mh::VARCHAR, ',' ORDER BY mh)) AS bh
      FROM sig_n GROUP BY 1, 2
    ),
    matched AS (
      SELECT DISTINCT n.doc_id
      FROM bh_n n JOIN bh_o o ON n.band = o.band AND n.bh = o.bh
    ),
    b1 AS (
      SELECT nv.doc_id, CAST(1 AS BIGINT) AS ingest_batch
      FROM novel nv LEFT JOIN matched m ON nv.doc_id = m.doc_id
      WHERE m.doc_id IS NULL
    )
    SELECT doc_id, ingest_batch FROM b0
    UNION ALL SELECT doc_id, ingest_batch FROM b1
    """,
)
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest dedup STREAM executed for real
    (streaming/ingest.py::ingest_dedup_stream) — the foreachBatch
    pipeline whose only cross-shard memory is the two slim state tables
    (exact content keys + LSH band index), with idempotent
    epoch-partitioned writes. Fixture: two parquet shards land in
    arrival order (``maxFilesPerTrigger=1`` makes each shard a
    micro-batch) — shard 0 is the corpus, shard 1 re-submits every doc
    (evens verbatim, odds mutated). The accepted output must therefore
    be: batch 0 = the corpus's exact-dedup keepers (state was empty, so
    nothing near-dups), batch 1 = only the mutants that ALSO escape the
    band index built from batch 0's survivors (~0.4% of them at
    sf0.001). The DuckDB oracle replays the entire two-batch history —
    keeper windows, key anti-join, and the full minhash/band chain
    against batch-0's kept docs — so a wrong batch boundary, a state
    leak (a batch seeing its own keys), or a band drift all
    hash-mismatch. Scale notes in the module docstring: state reads are
    key-only (accepted text never re-read), and a replayed epoch
    overwrites its own partitions byte-for-byte."""
    import os
    import re

    from temporai_mivdp_spark import streaming as st_mod

    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", sf_dir)
    root = os.path.join(_curation_scratch_dir(spark), f"stream_ingest_{safe}")
    inp, state, out = f"{root}/in", f"{root}/state", f"{root}/out"
    if not os.path.exists(inp):
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        # one part file per shard so maxFilesPerTrigger=1 maps one
        # shard to one micro-batch; sequential writes order the mtimes
        docs.coalesce(1).write.mode("append").parquet(inp)
        docs.select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.when(F.col("doc_id") % 2 == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" zqx")))
            .alias("text"),
        ).coalesce(1).write.mode("append").parquet(inp)
    writer = st_mod.ingest_dedup_stream(
        spark,
        inp,
        state,
        out,
        schema="doc_id long, text string",
        num_hashes=8,
        bands=4,
        max_files_per_trigger=1,
    )
    q = writer.trigger(availableNow=True).start()
    _await_or_raise(q, 600)
    return spark.read.parquet(out).select(
        "doc_id", F.col("ingest_batch").cast("long").alias("ingest_batch")
    )


def _langid_pred_ctes(src: str) -> str:
    """CTE block computing ``langpred(doc_id, lang_pred)`` — the FULL
    20-language trigram replay of ``text.language_id_ngram`` over a
    source CTE ``src`` with (doc_id, text). Same derivation discipline
    as ``_langid_ngram_oracle_sql`` (score tables re-derived from the
    fixed in-repo samples and inlined as VALUES), factored so gate
    compositions (the curation stream) can consume the prediction
    without duplicating the scorer by hand — `curation_gate` uses the
    trigram tier, NOT the marker heuristic the batch curation
    composition uses."""
    tables = text.trigram_score_tables()
    langs = sorted(tables)
    feats = sorted(next(iter(tables.values())))

    def esc(s: str) -> str:
        return s.replace("'", "''")

    values = ",\n      ".join(
        "('" + esc(g) + "', " + ", ".join(str(tables[la][g]) for la in langs) + ")"
        for g in feats
    )
    w_cols = ", ".join(f"w_{la}" for la in langs)
    score_cols = ", ".join(
        f"CAST(sum(w_{la}) AS BIGINT) AS score_{la}" for la in langs
    )
    coalesced = ", ".join(f"coalesce(score_{la}, 0) AS score_{la}" for la in langs)
    return f"""lg_t AS (
      SELECT doc_id, text, {_NORM} AS nt FROM {src}
    ),
    lg_g AS (
      SELECT doc_id, substr(nt, i, 3) AS g3
      FROM (SELECT doc_id, nt, unnest(generate_series(1, length(nt) - 2)) AS i
            FROM lg_t WHERE length(nt) >= 3)
    ),
    lg_w(g3, {w_cols}) AS (VALUES
      {values}
    ),
    lg_s AS (
      SELECT doc_id, {score_cols}
      FROM lg_g JOIN lg_w USING (g3) GROUP BY doc_id
    ),
    lg_f AS (
      SELECT lg_t.doc_id, lg_t.text, {coalesced}
      FROM lg_t LEFT JOIN lg_s ON lg_t.doc_id = lg_s.doc_id
    ),
    langpred AS (
      SELECT doc_id, {_langid_argmax_case(langs)} AS lang_pred FROM lg_f
    )"""


@_register(
    "stream_ingest_curation",
    f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, text, {_PAD} AS pad,
             length(text) AS n_chars,
             len(string_split({_NORM}, ' ')) AS n_tokens
      FROM documents
    ),
    {_bpe_oracle_ctes("base")},
    {_langid_pred_ctes("base")},
    feat AS (
      SELECT base.doc_id, n_tokens,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / n_chars
               AS punct_ratio,
             coalesce(bc.bpe_tokens, 0) AS bpe_tokens
      FROM base LEFT JOIN bcnt bc ON base.doc_id = bc.doc_id
    ),
    gate AS (
      SELECT f.doc_id,
             coalesce(n_tokens >= 10 AND punct_ratio < 0.2
                      AND lp.lang_pred IN ('en', 'und'),
                      FALSE) AS keep,
             n_tokens, bpe_tokens, lp.lang_pred
      FROM feat f LEFT JOIN langpred lp ON f.doc_id = lp.doc_id
    )
    SELECT doc_id, keep,
           CASE WHEN keep THEN n_tokens END AS n_tokens,
           CASE WHEN keep THEN bpe_tokens END AS bpe_tokens,
           CASE WHEN keep THEN lang_pred END AS lang_pred
    FROM gate
    """,
)
def stream_ingest_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation gate executed for real
    (streaming/ingest.py::ingest_curation_stream): document shards land
    in a watched directory and pass through llmdata/pipeline.py::
    curation_gate — the SAME function the batch `pipeline_docs_curation`
    composition runs, so the two paths cannot drift — with accepted
    docs and quarantined rejects routed to separate epoch-partitioned
    sinks (the audit-trail shape of a production ingest). The checked
    surface is the ROUTING DECISION for every submitted doc (one row
    per doc with its `keep` flag — a doc missing from BOTH sinks, the
    classic null-propagating-filter bug, shows up as a lost row) plus
    the full gate metadata (token count, real-BPE count, predicted
    language) for every ACCEPTED doc; quarantine metadata is nulled on
    both sides because degenerate inputs (null/blank text) are exactly
    where engine feature semantics legitimately fork — the decision,
    not the diagnostics, is the contract there. Exactly-once via
    checkpoint + idempotent batch-partitioned writes."""
    import os
    import re

    from temporai_mivdp_spark.streaming.ingest import ingest_curation_stream

    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", sf_dir)
    root = os.path.join(_curation_scratch_dir(spark), f"stream_curation_{safe}")
    inp, out = f"{root}/in", f"{root}/out"
    if not os.path.exists(inp):
        _t(spark, sf_dir, "documents").select("doc_id", "text").coalesce(
            1
        ).write.mode("append").parquet(inp)
    q = (
        ingest_curation_stream(spark, inp, out, schema="doc_id long, text string")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_raise(q, 600)

    def _route(path: str) -> DataFrame | None:
        try:
            return spark.read.parquet(path)
        except Exception:  # route empty: parquet dir has no data files
            return None

    acc = _route(f"{out}/accepted")
    qua = _route(f"{out}/quarantine")
    parts = []
    if acc is not None:
        parts.append(
            acc.select(
                "doc_id",
                F.lit(True).alias("keep"),
                F.col("n_tokens").cast("long").alias("n_tokens"),
                F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
                "lang_pred",
            )
        )
    if qua is not None:
        parts.append(
            qua.select(
                "doc_id",
                F.lit(False).alias("keep"),
                F.lit(None).cast("long").alias("n_tokens"),
                F.lit(None).cast("long").alias("bpe_tokens"),
                F.lit(None).cast("string").alias("lang_pred"),
            )
        )
    if not parts:
        raise RuntimeError("curation stream produced no output partitions")
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


def _bpe_train_oracle_sql(num_merges: int = 8, max_word_types: int = 4096) -> str:
    """Full-mirror SQL for ``text_bpe_train``: replays Sennrich BPE
    TRAINING itself, one unrolled (pair-count → argmax → merge-apply)
    stage per learned merge. Uses `_bpe_oracle_ctes`'s bar encoding and
    ``'|' → chr(1)`` delimiter mapping (unmapped in the final SELECT);
    pair extraction splits the bar string back into its symbol list,
    the argmax tie-break is (count desc, pair asc) — python tuple order
    == DuckDB binary collation because UTF-8 preserves code-point order
    — and each stage recounts from the CURRENT segmentation, which is
    equivalent to the engine's incremental variant because a merged
    pair's occurrences are all consumed by the left-to-right rewrite.
    When a stage finds no pair (fully merged / degenerate corpus), its
    LIMIT-1 CTE is empty, the cross join empties every later stage, and
    the output simply stops at the merges learned so far — exactly the
    trainer's ``break``."""
    stages = []
    for k in range(1, num_merges + 1):
        prev = f"s{k - 1}"
        stages.append(f"""e{k} AS (
      SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
      FROM (SELECT cnt, string_split(trim(s, '|'), '||') AS syms FROM {prev})
    ),
    p{k} AS (
      SELECT syms[i] AS a, syms[i + 1] AS b, sum(cnt) AS c
      FROM e{k} GROUP BY 1, 2
    ),
    b{k} AS (SELECT a, b FROM p{k} ORDER BY c DESC, a ASC, b ASC LIMIT 1),
    s{k} AS (
      SELECT token, cnt,
             replace(s, '|' || b{k}.a || '||' || b{k}.b || '|',
                        '|' || b{k}.a || b{k}.b || '|') AS s
      FROM {prev} CROSS JOIN b{k}
    )""")
        # noqa: the replace pattern is the _bpe_oracle_ctes merge kernel
    selects = "\n    UNION ALL ".join(
        f"SELECT {k - 1} AS rank, replace(a, chr(1), '|') AS left,"
        f" replace(b, chr(1), '|') AS right FROM b{k}"
        for k in range(1, num_merges + 1)
    )
    return f"""
    WITH wt AS (
      SELECT token, cnt FROM (
        SELECT t AS token, count(*) AS cnt
        FROM (SELECT unnest(string_split({_NORM}, ' ')) AS t FROM documents)
        WHERE t <> '' GROUP BY 1
      ) ORDER BY cnt DESC, token ASC LIMIT {max_word_types}
    ),
    s0 AS (
      SELECT token, cnt,
             '||' || array_to_string(
                       string_split(replace(token, '|', chr(1)), ''), '||') || '||'
               AS s
      FROM wt
    ),
    {",".join(stages)}
    {selects}
    """


@_register("text_bpe_train", _bpe_train_oracle_sql())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING on the corpus, oracle-checked merge by
    merge (llmdata/bpe.py::train_bpe): one distributed aggregate builds
    the bounded word-frequency table (top 4096 types by count-desc,
    word-asc — TakeOrdered, never a global window), then the Sennrich
    merge loop runs driver-side over that table (the textbook scale
    split — HF/sentencepiece trainers do the same). The DuckDB oracle
    replays TRAINING ITSELF — eight unrolled pair-count → argmax →
    merge-apply stages over the same word table — so a wrong tie-break,
    a missed pair consumption, or an unstable word-table cutoff each
    change a learned merge and hash-mismatch. The result is a plain
    (rank, left, right) dimension, persistable next to the corpus like
    any vocab; `text_bpe_count` / `pipeline_docs_curation` then apply
    such tables at scale."""
    docs = _t(spark, sf_dir, "documents").select("text")
    return bpe.train_bpe(docs, num_merges=8, max_word_types=4096)


@_register(
    "sketch_quantile_merge",
    """
    WITH v AS (
      SELECT event_type, value,
             coalesce(event_id % 2 = 0, FALSE) AS in_a
      FROM events WHERE value IS NOT NULL
    ),
    ha AS (
      SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
             count(*) AS cnt
      FROM v WHERE in_a GROUP BY 1, 2
    ),
    hb AS (
      SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
             count(*) AS cnt
      FROM v WHERE NOT in_a GROUP BY 1, 2
    ),
    hm AS (
      SELECT event_type, bucket, sum(cnt) AS cnt
      FROM (SELECT * FROM ha UNION ALL SELECT * FROM hb) GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bucket,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n_rows
      FROM hm
    ),
    p50 AS (
      SELECT event_type, n_rows,
             min(bucket) * CAST(10.0 AS DOUBLE) AS p50_merged
      FROM c WHERE cum >= ceil(0.5 * n_rows) GROUP BY 1, 2
    ),
    na AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_a FROM ha GROUP BY 1),
    nb AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_b FROM hb GROUP BY 1),
    r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    ex AS (
      SELECT event_type, value AS p50_exact FROM r
      WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
    )
    -- CAST n_rows like n_a/n_b: the window sum is HUGEINT, and the
    -- driver's pandas .df() path coerces HUGEINT to float64 (round-7 miss)
    SELECT p50.event_type,
           coalesce(na.n_a, 0) AS n_a,
           coalesce(nb.n_b, 0) AS n_b,
           CAST(n_rows AS BIGINT) AS n_rows, p50_merged, p50_exact
    FROM p50
    LEFT JOIN na ON p50.event_type = na.event_type
    LEFT JOIN nb ON p50.event_type = nb.event_type
    JOIN ex ON p50.event_type = ex.event_type
    """,
)
def sketch_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dump quantile estimation from MERGED sketch state
    (operators/sketches.py::merge_histograms) — the quantile twin of
    `sketch_overlap`: the corpus arrives as two disjoint dumps (even /
    odd event ids), each builds its per-group fixed-width histogram
    independently, and the p50 estimate comes from the FOLDED state
    alone — counts add exactly, so telemetry over a growing corpus
    never rescans earlier dumps. The per-dump row masses ride along
    (the fold's conservation check: n_a + n_b == n_rows in every
    group), the exact p50 order statistic is the error surface, and the
    DuckDB oracle replays dump splitting, both histograms, the count
    fold, and the cumulative-collapse estimator bit for bit. Sketch
    side: two map-side-combinable groupBy.counts + a histogram-row
    union; the only raw-data window is the verification column's."""
    from temporai_mivdp_spark.operators import sketches

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    in_a = F.coalesce(F.col("event_id") % 2 == 0, F.lit(False))
    a = ev.filter(in_a).select("event_type", "value")
    b = ev.filter(~in_a).select("event_type", "value")
    ha = sketches.fixed_width_histogram(a, F.col("value"), ["event_type"], 10.0)
    hb = sketches.fixed_width_histogram(b, F.col("value"), ["event_type"], 10.0)
    merged = sketches.merge_histograms(ha, hb)
    p50 = sketches.estimate_quantile(merged, 0.5, 10.0, "p50_merged")
    na = ha.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("n_a"))
    nb = hb.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("n_b"))
    w = Window.partitionBy("event_type").orderBy("value")
    cw = Window.partitionBy("event_type")
    exact = (
        ev.select(
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(cw).alias("n"),
        )
        .filter(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")))
        .select("event_type", F.col("value").alias("p50_exact"))
    )
    return (
        p50.join(na, "event_type", "left")
        .join(nb, "event_type", "left")
        .join(exact, "event_type")
        .select(
            "event_type",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
            "n_rows",
            "p50_merged",
            "p50_exact",
        )
    )


@_register(
    "text_quantile_norm",
    f"""
    WITH scored AS (
      SELECT doc_id,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS grp,
             CAST(strlen(text) AS BIGINT) AS score
      FROM documents
    )
    SELECT doc_id, grp, score,
           percent_rank() OVER (PARTITION BY grp ORDER BY score NULLS FIRST)
             AS score_pct
    FROM scored
    """,
)
def text_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group percentile-rank calibration (llmdata/text.py::
    quantile_normalize): raw quality scores are not comparable across
    sources/languages, so keep-thresholds must rank WITHIN groups.
    Groups here are md5-derived (16 hex buckets — engine-portable
    deterministic grouping), score = byte length; one rank window per
    group = a single exchange on the group key."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("grp"),
        # octet_length == DuckDB strlen (BYTES); F.length counts CHARS
        # and diverges on any multibyte corpus
        F.octet_length("text").cast("long").alias("score"),
    )
    return text.quantile_normalize(docs, "score", group_col="grp")


@_register(
    "text_gopher",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_PAD} AS pad,
             length(text) AS n_chars,
             string_split({_NORM}, ' ') AS w,
             len(string_split({_NORM}, ' ')) AS n_tokens
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM t WHERE n_tokens >= 2)
    ),
    gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
    rep AS (
      SELECT doc_id, max(c) AS max_c, sum(c) AS tot, count(*) AS dist
      FROM gc GROUP BY 1
    ),
    feats AS (
      SELECT t.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             n_chars * 1.0 / n_tokens AS cpt,
             ({_STOP_SUM}) * 1.0 / n_tokens AS stop_ratio,
             coalesce(max_c * 2.0 / (tot + 1), 0.0) AS topf,
             coalesce((tot - dist) * 1.0 / tot, 0.0) AS dupf
      FROM t LEFT JOIN rep ON t.doc_id = rep.doc_id
    )
    SELECT doc_id, n_tokens,
           n_tokens BETWEEN 20 AND 100000 AS keep_length,
           cpt BETWEEN 3.0 AND 10.0 AS keep_word_shape,
           stop_ratio >= 0.02 AS keep_stopwords,
           (topf <= 0.20 AND dupf <= 0.30) AS keep_repetition,
           (n_tokens BETWEEN 20 AND 100000) AND (cpt BETWEEN 3.0 AND 10.0)
             AND stop_ratio >= 0.02 AND topf <= 0.20 AND dupf <= 0.30
             AS keep
    FROM feats
    """,
)
def text_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full published Gopher document-filter policy, oracle-checked
    end to end (llmdata/text.py::gopher_keep): token-count window,
    mean-word-length window, stopword floor, and both repetition caps
    (top-2-gram coverage, duplicate-2-gram fraction), each surfaced as
    its own keep_* verdict so a rejected document says WHY, plus the
    conjunction. Thresholds follow the paper except min_tokens=20 (the
    10-99-token synthetic corpus would be all-reject at the paper's
    50). Plan: one projection + one hashed-2-gram shuffle — the same
    feature SQL the text_quality oracle already pins, with the rule
    layer on top."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.gopher_keep(docs, min_tokens=20)


# Shared fit+score CTE chain for both DSIR entries: hashed-unigram
# target/raw fits, integer-scaled log-ratio dimension, exact per-doc
# importance (mirrors llmdata/dsir.py step by step).
_DSIR_FIT_SCORE_CTE = f"""
    WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t FROM documents
      ) WHERE t <> ''
    ),
    b AS (
      SELECT doc_id,
             ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096 AS bucket
      FROM tok
    ),
    tcnt AS (
      SELECT bucket, count(*) AS ct FROM b
      WHERE doc_id IN (SELECT doc_id FROM documents
                       WHERE source IN ('src1', 'src2', 'src3'))
      GROUP BY 1
    ),
    rcnt AS (SELECT bucket, count(*) AS cr FROM b GROUP BY 1),
    j AS (
      SELECT coalesce(t.bucket, r.bucket) AS bucket,
             coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
      FROM tcnt t FULL OUTER JOIN rcnt r ON t.bucket = r.bucket
    ),
    ratio AS (
      SELECT bucket,
             CAST(round(1000000 * (
               ln((ct + 1.0) / (sum(ct) OVER () + 4096))
               - ln((cr + 1.0) / (sum(cr) OVER () + 4096))
             )) AS BIGINT) AS score
      FROM j
    ),
    imp AS (
      SELECT b.doc_id,
             CAST(sum(coalesce(score, 0)) AS BIGINT) AS importance,
             CAST(count(*) AS BIGINT) AS n_scored
      FROM b LEFT JOIN ratio USING (bucket) GROUP BY 1
    ),
    full_imp AS (
      SELECT d.doc_id,
             coalesce(importance, 0) AS importance,
             coalesce(n_scored, 0) AS n_scored
      FROM documents d LEFT JOIN imp ON d.doc_id = imp.doc_id
    )
"""


@_register(
    "dsir_select",
    _DSIR_FIT_SCORE_CTE
    + """
    SELECT doc_id, importance, n_scored,
           row_number() OVER (ORDER BY importance DESC, doc_id ASC) <= 100
             AS selected
    FROM full_imp
    """,
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR domain-targeted selection (llmdata/dsir.py; Xie et al. 2023)
    end to end: target = the src1-3 slice of the corpus, raw = the whole
    corpus; fit both hashed-unigram distributions (4096 buckets, two
    bounded aggregations), build the integer-scaled log-ratio broadcast
    dimension, score every document (explode → broadcast join →
    map-side-combined exact integer sum), and flag the deterministic
    top-100 via the broadcast-threshold selection (TakeOrderedAndProject
    boundary, no doc-scale window — plan-pinned by
    tests/test_plans.py::test_dsir_selection_has_no_doc_scale_window).
    The oracle replays the entire fit + score + select chain, so the
    check is scale-factor-independent. The Gumbel resampling tier is
    the separate hash-compared entry ``dsir_gumbel``."""
    from temporai_mivdp_spark.llmdata import dsir

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    raw = docs.select("doc_id", "text")
    target = docs.filter(F.col("source").isin("src1", "src2", "src3")).select(
        "doc_id", "text"
    )
    ratios = dsir.dsir_log_ratios(raw, target, n_buckets=4096)
    imp = dsir.dsir_importance(raw, ratios, n_buckets=4096)
    return dsir.dsir_top_k(imp, k=100)


@_register(
    "dsir_gumbel",
    _DSIR_FIT_SCORE_CTE
    + """
    , gkey AS (
      SELECT doc_id, importance, n_scored,
             CAST(round(importance / 1.0) AS BIGINT)
             + CAST(round(1000000 * -ln(-ln(
                 (('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  + 0.5) / 4294967296.0
               ))) AS BIGINT) AS gumbel_key
      FROM full_imp
    )
    SELECT doc_id, importance, n_scored,
           row_number() OVER (ORDER BY gumbel_key DESC, doc_id ASC) <= 100
             AS selected,
           gumbel_key
    FROM gkey
    """,
)
def dsir_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING proper (llmdata/dsir.py::
    dsir_gumbel_sample; Xie et al. 2023 §2): k draws without
    replacement with probability ∝ exp(importance/1e6) via the Gumbel
    top-k trick. Same fit + score chain as ``dsir_select``; the
    selection key is the INTEGER-scaled ``importance + round(1e6·g)``
    with md5-derandomized noise g (dsir.py::dsir_gumbel_key), so the
    draw is deterministic, partitioning-invariant, and hash-comparable
    — the oracle replays fit + score + key + selection end to end.
    Selection is the same broadcast-threshold plan as dsir_top_k
    (TakeOrderedAndProject boundary, no doc-scale window)."""
    from temporai_mivdp_spark.llmdata import dsir

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    raw = docs.select("doc_id", "text")
    target = docs.filter(F.col("source").isin("src1", "src2", "src3")).select(
        "doc_id", "text"
    )
    ratios = dsir.dsir_log_ratios(raw, target, n_buckets=4096)
    imp = dsir.dsir_importance(raw, ratios, n_buckets=4096)
    return dsir.dsir_gumbel_sample(imp, k=100, seed="dsir", key_col="gumbel_key")


def _quality_model_oracle_sql() -> str:
    """Full-mirror oracle for text_quality_model: the same feature SQL
    the text_quality oracle pins, a fixed-order literal dot product with
    the pretrained weights (re-derived at registration — the langid
    score-table discipline), no transcendentals, so both engines produce
    bit-identical logits."""
    from temporai_mivdp_spark.llmdata.quality_model import (
        FEATURES,
        pretrained_quality_weights,
    )

    b, w = pretrained_quality_weights()
    logit = repr(b) + "".join(
        f" + {wj!r} * {name}" for name, wj in zip(FEATURES, w)
    )
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_PAD} AS pad,
             length(text) AS n_chars,
             string_split({_NORM}, ' ') AS w,
             len(string_split({_NORM}, ' ')) AS n_tokens
      FROM documents
    ),
    f AS (
      SELECT doc_id,
        CASE WHEN n_tokens IS NULL THEN 0.0
             ELSE least(n_tokens, 512) / 512.0 END AS len_feat,
        coalesce(n_chars * 1.0 / n_tokens / 10.0, 0.0) AS cpt_feat,
        CASE WHEN coalesce(n_chars, 0) = 0 THEN 0.0
             ELSE length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / n_chars
        END AS punct_ratio,
        CASE WHEN coalesce(n_chars, 0) = 0 THEN 0.0
             ELSE length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / n_chars
        END AS digit_ratio,
        CASE WHEN coalesce(n_chars, 0) = 0 THEN 0.0
             ELSE length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0 / n_chars
        END AS upper_ratio,
        coalesce(({_STOP_SUM}) * 1.0 / n_tokens, 0.0) AS stopword_ratio,
        coalesce(len(list_distinct(w)) * 1.0 / len(w), 0.0) AS uniq_ratio
      FROM t
    )
    SELECT doc_id, len_feat, cpt_feat, punct_ratio, digit_ratio, upper_ratio,
           stopword_ratio, uniq_ratio,
           ({logit}) AS logit,
           ({logit}) > 0 AS keep
    FROM f
    """


@_register(
    "sketch_distinct",
    f"""
    WITH d AS (
      SELECT source, {_NORM} AS k FROM documents WHERE text IS NOT NULL
    ),
    h AS (
      SELECT source, k,
             ('0x' || substr(md5(k), 1, 13))::BIGINT AS h,
             ('0x' || substr(md5(k), 14, 4))::BIGINT % 16 AS bucket
      FROM d
    ),
    pb AS (SELECT source, bucket, min(h) AS m FROM h GROUP BY 1, 2),
    sk AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_buckets_occupied,
             CAST(sum(m) AS BIGINT) AS s
      FROM pb GROUP BY 1
    ),
    ex AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_exact
      FROM d GROUP BY 1
    )
    SELECT ex.source, n_docs, n_distinct_exact, n_buckets_occupied,
           CASE WHEN n_buckets_occupied < 16
                THEN -16.0 * ln(1.0 - CAST(n_buckets_occupied AS DOUBLE) / 16.0)
                -- 16*15*2^52 pre-multiplied (exact in a double): DuckDB
                -- types bare x.0 literals DECIMAL and the three-way
                -- DECIMAL product overflows DECIMAL(18)
                ELSE CAST(1080863910568919040 AS DOUBLE) / CAST(s AS DOUBLE) END
             AS distinct_est
    FROM ex JOIN sk USING (source)
    """,
)
def sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-content estimation via the mergeable
    bucketed-minimum sketch (operators/sketches.py) — the
    ORACLE-CHECKABLE twin of ``corpus_stats``' HyperLogLog telemetry:
    built from md5/min/sum/ln only, so the DuckDB oracle replays the
    whole estimator (hash sum and occupancy are exact integers; the
    estimate branches are pure functions of them — exact division on
    the harmonic path, one 1-ulp-agreeing ``ln`` on the linear-counting
    path, far inside the harness's 6-decimal canonicalization). The
    exact per-source distinct count rides alongside so the estimate's
    error is visible in the output itself. k=16 buckets keeps BOTH
    regimes exercised across the test scales (linear counting under
    partial occupancy at sf0.001/sf0.01 where sources hold ~25 docs,
    the harmonic bucket-minimum path at sf0.1 and beyond); a deployment
    raises k for precision — error ≈ 1/√k, the sketch stays
    groups × k rows. The exact-distinct column is the entry's own
    verification surface; a 100 TB run drops it and keeps the two
    map-side-combinable sketch aggregates."""
    from temporai_mivdp_spark.operators import sketches

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", dedup.normalize_text(F.col("text")).alias("k"))
    )
    est = sketches.bucket_min_distinct(
        docs, key=F.col("k"), group_cols=["source"], n_buckets=16
    )
    exact = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("k").alias("n_distinct_exact"),
    )
    return exact.join(est, "source").select(
        "source", "n_docs", "n_distinct_exact", "n_buckets_occupied", "distinct_est"
    )


@_register(
    "sketch_overlap",
    f"""
    WITH a AS (
      SELECT DISTINCT {_NORM} AS k FROM documents WHERE text IS NOT NULL
    ),
    b AS (
      SELECT DISTINCT k FROM (
        SELECT {_NORM} AS k FROM documents
        WHERE text IS NOT NULL AND doc_id % 2 = 0
        UNION ALL
        SELECT {_NORM.replace("text", "(text || ' zqx')")} AS k FROM documents
        WHERE text IS NOT NULL AND doc_id % 2 = 1
      )
    ),
    ha AS (
      SELECT ('0x' || substr(md5(k), 1, 13))::BIGINT AS h,
             ('0x' || substr(md5(k), 14, 4))::BIGINT % 16 AS bucket
      FROM a
    ),
    hb AS (
      SELECT ('0x' || substr(md5(k), 1, 13))::BIGINT AS h,
             ('0x' || substr(md5(k), 14, 4))::BIGINT % 16 AS bucket
      FROM b
    ),
    sa AS (SELECT bucket, min(h) AS m FROM ha GROUP BY 1),
    sb AS (SELECT bucket, min(h) AS m FROM hb GROUP BY 1),
    su AS (
      SELECT bucket, min(m) AS m
      FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb) GROUP BY 1
    ),
    ea AS (
      SELECT CASE WHEN count(*) < 16
                  THEN -16.0 * ln(1.0 - CAST(count(*) AS DOUBLE) / 16.0)
                  ELSE CAST(1080863910568919040 AS DOUBLE)
                       / CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) END AS est
      FROM sa
    ),
    eb AS (
      SELECT CASE WHEN count(*) < 16
                  THEN -16.0 * ln(1.0 - CAST(count(*) AS DOUBLE) / 16.0)
                  ELSE CAST(1080863910568919040 AS DOUBLE)
                       / CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) END AS est
      FROM sb
    ),
    eu AS (
      SELECT CASE WHEN count(*) < 16
                  THEN -16.0 * ln(1.0 - CAST(count(*) AS DOUBLE) / 16.0)
                  ELSE CAST(1080863910568919040 AS DOUBLE)
                       / CAST(CAST(sum(m) AS BIGINT) AS DOUBLE) END AS est
      FROM su
    ),
    ex AS (
      SELECT CAST(count(*) AS BIGINT) AS overlap_exact
      FROM a JOIN b USING (k)
    )
    SELECT ea.est AS distinct_a_est,
           eb.est AS distinct_b_est,
           eu.est AS distinct_union_est,
           ea.est + eb.est - eu.est AS overlap_est,
           overlap_exact
    FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN ex
    """,
)
def sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimation from persisted sketches
    (operators/sketches.py): |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    the union's sketch is ``merge_sketches`` of the two corpora's
    sketch rows — NO rescan of either corpus, which is the whole point:
    contamination/overlap scoping across crawl dumps works from the
    per-dump sketch tables alone. B is engineered from the fixture with
    known ~50% overlap (even-id docs shared verbatim, odd-id docs
    mutated), and the exact intersection rides alongside as the error
    surface. Every estimate is the same pure-function-of-exact-integers
    estimator as `sketch_distinct` (the inclusion-exclusion is three
    exact-state estimates combined with two IEEE adds), so the DuckDB
    oracle replays the whole computation. The sketch side is three
    bounded groupBy.min aggregations; the exact column's distinct-join
    is verification-only, dropped with the column at deployment."""
    from temporai_mivdp_spark.operators import sketches

    base = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    a = base.select(dedup.normalize_text(F.col("text")).alias("k")).distinct()
    b = (
        base.filter(F.col("doc_id") % 2 == 0)
        .select(dedup.normalize_text(F.col("text")).alias("k"))
        .unionByName(
            base.filter(F.col("doc_id") % 2 == 1).select(
                dedup.normalize_text(F.concat(F.col("text"), F.lit(" zqx"))).alias("k")
            )
        )
        .distinct()
    )
    sk_a = sketches.bucket_min_sketch(a, F.col("k"), n_buckets=16)
    sk_b = sketches.bucket_min_sketch(b, F.col("k"), n_buckets=16)
    sk_u = sketches.merge_sketches(sk_a, sk_b)
    est_a = sketches.estimate_distinct(sk_a, 16).select(
        F.col("distinct_est").alias("distinct_a_est")
    )
    est_b = sketches.estimate_distinct(sk_b, 16).select(
        F.col("distinct_est").alias("distinct_b_est")
    )
    est_u = sketches.estimate_distinct(sk_u, 16).select(
        F.col("distinct_est").alias("distinct_union_est")
    )
    exact = a.join(b, "k").agg(F.count(F.lit(1)).alias("overlap_exact"))
    return (
        est_a.crossJoin(est_b)
        .crossJoin(est_u)
        .crossJoin(exact)
        .select(
            "distinct_a_est",
            "distinct_b_est",
            "distinct_union_est",
            (
                F.col("distinct_a_est")
                + F.col("distinct_b_est")
                - F.col("distinct_union_est")
            ).alias("overlap_est"),
            "overlap_exact",
        )
    )


@_register(
    "sketch_quantile",
    """
    WITH v AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    h AS (
      SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
             count(*) AS cnt
      FROM v GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bucket,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n_rows
      FROM h
    ),
    p50 AS (
      -- CAST: DuckDB types the bare 10.0 literal DECIMAL, which would
      -- surface the estimate as Decimal instead of the double Spark emits
      SELECT event_type, n_rows,
             min(bucket) * CAST(10.0 AS DOUBLE) AS p50_est
      FROM c WHERE cum >= ceil(0.5 * n_rows) GROUP BY 1, 2
    ),
    p95 AS (
      SELECT event_type, min(bucket) * CAST(10.0 AS DOUBLE) AS p95_est
      FROM c WHERE cum >= ceil(0.95 * n_rows) GROUP BY 1
    ),
    r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    ex AS (
      SELECT event_type, value AS p50_exact FROM r
      WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
    )
    -- CAST: the window sum types n_rows HUGEINT, which pandas coerces to
    -- float64 in the driver's .df() path and hashes 210.0 against Spark's
    -- 210 (round-7 driver miss; n_a/n_b in sketch_quantile_merge always
    -- had this CAST — n_rows missed it)
    SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
           p50_est, p95_est, p50_exact
    FROM p50 JOIN p95 USING (event_type) JOIN ex USING (event_type)
    """,
)
def sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantile estimation via the mergeable fixed-width
    histogram sketch (operators/sketches.py::fixed_width_histogram /
    estimate_quantile) — the oracle-checkable twin of ``corpus_stats``'
    ``approx_quantile`` telemetry, same contract as `sketch_distinct`:
    built from floor/count/cumsum/ceil only, so DuckDB replays the
    whole estimator bit for bit (bucket ids and running counts are
    exact integers; the estimate is the first bucket's lower edge whose
    running count reaches ceil(q·n) — below the true order statistic by
    at most the bucket width). The sketch is ONE map-side-combinable
    groupBy.count bounded at groups × range/width rows, counts ADD
    across corpus slices (merge_histograms), and the quantile collapse
    windows over histogram ROWS, never the data. The exact p50 order
    statistic rides alongside as the error surface — ITS row_number
    window sorts the raw values per group and is the one piece a 100 TB
    run drops with the column (verification-only, like
    `sketch_distinct`'s countDistinct)."""
    from temporai_mivdp_spark.operators import sketches

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    hist = sketches.fixed_width_histogram(ev, F.col("value"), ["event_type"], 10.0)
    p50 = sketches.estimate_quantile(hist, 0.5, 10.0, "p50_est")
    p95 = sketches.estimate_quantile(hist, 0.95, 10.0, "p95_est").drop("n_rows")
    w = Window.partitionBy("event_type").orderBy("value")
    cw = Window.partitionBy("event_type")
    exact = (
        ev.select(
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(cw).alias("n"),
        )
        .filter(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")))
        .select("event_type", F.col("value").alias("p50_exact"))
    )
    return (
        p50.join(p95, "event_type")
        .join(exact, "event_type")
        .select("event_type", "n_rows", "p50_est", "p95_est", "p50_exact")
    )


@_register(
    "sample_weighted",
    """
    WITH w AS (
      SELECT doc_id, n_chars FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    p AS (
      SELECT doc_id, n_chars,
             -ln( (('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                    + 1.0)
                  / 4503599627370496.0 ) / CAST(n_chars AS DOUBLE) AS pri
      FROM w
    )
    SELECT doc_id, n_chars, pri FROM p
    QUALIFY row_number() OVER (ORDER BY pri ASC, doc_id ASC) <= 50
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement
    (llmdata/sampling.py::weighted_sample_k — Efraimidis-Spirakis A-ES
    with md5-derandomized uniforms): the 50 documents elected with
    probability proportional to length. The oracle replays the whole
    priority computation (u = (h+1)/2^52 is exact — power-of-two
    division of an exactly-representable integer — and -ln(u)/w is
    associated identically on both sides; the single ln agrees across
    engines to 1 ulp, so the elected SET is stable and the priorities
    match far inside the harness tolerance). Plan: row-local priorities,
    TakeOrderedAndProject top-k — no global sort, no shuffle of the
    losers. The weight-scale invariance (all weights × c ⇒ identical
    sample) is pinned in tests."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling.weighted_sample_k(
        docs, "n_chars", 50, key_col="doc_id", seed="ws", priority_col="pri"
    )


@_register(
    "text_pmi",
    f"""
    WITH d AS (
      SELECT string_split({_NORM}, ' ') AS a
      FROM documents WHERE coalesce({_NORM}, '') <> ''
    ),
    uni AS (SELECT unnest(a) AS w FROM d),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
    un AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM ucnt),
    idx AS (
      SELECT a, unnest(generate_series(1, greatest(len(a) - 1, 1))) AS i
      FROM d
    ),
    big AS (
      SELECT a[i] AS w1, a[i + 1] AS w2 FROM idx WHERE len(a) >= i + 1
    ),
    bcnt AS (SELECT w1, w2, count(*) AS n_pair FROM big GROUP BY 1, 2),
    bn AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_big FROM bcnt)
    SELECT w1, w2, n_pair,
           ln(CAST(n_pair AS DOUBLE)) - ln(CAST(cx.c AS DOUBLE))
             - ln(CAST(cy.c AS DOUBLE))
             + 2.0 * ln(CAST(n_uni AS DOUBLE))
             - ln(CAST(n_big AS DOUBLE)) AS pmi
    FROM bcnt
    JOIN ucnt cx ON bcnt.w1 = cx.w
    JOIN ucnt cy ON bcnt.w2 = cy.w
    CROSS JOIN un CROSS JOIN bn
    WHERE n_pair >= 5
    QUALIFY row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) <= 20
    """,
)
def text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information
    (llmdata/text.py::pmi_bigrams) — multiword-expression /
    tokenizer-merge-candidate mining over the corpus. The oracle
    mirrors the five-ln expression term for term in the same
    left-to-right association (every ln input is an exact integer-valued
    double and engine ln implementations agree to 1 ulp, so the emitted
    pmi matches far inside the harness tolerance and the float ordering
    is stable; ties break on the words). Plan: row-local bigram
    zipping (no position self-join), map-side-combinable counts, the
    min-count filter ahead of the two hash-keyed unigram joins
    (vocabulary unbounded — deliberately not broadcast), two 1-row
    corpus totals cross-joined, TakeOrderedAndProject top-k."""
    docs = _t(spark, sf_dir, "documents").select("text")
    return text.pmi_bigrams(docs, k=20, min_count=5)


#: the BM25 demo query — three corpus terms with distinct document
#: frequencies so the idf weighting actually orders the result
_BM25_TERMS = ("customer", "vector", "window")


@_register(
    "text_bm25",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
      FROM documents WHERE coalesce({_NORM}, '') <> ''
    ),
    t2 AS (SELECT doc_id, term FROM toks WHERE term != ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM t2
      WHERE term IN ('customer', 'vector', 'window') GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    contrib AS (
      SELECT tf.doc_id,
             CAST(floor(
               (ln(1.0 + (c.n - dfq.df + 0.5) / (dfq.df + 0.5))
                * ((tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / c.avgdl)))))
               * 1000000000.0 + 0.5) AS BIGINT) AS cu
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN c
    ),
    s AS (SELECT doc_id, CAST(sum(cu) AS BIGINT) AS su FROM contrib GROUP BY 1)
    SELECT doc_id, su / 1000000000.0 AS bm25
    FROM s
    QUALIFY row_number() OVER (ORDER BY su DESC, doc_id ASC) <= 10
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed three-term query
    (llmdata/text.py::bm25_topk) — corpus search / targeted-subset
    mining, the query-centric complement of text_tfidf's per-document
    keywords. The oracle replays Lucene-style idf, the length-normalized
    tf saturation, and the nano-unit quantization clause for clause with
    the arithmetic association pinned on both sides; ranking is on the
    integer nano-score, never raw float order (the one transcendental —
    idf's ln — agrees across engines to 1 ulp, so a quantization
    boundary flip needs a true value within ~1e-16 relative of a .5
    nano-unit tie). Plan: token scan
    filtered to the query terms before aggregation, broadcast
    query-sized idf dimension, id-keyed length join, TakeOrderedAndProject
    top-k — no global sort, no Python."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text.bm25_topk(docs, _BM25_TERMS, k=10)


@_register("text_quality_model", _quality_model_oracle_sql())
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (llmdata/quality_model.py): the
    pretrained logistic tier — weights re-derived at import from the
    fixed in-repo clean-prose/junk seed by deterministic pure-Python
    gradient descent — inlined as plan literals over the oracle-pinned
    cheap features. One codegen'd projection: no shuffle, no Python, no
    broadcast; the logit is a fixed-order double dot product with no
    transcendentals, so the oracle's replay is bit-identical. The
    distributed trainer (`logreg_fit`, one bounded-gradient aggregation
    per iteration) is differentially tested against the pure-Python fit
    in tests/test_llmdata.py."""
    from temporai_mivdp_spark.llmdata import quality_model as qm

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return qm.quality_model_score(docs)


@_register(
    "layout_compaction",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
             AS content_h32,
           CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes
    FROM documents GROUP BY source
    """,
)
def layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction as a checked entry (sources/sinks.py::
    compact_parquet): the documents table is first written as 64
    shard-accreted small files (the layout every incremental
    pipeline — streaming sinks, per-shard ingest — actually produces),
    then compacted into ~target-sized files with the file count derived
    from the ACTUAL compressed on-disk bytes, and the checked output is
    a per-source content accounting (row count, id checksum, 32-bit
    md5 fold, UTF-8 byte mass) read back FROM THE COMPACTED FILES. The
    oracle computes the same accounting from the original documents
    table, so
    the hash check pins exactly the compaction contract: a rewrite that
    drops, duplicates, or corrupts any row mismatches, while the layout
    itself (file sizes, partitioning, round-robin shuffle) must be
    invisible in the content — the ingest-side twin of `shard_assign`'s
    deterministic placement. The file-count math (ceil(bytes/target),
    repartition-not-coalesce so a huge input is still read in parallel)
    is pinned by tests/test_sources_and_differential.py and the layout
    tests. Scratch subdirs are keyed by sf_dir (decade-sweep lesson:
    two scale factors build this entry in one session)."""
    import os
    import re

    from temporai_mivdp_spark.sources.sinks import compact_parquet

    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", sf_dir)
    root = os.path.join(_curation_scratch_dir(spark), f"compaction_{safe}")
    raw, dst = os.path.join(root, "raw"), os.path.join(root, "compact")
    if not os.path.exists(os.path.join(dst, "_SUCCESS")):
        docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
        docs.repartition(64).write.mode("overwrite").parquet(raw)
        compact_parquet(spark, raw, dst, target_file_mb=8)
    compacted = spark.read.parquet(dst)
    return compacted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        ).alias("content_h32"),
        F.sum(F.octet_length("text")).alias("sum_bytes"),
    )


def _audio_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media frame (media_id, payload) deterministically
    from doc_id alone — the binary-column twin of the JSONL corrupt
    fixture (`_write_jsonl_fixture`): every row's payload class and
    header fields are a pure function of its id, so a DuckDB oracle can
    replay the expected METADATA algebra without ever seeing the bytes.
    Five classes, round-robin by doc_id % 5: a real PCM WAV (stdlib
    `wave` writer) — of which half (doc_id // 5 odd, round 9) are
    instead IEEE-FLOAT WAVs (fmt 3, same duration algebra, exercising
    the float sample branch under the oracle) — a real bare-FLAC
    STREAMINFO (bit-packed per the FLAC
    spec — 20-bit rate, 3-bit channels-1, 5-bit bps-1, 36-bit total
    samples; half carry a real RFC 9639 constant-subframe frame), a
    junk payload no codec tier claims, a NULL payload, and
    (round 9) a real MS-ADPCM WAV (fmt 0x02, silence blocks: predictor
    0 / delta 16 / zero header samples, align 256 — the sample-count
    algebra 2 + 2*(align-7*ch)//ch per block is the decoder's own block
    math, so the oracle replays duration exactly). Arrow-batched
    generation; payloads stay under ~4 KB/row."""

    def gen(it):
        import io
        import struct
        import wave

        import pandas as pd

        def degenerate(did):
            # hostile-media lattice for the adversarial id range (the
            # edgecase corpus, doc_id >= 9e6): the VERDICT-listed
            # classes — undersized ADPCM align, 0-sample WAV, a LYING
            # data-chunk size, truncated fmt — each with oracle-
            # replayable accounting
            kind = did % 4
            if kind == 0:  # MS-ADPCM align too small -> header_only
                fmt = struct.pack("<HHIIHH", 2, 1, 8000, 4000, 4, 4)
                data = b"\x00" * 800  # 800 B at 4000 B/s -> 200 ms
            elif kind == 1:  # 0-sample PCM WAV -> full, duration 0
                fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                data = b""
            elif kind == 2:  # data chunk CLAIMS 4096 bytes, carries 100
                fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                chunks = (
                    b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", 4096) + b"\x00" * 100
                )
                return (
                    b"RIFF" + struct.pack("<I", 4 + len(chunks))
                    + b"WAVE" + chunks
                )
            else:  # truncated fmt chunk -> unsupported
                chunks = b"fmt " + struct.pack("<I", 8) + b"\x00" * 8
                return (
                    b"RIFF" + struct.pack("<I", 4 + len(chunks))
                    + b"WAVE" + chunks
                )
            chunks = (
                b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
            )
            return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did >= 9_000_000:
                    rows.append((did, degenerate(did)))
                    continue
                kind = did % 5
                n = 100 + (did % 900)
                sr = (8000, 16000, 44100)[(did // 4) % 3]
                ch = 1 + (did % 2)
                if kind == 0:
                    if (did // 5) % 2 == 1:
                        # round 9: IEEE-float WAV (fmt 3) — same n/sr/ch
                        # duration algebra, different sample container,
                        # so the float branch of _wav_samples sits under
                        # the driver hash check (codec 'pcm_float')
                        fmt = struct.pack(
                            "<HHIIHH", 3, ch, sr, sr * ch * 4, ch * 4, 32
                        )
                        data = b"\x00" * (4 * n * ch)
                        chunks = (
                            b"fmt " + struct.pack("<I", len(fmt)) + fmt
                            + b"data" + struct.pack("<I", len(data)) + data
                        )
                        payload = (
                            b"RIFF" + struct.pack("<I", 4 + len(chunks))
                            + b"WAVE" + chunks
                        )
                    else:
                        buf = io.BytesIO()
                        with wave.open(buf, "wb") as w:
                            w.setnchannels(ch)
                            w.setsampwidth(2)
                            w.setframerate(sr)
                            w.writeframes(b"\x00\x00" * (n * ch))
                        payload = buf.getvalue()
                elif kind == 1:
                    packed = (sr << 44) | ((ch - 1) << 41) | (15 << 36) | n
                    body = (
                        struct.pack(">HH", 4096, 4096)
                        + b"\x00" * 6
                        + packed.to_bytes(8, "big")
                        + b"\x00" * 16
                    )
                    payload = (
                        b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + body
                    )
                    if (did // 5) % 2 == 1:
                        # round 9: half the FLAC rows carry one REAL
                        # frame (constant subframes, RFC 9639) so the
                        # production frame decoder's 'full' routing sits
                        # under the oracle hash check; the other half
                        # stay STREAMINFO-only (header_only tier)
                        from temporai_mivdp_spark.llmdata.multimodal import (
                            _crc8, _crc16,
                        )

                        sr_code = {8000: 4, 16000: 5, 44100: 9}[sr]
                        word = (
                            (0x3FFE << 18) | (7 << 12) | (sr_code << 8)
                            | ((ch - 1) << 4) | (4 << 1)
                        )
                        hdr = bytearray(word.to_bytes(4, "big"))
                        hdr += b"\x00"  # UTF-8 frame number 0
                        hdr += struct.pack(">H", n - 1)
                        hdr.append(_crc8(bytes(hdr)))
                        frame = bytearray(hdr)
                        val = (did * 37) % 30000 - 15000
                        for _ in range(ch):
                            frame += b"\x00"  # pad0 + CONSTANT + no waste
                            frame += struct.pack(">h", val)
                        frame += struct.pack(">H", _crc16(bytes(frame)))
                        payload += bytes(frame)
                elif kind == 2:
                    payload = b"JUNK" + did.to_bytes(8, "big")
                elif kind == 4:
                    align = 256
                    block = (
                        bytes(ch)                 # predictor idx 0 per ch
                        + b"\x10\x00" * ch        # delta 16 per ch
                        + bytes(align - 3 * ch)   # s1/s2 + body zeros
                    )
                    data = block * (1 + did % 7)
                    fmt = struct.pack("<HHIIHH", 2, ch, sr, sr, align, 4)
                    chunks = (
                        b"fmt " + struct.pack("<I", len(fmt)) + fmt
                        + b"data" + struct.pack("<I", len(data)) + data
                    )
                    payload = (
                        b"RIFF" + struct.pack("<I", 4 + len(chunks))
                        + b"WAVE" + chunks
                    )
                else:
                    payload = None
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(gen, "media_id long, payload binary")


@_register(
    "multimodal_audio_roundtrip",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id >= 9000000
                THEN CASE doc_id % 4 WHEN 0 THEN 'wav_fmt_2'
                          WHEN 1 THEN 'pcm_wav' WHEN 2 THEN 'pcm_wav' END
                ELSE CASE doc_id % 5
                          WHEN 0 THEN CASE WHEN (doc_id // 5) % 2 = 1
                                           THEN 'pcm_float' ELSE 'pcm_wav' END
                          WHEN 1 THEN 'flac' WHEN 4 THEN 'ms_adpcm' END
           END AS codec,
           CASE WHEN doc_id >= 9000000
                THEN CASE doc_id % 4 WHEN 0 THEN 'header_only'
                          WHEN 1 THEN 'full' WHEN 2 THEN 'full'
                          ELSE 'unsupported' END
                ELSE CASE doc_id % 5 WHEN 0 THEN 'full'
                          WHEN 1 THEN CASE WHEN (doc_id // 5) % 2 = 1
                                           THEN 'full' ELSE 'header_only' END
                          WHEN 4 THEN 'full'
                          ELSE 'unsupported' END
           END AS decode_status,
           CASE WHEN doc_id >= 9000000
                THEN CASE doc_id % 4 WHEN 0 THEN CAST(200 AS BIGINT)
                          WHEN 1 THEN CAST(0 AS BIGINT)
                          WHEN 2 THEN CAST(6 AS BIGINT) END
                WHEN doc_id % 5 IN (0, 1)
                THEN CAST(((100 + doc_id % 900) * 1000)
                          // ([8000, 16000, 44100][((doc_id // 4) % 3) + 1])
                     AS BIGINT)
                WHEN doc_id % 5 = 4
                THEN CAST(((1 + doc_id % 7)
                           * (2 + (2 * (256 - 7 * (1 + doc_id % 2)))
                                  // (1 + doc_id % 2))
                           * 1000)
                          // ([8000, 16000, 44100][((doc_id // 4) % 3) + 1])
                     AS BIGINT)
           END AS duration_ms,
           CASE WHEN doc_id >= 9000000
                THEN CASE WHEN doc_id % 4 IN (0, 1, 2)
                          THEN CAST(8000 AS INTEGER) END
                WHEN doc_id % 5 IN (0, 1, 4)
                THEN CAST([8000, 16000, 44100][((doc_id // 4) % 3) + 1]
                     AS INTEGER)
           END AS sample_rate,
           CASE WHEN doc_id >= 9000000
                THEN CASE WHEN doc_id % 4 IN (0, 1, 2)
                          THEN CAST(1 AS INTEGER) END
                WHEN doc_id % 5 IN (0, 1, 4)
                THEN CAST(1 + doc_id % 2 AS INTEGER)
           END AS channels
    FROM documents
    """,
)
def multimodal_audio_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio header decoding under the hash check (llmdata/
    multimodal.py::audio_metadata): a mixed media corpus — PCM WAV,
    bare-FLAC STREAMINFO (half of which carry a REAL RFC 9639 constant-
    subframe frame, so the round-9 FLAC frame decoder's 'full' routing
    and CRC-validated first-frame probe sit under the driver check),
    junk, NULL, MS-ADPCM WAV (the fmt 0x02 sample tier under the
    oracle's block-math duration replay) —
    is synthesized per row as a pure function of doc_id
    (`_audio_fixture`), pushed through the actual
    Arrow-batched codec walkers, and the checked output is the decoded
    metadata (codec tier, decode_status, duration_ms, sample_rate,
    channels). The oracle replays the GENERATOR's algebra — duration =
    samples*1000 // rate, the rate/channel lattice, the per-class
    status routing — so a wrong RIFF frame count, a misread STREAMINFO
    bit field, a junk payload claimed by a codec, or a thrown exception
    on the mixed batch all hash-mismatch. This closes the multimodal
    tier's oracle gap: `multimodal_metadata` checks opaque-byte
    plumbing; this entry checks the decode itself (serialize → binary →
    parse → account, the `ingest_jsonl` pattern applied to media).
    `bitrate_kbps` is deliberately NOT checked: its Python `round()` is
    banker's, DuckDB's is half-away — a measured tie hazard, excluded
    rather than papered over. Scale shape: one row-local mapInPandas
    generation + one row-local decode pass, no shuffle at all."""
    from temporai_mivdp_spark.llmdata import multimodal

    media = _audio_fixture(spark, sf_dir)
    return multimodal.audio_metadata(media).select(
        "media_id", "codec", "decode_status", "duration_ms",
        "sample_rate", "channels",
    )


def _image_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize an image frame (media_id, payload) deterministically
    from doc_id — the image-tier twin of `_audio_fixture`. Three
    classes, round-robin by doc_id % 3: a real 8-bit grayscale PNG
    (stdlib zlib deflate + CRC chunks, constant value doc_id % 256) —
    of which half (doc_id // 3 odd, round 9) are instead real LOSSLESS
    JPEGs (SOF3, predictor 1) whose samples RAMP in raster order, the
    first fixture class whose oracle-checked features are row-ORDER
    sensitive; round 10 splits the ramp half again: doc_id // 6 odd
    rows are INTERLEAVED 3-component RGB lossless with DISTINCT
    per-channel bases (a plane-order or interleave bug breaks the
    channel means) — a
    real bottom-up 24-bit BMP (row padding + the format's BGR byte
    order, constant per-channel values derived from doc_id — DISTINCT
    per channel so a BGR/RGB swap in the decoder cannot cancel out) —
    of which half (doc_id // 3 odd) are instead a TIFF family,
    subdivided round 10 by (doc_id // 6) % 5 into baseline RGB
    (constant colors, RGB-ordered where BMP is BGR, pinning channel
    order), CCITT G4 / G3-1D / G3-2D bilevel sliding stripes (exact
    rational means over 10^6-divisor widths), and JPEG-in-TIFF
    (compression 7 wrapping the lossless ramp) —
    and a NULL payload. Dims vary per row (w = 1 + id % 31,
    h = 1 + id % 17; the JLS ramps use 1 + id % 13 × 1 + id % 9 so the
    ramp peak stays under 256), so stride and padding bugs surface."""

    def gen(it):
        import struct
        import zlib

        import pandas as pd

        def png_gray(w, h, v):
            raw = b"".join(b"\x00" + bytes([v]) * w for _ in range(h))

            def chunk(typ, data):
                return (
                    struct.pack(">I", len(data))
                    + typ
                    + data
                    + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
                )

            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b"")
            )

        def bmp24(w, h, r, g, b):
            row = bytes([b, g, r]) * w  # BMP stores BGR
            pad = (4 - (3 * w) % 4) % 4
            px = (row + b"\x00" * pad) * h
            hdr = b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
            dib = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0
            )
            return hdr + dib + px

        def jls_ramp(w2, h2, base, bases=None):
            # round 9: a real single-component LOSSLESS JPEG (SOF3,
            # predictor 1) whose samples RAMP base, base+1, ... in
            # raster order — the one fixture class whose oracle-checked
            # features are row-ORDER sensitive (constant PNG/BMP rasters
            # are flip-invariant by construction). Fixed Huffman table:
            # categories 0-8 as 4-bit canonical codes. Diff stream:
            # first sample base-128 (vs the 2^(P-1) default), row starts
            # +w2 (predicted from the sample above), everything else +1.
            # round 10: ``bases=(r,g,b)`` emits the INTERLEAVED
            # 3-component form instead (the DICOM RGB shape) — each
            # plane ramps from its own base, and since every plane's
            # diff stream is identical except the first sample, the MCU
            # interleave is the same three streams woven per sample.
            comps = [base] if bases is None else list(bases)
            nc = len(comps)
            bits = []
            for y in range(h2):
                for x in range(w2):
                    for cb in comps:
                        s = (cb - 128) if (y == 0 and x == 0) else (
                            w2 if x == 0 else 1
                        )
                        t = abs(s).bit_length()
                        bits.append((4, t))
                        if t:
                            bits.append((t, s if s >= 0 else s + (1 << t) - 1))
            acc, n, data = 0, 0, bytearray()
            for nb, v in bits:
                for k in range(nb - 1, -1, -1):
                    acc = (acc << 1) | ((v >> k) & 1)
                    n += 1
                    if n == 8:
                        data.append(acc)
                        if acc == 0xFF:
                            data.append(0)  # byte stuffing
                        acc, n = 0, 0
            if n:
                acc = (acc << (8 - n)) | ((1 << (8 - n)) - 1)
                data.append(acc)
                if acc == 0xFF:
                    data.append(0)

            def seg(m, body):
                return struct.pack(">BBH", 0xFF, m, len(body) + 2) + body

            dht = seg(0xC4, bytes([0, 0, 0, 0, 9] + [0] * 12) + bytes(range(9)))
            sof = seg(
                0xC3,
                struct.pack(">BHHB", 8, h2, w2, nc)
                + b"".join(bytes([ci + 1, 0x11, 0]) for ci in range(nc)),
            )
            sos = seg(
                0xDA,
                bytes([nc])
                + b"".join(bytes([ci + 1, 0x00]) for ci in range(nc))
                + bytes([1, 0, 0]),
            )
            return b"\xff\xd8" + dht + sof + sos + bytes(data) + b"\xff\xd9"

        def tiff_rgb(w2, h2, r, g, b):
            # round 9: minimal baseline TIFF (little-endian, one strip,
            # constant RGB) — the container twin of bmp24: SAME oracle
            # algebra (dims + per-channel means), different byte layout,
            # so the driver hash check exercises the TIFF IFD walk and
            # strip assembly for free. TIFF rasters are RGB-ordered
            # where BMP is BGR — a channel-order bug in either decoder
            # breaks its half of the class.
            px = bytes([r, g, b]) * (w2 * h2)
            tags = [
                (256, 4, w2), (257, 4, h2), (259, 3, 1), (262, 3, 2),
                (273, 4, 0), (277, 3, 3), (278, 4, h2), (279, 4, len(px)),
            ]
            # 258 (BitsPerSample) needs 3 SHORTs -> value area
            n = len(tags) + 1
            ifd_off, hdr = 8, b"II*\x00" + struct.pack("<I", 8)
            va_off = ifd_off + 2 + 12 * n + 4
            strips_off = va_off + 6
            out = bytearray(hdr) + struct.pack("<H", n)
            entries = sorted(tags + [(258, 3, None)])
            for tag, typ, val in entries:
                if tag == 258:
                    out += struct.pack("<HHII", 258, 3, 3, va_off)
                elif tag == 273:
                    out += struct.pack("<HHII", 273, 4, 1, strips_off)
                elif typ == 3:
                    out += struct.pack("<HHIHH", tag, 3, 1, val, 0)
                else:
                    out += struct.pack("<HHII", tag, 4, 1, val)
            out += struct.pack("<I", 0)          # next-IFD pointer
            out += struct.pack("<HHH", 8, 8, 8)  # BitsPerSample values
            out += px
            return bytes(out)

        # ---- round 10: CCITT G3/G4 + JPEG-in-TIFF container twins ----
        # The fixture ENCODER derives its run tables from the decoder's
        # spec literals (multimodal._T4_*) — independence is carried by
        # tests/test_tiff_ccitt.py's own transcription; what the driver
        # hash check pins here is the geometry algebra (dims + the
        # exact-rational stripe means) through the full container walk.
        from temporai_mivdp_spark.llmdata import multimodal as _mm

        def _tbl(spec):
            return {
                int(item.split(":")[0]): item.split(":")[1]
                for item in spec.split()
            }

        _WT, _BT, _XT = _tbl(_mm._T4_WHITE), _tbl(_mm._T4_BLACK), _tbl(_mm._T4_EXT)
        _MD = {"P": "0001", "H": "001", 0: "1", 1: "011", 2: "000011",
               3: "0000011", -1: "010", -2: "000010", -3: "0000010"}
        _EOL = "000000000001"

        def enc_run(bits, run, white):
            t = _WT if white else _BT
            while run > 2623:
                bits.append(_XT[2560])
                run -= 2560
            if run >= 64:
                mk = (run // 64) * 64
                bits.append(_XT[mk] if mk >= 1792 else t[mk])
                run -= mk
            bits.append(t[run])

        def enc_1d(bits, trans, w2):
            pos, white = 0, True
            for tr in trans + [w2]:
                enc_run(bits, tr - pos, white)
                pos, white = tr, not white
                if pos >= w2:
                    break

        def enc_2d(bits, cur, ref, w2):
            a0, white, ci = -1, True, 0
            while a0 < w2:
                a1 = cur[ci] if ci < len(cur) else w2
                a2 = cur[ci + 1] if ci + 1 < len(cur) else w2
                ri = 0
                while ri < len(ref) and (
                    ref[ri] <= a0 or (ri & 1) != (0 if white else 1)
                ):
                    ri += 1
                b1 = ref[ri] if ri < len(ref) else w2
                b2 = ref[ri + 1] if ri + 1 < len(ref) else w2
                if b2 < a1:
                    bits.append(_MD["P"])
                    a0 = b2
                elif abs(a1 - b1) <= 3:
                    bits.append(_MD[a1 - b1])
                    a0, white, ci = a1, not white, ci + 1
                else:
                    bits.append(_MD["H"])
                    start = a0 if a0 >= 0 else 0
                    enc_run(bits, a1 - start, white)
                    enc_run(bits, a2 - a1, not white)
                    a0, ci = a2, ci + 2

        def stripe_trans(w2, k, step, y):
            # row y: one black run of length k sliding right by `step`
            # per row — vertical/horizontal/pass 2D modes all realize
            if k <= 0:
                return []
            if k >= w2:
                return [0]
            s = (y * step) % (w2 - k + 1)
            return [s, s + k] if s + k < w2 else [s]

        def ccitt_strip(w2, h2, k, step, comp, t4):
            bits = []
            ref = []
            for y in range(h2):
                cur = stripe_trans(w2, k, step, y)
                if comp == 2:
                    if y:
                        n = len("".join(bits)) % 8
                        if n:
                            bits.append("0" * (8 - n))
                    enc_1d(bits, cur, w2)
                elif comp == 3:
                    bits.append(_EOL)
                    if t4 & 1:
                        bits.append("1" if y == 0 else "0")
                    if (t4 & 1) and y > 0:
                        enc_2d(bits, cur, ref, w2)
                    else:
                        enc_1d(bits, cur, w2)
                else:
                    enc_2d(bits, cur, ref, w2)
                ref = cur
            s = "".join(bits)
            s += "0" * (-len(s) % 8)
            return bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))

        def tiff_wrap(w2, h2, strip, comp, photo, bps_v, extra=()):
            # minimal little-endian single-strip TIFF: every value fits
            # inline, so the IFD is self-contained and the strip follows
            tags = sorted([
                (256, 4, w2), (257, 4, h2), (258, 3, bps_v), (259, 3, comp),
                (262, 3, photo), (277, 3, 1), (278, 4, h2),
                (279, 4, len(strip)), *extra,
            ])
            n = len(tags) + 1
            strips_off = 8 + 2 + 12 * n + 4
            out = bytearray(b"II*\x00" + struct.pack("<I", 8))
            out += struct.pack("<H", n)
            for tag, typ, val in sorted(tags + [(273, 4, strips_off)]):
                if typ == 3:
                    out += struct.pack("<HHIHH", tag, 3, 1, val, 0)
                else:
                    out += struct.pack("<HHII", tag, 4, 1, val)
            out += struct.pack("<I", 0)
            out += strip
            return bytes(out)

        _CW = [4, 5, 8, 10, 16, 20, 25, 32, 40, 50, 64, 80]

        def ccitt_tiff(did, m):
            # all widths divide 10^6, so the stripe mean 255*(cw-k)/cw
            # is exact at <=6 decimals — round(·,6) is an identity on
            # BOTH engines (the BMP-lum rounding hazard never arises)
            cw = _CW[(did // 12) % 12]
            ch = 1 + did % 17
            k = did % (cw + 1)
            step = 1 + (did // 6) % 3
            comp, t4 = (4, 0) if m == 1 else (3, 0) if m == 2 else (3, 1)
            strip = ccitt_strip(cw, ch, k, step, comp, t4)
            extra = ((292, 4, t4),) if comp == 3 else ()
            return tiff_wrap(cw, ch, strip, comp, 0, 1, extra)

        def jpeg_tiff(w2, h2, base):
            # compression 7: the round-9 lossless ramp as the strip —
            # same oracle algebra as the bare-JLS class, now walked
            # through the TIFF container
            strip = jls_ramp(w2, h2, base)
            return tiff_wrap(w2, h2, strip, 7, 1, 8)

        def degenerate(did):
            # hostile-media lattice for the adversarial id range:
            # truncated IDAT (valid chunk CRCs, deflate stream cut),
            # zero-width BMP, a lossless JPEG whose scan is torn
            # mid-stream (round 9), and — round 10 — a torn CCITT G4
            # strip and a comp-7 TIFF wrapping a non-JPEG strip — all
            # must degrade to NULL features under
            # decode_image(strict=False), never kill the batch
            kind = did % 3
            if kind == 0:
                good = png_gray(4, 4, did % 256)
                # cut the IDAT payload in half: re-chunk by hand so the
                # lengths stay consistent but the zlib stream is torn
                ihdr_end = 8 + 25
                idat_len = int.from_bytes(good[ihdr_end : ihdr_end + 4], "big")
                body = good[ihdr_end + 8 : ihdr_end + 8 + idat_len]
                cut = body[: max(2, idat_len // 2)]
                return (
                    good[:ihdr_end]
                    + struct.pack(">I", len(cut)) + b"IDAT" + cut
                    + struct.pack(">I", zlib.crc32(b"IDAT" + cut) & 0xFFFFFFFF)
                    + good[-12:]  # IEND chunk
                )
            if kind == 1:
                sub = (did // 3) % 3
                if sub == 1:
                    # torn CCITT G4 strip: IFD intact, bit stream cut —
                    # the run decode walks off the end and must raise
                    good = ccitt_strip(16, 6, 5, 1, 4, 0)
                    return tiff_wrap(16, 6, good[: max(1, len(good) // 2)], 4, 0, 1)
                if sub == 2:
                    # comp-7 claim over a non-JPEG strip: SOI check fires
                    return tiff_wrap(8, 4, b"\x00" * 32, 7, 1, 8)
                return bmp24(0, 4, 1, 2, 3)  # zero-width BMP
            if did % 2:
                return None
            # torn lossless-JPEG scan: the decoder's predictor walk
            # runs into the EOI marker mid-sample and must raise (not
            # return garbage); crawl mode nulls the row
            good = jls_ramp(6, 5, did % 100)
            return good[: len(good) - 8] + b"\xff\xd9"

        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did >= 9_000_000:
                    rows.append((did, degenerate(did)))
                    continue
                w, h = 1 + did % 31, 1 + did % 17
                kind = did % 3
                if kind == 0:
                    if (did // 3) % 2 == 1:
                        # round 10: half the ramp rows (did = 6m+3, m
                        # odd) are INTERLEAVED RGB lossless — three
                        # planes ramping from DISTINCT bases, so a
                        # plane-order or interleave bug in the decoder
                        # breaks its channel means
                        jw, jh = 1 + did % 13, 1 + did % 9
                        if (did // 6) % 2 == 1:
                            payload = jls_ramp(
                                jw, jh, 0,
                                bases=(did % 100, (did // 3) % 100, (did // 7) % 100),
                            )
                        else:
                            payload = jls_ramp(jw, jh, did % 100)
                    else:
                        payload = png_gray(w, h, did % 256)
                elif kind == 1:
                    if (did // 3) % 2 == 1:
                        # the TIFF half, subdivided round 10 (did = 6m+4
                        # here, so m = did // 6 indexes uniformly):
                        # baseline RGB / CCITT G4 / G3-1D / G3-2D /
                        # JPEG-in-TIFF
                        m = (did // 6) % 5
                        if m == 0:
                            payload = tiff_rgb(
                                w, h, did % 256, (did // 3) % 256, (did // 7) % 256
                            )
                        elif m == 4:
                            payload = jpeg_tiff(1 + did % 13, 1 + did % 9, did % 100)
                        else:
                            payload = ccitt_tiff(did, m)
                    else:
                        payload = bmp24(
                            w, h, did % 256, (did // 3) % 256, (did // 7) % 256
                        )
                else:
                    payload = None
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(gen, "media_id long, payload binary")


@_register(
    "multimodal_image_roundtrip",
    """
    WITH g AS (
      SELECT doc_id,
             doc_id % 3 AS kind,
             (doc_id % 3 = 0 AND (doc_id // 3) % 2 = 1) AS is_jls,
             -- round 10: half the ramp rows are INTERLEAVED RGB
             -- lossless (distinct per-channel bases; lum NULLed on
             -- both sides — the weighted-ramp lum stats would sit on
             -- the documented 6dp rounding-tie hazard)
             (doc_id % 3 = 0 AND (doc_id // 3) % 2 = 1
              AND (doc_id // 6) % 2 = 1) AS is_jls_rgb,
             -- round 10: the kind-1 TIFF half subdivides by m=(id//6)%5
             -- into baseline RGB (0) / CCITT G4, G3-1D, G3-2D (1-3) /
             -- JPEG-in-TIFF (4, the JLS ramp algebra in a container)
             (doc_id % 3 = 1 AND (doc_id // 3) % 2 = 1
              AND (doc_id // 6) % 5 IN (1, 2, 3)) AS is_ccitt,
             (doc_id % 3 = 1 AND (doc_id // 3) % 2 = 1
              AND (doc_id // 6) % 5 = 4) AS is_tjpeg,
             ([4, 5, 8, 10, 16, 20, 25, 32, 40, 50, 64, 80])
               [1 + (doc_id // 12) % 12] AS cw,
             (1 + doc_id % 13) * (1 + doc_id % 9) AS jn,
             doc_id % 100 AS jbase
      FROM documents
    ),
    g2 AS (SELECT *, doc_id % (cw + 1) AS ck FROM g)
    SELECT doc_id AS media_id,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN is_jls OR is_tjpeg THEN CAST(1 + doc_id % 13 AS DOUBLE)
                WHEN is_ccitt THEN CAST(cw AS DOUBLE)
                WHEN kind IN (0, 1) THEN CAST(1 + doc_id % 31 AS DOUBLE)
           END AS width,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN is_jls OR is_tjpeg THEN CAST(1 + doc_id % 9 AS DOUBLE)
                WHEN kind IN (0, 1) THEN CAST(1 + doc_id % 17 AS DOUBLE)
           END AS height,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN is_jls_rgb THEN ROUND(doc_id % 100 + (jn - 1) / 2.0, 6)
                WHEN is_jls OR is_tjpeg THEN ROUND(jbase + (jn - 1) / 2.0, 6)
                -- the stripe mean: every cw divides 10^6, so this
                -- single exact-integer division is bit-identical to the
                -- engine's np.mean and needs NO round()
                WHEN is_ccitt THEN CAST(255 * (cw - ck) AS DOUBLE) / cw
                WHEN kind = 0 THEN CAST(doc_id % 256 AS DOUBLE)
                WHEN kind = 1 THEN CAST(doc_id % 256 AS DOUBLE)
           END AS mean_r,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN is_jls_rgb THEN ROUND((doc_id // 3) % 100 + (jn - 1) / 2.0, 6)
                WHEN is_jls OR is_tjpeg THEN ROUND(jbase + (jn - 1) / 2.0, 6)
                WHEN is_ccitt THEN CAST(255 * (cw - ck) AS DOUBLE) / cw
                WHEN kind = 0 THEN CAST(doc_id % 256 AS DOUBLE)
                WHEN kind = 1 THEN CAST((doc_id // 3) % 256 AS DOUBLE)
           END AS mean_g,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN is_jls_rgb THEN ROUND((doc_id // 7) % 100 + (jn - 1) / 2.0, 6)
                WHEN is_jls OR is_tjpeg THEN ROUND(jbase + (jn - 1) / 2.0, 6)
                WHEN is_ccitt THEN CAST(255 * (cw - ck) AS DOUBLE) / cw
                WHEN kind = 0 THEN CAST(doc_id % 256 AS DOUBLE)
                WHEN kind = 1 THEN CAST((doc_id // 7) % 256 AS DOUBLE)
           END AS mean_b,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN is_jls_rgb THEN NULL
                WHEN is_jls THEN ROUND(sqrt((jn * jn - 1) / 12.0), 6)
                WHEN kind = 0 THEN CAST(0.0 AS DOUBLE) END AS lum_std,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN is_jls_rgb THEN NULL
                WHEN is_jls THEN CAST(jbase AS DOUBLE)
                WHEN kind = 0 THEN CAST(doc_id % 256 AS DOUBLE)
           END AS lum_min,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN is_jls_rgb THEN NULL
                WHEN is_jls THEN CAST(jbase + jn - 1 AS DOUBLE)
                WHEN kind = 0 THEN CAST(doc_id % 256 AS DOUBLE)
           END AS lum_max
    FROM g2
    """,
)
def multimodal_image_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decoding under the hash check (llmdata/multimodal.py::
    decode_image → imagecodecs): constant-color PNGs (zlib inflate, PNG
    scanline unfilter, grayscale→RGB expansion), BMPs (bottom-up row
    order, 4-byte padding, BGR→RGB), RAMP-gray lossless JPEGs (round 9
    — SOF3 Annex H: Huffman categories, predictor chain,
    byte-unstuffing), and — round 10 — CCITT-compressed bilevel TIFFs
    (G4 T.6, G3 T.4 1D and 2D: sliding-stripe rasters whose exact
    rational means pin the full run-table + 2D-mode decode; widths
    chosen to divide 10^6 so the mean is exact at 6 decimals on both
    engines) plus JPEG-in-TIFF (compression 7: the JLS ramp walked
    through the TIFF strip container) synthesized per row from doc_id
    (`_image_fixture`), decoded by the actual production feature
    extractor, the 8-float csv parsed back into numeric columns, and
    every value checked against the generator algebra in DuckDB: a
    wrong stride, an unapplied scanline filter, a BGR/RGB swap (the
    channel means are constructed distinct), a dims mix-up, or a
    broken predictor all hash-mismatch. The JLS ramp rows are the
    row-ORDER-sensitive class the constant rasters can't be: their
    mean is base+(n-1)/2, their lum_std is sqrt((n^2-1)/12), their
    min/max pin the raster extremes — a flipped or re-ordered decode
    changes none of the constant-class features but breaks the ramp's
    predictor chain outright (every sample depends on its left/above
    neighbor). Luminance stats are checked only for
    the GRAYSCALE rows, where lum == v exactly at 6 decimals for every
    v in 0..255 (verified exhaustively) — for arbitrary (r,g,b) the
    6dp-rounded lum sits one banker's-vs-half-away rounding tie away
    from divergence, the same measured hazard that excludes
    `bitrate_kbps` from the audio entry, so BMP rows carry NULL lum on
    both sides by construction. Shuffle-free: two chained row-local
    mapInPandas passes, like the audio twin."""
    from pyspark.sql.types import DoubleType

    from temporai_mivdp_spark.llmdata import multimodal

    media = _image_fixture(spark, sf_dir)
    # strict=False: the fixture's adversarial range (edgecase corpus,
    # doc_id >= 9e6) carries truncated-IDAT PNGs and zero-width BMPs —
    # those rows must yield NULL features, not kill the batch
    feats = multimodal.decode_image(media, strict=False)
    f = F.split(F.col("features"), ",")

    def fld(i: int):
        return F.element_at(f, i).cast(DoubleType())

    # lum stats are checked only where they are exact on both engines:
    # NULLed for the whole BMP/TIFF kind (arbitrary-(r,g,b) lum at 6dp
    # is one rounding tie from divergence) and — round 10 — for the RGB
    # lossless ramps (weighted-ramp lum sits on the same hazard)
    is_bmp = F.col("media_id") % 3 == 1
    is_jls_rgb = (
        (F.col("media_id") % 3 == 0)
        & (F.expr("media_id div 3") % 2 == 1)
        & (F.expr("media_id div 6") % 2 == 1)
    )
    lum_null = is_bmp | is_jls_rgb
    return feats.select(
        "media_id",
        fld(1).alias("width"),
        fld(2).alias("height"),
        fld(3).alias("mean_r"),
        fld(4).alias("mean_g"),
        fld(5).alias("mean_b"),
        F.when(~lum_null, fld(6)).alias("lum_std"),
        F.when(~lum_null, fld(7)).alias("lum_min"),
        F.when(~lum_null, fld(8)).alias("lum_max"),
    )


def _phash_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the image-dedup corpus: every PICTURE (doc_id // 4)
    is a deterministic textured gray raster — g[y,x] = (a·x + b·y + c)
    mod 256 with per-picture a/b/c/dims — encoded in FOUR lossless
    containers round-robin by doc_id % 4: PNG (filter-0 scanlines),
    single-strip uncompressed gray TIFF, binary PGM, and bottom-up
    24-bit BMP (equal channels). The same picture decodes to the
    IDENTICAL raster from all four, so a format-robust perceptual hash
    must collapse each quadruplet — the cross-container dedup story
    the text tier can't tell. Adversarial ids (>= 9e6) carry the
    hostile classes (null / torn PNG / zero-width BMP) and must yield
    NULL hash rows."""

    def gen(it):
        import struct
        import zlib

        import pandas as pd

        def raster(p):
            w2, h2 = 3 + p % 11, 3 + p % 7
            a, b2, c = 1 + p % 7, 1 + p % 5, p % 256
            return [
                bytes((a * x + b2 * y + c) % 256 for x in range(w2))
                for y in range(h2)
            ], w2, h2

        def png_rows(rows, w2, h2):
            raw = b"".join(b"\x00" + r for r in rows)

            def chunk(typ, data):
                return (
                    struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
                )

            ihdr = struct.pack(">IIBBBBB", w2, h2, 8, 0, 0, 0, 0)
            return (
                b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
            )

        def tiff_gray(rows, w2, h2):
            strip = b"".join(rows)
            tags = sorted([
                (256, 4, w2), (257, 4, h2), (258, 3, 8), (259, 3, 1),
                (262, 3, 1), (277, 3, 1), (278, 4, h2), (279, 4, len(strip)),
            ])
            n = len(tags) + 1
            strips_off = 8 + 2 + 12 * n + 4
            out = bytearray(b"II*\x00" + struct.pack("<I", 8))
            out += struct.pack("<H", n)
            for tag, typ, val in sorted(tags + [(273, 4, strips_off)]):
                if typ == 3:
                    out += struct.pack("<HHIHH", tag, 3, 1, val, 0)
                else:
                    out += struct.pack("<HHII", tag, 4, 1, val)
            out += struct.pack("<I", 0)
            return bytes(out) + strip

        def pgm(rows, w2, h2):
            return f"P5\n{w2} {h2}\n255\n".encode() + b"".join(rows)

        def bmp_gray24(rows, w2, h2):
            pad = (4 - (3 * w2) % 4) % 4
            px = b"".join(
                b"".join(bytes([v, v, v]) for v in r) + b"\x00" * pad
                for r in reversed(rows)  # BMP stores bottom-up
            )
            hdr = b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
            dib = struct.pack(
                "<IiiHHIIiiII", 40, w2, h2, 1, 24, 0, len(px), 2835, 2835, 0, 0
            )
            return hdr + dib + px

        makers = [png_rows, tiff_gray, pgm, bmp_gray24]

        def degenerate(did):
            kind = did % 3
            if kind == 0:
                return None
            if kind == 1:
                good = png_rows(*raster(4))
                ihdr_end = 8 + 25
                ilen = int.from_bytes(good[ihdr_end : ihdr_end + 4], "big")
                body = good[ihdr_end + 8 : ihdr_end + 8 + ilen]
                cut = body[: max(2, ilen // 2)]
                return (
                    good[:ihdr_end]
                    + struct.pack(">I", len(cut)) + b"IDAT" + cut
                    + struct.pack(">I", zlib.crc32(b"IDAT" + cut) & 0xFFFFFFFF)
                    + good[-12:]
                )
            return bmp_gray24([b""] * 4, 0, 4)  # zero-width BMP

        for pdf in it:
            rows_out = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did >= 9_000_000:
                    rows_out.append((did, degenerate(did)))
                    continue
                rows, w2, h2 = raster(did // 4)
                rows_out.append((did, makers[did % 4](rows, w2, h2)))
            yield pd.DataFrame(rows_out, columns=["media_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(gen, "media_id long, payload binary")


def _dhash_oracle_hex() -> str:
    """Generated SQL computing the EXPECTED dHash hex per doc from the
    fixture algebra: lum == the gray value exactly (equal channels ×
    weights summing to a positive constant preserve every strict
    comparison), so bit(y, x) compares the texture at the floor-nearest
    sample points — pure integer arithmetic DuckDB evaluates exactly.
    Produces a 16-char lowercase hex expression over columns
    (w2, h2, a, b, c)."""

    def bit(y, x):
        s2 = f"(a*(({x + 1}*w2)//9) + b*(({y}*h2)//8) + c) % 256"
        s1 = f"(a*(({x}*w2)//9) + b*(({y}*h2)//8) + c) % 256"
        return f"(CASE WHEN {s2} > {s1} THEN 1 ELSE 0 END)"

    def word(rows):
        terms = []
        for i, (y, x) in enumerate([(y, x) for y in rows for x in range(8)]):
            terms.append(f"{bit(y, x)} * {1 << (31 - i)}")
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    hi, lo = word(range(0, 4)), word(range(4, 8))
    return (
        f"lpad(lower(to_hex({hi})), 8, '0') || lpad(lower(to_hex({lo})), 8, '0')"
    )


@_register(
    "dedup_image_phash",
    f"""
    WITH p AS (
      SELECT doc_id,
             3 + (doc_id // 4) % 11 AS w2,
             3 + (doc_id // 4) % 7 AS h2,
             1 + (doc_id // 4) % 7 AS a,
             1 + (doc_id // 4) % 5 AS b,
             (doc_id // 4) % 256 AS c
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CASE WHEN doc_id >= 9000000 THEN NULL
                  ELSE {_dhash_oracle_hex()} END AS dhash
      FROM p
    )
    SELECT doc_id AS media_id, dhash,
           substr(dhash, 1, 4) AS band1,
           substr(dhash, 13, 4) AS band4,
           CASE WHEN dhash IS NULL THEN NULL
                ELSE count(*) OVER (PARTITION BY dhash) END AS n_same_hash,
           CASE WHEN dhash IS NULL THEN NULL
                ELSE min(doc_id) OVER (PARTITION BY dhash) END AS keeper_id
    FROM h
    """,
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup under the hash check (round 10): REAL
    decode of four container formats (PNG/TIFF/PGM/BMP — every picture
    ships as a quadruplet, `_phash_fixture`) → `multimodal.image_dhash`
    (lum → 9×8 floor-nearest resample → 64 gradient bits → hex) →
    exact dedup on the hash (count + min-id keeper per cluster), with
    the banded-LSH columns surfaced. The oracle replays the WHOLE hash
    from the texture algebra as 64 integer comparisons — a wrong
    decode in ANY of the four container walks, a resample-convention
    drift, a bit-packing or band-slicing bug, or a broken cluster
    aggregation all hash-mismatch; cross-format collapse is checked
    structurally (each quadruplet's n_same_hash counts all its
    containers). Adversarial rows (torn PNG, zero-width BMP, NULL)
    yield NULL hash rows — accounting, not crashes. Plan: one
    row-local mapInPandas, then ONE hash-groupBy on the 16-byte key
    broadcast-joined back — the exact-dedup shape, no all-pairs
    anything."""
    from temporai_mivdp_spark.llmdata import multimodal

    media = _phash_fixture(spark, sf_dir)
    hashes = multimodal.image_dhash(media)
    clusters = (
        hashes.filter(F.col("dhash").isNotNull())
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_same_hash"),
            F.min("media_id").alias("keeper_id"),
        )
    )
    return hashes.join(F.broadcast(clusters), "dhash", "left").select(
        "media_id", "dhash", "band1", "band4", "n_same_hash", "keeper_id"
    )


def _video_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a video-tier media frame (media_id, payload)
    deterministically from doc_id — the video twin of `_audio_fixture`.
    Five classes, round-robin by doc_id % 5: a REAL animated GIF
    (per-frame GCE delays, valid LZW frames via the clear-per-literal
    encoding, so `imagecodecs.gif_frames` genuinely decodes what the
    block walk accounts), a REAL Ogg Theora ident packet + closing
    granule page (the header_only tier — dims / exact-rational fps /
    granule frame math), a junk payload, NULL, and (round 9) a REAL
    RIFF/AVI with a DIB video stream (`multimodal.avi_frames` decodes
    the same payloads; fps is the exact dwRate/dwScale rational incl.
    30000/1001 NTSC). Every header field
    is a pure function of doc_id so the DuckDB oracle replays the
    expected metadata algebra without seeing the bytes."""

    def gen(it):
        import struct

        import pandas as pd

        def lzw_clear_per_literal(indices, min_code):
            # CLEAR before every literal: table never grows, code width
            # stays min_code+1 — the classic "uncompressed GIF" trick,
            # decodable by any conforming LZW decoder
            clear, eoi = 1 << min_code, (1 << min_code) + 1
            width = min_code + 1
            codes = [clear]
            for px in indices:
                codes.append(px)
                codes.append(clear)
            codes[-1] = eoi  # replace the trailing clear
            buf, acc, n = bytearray(), 0, 0
            for code in codes:
                acc |= code << n
                n += width
                while n >= 8:
                    buf.append(acc & 0xFF)
                    acc >>= 8
                    n -= 8
            if n:
                buf.append(acc & 0xFF)
            return bytes(buf)

        def gif_anim(w, h, n_frames, delay_cs):
            out = bytearray(b"GIF89a")
            out += struct.pack("<HHBBB", w, h, 0x81, 0, 0)  # 4-color GCT
            out += bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
            for f in range(n_frames):
                out += struct.pack(
                    "<BBBBHBB", 0x21, 0xF9, 4, 0, delay_cs, 0, 0
                )
                out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
                out.append(2)  # LZW min code size
                data = lzw_clear_per_literal([f % 4] * (w * h), 2)
                for i in range(0, len(data), 255):
                    chunk = data[i : i + 255]
                    out.append(len(chunk))
                    out += chunk
                out += b"\x00"
            out += b"\x3b"
            return bytes(out)

        def avi_dib(did):
            # real RIFF/AVI with a DIB video stream: n constant-color
            # bottom-up BGR frames, exact-rational fps from
            # dwRate/dwScale (incl. the 30000/1001 NTSC case) — every
            # header field a pure function of doc_id
            w, h, n = 2 + did % 7, 1 + did % 5, 1 + did % 6
            rate, scale = ((30000, 1001), (25, 1), (30, 1))[did % 3]

            def chunk(cid, body):
                return (
                    cid + struct.pack("<I", len(body)) + body
                    + (b"\x00" if len(body) & 1 else b"")
                )

            def lst(t, body):
                return chunk(b"LIST", t + body)

            row = bytes(
                [did % 256, (did // 3) % 256, (did // 7) % 256]
            ) * w  # BGR
            pad = (4 - (3 * w) % 4) % 4
            px = (row + b"\x00" * pad) * h
            info = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 0, 0, 0, 0
            )
            frame = info + px
            avih = struct.pack(
                "<10I", 1_000_000 * scale // rate, 0, 0, 0, n, 0, 1, 0, w, h
            ) + bytes(16)
            strh = (
                b"vids" + b"DIB " + struct.pack("<IHH", 0, 0, 0)
                + struct.pack("<IIII", 0, scale, rate, 0)
                + struct.pack("<I", n)
                + struct.pack("<IiI", 0, -1, 0)
                + struct.pack("<hhhh", 0, 0, w, h)
            )
            strf = info
            hdrl = lst(
                b"hdrl",
                chunk(b"avih", avih)
                + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
            )
            movi = lst(b"movi", b"".join(chunk(b"00dc", frame) for _ in range(n)))
            body = b"AVI " + hdrl + movi
            return b"RIFF" + struct.pack("<I", len(body)) + body

        def ogg_page(granule, body, seq, btype):
            return (
                b"OggS" + b"\x00" + bytes([btype])
                + struct.pack("<q", granule)
                + struct.pack("<I", 7) + struct.pack("<I", seq)
                + b"\x00" * 4  # CRC unchecked by header walkers
                + bytes([1, len(body)]) + body
            )

        def theora(picw, pich, frn, frd, n_frames, kfg=6):
            mbw, mbh = (picw + 15) // 16, (pich + 15) // 16
            two = (40 << 10) | (kfg << 5)  # QUAL=40, PF=0, RES=0
            ident = (
                b"\x80theora" + bytes([3, 2, 1])
                + struct.pack(">HH", mbw, mbh)
                + picw.to_bytes(3, "big") + pich.to_bytes(3, "big")
                + bytes([0, 0])
                + struct.pack(">II", frn, frd)
                + b"\x00" * 6 + bytes([0]) + b"\x00" * 3
                + struct.pack(">H", two)
            )
            return (
                ogg_page(0, ident, 0, 0x02)
                + ogg_page((n_frames - 1) << kfg, b"\x00", 1, 0x04)
            )

        def degenerate(did):
            # hostile-media lattice for the adversarial id range: a GIF
            # with no image data, a truncated Ogg page (header claims a
            # longer body than present), and a GIF whose image
            # descriptor is cut mid-header — all must classify as
            # 'unsupported' with null fields, never throw
            kind = did % 4
            if kind == 0:  # GIF header + trailer, zero frames
                return b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0) + b"\x3b"
            if kind == 1:  # Ogg page whose segment table lies
                return (
                    b"OggS" + b"\x00\x02" + struct.pack("<q", 0)
                    + struct.pack("<II", 7, 0) + b"\x00" * 4
                    + bytes([1, 200]) + b"\x80theora"  # 200-byte claim, 8 present
                )
            if kind == 2:  # image descriptor cut mid-header
                return (
                    b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0, 0, 0)
                    + b"\x2c" + b"\x00\x00\x00"
                )
            return None

        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did >= 9_000_000:
                    rows.append((did, degenerate(did)))
                    continue
                kind = did % 5
                if kind == 0:
                    # n_frames keys off did // 5 (did % 5 is 0 on this
                    # class, so a %5 modulus would pin n_frames to 1 and
                    # never exercise the multi-frame animation walk)
                    payload = gif_anim(
                        2 + did % 9, 1 + did % 7,
                        1 + (did // 5) % 5, 3 + did % 11,
                    )
                elif kind == 1:
                    frn, frd = ((24000, 1001), (25000, 1000), (30000, 1001))[
                        did % 3
                    ]
                    payload = theora(
                        16 * (1 + did % 20), 16 * (1 + did % 11),
                        frn, frd, 2 + did % 49,
                    )
                elif kind == 2:
                    payload = b"JUNK" + did.to_bytes(8, "big")
                elif kind == 4:
                    payload = avi_dib(did)
                else:
                    payload = None
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(gen, "media_id long, payload binary")


@_register(
    "multimodal_video_roundtrip",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN doc_id % 5 = 0 THEN 'gif'
                WHEN doc_id % 5 = 1 THEN 'theora'
                WHEN doc_id % 5 = 4 THEN 'dib' END
             AS codec,
           CASE WHEN doc_id >= 9000000 THEN 'unsupported'
                WHEN doc_id % 5 = 0 THEN 'full'
                WHEN doc_id % 5 = 1 THEN 'header_only'
                WHEN doc_id % 5 = 4 THEN 'full'
                ELSE 'unsupported' END AS decode_status,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN doc_id % 5 = 0 THEN CAST(2 + doc_id % 9 AS INTEGER)
                WHEN doc_id % 5 = 1
                THEN CAST(16 * (1 + doc_id % 20) AS INTEGER)
                WHEN doc_id % 5 = 4 THEN CAST(2 + doc_id % 7 AS INTEGER)
           END AS width,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN doc_id % 5 = 0 THEN CAST(1 + doc_id % 7 AS INTEGER)
                WHEN doc_id % 5 = 1
                THEN CAST(16 * (1 + doc_id % 11) AS INTEGER)
                WHEN doc_id % 5 = 4 THEN CAST(1 + doc_id % 5 AS INTEGER)
           END AS height,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN doc_id % 5 = 0
                THEN CAST(1 + (doc_id // 5) % 5 AS BIGINT)
                WHEN doc_id % 5 = 1 THEN CAST(2 + doc_id % 49 AS BIGINT)
                WHEN doc_id % 5 = 4 THEN CAST(1 + doc_id % 6 AS BIGINT)
           END AS n_frames,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN doc_id % 5 = 0
                THEN CAST(((1 + (doc_id // 5) % 5) * 1000000)
                          // ((1 + (doc_id // 5) % 5) * (3 + doc_id % 11) * 10)
                     AS BIGINT)
                WHEN doc_id % 5 = 1
                THEN CAST(([24000, 25000, 30000][doc_id % 3 + 1] * 1000)
                          // [1001, 1000, 1001][doc_id % 3 + 1] AS BIGINT)
                WHEN doc_id % 5 = 4
                THEN CAST(([30000, 25, 30][doc_id % 3 + 1] * 1000)
                          // [1001, 1, 1][doc_id % 3 + 1] AS BIGINT)
           END AS fps_milli,
           CASE WHEN doc_id >= 9000000 THEN NULL
                WHEN doc_id % 5 = 0
                THEN CAST((1 + (doc_id // 5) % 5) * (3 + doc_id % 11) * 10
                     AS BIGINT)
                WHEN doc_id % 5 = 1
                THEN CAST(((2 + doc_id % 49) * 1000
                           * [1001, 1000, 1001][doc_id % 3 + 1])
                          // [24000, 25000, 30000][doc_id % 3 + 1]
                     AS BIGINT)
                WHEN doc_id % 5 = 4
                THEN CAST(((1 + doc_id % 6) * 1000
                           * [1001, 1, 1][doc_id % 3 + 1])
                          // [30000, 25, 30][doc_id % 3 + 1]
                     AS BIGINT)
           END AS duration_ms
    FROM documents
    """,
)
def multimodal_video_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-tier header decoding under the hash check (llmdata/
    multimodal.py::video_metadata): animated GIFs (full LZW frames —
    the pixel tier `imagecodecs.gif_frames` decodes the same payloads
    in the unit suite), Ogg Theora ident packets with a closing granule
    page, junk, and NULL are synthesized per row from doc_id
    (`_video_fixture`) and pushed through the production Arrow-batched
    walker. The oracle replays the GENERATOR's algebra — GIF frame
    count and summed centisecond GCE delays, Theora 24-bit picture
    dims, exact-rational fps (frn*1000 // frd, incl. the 24000/1001
    NTSC rational), and the KFGSHIFT granule split's frame count — so a
    miscounted image descriptor, an unsummed delay, a misread bit
    field, or a granule-math bug all hash-mismatch. This is the video
    twin of the audio/image roundtrips from round 8, closing the last
    media tier whose real decoder had no oracle-checked entry. Scale
    shape: one row-local mapInPandas generation + one row-local decode
    pass, zero shuffles. All checked columns are integers — no float
    or rounding hazard on either side."""
    from temporai_mivdp_spark.llmdata import multimodal

    media = _video_fixture(spark, sf_dir)
    return multimodal.video_metadata(media)


@_register(
    "multimodal_frame_sampling",
    """
    WITH p AS (
      SELECT doc_id,
             doc_id % 5 AS kind,
             2 + doc_id % 9 AS gw, 1 + doc_id % 7 AS gh,
             1 + (doc_id // 5) % 5 AS gn, (3 + doc_id % 11) * 10 AS gd,
             2 + doc_id % 7 AS aw, 1 + doc_id % 5 AS ah,
             1 + doc_id % 6 AS an,
             [30000, 25, 30][doc_id % 3 + 1] AS arate,
             [1001, 1, 1][doc_id % 3 + 1] AS ascale
      FROM documents
      WHERE doc_id < 9000000 AND doc_id % 5 IN (0, 4)
    ),
    ticks AS (
      SELECT *,
             unnest(generate_series(0,
                CAST(CASE WHEN kind = 0 THEN gn * gd
                     ELSE an * 1000 * ascale // arate END AS BIGINT) - 1,
                100)) AS t
      FROM p
    )
    SELECT doc_id AS media_id,
           CAST(t AS BIGINT) AS frame_ms,
           CAST(CASE WHEN kind = 0 THEN gw ELSE aw END AS DOUBLE) AS width,
           CAST(CASE WHEN kind = 0 THEN gh ELSE ah END AS DOUBLE) AS height,
           CAST(CASE WHEN kind = 0
                     THEN CASE WHEN (t // gd) % 4 = 1 THEN 255 ELSE 0 END
                     ELSE (doc_id // 7) % 256 END AS DOUBLE) AS mean_r,
           CAST(CASE WHEN kind = 0
                     THEN CASE WHEN (t // gd) % 4 = 2 THEN 255 ELSE 0 END
                     ELSE (doc_id // 3) % 256 END AS DOUBLE) AS mean_g,
           CAST(CASE WHEN kind = 0
                     THEN CASE WHEN (t // gd) % 4 = 3 THEN 255 ELSE 0 END
                     ELSE doc_id % 256 END AS DOUBLE) AS mean_b
    FROM ticks
    """,
)
def multimodal_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame DECODE + timed sampling under the hash check — the
    tier above `multimodal_video_roundtrip`'s header walk: the same
    synthesized corpus flows through `multimodal.sample_frames`, which
    fully decodes each animated GIF (LZW + compositing) and DIB AVI
    (bottom-up BGR frames), builds the cumulative-delay timeline, and
    emits one row per 100 ms tick with the decode_image feature vector
    of the frame showing at that tick. The oracle replays the
    generator's algebra end to end: tick COUNT pins the total duration
    (GIF: n*delay; AVI: the granule-exact n*1000*scale//rate), the GIF
    rows' per-tick palette cycling (frame k = t // delay, color =
    palette[k % 4]) pins frame SELECTION, LZW decode, and compositing —
    a mis-timed timeline, an off-by-one frame pick, a broken palette
    or row order all hash-mismatch — and the AVI rows pin the BGR→RGB
    channel order through distinct per-channel constants. Theora /
    junk / NULL / degenerate payloads must contribute ZERO rows
    (crawl-mode skip), so an unsupported format leaking rows fails the
    row-count gate. Luminance columns are deliberately excluded: the
    means/dims are integers as doubles — no float-tie hazard. Scale
    shape: one row-local mapInPandas generation + one row-local
    decode-and-explode pass, zero shuffles."""
    from pyspark.sql.types import DoubleType

    from temporai_mivdp_spark.llmdata import multimodal

    media = _video_fixture(spark, sf_dir)
    feats = multimodal.sample_frames(media, every_ms=100, strict=False)
    f = F.split(F.col("features"), ",")

    def fld(i: int):
        return F.element_at(f, i).cast(DoubleType())

    return feats.select(
        "media_id",
        "frame_ms",
        fld(1).alias("width"),
        fld(2).alias("height"),
        fld(3).alias("mean_r"),
        fld(4).alias("mean_g"),
        fld(5).alias("mean_b"),
    )
