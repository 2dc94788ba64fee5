"""Unit tests for the LLM-data operators on hand-built corpora."""

from __future__ import annotations

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from temporai_mivdp_spark.llmdata import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat today"),    # near dup of 1
        (4, "completely different words about spark engines running fast"),
        (5, "el rapido zorro marron salta sobre el perro y los gatos"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


#: Java's ``\s`` (the engine's regex class), NOT Python's ``str.split()``
#: set: NBSP and the \x1c-\x1f separators are word characters to Spark
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

_TOKENIZER_CASES = [
    None,
    "",
    "  \t ",
    "\t\n\r A  b\x0bc\fd \r\n",
    "x y",
    "x y z",
    "a b a b a b",
    "nbsp\u00a0joins x\x1cy",
]


@pytest.mark.parametrize("n", [1, 2, 3])
def test_tokenizer_helpers_match_reference(spark, n):
    """``words``/``word_ngrams``/``content_key`` against a plain-Python
    reference, with ``word_ngrams`` under the ``size >= n`` guard every
    caller applies; the hashed windows are ``xxhash64`` of the string
    windows, element by element."""
    import hashlib

    def ref_words(t):
        return None if t is None else _JAVA_WS.sub(" ", t.lower()).strip(" ").split(" ")

    df = spark.createDataFrame([(t,) for t in _TOKENIZER_CASES], "text: string")
    toks = F.col("toks")
    guard = F.size(toks) >= n
    rows = (
        df.withColumn("toks", dedup.words(F.col("text")))
        .select(
            "text",
            "toks",
            F.when(guard, dedup.word_ngrams(toks, n, hashed=False)).alias("grams"),
            F.when(guard, dedup.word_ngrams(toks, n, hashed=True)).alias("hashed"),
            F.when(
                guard,
                F.transform(dedup.word_ngrams(toks, n, hashed=False), lambda g: F.xxhash64(g)),
            ).alias("rehashed"),
            dedup.content_key(F.col("text")).alias("key"),
        )
        .collect()
    )
    assert len(rows) == len(_TOKENIZER_CASES)
    for r in rows:
        want = ref_words(r.text)
        assert r.toks == want, r.text
        grams = (
            None
            if want is None or len(want) < n
            else [" ".join(want[i : i + n]) for i in range(len(want) - n + 1)]
        )
        assert r.grams == grams, r.text
        assert r.hashed == r.rehashed, r.text
        assert (r.hashed is None) == (grams is None), r.text
        assert r.key == (
            None if r.text is None else hashlib.md5(" ".join(want).encode()).hexdigest()
        ), r.text


def test_exact_duplicates(spark, docs):
    out = {r.keep_id: r.n_copies for r in dedup.exact_duplicates(docs).collect()}
    assert out[1] == 2          # docs 1+2 collapse, keeper = min id
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert not any({4, 5} & {a, b} for a, b in pairs)


def test_minhash_lsh_finds_dups(spark, docs):
    cand = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_candidates(docs, 8, 4).collect()}
    assert (1, 2) in cand                       # identical docs always collide
    assert not any({4, 5} & {a, b} for a, b in cand)


def test_simhash_close_for_near_dups(spark, docs):
    fp = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=16).collect()}
    assert fp[1] == fp[2]
    ham_near = bin(fp[1] ^ fp[3]).count("1")
    ham_far = bin(fp[1] ^ fp[4]).count("1")
    assert ham_near < ham_far
    assert all(0 <= v < 2**16 for v in fp.values())


@pytest.fixture(scope="module")
def vectors(spark):
    # 3 tight clusters around axis directions + ids
    import math

    rows = []
    for i in range(30):
        axis = i % 3
        v = [0.0] * 8
        v[axis] = 1.0
        v[(axis + 1) % 8] = 0.05 * (i % 5)  # slight spread
        norm = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / norm for x in v], axis))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>, label: int")


def test_embedding_neardup_blocked(spark, vectors):
    pairs = dedup.embedding_near_duplicates(vectors, threshold=0.99, block_col="label")
    for r in pairs.collect():
        assert r.id_a % 3 == r.id_b % 3   # only same-cluster pairs


def test_embedding_neardup_unblocked_requires_explicit_opt_in(spark, vectors):
    """The r10 verdict's footgun fix: calling without a block key used to
    quietly plan an O(n²) cartesian. Now it raises unless the caller
    opts in with allow_all_pairs=True — and the opt-in path still
    computes the same pairs the label blocking finds (a superset: it
    also compares across blocks)."""
    import pytest

    with pytest.raises(ValueError, match="block_col"):
        dedup.embedding_near_duplicates(vectors, threshold=0.99)
    blocked = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_duplicates(
            vectors, threshold=0.99, block_col="label"
        ).collect()
    }
    all_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_duplicates(
            vectors, threshold=0.99, allow_all_pairs=True
        ).collect()
    }
    assert blocked <= all_pairs


def test_brute_force_topk_exact(spark, vectors):
    probes = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = similarity.brute_force_topk(vectors, probes, k=5).collect()
    assert len(out) == 5
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]
    # all top-5 neighbors of a cluster-0 vector are cluster-0 vectors
    assert all(r.neighbor_id % 3 == 0 for r in out)
    # descending cosine
    cosines = [r.cosine for r in out]
    assert cosines == sorted(cosines, reverse=True)


def test_ivf_topk_recall(spark, vectors):
    probes = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    cents = similarity.deterministic_centroids(vectors, n=6)
    exact = similarity.brute_force_topk(vectors, probes, k=5)
    approx = similarity.ivf_topk(vectors, probes, cents, k=5, nprobe=3)
    e = {(r.probe_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.probe_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"IVF recall too low: {recall}"


def test_mean_vectors_per_group(spark):
    rows = [
        ("a", [1.0, 3.0]),
        ("a", [3.0, 5.0]),
        ("b", [10.0, 0.0]),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "src: string, embedding: array<double>")
    out = {r.src: (list(r.embedding), r.n_vectors)
           for r in similarity.mean_vectors(df, "src").collect()}
    assert out["a"] == ([2.0, 4.0], 2)
    assert out["b"] == ([10.0, 0.0], 1)   # null vector excluded from mean AND count


def test_kmeans_buckets_block_embedding_neardup(spark, vectors):
    """The intended 100 TB blocking path: kmeans buckets as the
    embedding near-dup block key (replaces a hand-provided label — the
    all-pairs fallback never runs)."""
    cents, _ = similarity.kmeans_fit(vectors, n=3, iterations=5)
    labeled = similarity.assign_ivf_buckets(
        vectors, cents, id_col="vec_id", keep_all=True
    )
    pairs = dedup.embedding_near_duplicates(
        labeled, threshold=0.99, id_col="vec_id", block_col="bucket"
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got, "tight axis clusters must yield near-dup pairs"
    for a, b in got:
        assert a % 3 == b % 3     # pairs only within a true cluster
    # parity with ground-truth label blocking: same pair set
    truth = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_duplicates(
            vectors, threshold=0.99, id_col="vec_id", block_col="label"
        ).collect()
    }
    assert got == truth


def test_kmeans_fit_recovers_clusters(spark, vectors):
    cents, history = similarity.kmeans_fit(vectors, n=3, iterations=10)
    # convergence signal: corpus mean winning-sim never decreases
    assert all(b >= a - 1e-9 for a, b in zip(history, history[1:])), history
    # trained inverted file separates the 3 axis clusters perfectly
    assigned = similarity.assign_ivf_buckets(vectors, cents)
    label = {r.vec_id: r.vec_id % 3 for r in vectors.collect()}
    by_bucket: dict[int, set[int]] = {}
    for r in assigned.collect():
        by_bucket.setdefault(r.bucket, set()).add(label[r.vec_id])
    assert len(by_bucket) == 3
    assert all(len(labels) == 1 for labels in by_bucket.values()), by_bucket


def test_kmeans_fit_deterministic_and_empty_bucket_safe(spark, vectors):
    # n > true cluster count: some buckets may empty out mid-fit; they
    # must keep their previous centroid (n centroids out, no crash)
    c1, h1 = similarity.kmeans_fit(vectors, n=6, iterations=5)
    c2, h2 = similarity.kmeans_fit(vectors, n=6, iterations=5)
    assert c1.count() == 6
    assert h1 == h2
    v1 = {r.centroid_id: list(r.embedding) for r in c1.collect()}
    v2 = {r.centroid_id: list(r.embedding) for r in c2.collect()}
    assert v1 == v2


# slow tier (r13, conftest default-skip): ~11s recovery stress (see kmeans redundancy above)
@pytest.mark.slow
def test_kmeans_sampled_rounds_still_recover_clusters(spark, vectors):
    cents, history = similarity.kmeans_fit(
        vectors, n=3, iterations=8, sample_fraction=0.6
    )
    # deterministic: same sample, same fit
    cents2, history2 = similarity.kmeans_fit(
        vectors, n=3, iterations=8, sample_fraction=0.6
    )
    assert history == history2
    # full-corpus assignment with sample-trained centroids still
    # separates the 3 axis clusters perfectly
    assigned = similarity.assign_ivf_buckets(vectors, cents)
    by_bucket: dict[int, set[int]] = {}
    for r in assigned.collect():
        by_bucket.setdefault(r.bucket, set()).add(r.vec_id % 3)
    assert len(by_bucket) == 3
    assert all(len(labels) == 1 for labels in by_bucket.values()), by_bucket


def test_kmeans_trained_ivf_recall_not_worse(spark, vectors):
    probes = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = similarity.brute_force_topk(vectors, probes, k=5)
    e = {(r.probe_id, r.neighbor_id) for r in exact.collect()}

    seeds = similarity.deterministic_centroids(vectors, n=6)
    trained, _ = similarity.kmeans_fit(
        vectors, n=6, iterations=6, seed_centroids=seeds
    )
    rec = {}
    for name, cents in (("seed", seeds), ("trained", trained)):
        a = {
            (r.probe_id, r.neighbor_id)
            for r in similarity.ivf_topk(vectors, probes, cents, k=5, nprobe=3).collect()
        }
        rec[name] = len(e & a) / len(e)
    assert rec["trained"] >= rec["seed"] - 1e-9, rec
    assert rec["trained"] >= 0.8, rec


def test_persisted_ivf_index_parity_and_partition_pruning(spark, vectors):
    import tempfile

    from temporai_mivdp_spark.plans.inspect import executed_plan

    cents, _ = similarity.kmeans_fit(vectors, n=6, iterations=4)
    path = tempfile.mkdtemp(prefix="ivf-index-")
    similarity.persist_ivf_index(vectors, cents, path)
    probes = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    mem = similarity.ivf_topk(vectors, probes, cents, k=5, nprobe=3)
    idx = similarity.ivf_topk_from_index(spark, path, probes, k=5, nprobe=3)
    m = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine) for r in mem.collect()}
    i = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine) for r in idx.collect()}
    assert m == i
    # the scan must carry the routed buckets as a PARTITION filter —
    # non-routed bucket directories are skipped at file-listing time
    plan = executed_plan(idx)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "bucket" in seg, seg


def test_persisted_lsh_index_parity_and_partition_pruning(spark, vectors):
    import tempfile

    from temporai_mivdp_spark.plans.inspect import executed_plan

    path = tempfile.mkdtemp(prefix="lsh-index-")
    similarity.persist_lsh_index(vectors, path, tables=6, bits=4)
    probes = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    mem = similarity.lsh_topk(vectors, probes, k=5, tables=6, bits=4)
    idx = similarity.lsh_topk_from_index(spark, path, probes, k=5)
    m = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine) for r in mem.collect()}
    i = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine) for r in idx.collect()}
    assert m == i
    plan = executed_plan(idx)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:300]
    assert "table" in seg and "bucket" in seg, seg


def test_index_probe_routing_is_a_local_relation(spark, vectors, tmp_path):
    """Both persisted-index top-k paths rebuild their collected probe
    routing from Arrow: once executed, the broadcast side is a
    LocalTableScan and no Python RDD (``Scan ExistingRDD``) remains."""
    from temporai_mivdp_spark.plans.inspect import executed_plan

    cents, _ = similarity.kmeans_fit(vectors, n=6, iterations=4)
    similarity.persist_ivf_index(vectors, cents, str(tmp_path / "ivf"))
    similarity.persist_lsh_index(vectors, str(tmp_path / "lsh"), tables=2, bits=4)
    probes = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    for df in (
        similarity.ivf_topk_from_index(spark, str(tmp_path / "ivf"), probes, k=5),
        similarity.lsh_topk_from_index(spark, str(tmp_path / "lsh"), probes, k=5),
    ):
        assert df.count() > 0
        plan = executed_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_quantized_ivf_index_recall_and_append(spark, vectors):
    import tempfile

    cents, _ = similarity.kmeans_fit(vectors, n=6, iterations=4)
    probes = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    path = tempfile.mkdtemp(prefix="ivf-q-")
    similarity.persist_ivf_index(
        vectors.filter(F.col("vec_id") < 20), cents, path, quantize=True
    )
    # stored vectors are int8
    stored = spark.read.parquet(f"{path}/corpus").schema["embedding"].dataType
    assert stored.elementType.typeName() in ("byte", "tinyint"), stored
    # append auto-quantizes to match the layout
    similarity.append_to_ivf_index(vectors.filter(F.col("vec_id") >= 20), path)
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.ivf_topk(vectors, probes, cents, k=5, nprobe=3).collect()
    }
    quant = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.ivf_topk_from_index(
            spark, path, probes, k=5, nprobe=3
        ).collect()
    }
    # int8 rounding moves cosines <1%; neighbor sets stay nearly intact
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, recall


def test_ivf_index_drift_probe(spark, vectors):
    import tempfile

    cents, _ = similarity.kmeans_fit(vectors, n=3, iterations=6)
    path = tempfile.mkdtemp(prefix="ivf-drift-")
    similarity.persist_ivf_index(vectors, cents, path)
    healthy = {r.bucket: r.mean_to_centroid_cosine
               for r in similarity.ivf_index_drift(spark, path).collect()}
    # freshly-fit index: every bucket's mean hugs its centroid
    assert healthy and all(c > 0.95 for c in healthy.values()), healthy

    # append a shard pointing AWAY from every centroid: some bucket's
    # cosine must sag below its healthy value
    drifted = spark.createDataFrame(
        [(1000 + i, [0.0] * 4 + [1.0, 0.0, 0.0, 0.0]) for i in range(30)],
        "vec_id: long, embedding: array<float>",
    )
    similarity.append_to_ivf_index(drifted, path)
    after = {r.bucket: r.mean_to_centroid_cosine
             for r in similarity.ivf_index_drift(spark, path).collect()}
    assert min(after.values()) < min(healthy.values()), (healthy, after)


def test_ivf_index_shard_append_parity(spark, vectors):
    import tempfile

    cents, _ = similarity.kmeans_fit(vectors, n=6, iterations=4)
    first = vectors.filter(F.col("vec_id") < 20)
    shard = vectors.filter(F.col("vec_id") >= 20)
    probes = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    # index built incrementally == index built in one shot
    p1 = tempfile.mkdtemp(prefix="ivf-inc-")
    similarity.persist_ivf_index(first, cents, p1)
    similarity.append_to_ivf_index(shard, p1)
    p2 = tempfile.mkdtemp(prefix="ivf-full-")
    similarity.persist_ivf_index(vectors, cents, p2)
    r1 = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine)
          for r in similarity.ivf_topk_from_index(spark, p1, probes, k=5, nprobe=3).collect()}
    r2 = {(r.probe_id, r.rank): (r.neighbor_id, r.cosine)
          for r in similarity.ivf_topk_from_index(spark, p2, probes, k=5, nprobe=3).collect()}
    assert r1 == r2


def test_lsh_topk_recall(spark, vectors):
    probes = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = similarity.brute_force_topk(vectors, probes, k=5)
    approx = similarity.lsh_topk(vectors, probes, k=5, tables=6, bits=4)
    e = {(r.probe_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.probe_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"LSH recall too low: {recall}"
    # ranks are contiguous from 1 and cosines descend per probe
    rows = sorted(approx.collect(), key=lambda r: (r.probe_id, r.rank))
    for pid in {r.probe_id for r in rows}:
        mine = [r for r in rows if r.probe_id == pid]
        assert [r.rank for r in mine] == list(range(1, len(mine) + 1))
        cosines = [r.cosine for r in mine]
        assert cosines == sorted(cosines, reverse=True)


def test_lsh_signatures_deterministic(spark, vectors):
    s1 = similarity.lsh_signatures(vectors, tables=2, bits=4).collect()
    s2 = similarity.lsh_signatures(vectors, tables=2, bits=4).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    # every vector appears once per table with a bucket inside [0, 2^bits)
    per_vec = {}
    for r in s1:
        per_vec.setdefault(r.vec_id, []).append(r.table)
        assert 0 <= r.bucket < 16
    assert all(sorted(tables) == [0, 1] for tables in per_vec.values())


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is to go"),
            (2, "le chat et la maison est les chiens"),
            (3, "xyzzy plugh qwerty"),
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r.lang_pred for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "fr", 3: "und"}


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox! It is 42 years old, honestly.")],
        "doc_id: long, text: string",
    )
    q = text.quality_features(df).collect()[0]
    assert q.n_tokens == 10
    assert q.punct_ratio > 0 and q.digit_ratio > 0
    s = text.quality_score(df).collect()[0]
    assert 0.0 <= s.quality_score <= 1.0
    tc = df.select(text.bpe_token_estimate(F.col("text")).alias("t")).collect()[0].t
    assert tc >= 10  # subword estimate >= word count for short words


def test_repetition_features(spark):
    df = spark.createDataFrame(
        [
            # "buy now" x3 padded: 8 tokens, 7 bigrams; "buy now" appears 3x
            (1, "buy now buy now buy now so cheap"),
            # all-distinct bigrams
            (2, "one two three four"),
            # single token: no bigrams at all -> absent from output
            (3, "lonely"),
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: r for r in text.repetition_features(df, n=2).collect()}
    assert set(out) == {1, 2}
    assert out[1].top_ngram_frac == pytest.approx(3 * 2 / 8)
    # 7 bigram occurrences, 4 distinct ("buy now","now buy","now so","so cheap")
    assert out[1].dup_ngram_frac == pytest.approx((7 - 4) / 7)
    assert out[2].top_ngram_frac == pytest.approx(2 / 4)
    assert out[2].dup_ngram_frac == 0.0


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a  B c d e f g"), (3, "totally other words here now")],
        "doc_id: long, text: string",
    )
    fp = {r.doc_id: (r.content_md5, r.min_shingle_hash) for r in text.fingerprint(df).collect()}
    assert fp[1] == fp[2]          # normalization collapses case/whitespace
    assert fp[1] != fp[3]


def test_multimodal_metadata_and_fake_decode(spark):
    rows = [
        (1, b"\xff\xd8\xffrest-of-jpeg", "image/jpeg", 10, 10, None),
        (2, b"\x89PNGrest", "image/png", 5, 5, None),
        (3, None, None, None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    meta = {r.media_id: r for r in multimodal.extract_metadata(media).collect()}
    assert meta[1].sniffed_mime == "image/jpeg"
    assert meta[2].sniffed_mime == "image/png"
    assert meta[3].byte_len is None
    assert meta[1].byte_len == len(rows[0][1])

    feats = {r.media_id: r.features for r in multimodal.decode_image(media, fake=True).collect()}
    assert feats[1] and len(feats[1].split(",")) == 8
    assert feats[3] is None

    with pytest.raises(Exception):  # real decode is stubbed
        multimodal.decode_image(media, fake=False).collect()


def test_frame_sample_plan(spark):
    rows = [(1, None, "video/mp4", None, None, 3500), (2, None, "image/png", None, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    frames = multimodal.frame_sample_plan(media, every_ms=1000).collect()
    assert [(r.media_id, r.frame_ms) for r in frames] == [(1, 0), (1, 1000), (1, 2000), (1, 3000)]


def test_resize_and_audio_stubs(spark):
    rows = [
        (1, b"\xff\xd8\xffjpegbytes", "image/jpeg", 100, 80, None),
        (2, None, None, None, None, None),
        (3, b"RIFFwavbytes", "audio/wav", None, None, 2500),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    resized = {r.media_id: r for r in multimodal.resize_image(media, 16, 8, fake=True).collect()}
    assert resized[1].width == 16 and resized[1].height == 8
    assert len(resized[1].payload) == 16 * 8
    assert resized[2].payload is None
    # deterministic: same content + dims -> same payload
    again = {r.media_id: r for r in multimodal.resize_image(media, 16, 8, fake=True).collect()}
    assert resized[1].payload == again[1].payload
    # dims participate in the keystream -> different target, different bytes
    other = {r.media_id: r for r in multimodal.resize_image(media, 8, 8, fake=True).collect()}
    assert resized[1].payload[:8] != other[1].payload[:8]
    with pytest.raises(Exception):
        multimodal.resize_image(media, 16, 8, fake=False).collect()

    audio = {r.media_id: r for r in multimodal.audio_features(media, fake=True).collect()}
    assert audio[3].duration_ms == 2500
    assert audio[3].rms is not None and 0.0 <= float(audio[3].rms) <= 1.0
    assert audio[3].zero_crossings is not None
    assert audio[2].rms is None and audio[2].zero_crossings is None
    with pytest.raises(Exception):
        multimodal.audio_features(media, fake=False).collect()

    spread = multimodal.spread_for_decode(media, 4)
    assert spread.rdd.getNumPartitions() == 4
    assert spread.count() == 3


def test_incremental_dedup_against_index(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely unrelated text about spark physical planning"),
        ],
        "doc_id: long, text: string",
    )
    new_batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again"),  # dup of 1
            (11, "a genuinely novel document that shares no shingles at all"),
            (12, "a genuinely novel document that shares no shingles at all"),  # in-shard dup of 11
        ],
        "doc_id: long, text: string",
    )

    # LSH path: index the corpus once, join the new shard against it
    index = dedup.lsh_band_index(corpus, num_hashes=16, bands=4)
    pairs = dedup.incremental_lsh_candidates(new_batch, index, num_hashes=16, bands=4)
    got = {(r.new_id, r.old_id) for r in pairs.collect()}
    assert (10, 1) in got
    assert not any(n in (11, 12) for n, _ in got)

    # exact path: seen-keys state + in-shard min-id dedup
    seen = corpus.select(
        F.md5(dedup.normalize_text(F.col("text"))).alias("content_key")
    )
    novel = dedup.incremental_exact_novel(new_batch, seen)
    assert {r.doc_id for r in novel.collect()} == {11}
    # appending the survivors' keys to the state makes a rerun a no-op
    seen2 = seen.unionByName(novel.select("content_key"))
    assert dedup.incremental_exact_novel(new_batch, seen2).count() == 0


def test_duplicate_clusters_transitive(spark):
    # chain A~B~C plus isolated pair D~E: clusters must be transitive
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.8)], "id_a: long, id_b: long, jaccard: double"
    )
    clusters = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in [1, 2, 3, 10, 11, 99]], "doc_id: long, text: string"
    )
    kept = {r.doc_id for r in dedup.keep_representatives(docs, dedup.duplicate_clusters(pairs)).collect()}
    assert kept == {1, 10, 99}   # one keeper per cluster + untouched doc


def _union_find_labels(pairs):
    """Reference labels: every node of the pair graph (self-loops
    alone add no node) mapped to the smallest id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for a, b in pairs if a != b for x in (a, b)}


@pytest.mark.parametrize(
    "pairs",
    [
        [(i, i + 1) for i in range(12)],
        [(i + 1, i) for i in range(12)],
        [(5, i) for i in (1, 2, 3, 4, 6, 7, 8)],
        [(a, b) for a in range(6) for b in range(a + 1, 6)],
        [(1, 1), (2, 2), (2, 3), (7, 7)],
        [(1, 2), (2, 1), (1, 2), (3, 4), (4, 3), (4, 2)],
        [],
    ],
    ids=["chain", "reversed-chain", "star-nonmin-root", "6-clique",
         "self-loops", "dup-and-reversed-edges", "empty"],
)
def test_duplicate_clusters_matches_union_find(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    got = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(df).collect()}
    assert got == _union_find_labels(pairs)


def _jobs_of(spark, group, build):
    """Run ``build()`` under job group ``group``; return its result and
    the descriptions of the jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "caller description", False)
    try:
        out = build()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        ids = sc.statusTracker().getJobIdsForGroup(group)
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    descs = [store.job(j).description() for j in ids]
    return out, [d.get() if d.isDefined() else None for d in descs]


def test_duplicate_clusters_star_forest_converges_in_one_round(spark, star_tier):
    """A 4-clique plus a pair is a star forest after one round, and the
    in-job convergence check sees it: no confirming second round, and
    every eager job is labelled with its round."""
    pairs = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(10, 11)],
        "id_a: long, id_b: long",
    )
    out, descs = _jobs_of(
        spark, "dc-one-round", lambda: dedup.duplicate_clusters(pairs)
    )
    assert descs and set(descs) == {"duplicate_clusters: star round 1"}
    assert {r.doc_id: r.cluster_id for r in out.collect()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
    }


def _permuted_chain(n, seed=0):
    """A chain over a random permutation of ``0..n-1``: the smallest id
    sits mid-chain, so no node hooks onto it in one round."""
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


#: name -> (pairs, DDL schema of id_a and id_b)
_TIER_GRAPHS = {
    "chain-2000": ([(i, i + 1) for i in range(1999)], "id_a long, id_b long"),
    "permuted-chain-2000": (_permuted_chain(2000), "id_a long, id_b long"),
    # 6 roots with 4 children of 3 leaves each; roots are not the min ids
    "two-level-trees": (
        [(1000 + r, 100 * r + c) for r in range(6) for c in range(4)]
        + [(100 * r + c, 100 * r + c + 10 * (g + 1)) for r in range(6)
           for c in range(4) for g in range(3)],
        "id_a long, id_b long",
    ),
    "dup-reversed-self-loops": (
        [(1, 2), (2, 1), (1, 2), (3, 3), (3, 4), (4, 3), (4, 2), (9, 9)],
        "id_a long, id_b long",
    ),
    "null-ids": (
        [(1, None), (None, 2), (None, None), (2, 3), (5, None)], "id_a long, id_b long",
    ),
    "empty": ([], "id_a long, id_b long"),
    "int-ids": ([(7, 3), (3, 5), (20, 21)], "id_a int, id_b int"),
    "int-and-bigint-ids": ([(7, 3), (3, 5), (20, 2**40)], "id_a int, id_b long"),
    "string-ids": (
        [("b", "a"), ("é", "z"), ("ab", "b"), ("Z", "é"), ("q", None), ("x", "x")],
        "id_a string, id_b string",
    ),
}


@pytest.mark.parametrize("name", sorted(_TIER_GRAPHS))
def test_duplicate_clusters_tiers_agree(spark, request, name):
    """The driver tier (one collect job) and the star rounds return the
    same rows and schema: null and self-loop edges add no node, repeated
    and reversed edges count once, and every id maps to its component's
    smallest id in Spark's order of the widened id type."""
    pairs, schema = _TIER_GRAPHS[name]
    df = spark.createDataFrame(pairs, schema)
    driver, descs = _jobs_of(
        spark, f"tiers-{name}", lambda: dedup.duplicate_clusters(df)
    )
    assert descs and set(descs) == {"duplicate_clusters: collect edges"}
    request.getfixturevalue("star_tier")
    star = dedup.duplicate_clusters(df)
    assert driver.schema == star.schema
    got = sorted(tuple(r) for r in driver.collect())
    assert got == sorted(tuple(r) for r in star.collect())
    valid = [(a, b) for a, b in pairs if a is not None and b is not None]
    assert dict(got) == _union_find_labels(valid)


@pytest.mark.parametrize("n", [2000, 200_000])
def test_min_label_roots_permuted_chain_rounds(n):
    """The driver tier's hooking loop needs O(log n) rounds on a chain
    whose ids are out of order, not O(diameter): each round is a full
    numpy pass over the edges."""
    import numpy as np

    ids = np.random.default_rng(n).permutation(n)
    label, rounds = dedup._min_label_roots(ids[:-1], ids[1:], n)
    assert not label.any()
    assert rounds <= math.ceil(math.log2(n)) + 1, rounds


def test_duplicate_clusters_tiers_agree_on_jaccard_pairs(spark, request, tmp_path):
    """Both tiers on a real pair plan: ``ngram_jaccard_pairs`` over a
    corpus read back from parquet (an adaptive join and aggregate, not a
    local relation) labels the same rows either way. 8 families of 6
    docs, each doc one word away from the previous, ids out of order."""
    rows = []
    for g in range(8):
        words = [f"w{i}f{g}" for i in range(20)]
        for j in range(6):
            words[j] = f"x{j}f{g}"
            rows.append((10 * g + (5 * j + 3) % 6, " ".join(words)))
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    pairs = dedup.ngram_jaccard_pairs(spark.read.parquet(path), n=3, threshold=0.5)
    driver = sorted(tuple(r) for r in dedup.duplicate_clusters(pairs).collect())
    request.getfixturevalue("star_tier")
    star = sorted(tuple(r) for r in dedup.duplicate_clusters(pairs).collect())
    assert driver == star
    assert len(driver) == 48 and {c for _, c in driver} == {10 * g for g in range(8)}


def test_duplicate_clusters_edge_cap(spark, monkeypatch):
    """With the edge cap at k, k edges take the driver tier and k + 1
    edges the star rounds, after the one collect job that counted them."""
    k = 5
    monkeypatch.setattr(dedup, "_CLUSTERS_DRIVER_MAX_EDGES", k)
    collect = "duplicate_clusters: collect edges"

    def chain(n):
        return spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")

    _, descs = _jobs_of(spark, "gate-at-cap", lambda: dedup.duplicate_clusters(chain(k)))
    assert descs and set(descs) == {collect}
    out, descs = _jobs_of(
        spark, "gate-past-cap", lambda: dedup.duplicate_clusters(chain(k + 1))
    )
    assert collect in descs and "duplicate_clusters: star round 1" in descs
    assert {r.cluster_id for r in out.collect()} == {0}


@pytest.fixture(scope="module")
def gate_docs(spark, tmp_path_factory):
    """A small corpus read back from parquet, as the batch pipeline and
    the streaming twin see their input."""
    path = str(tmp_path_factory.mktemp("gate") / "docs")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast", "a"),
        (2, "el rapido zorro marron salta sobre el perro y los gatos hoy", "b"),
        (3, "short!!", "c"),
        (4, "", "d"),
        (5, None, "e"),
    ]
    spark.createDataFrame(rows, "doc_id: long, text: string, src: string").write.parquet(path)
    return spark.read.parquet(path)


def test_curation_gate_builds_without_a_job(spark, gate_docs):
    from temporai_mivdp_spark.llmdata.pipeline import curation_gate

    gated, descs = _jobs_of(spark, "gate-build", lambda: curation_gate(gate_docs))
    assert descs == []
    assert gated.columns == [
        "doc_id", "text", "src", "n_tokens", "punct_ratio", "lang_pred",
        "bpe_tokens", "keep",
    ]


def test_curation_gate_reads_its_input_at_most_four_times(spark, gate_docs):
    """No self-joins: the quality features ride on the input rows, so
    the executed plan scans the input for langid's grams and rows and
    for the BPE sum only (the joined-back version scanned it 7 times)."""
    import re

    from temporai_mivdp_spark.llmdata.pipeline import curation_gate
    from temporai_mivdp_spark.plans import executed_plan

    gated = curation_gate(gate_docs)
    assert len(gated.collect()) == 5
    final = re.split(r"== (?:Final|Current) Plan ==", executed_plan(gated))[1]
    final = final.split("== Initial Plan ==")[0]
    assert 1 <= len(re.findall(r"FileScan parquet", final)) <= 4, final


def test_curation_gate_one_row_per_input_row(spark):
    """A repeated id yields one output row per input row (not k^3); the
    id-keyed BPE sum and language scores pool both texts, and a null id
    is dropped."""
    from temporai_mivdp_spark.llmdata.pipeline import curation_gate

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (1, "delta epsilon"), (2, "zeta"), (None, "eta")],
        "doc_id: long, text: string",
    )
    rows = curation_gate(docs).collect()
    assert sorted((r.doc_id, r.n_tokens) for r in rows) == [(1, 2), (1, 3), (2, 1)]
    pooled = {r.bpe_tokens for r in rows if r.doc_id == 1}
    assert len(pooled) == 1


def test_language_id_ngram_weights_are_a_local_relation(spark, gate_docs):
    """The trigram weight dimension is a JVM-local relation: the plan
    reads it from a LocalTableScan, not from a Python RDD (whose
    reserializing map started Python-worker tasks on every execution)."""
    from temporai_mivdp_spark.plans import executed_plan

    plan = executed_plan(text.language_id_ngram(gate_docs))
    assert "LocalTableScan [__g" in plan and "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("name", ["sample_stratified", "embed_kmeans"])
def test_small_driver_tables_are_local_relations(spark, name):
    """The stratified rate table and the k-means centroids are built from
    Arrow tables: once executed, the query reads them from a
    LocalTableScan and no Python RDD (``Scan ExistingRDD``) remains."""
    import __spark_entry__ as entrymod
    from temporai_mivdp_spark.plans import executed_plan
    from tests.conftest import SF_SMOKE

    df = entrymod.queries()[name](spark, SF_SMOKE)
    df.collect()
    plan = executed_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_warm_curation_pass_compiles_no_class(spark, tmp_path):
    """The five llm_curation steps (exact duplicates, Jaccard pairs,
    clusters, representatives, curation gate), run twice: the second
    pass takes every generated class from the codegen cache. With
    Spark's default 100-entry cache, one pass's ~130 classes evicted
    each other and every pass recompiled more than 100 of them."""
    from perfbench import gen
    from temporai_mivdp_spark.llmdata import pipeline

    gen.curation_corpus(str(tmp_path / "in"), 0, 120, 10)
    corpus = spark.read.parquet(str(tmp_path / "in" / "corpus.parquet"))
    steps = [
        ("exact", lambda o: dedup.exact_duplicates(corpus)),
        ("pairs", lambda o: dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.5)),
        ("clusters", lambda o: dedup.duplicate_clusters(o["pairs"])),
        ("kept", lambda o: dedup.keep_representatives(corpus, o["clusters"])),
        ("gated", lambda o: pipeline.curation_gate(o["kept"])),
    ]
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    compiled = metrics.METRIC_COMPILATION_TIME()

    def one_pass(k: int) -> int:
        c0, outs = compiled.getCount(), {}
        for key, build in steps:
            path = str(tmp_path / f"out{k}" / key)
            build(outs).write.parquet(path)
            outs[key] = spark.read.parquet(path)
        return compiled.getCount() - c0

    assert one_pass(0) > 0
    assert one_pass(1) == 0


def test_count_occurrences_consecutive_tokens(spark):
    df = spark.createDataFrame([(1, "the the the cat")], "doc_id: long, text: string")
    out = text.language_id(df).collect()[0]
    assert out.score_en == 3          # replace-based counting would say 2


def test_minhash_bands_divisibility_enforced(spark, docs):
    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_lsh_candidates(docs, num_hashes=10, bands=4)


def test_simhash_bits_bounds(spark, docs):
    with pytest.raises(ValueError, match="bits"):
        dedup.simhash(docs, bits=64)
    fp = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=32).collect()}
    assert all(0 <= v < 2**32 for v in fp.values())   # bit 31 must not wrap negative


# slow tier (r13, conftest default-skip): ~11s failure-path stress
@pytest.mark.slow
def test_duplicate_clusters_raises_on_budget_exhaustion(spark, star_tier):
    chain = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(200)], "id_a: long, id_b: long, jaccard: double"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dedup.duplicate_clusters(chain, max_iterations=1)
    ok = dedup.duplicate_clusters(chain, max_iterations=40)
    assert {r.cluster_id for r in ok.collect()} == {0}


# slow tier (r13, conftest default-skip): ~22s convergence stress. The star rounds' cluster
# correctness stays covered in the default tier by the test_duplicate_clusters_tiers_agree family
# (incl. real Jaccard pairs); the dedup_duplicate_clusters oracle covers the driver tier only,
# since the catalog's graphs are under the edge cap
@pytest.mark.slow
def test_duplicate_clusters_chain_converges_in_log_rounds(spark, star_tier):
    """Giant-component hardening: a 10k-node chain (diameter 10k) must
    converge within an O(log n) alternation budget — min-label
    propagation would need ~10k rounds here, large-star/small-star
    halves component heights per alternation."""
    n = 10_000
    chain = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(n - 1)], "id_a: long, id_b: long, jaccard: double"
    )
    out = dedup.duplicate_clusters(chain, max_iterations=16)  # ~log2(10k)+slack
    rows = out.collect()
    assert len(rows) == n
    assert {r.cluster_id for r in rows} == {0}


def test_clean_documents_strips_and_redacts(spark):
    df = spark.createDataFrame(
        [(1, "Hi <b>Bob</b>!  Mail a.b@x.co or call +1 (555) 123-4567; see https://ex.io/p?q=1 now")],
        "doc_id: long, text: string",
    )
    out = text.clean_documents(df).collect()[0]
    assert "<b>" not in out.text_clean
    assert "<EMAIL>" in out.text_clean and "<PHONE>" in out.text_clean and "<URL>" in out.text_clean
    assert "a.b@x.co" not in out.text_clean and "555" not in out.text_clean
    assert out.len_raw > out.len_clean


def test_hash_split_deterministic_and_proportional(spark):
    from temporai_mivdp_spark.llmdata import sampling

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    s1 = {r.doc_id: r.split for r in sampling.hash_split(df, w).collect()}
    s2 = {r.doc_id: r.split for r in sampling.hash_split(df, w).collect()}
    assert s1 == s2  # pure function of (seed, key)
    from collections import Counter

    c = Counter(s1.values())
    assert abs(c["train"] / 5000 - 0.8) < 0.03
    assert abs(c["val"] / 5000 - 0.1) < 0.02
    assert abs(c["test"] / 5000 - 0.1) < 0.02
    # different seed re-rolls
    s3 = {r.doc_id: r.split for r in sampling.hash_split(df, w, seed="other").collect()}
    assert s3 != s1


def test_stratified_hash_sample_rates_and_nesting(spark):
    from temporai_mivdp_spark.llmdata import sampling

    df = spark.range(0, 4000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang"
    )
    lo = sampling.stratified_hash_sample(df, {"en": 0.2, "de": 1.0}, "lang")
    hi = sampling.stratified_hash_sample(df, {"en": 0.6, "de": 1.0}, "lang")
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids <= hi_ids  # higher rate is a superset (same seed)
    n_en_lo = sum(1 for i in lo_ids if i % 2 == 0)
    assert abs(n_en_lo / 2000 - 0.2) < 0.04
    assert sum(1 for i in lo_ids if i % 2 == 1) == 2000  # de kept whole


def test_pack_sequences_chunk_layout(spark):
    from temporai_mivdp_spark.llmdata import sampling

    df = spark.createDataFrame(
        [(1, 600), (2, 600), (3, 600), (4, 600), (5, 600)],
        "doc_id: long, n_tokens: long",
    )
    out = {r.doc_id: r.pack_id for r in sampling.pack_sequences(df, 1024).collect()}
    # offsets 0,600,1200,1800,2400 -> packs 0,0,1,1,2
    assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2}
    # sharded packing restarts per shard
    df2 = df.withColumn("shard", (F.col("doc_id") % 2).cast("long"))
    sharded = sampling.pack_sequences(df2, 1024, partition_cols=["shard"])
    packs = {(r.shard, r.doc_id): r.pack_id for r in sharded.collect()}
    # shard 1: docs 1,3,5 at offsets 0,600,1200 -> packs 0,0,1
    assert packs[(1, 1)] == 0 and packs[(1, 3)] == 0 and packs[(1, 5)] == 1


# slow tier (r13, conftest default-skip): ~20s differential; packing stays covered by
# test_pack_sequences_global_and_sharded_invariant + pipeline oracle
@pytest.mark.slow
def test_pack_sequences_distributed_matches_global_window(spark):
    """The two-level prefix-sum global pack must be bit-identical to the
    naive single-partition Window.orderBy cumsum, across many range
    partitions with uneven doc lengths."""
    import random

    from pyspark.sql import Window

    from temporai_mivdp_spark.llmdata import sampling

    rng = random.Random(7)
    uniform = [(i, rng.randrange(1, 900)) for i in range(5000)]
    rng.shuffle(uniform)
    # heavy duplicate skew in the key space exercises deduped boundaries
    skewed = [(i if i % 3 else 42, rng.randrange(1, 900)) for i in range(2000)]
    for rows in (uniform, skewed):
        ids_unique = len({r[0] for r in rows}) == len(rows)
        df = spark.createDataFrame(rows, "doc_id: long, n_tokens: long")
        got = {r.doc_id: r.pack_id for r in sampling.pack_sequences(df, 2048).collect()}
        w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
        naive = {
            r.doc_id: r.pack_id
            for r in df.withColumn(
                "pack_id",
                F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(2048)),
            ).collect()
        }
        if ids_unique:
            assert got == naive
        else:
            # duplicate keys: intra-tie order is arbitrary in BOTH plans,
            # so exact row-level parity is undefined — check structure:
            # no rows lost, packs contiguous from 0, total consistent
            out = sampling.pack_sequences(df, 2048).collect()
            assert len(out) == len(rows)
            packs = sorted({r.pack_id for r in out})
            assert packs[0] == 0 and packs == list(range(packs[-1] + 1))
            total = sum(r[1] for r in rows)
            assert packs[-1] <= total // 2048

    empty = spark.createDataFrame([], "doc_id: long, n_tokens: long")
    assert sampling.pack_sequences(empty, 2048).count() == 0


def test_int8_quantization_roundtrip_and_cosine(spark, vectors):
    import math

    q = similarity.quantize_int8(vectors, vec_col="embedding")
    rows = q.collect()
    for r in rows:
        assert all(-127 <= x <= 127 for x in r.qvec)
    # cosine on quantized vectors tracks exact cosine (scale cancels)
    a = q.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"),
                 F.col("qvec").alias("qa"))
    b = q.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"),
                 F.col("qvec").alias("qb"))
    pairs = (
        a.crossJoin(b).filter(F.col("ia") < F.col("ib"))
        .select(
            similarity.cosine_expr(F.col("va"), F.col("vb")).alias("exact"),
            similarity.cosine_expr(
                F.transform("qa", lambda x: x.cast("double")),
                F.transform("qb", lambda x: x.cast("double")),
            ).alias("approx"),
        )
        .collect()
    )
    assert pairs and all(abs(p.exact - p.approx) < 0.02 for p in pairs)

    # roundtrip error bounded by the grid step (scale/2 per component)
    back = similarity.dequantize_int8(q, out_col="back").collect()
    for r in back:
        step = (r.qscale or 0.0) / 2 + 1e-9
        assert all(
            abs(x - y) <= step for x, y in zip(r.embedding, r.back)
        ), "dequantized component off the quantization grid"

    # zero vector: null scale, all-zero qvec, finite dequantized zeros
    z = spark.createDataFrame([(99, [0.0, 0.0, 0.0])], "vec_id: long, embedding: array<float>")
    zq = similarity.quantize_int8(z).collect()[0]
    assert zq.qscale is None and list(zq.qvec) == [0, 0, 0]
    zback = similarity.dequantize_int8(similarity.quantize_int8(z), out_col="back").collect()[0]
    assert list(zback.back) == [0.0, 0.0, 0.0]
    assert all(not math.isnan(v) for v in zback.back)


# slow tier (r13, conftest default-skip): ~41s contract sweep over the serving twins; each twin keeps its
# oracle row and parity test
@pytest.mark.slow
def test_serving_path_probe_contract_enforced(spark, vectors):
    """Round-12 hardening (r11 verdict "What's wrong" §2): the three
    serving-path functions collect/broadcast the probe side under a
    "small by contract" assumption that was documented but unenforced —
    an oversized probe frame must now fail LOUDLY with the contract
    named, instead of OOMing the driver. max_probe_rows=None restores
    the caller-takes-responsibility behavior; the guard itself never
    collects rows (limit-probe + executor-side count)."""
    import tempfile

    import pytest

    probes = vectors.select(F.col("vec_id").alias("probe_id"), "embedding")
    n_probes = probes.count()
    assert n_probes > 3  # the fixture must be able to exceed the tiny cap

    with pytest.raises(ValueError, match="serving-path contract"):
        similarity.brute_force_topk_arrow(vectors, probes, k=2, max_probe_rows=3)

    cents, _ = similarity.kmeans_fit(vectors, n=4, iterations=2)
    ivf_path = tempfile.mkdtemp(prefix="ivf-guard-")
    similarity.persist_ivf_index(vectors, cents, ivf_path)
    with pytest.raises(ValueError, match="serving-path contract"):
        similarity.ivf_topk_from_index(
            spark, ivf_path, probes, k=2, max_probe_rows=3
        )

    lsh_path = tempfile.mkdtemp(prefix="lsh-guard-")
    similarity.persist_lsh_index(vectors, lsh_path, tables=2, bits=4)
    with pytest.raises(ValueError, match="serving-path contract"):
        similarity.lsh_topk_from_index(
            spark, lsh_path, probes, k=2, max_probe_rows=3
        )

    # None disables; an in-contract probe set passes under the default cap
    assert similarity.brute_force_topk_arrow(
        vectors, probes, k=1, max_probe_rows=None
    ).count()
    small = probes.filter(F.col("probe_id") < 2)
    assert similarity.ivf_topk_from_index(spark, ivf_path, small, k=2).count()
    with pytest.raises(ValueError, match="max_probe_rows"):
        similarity.brute_force_topk_arrow(vectors, small, k=1, max_probe_rows=0)


def test_brute_force_topk_arrow_parity(spark, vectors):
    probes = vectors.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    hof = similarity.brute_force_topk(vectors, probes, k=5).collect()
    arrow = similarity.brute_force_topk_arrow(vectors, probes, k=5).collect()
    key = lambda r: (r.probe_id, r.rank)
    hof_m = {key(r): (r.neighbor_id, r.cosine) for r in hof}
    arrow_m = {key(r): (r.neighbor_id, r.cosine) for r in arrow}
    assert set(hof_m) == set(arrow_m)
    for kk in hof_m:
        assert hof_m[kk][0] == arrow_m[kk][0], (kk, hof_m[kk], arrow_m[kk])
        assert abs(hof_m[kk][1] - arrow_m[kk][1]) < 1e-6


def test_benchmark_contamination(spark, docs):
    # bench = doc 1; doc 2 is an exact copy (containment 1.0), doc 3 a
    # near copy (high), docs 4/5 share no 3-gram (0.0). Output covers
    # EVERY corpus doc, including the bench doc itself.
    bench = docs.filter(F.col("doc_id") == 1)
    out = {
        r.doc_id: (r.max_containment, r.n_bench_hits)
        for r in dedup.benchmark_contamination(docs, bench, n=3, threshold=0.8).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1] == (1.0, 1) and out[2] == (1.0, 1)
    assert 0.5 < out[3][0] < 1.0
    assert out[4] == (0.0, 0) and out[5] == (0.0, 0)


def test_benchmark_contamination_short_docs(spark):
    # a doc shorter than n tokens has no shingles -> present with 0.0
    corpus = spark.createDataFrame(
        [(1, "tiny doc"), (2, "a benchmark leak sentence here")],
        "doc_id: long, text: string",
    )
    bench = corpus.filter(F.col("doc_id") == 2)
    out = {r.doc_id: r.max_containment for r in
           dedup.benchmark_contamination(corpus, bench, n=3).collect()}
    assert out == {1: 0.0, 2: 1.0}


def test_bloom_params_sizing():
    import pytest as pt

    m, k = dedup.bloom_params_for(10_000, fpr=1e-4)
    assert m & (m - 1) == 0                 # power of two
    assert m >= 10_000 * 19                 # ~19.2 bits/item at 1e-4
    assert 1 <= k <= 16
    # realized FPR at the optimum stays near target
    import math
    realized = (1 - math.exp(-k * 10_000 / m)) ** k
    assert realized <= 1e-4 * 2
    with pt.raises(ValueError):
        dedup.bloom_params_for(0)
    with pt.raises(ValueError):
        dedup.bloom_params_for(100, fpr=1.5)


def test_bloom_contamination_no_false_negatives(spark, docs):
    bench = docs.filter(F.col("doc_id") == 1)
    bloom = dedup.shingle_bloom(bench, n=3, m_bits=1 << 16, k_hashes=4)
    row = bloom.first()
    assert len(row.words) == (1 << 16) // 64
    out = {
        r.doc_id: (r.n_shingles, r.n_bloom_hits, r.hit_frac)
        for r in dedup.bloom_contamination(docs, bloom, n=3).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # bloom guarantee: an exact copy of a bench doc hits on EVERY window
    assert out[1][0] == out[1][1] > 0
    assert out[2] == out[1]
    # near-copy of bench doc: most windows hit
    assert 0.5 < out[3][2] <= 1.0
    # clean docs: definitive zero (FPR at 7 shingles / 64k bits is ~1e-15)
    assert out[4][1] == 0 and out[5][1] == 0


def test_bloom_contamination_short_and_empty(spark):
    corpus = spark.createDataFrame(
        [(1, "tiny doc"), (2, "a benchmark leak sentence here")],
        "doc_id: long, text: string",
    )
    bench = corpus.filter(F.col("doc_id") == 2)
    bloom = dedup.shingle_bloom(bench, n=3, m_bits=1 << 12, k_hashes=2)
    out = {r.doc_id: (r.n_shingles, r.hit_frac) for r in
           dedup.bloom_contamination(corpus, bloom, n=3).collect()}
    assert out[1] == (0, 0.0)       # < n tokens: no shingles, still present
    assert out[2][1] == 1.0
    # empty bench -> all-zero words, nothing can hit
    empty = dedup.shingle_bloom(bench.filter(F.lit(False)), n=3, m_bits=1 << 12)
    assert all(w == 0 for w in empty.first().words)
    out2 = dedup.bloom_contamination(corpus, empty, n=3).collect()
    assert all(r.n_bloom_hits == 0 for r in out2)


def test_bloom_agrees_with_exact_contamination(spark):
    # 40 docs, 10 seeded with a benchmark sentence: bloom flags exactly
    # the docs the exact path flags (m sized so FP odds are negligible)
    leak = "the secret benchmark answer is forty two exactly"
    rows = [
        (i, (leak + f" filler {i}") if i % 4 == 0 else
            f"ordinary training document number {i} with plain words {i*7}")
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "doc_id: long, text: string")
    bench = spark.createDataFrame([(100, leak)], "doc_id: long, text: string")
    exact = {
        r.doc_id
        for r in dedup.benchmark_contamination(corpus, bench, n=3).collect()
        if r.max_containment > 0
    }
    bloom = dedup.shingle_bloom(bench, n=3, m_bits=1 << 16, k_hashes=4)
    flagged = {
        r.doc_id
        for r in dedup.bloom_contamination(corpus, bloom, n=3).collect()
        if r.n_bloom_hits > 0
    }
    assert exact <= flagged            # no false negatives, ever
    assert flagged == exact            # and no false positives at this m


def test_repeated_spans_cross_document(spark):
    header = "licensed under the apache license version two point zero"
    rows = [
        (1, header + " alpha body text one two three"),
        (2, header + " beta totally different continuation here"),
        (3, "no shared header in this document at all whatsoever today"),
        # within-doc repeat only: must NOT count as cross-document
        (4, "unique phrase repeated now unique phrase repeated now padding"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = dedup.repeated_spans(docs, window=9, min_docs=2)
    rows_out = out.collect()
    assert rows_out, "shared license header must surface"
    spans = {r.span for r in rows_out}
    assert header in spans
    for r in rows_out:
        assert r.n_docs >= 2
        assert r.n_occurrences >= r.n_docs
    # every reported span is genuinely in >=2 docs of the corpus
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in rows_out:
        holders = [d for d, t in texts.items() if r.span in t]
        assert len(holders) >= 2, (r.span, holders)


def test_span_coverage_interval_union(spark):
    """Hand-built corpus with known duplicated-span geometry: the union
    arithmetic (overlapping spans merge, disjoint spans add, tail span
    counts n) is checked against exact expected token counts."""
    shared_a = "alpha bravo charlie delta"          # 4 tokens
    shared_b = "echo foxtrot golf hotel"            # 4 tokens
    rows = [
        # doc 1: shared_a at positions 0-3 and 2x filler, shared_b at 6-9
        (1, shared_a + " pad1 pad2 " + shared_b),   # 10 tokens
        # doc 2: same shared runs, different filler -> same spans survive
        (2, shared_a + " own1 own2 " + shared_b),   # 10 tokens
        # doc 3: nothing shared
        (3, "november oscar papa quebec romeo sierra tango uniform"),
        # doc 4: shorter than n -> no spans, coverage 0
        (4, "tiny doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in dedup.span_coverage(docs, n=4, min_docs=2).collect()}
    assert set(out) == {1, 2, 3, 4}
    # docs 1/2: duplicated 4-token spans start at positions 0 and 6
    # (the filler differs, so no other window is cross-doc). Disjoint
    # intervals [0,4) and [6,10) -> 8 covered of 10.
    for d in (1, 2):
        assert out[d].n_tokens == 10
        assert out[d].dup_spans == 2
        assert out[d].covered_tokens == 8
        assert out[d].coverage == 0.8
    assert out[3].covered_tokens == 0 and out[3].coverage == 0.0
    assert out[4].n_tokens == 2 and out[4].coverage == 0.0

    # overlap case: two docs sharing a 6-token run; with n=4 the run
    # yields 3 overlapping duplicated spans (starts 0,1,2) whose union
    # is exactly the 6-token run, not 12.
    run = "one two three four five six"
    docs2 = spark.createDataFrame(
        [(1, run + " endx"), (2, run + " endy")], "doc_id: long, text: string"
    )
    out2 = {r.doc_id: r for r in dedup.span_coverage(docs2, n=4, min_docs=2).collect()}
    for d in (1, 2):
        assert out2[d].dup_spans == 3
        assert out2[d].covered_tokens == 6
        assert out2[d].n_tokens == 7

    # exact duplicates: full coverage 1.0
    docs3 = spark.createDataFrame(
        [(1, run), (2, run)], "doc_id: long, text: string"
    )
    out3 = dedup.span_coverage(docs3, n=4, min_docs=2).collect()
    assert all(r.coverage == 1.0 for r in out3)


def test_shard_assign_deterministic_and_balanced(spark):
    from temporai_mivdp_spark.llmdata import sampling

    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(4000)], "doc_id: long, text: string"
    )
    a = sampling.shard_assign(docs, 16, seed="e0")
    b = sampling.shard_assign(docs, 16, seed="e0")
    rows_a = {r.doc_id: (r.shard, r.shard_order) for r in a.collect()}
    rows_b = {r.doc_id: (r.shard, r.shard_order) for r in b.collect()}
    assert rows_a == rows_b                       # same seed == same deal
    shards = [v[0] for v in rows_a.values()]
    assert set(shards) <= set(range(16))
    counts = {s: shards.count(s) for s in set(shards)}
    # md5 balance: each of 16 shards gets ~250 of 4000; 3-sigma ~ 46
    assert all(abs(c - 250) < 60 for c in counts.values()), counts
    # a different seed re-deals placement (overwhelmingly likely to move
    # at least one of 4000 docs; md5 makes this deterministic, not flaky)
    c = {r.doc_id: r.shard for r in sampling.shard_assign(docs, 16, seed="e1").collect()}
    assert any(c[i] != rows_a[i][0] for i in rows_a)
    # order keys are collision-free here, so within-shard order is total
    orders = [v[1] for v in rows_a.values()]
    assert len(set(orders)) == len(orders)

    with pytest.raises(ValueError):
        sampling.shard_assign(docs, 0)


def test_leakage_safe_split_co_assigns_clusters(spark):
    from temporai_mivdp_spark.llmdata import sampling

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id: long, text: string"
    )
    # clusters: {0,1,2} -> 0, {10,11} -> 10
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a: long, id_b: long"
    )
    clusters = dedup.duplicate_clusters(pairs)
    out = sampling.leakage_safe_split(
        docs, {"train": 0.8, "test": 0.2}, clusters=clusters
    )
    got = {r.doc_id: r.split for r in out.collect()}
    assert len(got) == 200
    assert got[0] == got[1] == got[2]
    assert got[10] == got[11]
    # unclustered docs split exactly as plain hash_split would
    plain = {
        r.doc_id: r.split
        for r in sampling.hash_split(docs, {"train": 0.8, "test": 0.2}).collect()
    }
    clustered_ids = {0, 1, 2, 10, 11}
    for d in got:
        if d not in clustered_ids:
            assert got[d] == plain[d]
    # both splits are populated
    assert {"train", "test"} == set(got.values())


def test_token_budget_sample_per_group_and_prefix(spark):
    from temporai_mivdp_spark.llmdata import sampling

    rows = [(i, f"s{i % 2}", 10) for i in range(100)]  # 2 sources x 500 tokens
    df = spark.createDataFrame(rows, "doc_id: long, source: string, n_tokens: int")
    out = sampling.token_budget_sample(
        df, budget_tokens=100, group_col="source"
    ).collect()
    by_src: dict[str, int] = {}
    for r in out:
        by_src[r.source] = by_src.get(r.source, 0) + r.n_tokens
    # budget honored within one doc's overshoot, and actually filled
    assert set(by_src) == {"s0", "s1"}
    for tot in by_src.values():
        assert 100 <= tot < 110, by_src

    # deterministic across runs
    again = sampling.token_budget_sample(df, budget_tokens=100, group_col="source")
    assert {r.doc_id for r in out} == {r.doc_id for r in again.collect()}

    # prefix property: a bigger budget only adds documents
    small = {r.doc_id for r in
             sampling.token_budget_sample(df, 100, group_col="source").collect()}
    big = {r.doc_id for r in
           sampling.token_budget_sample(df, 200, group_col="source").collect()}
    assert small <= big


def test_token_budget_sample_global(spark):
    from temporai_mivdp_spark.llmdata import sampling

    rows = [(i, 7) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id: long, n_tokens: int")
    out = sampling.token_budget_sample(df, budget_tokens=70).collect()
    total = sum(r.n_tokens for r in out)
    assert 70 <= total < 77
    # different seed draws a different prefix
    other = sampling.token_budget_sample(df, budget_tokens=70, seed="other")
    assert {r.doc_id for r in out} != {r.doc_id for r in other.collect()}


def test_token_budget_sample_order_expr_portable(spark):
    """order_expr swaps the layout hash (the engine-portability lever the
    sample_token_budget oracle relies on): same budget contract, same
    determinism, but a different — caller-controlled — admission order."""
    from pyspark.sql import functions as F

    from temporai_mivdp_spark.llmdata import sampling

    rows = [(i, 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id: long, n_tokens: int")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("budget"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    out = sampling.token_budget_sample(df, budget_tokens=100, order_expr=h).collect()
    assert 100 <= sum(r.n_tokens for r in out) < 110
    # deterministic, and independent of input partitioning
    again = sampling.token_budget_sample(
        df.repartition(7), budget_tokens=100, order_expr=h
    )
    assert {r.doc_id for r in out} == {r.doc_id for r in again.collect()}
    # the md5 order is a genuinely different layout than the xxhash default
    default = sampling.token_budget_sample(df, budget_tokens=100)
    assert {r.doc_id for r in out} != {r.doc_id for r in default.collect()}
    # and the admitted set is exactly the md5-order prefix (the oracle rule:
    # admitted iff the budget was not exhausted before the doc's first token)
    import hashlib

    def key(i: int) -> int:
        return int(hashlib.md5(f"budget{i}".encode()).hexdigest()[:15], 16)

    ordered = sorted(range(100), key=lambda i: (key(i), i))
    expect, spent = set(), 0
    for i in ordered:
        if spent < 100:
            expect.add(i)
        spent += 10
    assert {r.doc_id for r in out} == expect


def test_temperature_resample_saturates_rare_and_cuts_head(spark):
    from temporai_mivdp_spark.llmdata import sampling

    rows = [(i, "head") for i in range(900)] + [(1000 + i, "rare") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    out = sampling.temperature_resample(df, temperature=4.0, target_fraction=0.5)
    got = out.collect()
    by_src: dict[str, int] = {}
    for r in got:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    # rare source saturates at rate 1 (keeps everything): its target share
    # under T=4 exceeds what sampling without replacement can deliver
    assert by_src.get("rare") == 20
    # the head source is cut hard — well below its natural 900 and below
    # the plain 50% a temperature-free downsample would keep
    assert by_src.get("head", 0) < 450
    # deterministic in (seed, doc_id): rerun and repartition agree
    again = sampling.temperature_resample(
        df.repartition(5), temperature=4.0, target_fraction=0.5
    )
    assert {r.doc_id for r in got} == {r.doc_id for r in again.collect()}
    # T=1 keeps natural proportions: every source's keep rate is the global
    # target_fraction, so the head/rare ratio survives (within hash noise)
    nat = sampling.temperature_resample(df, temperature=1.0, target_fraction=0.5)
    nat_by: dict[str, int] = {}
    for r in nat.collect():
        nat_by[r.source] = nat_by.get(r.source, 0) + 1
    assert 0.35 < nat_by["head"] / 900 < 0.65
    assert 0.2 <= nat_by.get("rare", 0) / 20 <= 0.8


def test_finite_vectors_excludes_corrupt_and_directionless(spark):
    """The corrupt-embedding guard: null / NaN / inf vectors never reach
    a similarity computation, and cosine consumers also drop zero
    vectors (whose 0/0-NaN cosine would rank FIRST — NaN sorts largest)."""
    import math

    from temporai_mivdp_spark.llmdata import similarity

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, None),                        # null vector
        (3, [float("nan"), 1.0, 1.0]),    # NaN coordinate
        (4, [float("inf"), 1.0, 1.0]),    # inf coordinate
        (5, [0.0, 0.0, 0.0]),             # zero norm
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    kept = {r.vec_id for r in similarity.finite_vectors(df).collect()}
    assert kept == {0, 1, 5}
    directed = {
        r.vec_id for r in similarity.finite_vectors(df, nonzero=True).collect()
    }
    assert directed == {0, 1}
    # end to end: corrupt rows neither rank nor emit NaN cosines
    probes = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = similarity.brute_force_topk(df, probes, k=10).collect()
    assert {r.neighbor_id for r in out} == {1}
    assert all(not math.isnan(r.cosine) for r in out)


def test_kmeans_fit_snap_grid_fixed_point(spark):
    """snap_grid=1.0 on integer-valued inputs keeps every centroid
    coordinate integral through the rounds — the bit-stability contract
    the embed_kmeans full-mirror oracle is built on."""
    from temporai_mivdp_spark.llmdata import similarity

    rows = [
        (i, [float((i % 3) * 1000 + j) for j in range(4)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    c1, h1 = similarity.kmeans_fit(df, n=3, iterations=3, tol=0.0, snap_grid=1.0)
    for r in c1.collect():
        for x in r.embedding:
            assert x == int(x), r
    # bit-identical under repartitioning (exact integer sums -> no
    # summation-order drift anywhere in the fit)
    c2, h2 = similarity.kmeans_fit(
        df.repartition(13), n=3, iterations=3, tol=0.0, snap_grid=1.0
    )
    assert sorted(map(tuple, ((r.centroid_id, *r.embedding) for r in c1.collect()))) == \
        sorted(map(tuple, ((r.centroid_id, *r.embedding) for r in c2.collect())))
    assert h1 == h2


def test_bloom_hit_columns_matches_batch_path(spark, docs):
    bench = docs.filter(F.col("doc_id") == 1)
    bloom = dedup.shingle_bloom(bench, n=3, m_bits=1 << 16, k_hashes=4)
    agg_path = {
        r.doc_id: (r.n_shingles, r.n_bloom_hits)
        for r in dedup.bloom_contamination(docs, bloom, n=3).collect()
    }
    row_local = {
        r.doc_id: (r.n_shingles, r.n_bloom_hits)
        for r in dedup.bloom_hit_columns(docs, bloom, n=3).collect()
    }
    assert row_local == agg_path
    # and it keeps the input columns
    cols = dedup.bloom_hit_columns(docs, bloom, n=3).columns
    assert "text" in cols and "hit_frac" in cols


def test_bloom_hit_columns_streaming(spark, docs):
    import tempfile

    bench = docs.filter(F.col("doc_id") == 1)
    bloom = dedup.shingle_bloom(bench, n=3, m_bits=1 << 14, k_hashes=4)
    d = tempfile.mkdtemp(prefix="bloom-stream-")
    docs.coalesce(1).write.mode("overwrite").parquet(d)
    src = spark.readStream.schema(docs.schema).parquet(d)
    flagged = dedup.bloom_hit_columns(src, bloom, n=3)
    assert flagged.isStreaming
    q = (
        flagged.writeStream.format("memory")
        .queryName("bloom_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.n_bloom_hits
        for r in spark.sql("select * from bloom_stream_t").collect()
    }
    want = {
        r.doc_id: r.n_bloom_hits
        for r in dedup.bloom_hit_columns(docs, bloom, n=3).collect()
    }
    assert got == want
    assert got[1] > 0 and got[4] == 0


def test_merge_blooms_union_semantics(spark, docs):
    b1 = dedup.shingle_bloom(docs.filter(F.col("doc_id") == 1), n=3, m_bits=1 << 14)
    b4 = dedup.shingle_bloom(docs.filter(F.col("doc_id") == 4), n=3, m_bits=1 << 14)
    merged = dedup.merge_blooms(b1, b4)
    row = merged.first()
    assert len(row.words) == (1 << 14) // 64
    # merged hits == union of per-bloom hits
    def hits(bloom):
        return {
            r.doc_id: r.n_bloom_hits
            for r in dedup.bloom_contamination(docs, bloom, n=3).collect()
        }
    h1, h4, hm = hits(b1), hits(b4), hits(merged)
    for d in h1:
        assert hm[d] >= max(h1[d], h4[d])
    assert hm[1] > 0 and hm[4] > 0 and hm[5] == 0
    # parameter mismatch is a build-time error
    import pytest as pt
    other = dedup.shingle_bloom(docs.limit(1), n=3, m_bits=1 << 12)
    with pt.raises(ValueError):
        dedup.merge_blooms(b1, other)


def test_cluster_quota_caps_semantic_concentration(spark, vectors):
    from temporai_mivdp_spark.llmdata import sampling

    cents, _ = similarity.kmeans_fit(vectors, n=3, iterations=5)
    docs = vectors.select(F.col("vec_id").alias("doc_id"), "embedding")
    out = sampling.cluster_quota(docs, cents, max_per_cluster=4, key_col="doc_id")
    got = out.collect()
    per_bucket: dict[int, int] = {}
    for r in got:
        per_bucket[r.bucket] = per_bucket.get(r.bucket, 0) + 1
    assert per_bucket and all(c <= 4 for c in per_bucket.values()), per_bucket
    assert len(per_bucket) == 3  # every axis-cluster still represented
    # deterministic
    again = sampling.cluster_quota(docs, cents, max_per_cluster=4, key_col="doc_id")
    assert {r.doc_id for r in got} == {r.doc_id for r in again.collect()}


# slow tier (r13, conftest default-skip): ~28s end-to-end composition; every stage keeps its own test +
# oracle (dedup, curation, packing, shard layout)
@pytest.mark.slow
def test_full_training_prep_flow(spark):
    """Capstone composition: raw crawl -> boilerplate line removal ->
    exact dedup -> contamination+leakage guard -> text-to-ids encoding
    -> token-budget selection -> sequence packing, all lazy DataFrame
    ops over one synthetic corpus, ending in a packed training table
    with the invariants each stage promised."""
    from temporai_mivdp_spark.llmdata import sampling, text as t
    from temporai_mivdp_spark.llmdata.pipeline import guard_corpus

    banner = "accept cookies to continue reading this site"
    leak = "benchmark answer is forty two exactly always"
    rows = [(i, f"{banner}\ndocument body number {i} with words {i * 3} {i * 7}")
            for i in range(20)]
    rows += [(100, f"{banner}\n{leak}"), (101, rows[5][1])]   # leak + exact dup
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    bench = spark.createDataFrame([(999, leak)], "doc_id: long, text: string")

    # 1. strip the banner everywhere
    cleaned = t.strip_common_lines(docs, min_docs=5)
    assert all(banner not in r.text for r in cleaned.collect())

    # 2. exact dedup: doc 101 collapses into doc 5
    keep = dedup.exact_duplicates(cleaned)
    keepers = {r.keep_id for r in keep.collect()}
    assert 5 in keepers and 101 not in keepers
    survivors = cleaned.join(
        spark.createDataFrame([(k,) for k in keepers], "doc_id: long"), "doc_id"
    )

    # 3. guard: contamination flags + leakage-safe split
    guarded = guard_corpus(survivors, bench, {"train": 0.8, "test": 0.2}, n=3)
    g = {r.doc_id: r for r in guarded.collect()}
    assert g[100].contaminated and not g[0].contaminated
    train = guarded.filter((F.col("split") == "train") & ~F.col("contaminated"))

    # 4. encode with a corpus-fit vocabulary, count real tokens
    vocab = t.build_vocabulary(train, size=64)
    encoded = t.encode_tokens(train, vocab).join(train.select("doc_id"), "doc_id")
    with_counts = encoded.withColumn("n_tokens", F.size("token_ids"))

    # 5. budget + pack into 32-token contexts
    sampled = sampling.token_budget_sample(with_counts, budget_tokens=60)
    packed = sampling.pack_sequences(sampled, max_tokens=32)
    out = packed.collect()
    assert out, "budgeted training set must be non-empty"
    total = sum(r.n_tokens for r in out)
    assert 60 <= total < 60 + max(r.n_tokens for r in out)
    # pack ids are the contiguous context-window indices of the layout
    assert {r.pack_id for r in out} == set(range(max(r.pack_id for r in out) + 1))
    # nothing contaminated or test-split leaked into the packed table
    packed_ids = {r.doc_id for r in out}
    assert all(not g[d].contaminated and g[d].split == "train" for d in packed_ids)


def test_guard_corpus_end_to_end(spark):
    from temporai_mivdp_spark.llmdata.pipeline import guard_corpus

    leak = "the secret benchmark answer is forty two exactly"
    rows = [
        (1, leak + " verbatim copy here"),
        (2, "a light paraphrase that shares no trigram with anything above"),
        (3, "ordinary clean document with plain words"),
        (4, "another ordinary clean doc sharing nothing with others"),
        (5, "near duplicate of doc four another ordinary clean doc sharing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    bench = spark.createDataFrame([(100, leak)], "doc_id: long, text: string")
    # near-dup edges: the paraphrase (2) pairs with the verbatim leak (1);
    # clean docs 4 and 5 pair with each other
    pairs = spark.createDataFrame([(1, 2), (4, 5)], "id_a: long, id_b: long")
    out = guard_corpus(
        docs, bench, {"train": 0.7, "test": 0.3}, near_pairs=pairs, n=3
    )
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # verbatim leak flagged directly; paraphrase inherits via its cluster
    assert got[1].contaminated and got[1].n_bloom_hits > 0
    assert got[2].contaminated and got[2].n_bloom_hits == 0
    assert not got[3].contaminated and not got[4].contaminated
    # near-dup cluster co-assigned to one split
    assert got[4].split == got[5].split
    assert got[1].split == got[2].split
    # original columns survive
    assert got[3].text.startswith("ordinary")


def test_expand_contamination_across_clusters(spark):
    flags = spark.createDataFrame(
        [(1, True), (2, False), (3, False), (4, False), (5, True)],
        "doc_id: long, contaminated: boolean",
    )
    # cluster {1,2,3}: 1 is flagged -> 2,3 inherit; 4 unclustered clean;
    # 5 unclustered flagged stays flagged
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a: long, id_b: long")
    clusters = dedup.duplicate_clusters(pairs)
    out = {
        r.doc_id: r.contaminated_expanded
        for r in dedup.expand_contamination(flags, clusters).collect()
    }
    assert out == {1: True, 2: True, 3: True, 4: False, 5: True}


def test_tfidf_top_terms(spark):
    from temporai_mivdp_spark.llmdata import text as t

    rows = [
        (1, "common common spark shuffle"),
        (2, "common catalyst optimizer"),
        (3, "common tungsten codegen codegen"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = t.tfidf_top_terms(docs, k=2)
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, []).append((r.rank, r.term, r.tf, r.df))
    # 'common' is in every doc -> idf 0 -> never ranked
    for terms in got.values():
        assert all(term != "common" for _, term, _, _ in terms)
    # doc 3's top term is its double-count 'codegen'
    top3 = sorted(got[3])[0]
    assert top3[1] == "codegen" and top3[2] == 2 and top3[3] == 1
    # ranks are 1..k without gaps and tfidf positive by construction
    for terms in got.values():
        assert [rk for rk, *_ in sorted(terms)] == list(range(1, len(terms) + 1))


def test_bigram_lm_perplexity_separates_reference_like_text(spark):
    from temporai_mivdp_spark.llmdata import text as t

    clean = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the rug"),
            (3, "the cat ran to the dog"),
        ],
        "doc_id: long, text: string",
    )
    lm = t.bigram_lm(clean)
    lm_rows = lm.collect()
    # probabilities, not counts: every logp is finite and negative
    assert all(r.logp < 0 for r in lm_rows)
    # unigram fallback rows present (w1 NULL)
    assert any(r.w1 is None for r in lm_rows)

    test_docs = spark.createDataFrame(
        [
            (10, "the cat sat on the rug"),     # in-distribution
            (11, "zq xv qq jk wq pp"),          # all-OOV gibberish
            (12, "a"),                          # too short to score
        ],
        "doc_id: long, text: string",
    )
    out = {r.doc_id: (r.n_scored, r.ppl) for r in t.perplexity(test_docs, lm).collect()}
    assert out[10][0] == 5 and out[11][0] == 5
    assert out[10][1] < out[11][1], out   # reference-like text scores lower
    assert out[12] == (0, None)           # surfaced, not dropped
    # deterministic
    again = {r.doc_id: (r.n_scored, r.ppl) for r in t.perplexity(test_docs, lm).collect()}
    assert again == out


def test_vocabulary_and_encoding_roundtrip(spark):
    from temporai_mivdp_spark.llmdata import text as t

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog and the cat"),
        (3, ""),
        (4, "unseen zebra"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    vocab = t.build_vocabulary(docs, size=4)
    v = {r.token: (r.token_id, r["count"]) for r in vocab.collect()}
    # 'the' is the most frequent -> id 1 (0 reserved for OOV)
    assert v["the"] == (1, 4)
    assert len(v) == 4 and 0 not in {tid for tid, _ in v.values()}
    # deterministic: same corpus, same vocab
    v2 = {r.token: (r.token_id, r["count"]) for r in t.build_vocabulary(docs, size=4).collect()}
    assert v == v2

    enc = {r.doc_id: list(r.token_ids) for r in t.encode_tokens(docs, vocab).collect()}
    assert set(enc) == {1, 2, 3, 4}
    assert enc[3] == []                                  # empty doc surfaced
    assert len(enc[1]) == 6 and len(enc[2]) == 5         # positions preserved
    assert enc[1][0] == v["the"][0] and enc[1][4] == v["the"][0]
    assert enc[4] == [0, 0]                              # all-OOV doc
    # top-4 vocab = the(4), cat(2), then count-1 ties alphabetical: and, dog
    assert set(v) == {"the", "cat", "and", "dog"}
    # decode: ids map back to the original tokens in order
    inv = {tid: tok for tok, (tid, _) in v.items()}
    decoded = [inv.get(i, "<oov>") for i in enc[2]]
    assert decoded == ["the", "dog", "and", "the", "cat"]


def test_strip_common_lines_c4_style(spark):
    from temporai_mivdp_spark.llmdata import text as t

    banner = "accept all cookies"
    rows = [
        (1, f"{banner}\nunique article one\n\nbody paragraph one"),
        (2, f"{banner}\nunique article two"),
        (3, f"  {banner}  \nunique article three"),   # trim-equal banner
        (4, banner),                                   # all boilerplate
        (5, "no banner here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r.text for r in t.strip_common_lines(docs, min_docs=3).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1] == "unique article one\n\nbody paragraph one"  # blank kept
    assert out[2] == "unique article two"
    assert out[3] == "unique article three"
    assert out[4] == ""                      # surfaced, emptied, not dropped
    assert out[5] == "no banner here at all"


def test_bigram_lm_short_docs_feed_unigrams_only(spark):
    from temporai_mivdp_spark.llmdata import text as t

    clean = spark.createDataFrame(
        [(1, "the cat sat"), (2, "hello"), (3, "   "), (4, "")],
        "doc_id: long, text: string",
    )
    lm_rows = t.bigram_lm(clean).collect()   # must not fault on 1-token docs
    unis = {r.w2 for r in lm_rows if r.w1 is None}
    bigs = {(r.w1, r.w2) for r in lm_rows if r.w1 is not None}
    assert "hello" in unis                   # short doc counted in unigrams
    assert all(w1 != "hello" for w1, _ in bigs)
    assert ("the", "cat") in bigs


def test_gopher_keep_policy(spark):
    from temporai_mivdp_spark.llmdata import text as t

    # varied sentences: no bigram repeats more than 4x (the policy
    # correctly rejects a repeated sentence TEMPLATE — first attempt
    # used one and earned keep_repetition=False)
    good = " ".join(
        (
            f"the word{i} gently finds stone{i} near a quiet place{i}"
            if i % 2 == 0
            else f"an other{i} calmly meets rock{i} beside the small tree{i}"
        )
        for i in range(8)
    )
    rows = [
        (1, good),                                        # passes everything
        (2, "too short"),                                 # fails length
        (3, " ".join(["spam spam"] * 60)),                # fails repetition + stopwords
        (4, " ".join(["x"] * 80)),                        # fails word shape (1 char/token)
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r for r in t.gopher_keep(docs).collect()}
    assert out[1].keep
    assert not out[2].keep and not out[2].keep_length
    assert not out[3].keep and not out[3].keep_repetition
    assert not out[4].keep and not out[4].keep_word_shape
    # every verdict column is present and boolean, so rejections explain themselves
    for c in ("keep_length", "keep_word_shape", "keep_stopwords", "keep_repetition"):
        assert isinstance(getattr(out[1], c), bool)


def test_quantile_normalize_per_group(spark):
    from temporai_mivdp_spark.llmdata import text as t

    rows = [(i, "en", float(i)) for i in range(10)] + [
        (100 + i, "fr", float(i) * 0.01) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id: long, lang: string, score: double")
    out = t.quantile_normalize(df, "score", group_col="lang")
    got = {r.doc_id: r.score_pct for r in out.collect()}
    # group min -> 0, group max -> 1, regardless of raw scale
    assert got[0] == 0.0 and got[9] == 1.0
    assert got[100] == 0.0 and got[104] == 1.0
    # uniform spacing within a 10-element group
    assert abs(got[5] - 5 / 9) < 1e-9
    # a single "keep top half" threshold now cuts BOTH groups at their median
    kept = {d for d, p in got.items() if p >= 0.5}
    assert len([d for d in kept if d < 100]) == 5
    assert len([d for d in kept if d >= 100]) == 3  # ranks 2,3,4 of 5


def test_source_quota_deterministic_cap(spark):
    from temporai_mivdp_spark.llmdata import sampling

    rows = [(i, f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    out = sampling.source_quota(df, max_per_group=10, group_col="source")
    got = out.collect()
    per = {}
    for r in got:
        per.setdefault(r.source, []).append(r.doc_id)
    assert all(len(v) == 10 for v in per.values())
    assert {r.quota_rank for r in got} == set(range(1, 11))
    # deterministic: a rerun (and a repartitioned rerun) elects the same winners
    again = sampling.source_quota(
        df.repartition(7), max_per_group=10, group_col="source"
    ).collect()
    assert {(r.source, r.doc_id) for r in again} == {(r.source, r.doc_id) for r in got}
    # quota larger than the group passes everything through
    assert sampling.source_quota(df, max_per_group=1000, group_col="source").count() == 100


def test_deterministic_shuffle_reproducible(spark):
    from temporai_mivdp_spark.llmdata import sampling

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id: long")
    a = [r.doc_id for r in sampling.deterministic_shuffle(df, seed="e1").collect()]
    b = [r.doc_id for r in sampling.deterministic_shuffle(df.repartition(5), seed="e1").collect()]
    c = [r.doc_id for r in sampling.deterministic_shuffle(df, seed="e2").collect()]
    assert a == b                      # partitioning-independent
    assert a != sorted(a)              # actually shuffled
    assert a != c                      # seed re-deals
    assert sorted(a) == sorted(c) == list(range(200))


def test_corpus_stats_sketches(spark):
    rows = [(i, "the quick brown fox" if i % 2 else "all dup text", f"s{i % 2}")
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, source: string")
    out = {r.source: r for r in text.corpus_stats(df).collect()}
    assert out["s0"].n_docs == 50 and out["s1"].n_docs == 50
    # each source holds ONE distinct text; HLL at this cardinality is exact
    assert out["s0"].approx_distinct == 1 and out["s1"].approx_distinct == 1
    assert out["s1"].n_tokens == 50 * 4
    assert out["s0"].len_p50_p90_p99 == [12.0, 12.0, 12.0]


def _square_wav_bytes(frames: int = 800, rate: int = 8000, amp: int = 16384) -> bytes:
    """16-bit mono PCM WAV of a per-sample alternating square wave:
    known RMS (amp/32768) and zero crossings (frames-1)."""
    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        samples = b"".join(
            (amp if i % 2 == 0 else -amp).to_bytes(2, "little", signed=True)
            for i in range(frames)
        )
        w.writeframes(samples)
    return buf.getvalue()


def _bmp_bytes_3x2_red_over_blue() -> bytes:
    """Uncompressed 24-bit BMP, 3x2: top row red, bottom row blue.
    Bottom-up row order and 4-byte row padding exercised (stride 12)."""
    import struct as s

    w, h, stride = 3, 2, 12
    pixel_data = (
        (b"\xff\x00\x00" * 3 + b"\x00\x00\x00")   # bottom row first: blue (BGR)
        + (b"\x00\x00\xff" * 3 + b"\x00\x00\x00")  # top row: red (BGR)
    )
    info = s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0)
    header = s.pack("<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0, 14 + 40)
    return header + info + pixel_data


def test_audio_features_real_wav_decode(spark):
    wav = _square_wav_bytes()
    rows = [(1, wav, "audio/wav", None, None, None), (2, None, None, None, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in multimodal.audio_features(media, fake=False).collect()}
    assert got[1].duration_ms == 100           # 800 frames @ 8 kHz
    assert float(got[1].rms) == 0.5            # |sample| == 16384 == 0.5 FS
    assert got[1].zero_crossings == 799        # alternates every sample
    assert got[2].rms is None

    mp3ish = spark.createDataFrame(
        [(9, b"ID3\x03not-a-wav", "audio/mpeg", None, None, None)], multimodal.MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|PCM"):
        multimodal.audio_features(mp3ish, fake=False).collect()


def test_decode_image_real_bmp(spark):
    bmp = _bmp_bytes_3x2_red_over_blue()
    media = spark.createDataFrame(
        [(1, bmp, "image/bmp", 3, 2, None)], multimodal.MEDIA_SCHEMA
    )
    feats = multimodal.decode_image(media, fake=False).collect()[0].features
    w, h, mr, mg, mb, lstd, lmin, lmax = (float(x) for x in feats.split(","))
    assert (w, h) == (3.0, 2.0)
    assert (mr, mg, mb) == (127.5, 0.0, 127.5)  # half red, half blue
    assert lmin == pytest.approx(0.114 * 255, abs=1e-3)   # blue luminance
    assert lmax == pytest.approx(0.299 * 255, abs=1e-3)   # red luminance


def test_resize_image_real_bmp_nearest_neighbor(spark):
    bmp = _bmp_bytes_3x2_red_over_blue()
    media = spark.createDataFrame(
        [(1, bmp, "image/bmp", 3, 2, None)], multimodal.MEDIA_SCHEMA
    )
    out = multimodal.resize_image(media, 2, 2, fake=False).collect()[0]
    assert (out.width, out.height) == (2, 2)
    px = list(out.payload)
    assert px == [76, 76, 29, 29]  # top row red lum, bottom row blue lum


def test_image_dims_header_parsers(spark):
    import struct as s

    bmp = _bmp_bytes_3x2_red_over_blue()
    png = (
        b"\x89PNG\r\n\x1a\n" + s.pack(">I", 13) + b"IHDR"
        + s.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0) + b"pad"
    )
    gif = b"GIF89a" + s.pack("<HH", 32, 16) + b"rest"
    # minimal JPEG: SOI, APP0 (16 bytes), SOF0 with h=120 w=160
    jpeg = (
        b"\xff\xd8" + b"\xff\xe0" + s.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + s.pack(">H", 11) + b"\x08" + s.pack(">HH", 120, 160) + b"\x03"
        + b"\xff\xd9"
    )
    rows = [
        (1, bmp, None, None, None, None),
        (2, png, None, None, None, None),
        (3, gif, None, None, None, None),
        (4, jpeg, None, None, None, None),
        (5, b"garbage", None, None, None, None),
        (6, None, None, None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: (r.format, r.width, r.height) for r in multimodal.image_dims(media).collect()}
    assert got[1] == ("bmp", 3, 2)
    assert got[2] == ("png", 640, 480)
    assert got[3] == ("gif", 32, 16)
    assert got[4] == ("jpeg", 160, 120)
    assert got[5] == (None, None, None)
    assert got[6] == (None, None, None)


def test_curation_materialization_bucketed_zero_exchange_and_compacted(spark, tmp_path):
    """The output-layout half of the curation pipeline: curated metadata
    and doc payloads land bucketed on doc_id, so the training re-read
    join plans with ZERO exchanges; packed text shards are compacted to
    a byte-sized file count."""
    from temporai_mivdp_spark import plans
    from temporai_mivdp_spark.llmdata.pipeline import materialize_curation, training_read
    from temporai_mivdp_spark.queries import QUERIES
    import temporai_mivdp_spark.queries_llm  # noqa: F401
    from temporai_mivdp_spark.sources import load_table

    sf = "/root/testdata/sf0.01"
    curated = QUERIES["pipeline_docs_curation"](spark, sf)
    docs = load_table(spark, sf, "documents").select("doc_id", "text").repartition(40)

    info = materialize_curation(
        spark, curated, docs, out_path=str(tmp_path), table_prefix="t_cur",
        num_buckets=8, target_file_mb=1,
    )

    # compaction: returned count == real file count, and far fewer than
    # the 40-partition raw write
    import glob

    raw_files = glob.glob(str(tmp_path / "text_shards_raw" / "*.parquet"))
    final_files = glob.glob(str(tmp_path / "text_shards" / "*.parquet"))
    assert len(final_files) == info["text_files"]
    assert len(final_files) < len(raw_files)

    # zero-exchange re-read join on the bucketed key (force the shuffle
    # strategy question: no broadcast escape hatch)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = training_read(spark, "t_cur")
        assert plans.count_exchanges(joined) == 0, plans.plan_summary(joined)
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_temperature_resample_rebalances_sources(spark):
    from temporai_mivdp_spark.llmdata import sampling

    rows = [(i, "head") for i in range(9_000)] + [(9_000 + i, "tail") for i in range(1_000)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")

    # T=1: natural proportions — keep everything (rates are all 1)
    t1 = sampling.temperature_resample(df, temperature=1.0)
    assert t1.count() == 10_000

    # high T → near-uniform target shares: head rate = N·0.5/n_head ≈ 0.556
    hot = sampling.temperature_resample(df, temperature=100.0)
    got = {r.source: r.n for r in hot.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got["tail"] == 1_000                    # rare source saturates: keep all
    assert 4_500 <= got["head"] <= 5_500, got      # ~9000 × 0.556

    # target_fraction scales the whole draw: at 0.2·N both sources land
    # near the uniform 1000-row share (tail capped at keep-all)
    eq = sampling.temperature_resample(df, temperature=100.0, target_fraction=0.2)
    got_eq = {r.source: r.n for r in eq.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert 950 <= got_eq["tail"] <= 1_000, got_eq  # rate ≈ 0.989 at T=100
    assert 800 <= got_eq["head"] <= 1_200, got_eq

    # deterministic: same seed, same survivors
    again = sampling.temperature_resample(df, temperature=100.0)
    assert sorted(r.doc_id for r in hot.collect()) == sorted(r.doc_id for r in again.collect())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="temperature"):
        sampling.temperature_resample(df, temperature=0.0)


def test_chunk_documents_coverage_and_overlap(spark):
    """Dropping each chunk's first `overlap` tokens (except chunk 0)
    and concatenating reconstructs the original token stream exactly;
    every chunk is bounded by chunk_size and non-empty."""
    from temporai_mivdp_spark.llmdata import sampling

    size, ov = 7, 3
    texts = [
        (i, " ".join(f"t{i}x{j}" for j in range(n)))
        # 1 token, under/at/over one chunk, exact stride boundary, long
        for i, n in enumerate([1, 4, 7, 8, 11, 15, 40])
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    rows = (
        sampling.chunk_documents(df, chunk_size=size, overlap=ov)
        .orderBy("doc_id", "chunk_id")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        assert 1 <= r.n_tokens <= size
        assert r.n_tokens == len(r.chunk_text.split(" "))
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in texts:
        chunks = by_doc[doc_id]
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        toks: list[str] = []
        for c in chunks:
            words = c.chunk_text.split(" ")
            # consecutive chunks share exactly the `overlap` boundary
            # tokens (ragged tail may re-cover more; prefix must match)
            if toks:
                assert toks[-ov:] == words[:ov] or words == toks[-len(words):]
            toks += words[ov:] if toks else words
        assert " ".join(toks) == text


def test_chunk_documents_rejects_bad_overlap(spark):
    from temporai_mivdp_spark.llmdata import sampling

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        sampling.chunk_documents(df, chunk_size=4, overlap=4)
    with pytest.raises(ValueError):
        sampling.chunk_documents(df, chunk_size=4, overlap=-1)


def test_canonicalize_url_cases(spark):
    from temporai_mivdp_spark.llmdata import web

    cases = [
        # (raw, expected canonical)
        ("HTTP://WWW.Example.COM:80/Path/", "http://example.com/Path"),
        ("https://example.com:443/a?utm_source=x&id=3#frag", "https://example.com/a?id=3"),
        ("https://example.com", "https://example.com/"),
        ("https://example.com/?fbclid=abc", "https://example.com/"),
        ("https://sub.example.co.uk/x?page=2&utm_campaign=c&q=1",
         "https://sub.example.co.uk/x?page=2&q=1"),
        ("http://example.com/deep/path", "http://example.com/deep/path"),
    ]
    df = spark.createDataFrame([(i, r) for i, (r, _) in enumerate(cases)], "i long, url string")
    got = {r.i: r.c for r in df.select("i", web.canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_url_parts_and_domain_heuristic(spark):
    from temporai_mivdp_spark.llmdata import web

    df = spark.createDataFrame(
        [
            (1, "https://a.b.news.example.com/x"),
            (2, "https://www.example.co.uk/y"),
            (3, "http://localhost/z"),
        ],
        "doc_id long, url string",
    )
    got = {r.doc_id: (r.url_host, r.url_domain) for r in web.url_parts(df).collect()}
    assert got[1] == ("a.b.news.example.com", "example.com")
    assert got[2] == ("example.co.uk", "example.co.uk")
    assert got[3] == ("localhost", "localhost")


def test_url_duplicates_and_domain_quota(spark):
    from temporai_mivdp_spark.llmdata import web

    df = spark.createDataFrame(
        [
            (1, "https://example.com/a?utm_source=feed"),
            (2, "https://www.example.com/a"),
            (3, "https://example.com/b"),
            (4, "https://other.org/a/"),
            (5, "https://other.org/a"),
        ],
        "doc_id long, url string",
    )
    groups = {r.keep_id: r.n_copies for r in web.url_duplicates(df).collect()}
    assert groups == {1: 2, 3: 1, 4: 2}

    capped = web.domain_quota(df, max_per_domain=2)
    by_domain: dict[str, int] = {}
    for r in capped.collect():
        by_domain[r.url_domain] = by_domain.get(r.url_domain, 0) + 1
    assert by_domain == {"example.com": 2, "other.org": 2}
    # deterministic: same election on rerun
    again = sorted(r.doc_id for r in web.domain_quota(df, max_per_domain=2).collect())
    assert again == sorted(r.doc_id for r in capped.collect())


def _png_bytes(pixels, color_type: int, filters=None, bit_depth: int = 8) -> bytes:
    """Minimal PNG encoder (test-side): `pixels` is (h, w, ch) uint8;
    per-row filter types from `filters` (default all 0). Filtering here
    is written independently of the decoder (it SUBTRACTS predictors),
    so decode passing means the decoder truly inverts the spec."""
    import struct as s
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, ch = px.shape
    filters = filters or [0] * h
    flat = px.reshape(h, w * ch).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y, f in zip(range(h), filters):
        row = flat[y]
        out = np.empty(w * ch, dtype=np.int32)
        for x in range(w * ch):
            a = int(row[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (int(row[x]) - pred) & 0xFF
        raw.append(f)
        raw += out.astype(np.uint8).tobytes()
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return s.pack(">I", len(data)) + body + s.pack(">I", zlib.crc32(body))

    ihdr = s.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_roundtrip():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _png_pixels

    rng = np.random.default_rng(7)
    # RGB, 5 rows — one per filter type (None/Sub/Up/Average/Paeth)
    rgb = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    got = _png_pixels(_png_bytes(rgb, color_type=2, filters=[0, 1, 2, 3, 4]))
    assert np.array_equal(got, rgb)

    # RGBA: alpha dropped
    rgba = rng.integers(0, 256, size=(3, 3, 4), dtype=np.uint8)
    got = _png_pixels(_png_bytes(rgba, color_type=6, filters=[4, 3, 1]))
    assert np.array_equal(got, rgba[:, :, :3])

    # grayscale: replicated to 3 channels
    gray = rng.integers(0, 256, size=(2, 6, 1), dtype=np.uint8)
    got = _png_pixels(_png_bytes(gray, color_type=0, filters=[2, 1]))
    assert np.array_equal(got, np.repeat(gray, 3, axis=2))

    # illegal IHDR combinations are honestly refused, not garbled
    # (16-bit itself is supported now — see test_png_16bit_keeps_high_byte;
    # depth 2 is not legal for color type 2)
    import pytest as pt

    with pt.raises(NotImplementedError, match="depth=2"):
        _png_pixels(_png_bytes(rgb, color_type=2, bit_depth=2))


def test_decode_and_resize_real_png(spark):
    import numpy as np

    # 2x2 RGB: red, green / blue, white — known means and luminances
    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8
    )
    png = _png_bytes(px, color_type=2, filters=[1, 4])
    media = spark.createDataFrame(
        [(1, png, "image/png", 2, 2, None)], multimodal.MEDIA_SCHEMA
    )
    feats = multimodal.decode_image(media, fake=False).collect()[0].features
    w, h, mr, mg, mb, lstd, lmin, lmax = (float(x) for x in feats.split(","))
    assert (w, h) == (2.0, 2.0)
    assert (mr, mg, mb) == (127.5, 127.5, 127.5)
    assert lmin == pytest.approx(0.114 * 255, abs=1e-3)  # blue pixel
    assert lmax == pytest.approx(255.0, abs=1e-3)        # white pixel

    out = multimodal.resize_image(media, 2, 2, fake=False).collect()[0]
    assert (out.width, out.height) == (2, 2)
    lum = [
        round(0.299 * r + 0.587 * g + 0.114 * b)
        for r, g, b in ((255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255))
    ]
    assert [abs(a - b) <= 1 for a, b in zip(list(out.payload), lum)] == [True] * 4


def test_canonicalize_url_hardening_cases(spark):
    from temporai_mivdp_spark.llmdata import web

    cases = [
        ("https://user:pw@Example.com/x", "https://example.com/x"),
        ("  https://example.com/x  ", "https://example.com/x"),
        ("not a url", "not a url"),                       # scheme-less: pass through
        ("/relative/path?q=1", "/relative/path?q=1"),     # relative ref: untouched
        ("https://[2001:DB8::1]:8080/a", "https://[2001:db8::1]:8080/a"),
    ]
    df = spark.createDataFrame(
        [(i, r) for i, (r, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", web.canonicalize_url(F.col("url")).alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_sample_exact_k_deterministic_nested(spark):
    from temporai_mivdp_spark.llmdata import sampling

    df = spark.createDataFrame([(i, f"t{i}") for i in range(500)], "doc_id long, text string")
    s100 = sorted(r.doc_id for r in sampling.sample_exact_k(df, 100).collect())
    assert len(s100) == 100
    # deterministic under repartitioning
    again = sorted(
        r.doc_id for r in sampling.sample_exact_k(df.repartition(13), 100).collect()
    )
    assert again == s100
    # nesting: a larger budget is a superset of a smaller one
    s40 = set(r.doc_id for r in sampling.sample_exact_k(df, 40).collect())
    assert s40 <= set(s100)
    # over-budget: all rows, no failure
    assert sampling.sample_exact_k(df, 10_000).count() == 500
    # plan: top-k, not a global sort
    plan = (
        sampling.sample_exact_k(df, 100)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_chunk_then_pack_composition(spark):
    """The documented pipeline order: long docs are chunked to the
    context window, then chunks pack into training sequences — no chunk
    exceeds the window, every pack stays within budget."""
    from temporai_mivdp_spark.llmdata import sampling

    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(5 + 13 * i))) for i in range(8)],
        "doc_id long, text string",
    )
    chunks = sampling.chunk_documents(docs, chunk_size=16, overlap=0)
    keyed = chunks.withColumn(
        "chunk_key", F.col("doc_id") * 1000 + F.col("chunk_id")
    )
    packed = sampling.pack_sequences(
        keyed, max_tokens=64, tokens_col="n_tokens", order_col="chunk_key"
    )
    rows = packed.collect()
    assert all(r.n_tokens <= 16 for r in rows)
    per_pack: dict[int, int] = {}
    for r in rows:
        per_pack[r.pack_id] = per_pack.get(r.pack_id, 0) + r.n_tokens
    # each pack's STARTING offsets lie in one 64-token window; with
    # 16-token chunks a pack never accumulates more than 64+15 tokens
    assert all(v <= 64 + 15 for v in per_pack.values())
    assert len(per_pack) >= 2


def test_bigram_lm_empty_corpus_raises(spark):
    from temporai_mivdp_spark.llmdata import text as t

    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="no tokens"):
        t.bigram_lm(empty)
    blank = spark.createDataFrame([(1, "   ")], "doc_id long, text string")
    with pytest.raises(ValueError, match="no tokens"):
        t.bigram_lm(blank)


def test_shingle_bloom_survives_ansi_session(spark):
    """The densify step must use try_element_at: under ANSI mode (Spark
    4's default for user sessions) element_at on an absent map key
    throws MAP_KEY_DOES_NOT_EXIST instead of returning null."""
    from temporai_mivdp_spark.llmdata import dedup

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        row = dedup.shingle_bloom(bench, n=3, m_bits=1 << 12, k_hashes=2).first()
        assert len(row["words"]) == (1 << 12) // 64
        assert sum(1 for w in row["words"] if w != 0) >= 1
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_guard_corpus_thresholds_and_auto_bloom(spark):
    """min_hits / min_hit_frac gate the contamination verdict, and
    m_bits=None sizes the bloom from the benchmark via bloom_params_for."""
    from temporai_mivdp_spark.llmdata.pipeline import guard_corpus

    leak = "the secret benchmark answer is forty two exactly"
    docs = spark.createDataFrame(
        [
            (1, leak + " plus unrelated trailing words here now"),
            (2, "completely ordinary document with plain words only"),
        ],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame([(100, leak)], "doc_id: long, text: string")
    # auto-sized bloom (m_bits=None), 3-gram windows: doc 1 flagged
    out = {
        r.doc_id: r
        for r in guard_corpus(docs, bench, {"train": 1.0}, n=3).collect()
    }
    assert out[1].contaminated and out[1].n_bloom_hits > 0
    assert not out[2].contaminated
    # a hit_frac floor above doc 1's overlap clears the flag
    frac1 = out[1].hit_frac
    strict = {
        r.doc_id: r
        for r in guard_corpus(
            docs, bench, {"train": 1.0}, n=3, min_hit_frac=frac1 + 0.01
        ).collect()
    }
    assert not strict[1].contaminated
    # min_hits above the observed count clears it too
    strict2 = {
        r.doc_id: r
        for r in guard_corpus(
            docs, bench, {"train": 1.0}, n=3, min_hits=int(out[1].n_bloom_hits) + 1
        ).collect()
    }
    assert not strict2[1].contaminated
    # published-recipe default n=8: the 7-token leak has no 8-gram window
    # shared, so nothing is flagged at the default
    out8 = {
        r.doc_id: r for r in guard_corpus(docs, bench, {"train": 1.0}).collect()
    }
    assert not out8[2].contaminated


def test_pack_sequences_tiebreak_determinism(spark):
    """Equal order_col values (hash collisions) must still pack in ONE
    total order when tiebreak_col is given — identical assignments under
    any input partitioning, including for the rows at pack boundaries."""
    from temporai_mivdp_spark.llmdata import sampling

    # 40 rows, only 4 distinct order values -> heavy ties; 10 tokens
    # each with max_tokens=35 puts boundaries INSIDE tie groups
    rows = [(i, i % 4, 10) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, ord long, n_tokens int")
    want = None
    for parts in (1, 7, 32):
        got = {
            r.doc_id: r.pack_id
            for r in sampling.pack_sequences(
                df.repartition(parts),
                max_tokens=35,
                order_col="ord",
                tiebreak_col="doc_id",
            ).collect()
        }
        if want is None:
            want = got
        assert got == want, f"parts={parts} diverged"
    # and the global two-level path agrees with a naive single window
    naive = sorted(rows, key=lambda r: (r[1], r[0]))
    cum = 0
    expect = {}
    for doc_id, _, tok in naive:
        expect[doc_id] = cum // 35
        cum += tok
    assert want == expect


def test_token_budget_sample_boundary_deterministic(spark):
    """Admission at the budget boundary is stable under repartitioning
    (the tiebreak_col plumbing end to end)."""
    from temporai_mivdp_spark.llmdata import sampling

    df = spark.createDataFrame(
        [(i, 7) for i in range(200)], "doc_id long, n_tokens int"
    )
    base = {r.doc_id for r in sampling.token_budget_sample(df, 100).collect()}
    for parts in (1, 13, 32):
        got = {
            r.doc_id
            for r in sampling.token_budget_sample(df.repartition(parts), 100).collect()
        }
        assert got == base


def test_pipeline_docs_curation_leaves_no_cache(spark):
    """Catalog queries must not mutate session cache state: the packing
    stage boundary is a parquet checkpoint, not an unscoped persist.
    Diff-based (this query adds NO persistent RDDs) rather than
    absolute-zero: other operators in the shared test session may
    legitimately hold their single documented checkpoint (see
    duplicate_clusters' rotated localCheckpoint)."""
    from temporai_mivdp_spark.queries_llm import QUERIES

    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    out = QUERIES["pipeline_docs_curation"](spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    after = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    assert after - before == set()


def test_pipeline_docs_curation_scratch_does_not_accumulate(spark):
    """The stage checkpoint lives in ONE engine-owned directory per
    Spark application (overwritten on re-run, atexit-removed), so
    repeated invocations — bench runs the query 5× per round — leave
    exactly one scratch dir, not a fresh mkdtemp each call."""
    import os
    import tempfile

    from temporai_mivdp_spark.queries_llm import QUERIES, _curation_scratch_dir

    root = os.path.join(tempfile.gettempdir(), "mivdp_curation_scratch")
    for _ in range(2):
        assert QUERIES["pipeline_docs_curation"](spark, "/root/testdata/sf0.001").count() > 0
    mine = _curation_scratch_dir(spark)
    # this app's dir exists; no legacy mkdtemp-per-run directories appear
    assert os.path.isdir(mine)
    fresh = [
        d
        for d in os.listdir(tempfile.gettempdir())
        if d.startswith("mivdp_curation_ckpt_")
    ]
    assert not fresh, fresh


def test_duplicate_clusters_checkpoint_rotation(spark, star_tier):
    """The star-contraction loop must not accumulate checkpoint RDDs:
    at most ONE live persistent RDD per call (the returned frame's
    backing store), regardless of round count — a 1000-cluster-call
    pipeline would otherwise pin O(calls * log n) RDDs until context
    death."""
    from temporai_mivdp_spark.llmdata.dedup import duplicate_clusters

    # a 64-chain forces multiple contraction rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a: long, id_b: long"
    )
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    out = duplicate_clusters(pairs)
    assert out.filter("cluster_id = 0").count() == 65 - 1 + 1
    added = set(dict(spark.sparkContext._jsc.getPersistentRDDs())) - before
    assert len(added) <= 1, added


def test_language_id_ngram_beats_marker_on_heldout(spark):
    """The trigram NB model must beat the marker-word heuristic on
    held-out sentences DISJOINT from the training samples."""
    from temporai_mivdp_spark.llmdata.langid_data import (
        HELDOUT_SAMPLES,
        TRAIN_SAMPLES,
    )

    for lang, sents in HELDOUT_SAMPLES.items():
        for s in sents:
            assert s not in TRAIN_SAMPLES[lang]
    rows = [
        (f"{lang}-{i}", s)
        for lang, ss in HELDOUT_SAMPLES.items()
        for i, s in enumerate(ss)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def acc(pred):
        return sum(1 for k, v in pred.items() if v == k.split("-")[0]) / len(pred)

    preds = {r.doc_id: r.lang_pred for r in text.language_id_ngram(docs).collect()}
    ng = acc(preds)
    mk = acc({r.doc_id: r.lang_pred for r in text.language_id(docs).collect()})
    assert ng >= 0.9
    assert ng > mk
    # the non-Latin scripts must not ride on Latin confusion headroom
    for script_lang in ("ru", "el", "ja"):
        hits = sum(
            1 for k, v in preds.items() if k.startswith(script_lang) and v == script_lang
        )
        assert hits >= 5, (script_lang, hits)


def test_language_id_ngram_edges_and_determinism(spark):
    docs = spark.createDataFrame(
        [
            (1, "ab"),            # too short for a trigram -> und
            (2, ""),              # empty -> und
            (3, None),            # null -> und
            (4, "zzqqxx 12345"),  # no table trigram matches -> und
            (5, "the weather of the morning and the children"),  # en
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text.language_id_ngram(docs).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1].lang_pred == "und" and got[2].lang_pred == "und"
    assert got[3].lang_pred == "und"
    assert got[5].lang_pred == "en" and got[5].score_en < 0
    # integer scores, partition-invariant, across ALL covered languages
    langs = sorted(text.trigram_score_tables())
    cols = ["lang_pred"] + [f"score_{la}" for la in langs]
    again = {
        r.doc_id: tuple(r[c] for c in cols)
        for r in text.language_id_ngram(docs.repartition(8)).collect()
    }
    for k, r in got.items():
        assert again[k] == tuple(r[c] for c in cols)


def test_trigram_score_tables_shape(spark):
    tabs = text.trigram_score_tables()
    assert set(tabs) == {
        "ar", "cs", "da", "de", "el", "en", "es", "fi", "fr", "hi",
        "it", "ja", "ko", "nl", "pl", "pt", "ru", "sv", "tr", "uk",
    }
    feats = set(next(iter(tabs.values())))
    for t in tabs.values():
        assert set(t) == feats          # shared feature set
        assert all(w < 0 for w in t.values())  # strictly negative weights
        assert all(len(g) == 3 for g in t)
    assert tabs == text.trigram_score_tables()  # deterministic re-derivation


def test_guard_corpus_exact_backend(spark):
    """exact=True swaps the bloom for md5-shingle containment (the
    oracle-checkable backend of pipeline_guard_corpus) — same cluster
    expansion and split semantics, different flag columns."""
    from temporai_mivdp_spark.llmdata.pipeline import guard_corpus

    leak = "the secret benchmark answer is forty two exactly"
    rows = [
        (1, leak),
        (2, "a light paraphrase that shares no trigram with anything above"),
        (3, "ordinary clean document with plain words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    bench = spark.createDataFrame([(100, leak)], "doc_id: long, text: string")
    pairs = spark.createDataFrame([(1, 2)], "id_a: long, id_b: long")
    out = guard_corpus(
        docs, bench, {"train": 0.7, "test": 0.3}, near_pairs=pairs,
        n=3, exact=True, containment_threshold=0.8,
    )
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].contaminated and got[1].n_bench_hits == 1
    assert got[1].max_containment == 1.0
    assert got[2].contaminated and got[2].n_bench_hits == 0  # via cluster
    assert not got[3].contaminated
    assert got[1].split == got[2].split


def _png_bytes_full(
    samples, color_type, bit_depth=8, palette=None, interlace=0, filters=None
):
    """Full-variant PNG encoder (test-side, independent of the decoder):
    ``samples`` is (h, w, ch) SAMPLE values (uint16 ok for 16-bit);
    supports palette (PLTE), bit depths 1/2/4/8/16, and Adam7. Filter
    types are chosen per scanline from ``filters`` (cycled; default
    exercises 0/1/2) and SUBTRACT predictors per the spec."""
    import struct as s
    import zlib

    import numpy as np

    px = np.asarray(samples)
    h, w, ch = px.shape
    filters = filters or [0, 1, 2]
    bpp = max(1, ch * bit_depth // 8)

    def pack_rows(sub):
        ph, pw, _ = sub.shape
        if bit_depth == 8:
            return sub.astype(np.uint8).reshape(ph, pw * ch)
        if bit_depth == 16:
            out = np.empty((ph, pw * ch * 2), dtype=np.uint8)
            flat = sub.reshape(ph, pw * ch).astype(np.uint16)
            out[:, 0::2] = (flat >> 8).astype(np.uint8)
            out[:, 1::2] = (flat & 0xFF).astype(np.uint8)
            return out
        # sub-byte (ch == 1): MSB-first packing
        flat = sub.reshape(ph, pw).astype(np.uint8)
        bits = (
            (flat[:, :, None] >> np.arange(bit_depth - 1, -1, -1)) & 1
        ).reshape(ph, pw * bit_depth).astype(np.uint8)
        stride = (pw * bit_depth + 7) // 8
        padded = np.zeros((ph, stride * 8), dtype=np.uint8)
        padded[:, : pw * bit_depth] = bits
        return np.packbits(padded, axis=1)

    def filter_pass(rows, fseq):
        ph, stride = rows.shape
        raw = bytearray()
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(ph):
            f = fseq[y % len(fseq)]
            row = rows[y].astype(np.int32)
            out = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                b_ = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b_
                elif f == 3:
                    pred = (a + b_) >> 1
                else:
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                out[x] = (int(row[x]) - pred) & 0xFF
            raw.append(f)
            raw += out.astype(np.uint8).tobytes()
            prev = row
        return raw

    raw = bytearray()
    if interlace == 0:
        raw += filter_pass(pack_rows(px), filters)
    else:
        grid = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
        for x0, y0, dx, dy in grid:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            raw += filter_pass(pack_rows(sub), filters)

    def chunk(typ, data):
        body = typ + data
        return s.pack(">I", len(data)) + body + s.pack(">I", zlib.crc32(body))

    ihdr = s.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_paletted_roundtrip_8_and_4_bit():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _png_pixels

    pal = np.array(
        [[250, 1, 2], [3, 250, 4], [5, 6, 250], [7, 8, 9]], np.uint8
    )
    rng = np.random.default_rng(3)
    idx = rng.integers(0, 4, size=(7, 5, 1))
    for depth in (8, 4, 2):
        b = _png_bytes_full(idx, 3, bit_depth=depth, palette=pal)
        assert (_png_pixels(b) == pal[idx[:, :, 0]]).all(), depth


def test_png_gray_subbyte_scaling():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _png_pixels

    # 1-bit gray: 0 -> 0, 1 -> 255
    g = np.array([[0, 1, 1], [1, 0, 0]])[:, :, None]
    got = _png_pixels(_png_bytes_full(g, 0, bit_depth=1))
    assert (got == (g * 255).repeat(3, axis=2)).all()
    # 4-bit gray: v -> v * 255 // 15
    g4 = np.arange(16).reshape(4, 4, 1)
    got4 = _png_pixels(_png_bytes_full(g4, 0, bit_depth=4))
    assert (got4 == (g4 * 255 // 15).repeat(3, axis=2)).all()


def test_png_16bit_keeps_high_byte():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _png_pixels

    rng = np.random.default_rng(5)
    hi = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint16)
    lo = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint16)
    b = _png_bytes_full((hi << 8) | lo, 2, bit_depth=16, filters=[0, 1, 2, 3, 4])
    assert (_png_pixels(b) == hi.astype(np.uint8)).all()


def test_png_adam7_interlaced_roundtrip():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _png_pixels

    rng = np.random.default_rng(11)
    # odd dims exercise empty/partial passes; all five filter types
    rgb = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    b = _png_bytes_full(rgb, 2, interlace=1, filters=[4, 3, 2, 1, 0])
    assert (_png_pixels(b) == rgb).all()
    # gray+alpha interlaced: alpha dropped, gray replicated
    ga = rng.integers(0, 256, size=(5, 8, 2), dtype=np.uint8)
    got = _png_pixels(_png_bytes_full(ga, 4, interlace=1))
    assert (got == ga[:, :, 0:1].repeat(3, axis=2)).all()


def test_png_paletted_interlaced_subbyte():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _png_pixels

    pal = np.array([[1, 2, 3], [200, 100, 50], [9, 9, 9]], np.uint8)
    rng = np.random.default_rng(13)
    idx = rng.integers(0, 3, size=(10, 11, 1))
    b = _png_bytes_full(idx, 3, bit_depth=2, palette=pal, interlace=1)
    assert (_png_pixels(b) == pal[idx[:, :, 0]]).all()


def _sloppy_display(b: bytes) -> str:
    """Test-side: how UTF-8 bytes look when shown as windows-1252
    (undefined slots fall back to the C1 control, the browser/ftpy
    convention) — written independently of the repair kernel."""
    cp = {
        0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„", 0x85: "…", 0x86: "†",
        0x87: "‡", 0x88: "ˆ", 0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
        0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“", 0x94: "”", 0x95: "•",
        0x96: "–", 0x97: "—", 0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
        0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
    }
    return "".join(cp.get(x, chr(x)) for x in b)


def test_fix_mojibake_kernel_roundtrips():
    from temporai_mivdp_spark.llmdata.text import fix_mojibake_py

    originals = [
        "café — naïve résumé",
        "smart ‘quotes’ and “doubles” …",
        "emoji 😀 and CJK 你好 and Ж",
        "plain ascii stays",
    ]
    for orig in originals:
        moj = _sloppy_display(orig.encode("utf-8"))
        assert fix_mojibake_py(moj) == orig, orig
        # double-encoded: two display passes still unwind
        moj2 = _sloppy_display(moj.encode("utf-8"))
        assert fix_mojibake_py(moj2) == orig, orig

    # false positives survive verbatim: legit uppercase à before a
    # non-continuation char is INVALID utf-8 when mapped back
    assert fix_mojibake_py("SÃO PAULO") == "SÃO PAULO"
    # clean text containing marker chars round-trips to itself
    assert fix_mojibake_py("déjà vu") == "déjà vu"


def test_fix_mojibake_dataframe_routing(spark):
    from pyspark.sql import functions as F

    from temporai_mivdp_spark.llmdata import text as t

    orig = "café — naïve 😀"
    moj = _sloppy_display(orig.encode("utf-8"))
    # 0xD5-0xDF lead-byte scripts (U+0540-U+07FF): the ÕÖ×ØÙÚÛÜÝÞß
    # marker extension is what routes these to the repair kernel
    arabic = "مرحبا بالعالم"
    hebrew = "שלום עולם"
    rows = [
        (1, moj),
        (2, "totally clean ascii"),
        (3, "SÃO PAULO"),
        (4, None),
        (5, "déjà vu"),
        (6, _sloppy_display(arabic.encode("utf-8"))),
        (7, _sloppy_display(hebrew.encode("utf-8"))),
        (8, "Straße in Köln, Øresund"),  # legit 0xD5-0xDF chars survive
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r.doc_id: (r.text, r.was_fixed) for r in t.fix_mojibake(docs).collect()}
    assert got[1] == (orig, True)
    assert got[2] == ("totally clean ascii", False)
    assert got[3] == ("SÃO PAULO", False)
    # null text: was_fixed is a documented BOOLEAN — false, never NULL
    assert got[4] == (None, False)
    assert got[5] == ("déjà vu", False)
    assert got[6] == (arabic, True)
    assert got[7] == (hebrew, True)
    assert got[8] == ("Straße in Köln, Øresund", False)

    # routing: clean rows never enter Python — the plan's pythonUDF
    # input is gated behind the marker rlike (CASE WHEN). Assert the
    # flag expression itself prunes: a corpus with no markers produces
    # zero fixed rows and identical text column.
    clean = spark.createDataFrame(
        [(i, f"doc {i} plain") for i in range(10)], "doc_id: long, text: string"
    )
    out = t.fix_mojibake(clean)
    assert out.filter(F.col("was_fixed")).count() == 0
    assert out.filter(F.col("text") != F.concat(F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" plain"))).count() == 0


def _bmp_bytes(pixels=None, indices=None, palette=None, bpp=24,
               compression=0, top_down=False, rle=None):
    """Test-side BMP encoder (independent of the decoder): 24/32-bit
    truecolor from `pixels` (h,w,3), paletted 1/4/8-bit from `indices`
    + `palette`, optional raw RLE8 stream via `rle`."""
    import struct as s

    import numpy as np

    if pixels is not None:
        h, w, _ = np.asarray(pixels).shape
    else:
        h, w = np.asarray(indices).shape
    rows = []
    if bpp in (24, 32):
        px = np.asarray(pixels, np.uint8)
        bypp = bpp // 8
        stride = (w * bypp + 3) & ~3
        for y in range(h):
            row = bytearray()
            for x in range(w):
                r, g, b_ = px[y, x]
                row += bytes([b_, g, r] + ([0] if bypp == 4 else []))
            row += b"\x00" * (stride - len(row))
            rows.append(bytes(row))
        pal_bytes = b""
        n_colors = 0
    else:
        idx = np.asarray(indices)
        n_colors = len(palette)
        pal_bytes = b"".join(
            bytes([c[2], c[1], c[0], 0]) for c in np.asarray(palette, np.uint8)
        )
        if compression == 0:
            stride = ((w * bpp + 31) // 32) * 4
            for y in range(h):
                bits = "".join(format(int(v), f"0{bpp}b") for v in idx[y])
                bits += "0" * (stride * 8 - len(bits))
                rows.append(
                    bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
                )
    if compression in (1, 2):
        data = rle
    else:
        order = rows if top_down else rows[::-1]
        data = b"".join(order)
    data_off = 54 + len(pal_bytes)
    hdr = b"BM" + s.pack("<IHHI", data_off + len(data), 0, 0, data_off)
    dib = s.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, bpp,
        compression, len(data), 2835, 2835, n_colors, 0,
    )
    return hdr + dib + pal_bytes + data


def test_bmp_32bit_and_topdown():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _bmp_pixels

    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    assert (_bmp_pixels(_bmp_bytes(pixels=px, bpp=24)) == px).all()
    assert (_bmp_pixels(_bmp_bytes(pixels=px, bpp=32)) == px).all()
    assert (_bmp_pixels(_bmp_bytes(pixels=px, bpp=24, top_down=True)) == px).all()


def test_bmp_paletted_roundtrip():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _bmp_pixels

    pal = np.array([[250, 1, 2], [3, 250, 4], [5, 6, 250], [9, 9, 9]], np.uint8)
    rng = np.random.default_rng(4)
    idx = rng.integers(0, 4, size=(6, 9))
    for bpp in (8, 4):
        got = _bmp_pixels(_bmp_bytes(indices=idx, palette=pal, bpp=bpp))
        assert (got == pal[idx]).all(), bpp
    # 1-bit
    idx1 = rng.integers(0, 2, size=(4, 11))
    got = _bmp_pixels(_bmp_bytes(indices=idx1, palette=pal[:2], bpp=1))
    assert (got == pal[:2][idx1]).all()


# -- TIFF (baseline 6.0: strips, none/PackBits) + binary Netpbm — round 9 ----


def _tiff_bytes(px, photometric=None, endian="<", compression=1,
                rows_per_strip=None, extra_tags=(), predictor=1,
                lzw_encode=None):
    """Independent test-side baseline-TIFF writer: 8-bit gray (2-D
    array) or RGB (3-D), strip-organized, optional PackBits, either
    byte order. Raster bytes follow the IFD; offsets are absolute."""
    import struct as s

    import numpy as np

    px = np.asarray(px)
    deep = px.dtype == np.uint16
    px = px.astype(np.uint16 if deep else np.uint8)
    h, w = px.shape[:2]
    spp = 1 if px.ndim == 2 else px.shape[2]
    photometric = (2 if spp == 3 else 1) if photometric is None else photometric
    rps = rows_per_strip or h
    row_bytes = w * spp * (2 if deep else 1)

    def packbits(row_data: bytes) -> bytes:
        # literal-only encoding (runs of <=128 literal bytes) — valid
        # PackBits, keeps the encoder trivially independent
        out = bytearray()
        for k in range(0, len(row_data), 128):
            chunk = row_data[k : k + 128]
            out += bytes([len(chunk) - 1]) + chunk
        return bytes(out)

    raw = px.astype(endian + "u2").tobytes() if deep else px.tobytes()
    strips = []
    for y0 in range(0, h, rps):
        chunk = raw[y0 * row_bytes : min(y0 + rps, h) * row_bytes]
        if compression == 32773:
            chunk = packbits(chunk)
        elif compression == 5:
            chunk = lzw_encode(chunk)
        strips.append(chunk)

    tags = [
        (256, 4, [w]), (257, 4, [h]), (258, 3, [16 if deep else 8] * spp),
        (259, 3, [compression]), (262, 3, [photometric]),
        (277, 3, [spp]), (278, 4, [rps]), (284, 3, [1]),
    ] + ([(317, 3, [predictor])] if predictor != 1 else []) + list(extra_tags)
    n_strip_tags = 2  # 273 offsets + 279 counts appended below
    n = len(tags) + n_strip_tags
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n + 4
    # value-area pointers: entries whose payload exceeds 4 bytes
    fmts = {1: "B", 3: "H", 4: "I"}
    sizes = {1: 1, 3: 2, 4: 4}
    value_area = bytearray()
    strip_offsets, pos = [], data_off  # strip bytes land after values
    # reserve value-area space first (two passes)
    entries = tags + [
        (273, 4, None),  # placeholder, filled once strip offsets known
        (279, 4, [len(st) for st in strips]),
    ]
    # pass 1: compute value-area length
    va_len = 0
    for tag, typ, vals in entries:
        cnt = len(strips) if vals is None else len(vals)
        total = sizes[typ] * cnt
        if total > 4:
            va_len += total
    strips_start = data_off + va_len
    pos = strips_start
    for st in strips:
        strip_offsets.append(pos)
        pos += len(st)
    entries[-2] = (273, 4, strip_offsets)
    # pass 2: emit
    out = bytearray()
    out += (b"II*\x00" if endian == "<" else b"MM\x00*")
    out += s.pack(endian + "I", ifd_off)
    out += s.pack(endian + "H", n)
    va_cursor = data_off
    for tag, typ, vals in sorted(entries):
        cnt = len(vals)
        total = sizes[typ] * cnt
        body = s.pack(endian + str(cnt) + fmts[typ], *vals)
        out += s.pack(endian + "HHI", tag, typ, cnt)
        if total <= 4:
            out += body + b"\x00" * (4 - total)
        else:
            out += s.pack(endian + "I", va_cursor)
            value_area += body
            va_cursor += total
    out += s.pack(endian + "I", 0)  # next-IFD pointer
    out += value_area
    for st in strips:
        out += st
    return bytes(out)


def test_tiff_gray_rgb_both_endians_exact():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _tiff_pixels

    rng = np.random.default_rng(20)
    gray = rng.integers(0, 256, (7, 11), np.uint8)
    rgb = rng.integers(0, 256, (5, 9, 3), np.uint8)
    for endian in ("<", ">"):
        got = _tiff_pixels(_tiff_bytes(gray, endian=endian))
        assert np.array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))
        got = _tiff_pixels(_tiff_bytes(rgb, endian=endian))
        assert np.array_equal(got, rgb)


def test_tiff_strips_packbits_and_whiteiszero():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _tiff_pixels

    rng = np.random.default_rng(21)
    gray = rng.integers(0, 256, (10, 6), np.uint8)
    # multi-strip + PackBits
    got = _tiff_pixels(_tiff_bytes(gray, compression=32773, rows_per_strip=3))
    assert np.array_equal(got[:, :, 0], gray)
    # WhiteIsZero inverts
    got = _tiff_pixels(_tiff_bytes(gray, photometric=0))
    assert np.array_equal(got[:, :, 0], 255 - gray)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Independent test-side TIFF-LZW compressor: real dictionary LZW,
    MSB-first packing, 9->12-bit codes with the spec's EARLY width
    change, ClearCode on start and near-full tables."""
    def fresh():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = fresh()
    codes = [(9, 256)]  # leading ClearCode
    s = b""
    for byte in data:
        c = bytes([byte])
        if s + c in table:
            s += c
            continue
        codes.append((width, table[s]))
        table[s + c] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code == 4094:
            codes.append((width, 256))
            table, next_code, width = fresh()
        s = c
    if s:
        codes.append((width, table[s]))
    codes.append((width, 257))  # EOI
    out, acc, nbits = bytearray(), 0, 0
    for wdt, code in codes:
        acc = (acc << wdt) | code
        nbits += wdt
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_tiff_lzw_and_predictor_exact():
    """LZW strips (incl. width growth to 11/12 bits and a mid-stream
    table reset) and the horizontal-differencing predictor decode
    byte-exactly; LZW+predictor composes."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import (
        _tiff_pixels,
        media_decode_status,
    )

    rng = np.random.default_rng(24)
    # big enough to push past 4093 table entries (the reset path)
    gray = rng.integers(0, 256, (80, 110), np.uint8)
    payload = _tiff_bytes(gray, compression=5, lzw_encode=_tiff_lzw_encode)
    assert media_decode_status(payload) == ("image", "tiff", "full")
    got = _tiff_pixels(payload)
    assert np.array_equal(got[:, :, 0], gray)

    # predictor 2 alone (uncompressed deltas), gray and RGB
    rgb = rng.integers(0, 256, (6, 9, 3), np.uint8)
    for img in (gray[:8, :7], rgb):
        deltas = np.diff(
            img.reshape(img.shape[0], img.shape[1], -1).astype(np.int16),
            axis=1, prepend=0,
        ).astype(np.uint8)
        payload = _tiff_bytes(
            deltas if img.ndim == 3 else deltas[:, :, 0],
            predictor=2,
            photometric=2 if img.ndim == 3 else 1,
        )
        got = _tiff_pixels(payload)
        want = img if img.ndim == 3 else img
        if img.ndim == 2:
            assert np.array_equal(got[:, :, 0], img)
        else:
            assert np.array_equal(got, img)

    # LZW + predictor + multi-strip composes
    deltas = np.diff(gray.astype(np.int16), axis=1, prepend=0).astype(np.uint8)
    payload = _tiff_bytes(
        deltas, compression=5, predictor=2, rows_per_strip=13,
        lzw_encode=_tiff_lzw_encode,
    )
    got = _tiff_pixels(payload)
    assert np.array_equal(got[:, :, 0], gray)
    # predictor on 16-bit gray stays an honest rejection
    g16 = rng.integers(0, 1 << 16, (4, 4), np.uint16)
    assert media_decode_status(_tiff_bytes(g16, predictor=2)) == (
        "image", "tiff", "header_only",
    )


def test_tiff_16bit_gray_both_endians():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import (
        _tiff_pixels,
        media_decode_status,
    )

    rng = np.random.default_rng(23)
    g16 = rng.integers(0, 1 << 16, (5, 7), np.uint16)
    for endian in ("<", ">"):
        payload = _tiff_bytes(g16, endian=endian)
        got = _tiff_pixels(payload)
        assert np.array_equal(got[:, :, 0], (g16 >> 8).astype(np.uint8)), endian
        assert media_decode_status(payload) == ("image", "tiff", "full")
    # 16-bit RGB stays an honest rejection (header_only)
    rgb16 = rng.integers(0, 1 << 16, (3, 4, 3), np.uint16)
    assert media_decode_status(_tiff_bytes(rgb16)) == (
        "image", "tiff", "header_only",
    )


def test_tiff_rejections_and_classify():
    import numpy as np
    import pytest as _pytest

    from temporai_mivdp_spark.llmdata.multimodal import (
        _image_dims,
        _tiff_pixels,
        media_decode_status,
    )

    gray = np.arange(24, dtype=np.uint8).reshape(4, 6)
    good = _tiff_bytes(gray)
    assert _image_dims(good) == ("tiff", 6, 4)
    assert media_decode_status(good) == ("image", "tiff", "full")

    # round 10: compression 7 is decodable when the strip IS a JPEG;
    # this one wraps a raw raster, so the SOI check rejects it and the
    # classifier (which peeks the strip) keeps it header_only
    jpg_in_tiff = _tiff_bytes(gray, compression=7)
    with _pytest.raises(NotImplementedError, match="missing SOI"):
        _tiff_pixels(jpg_in_tiff)
    assert media_decode_status(jpg_in_tiff) == ("image", "tiff", "header_only")

    tiled = _tiff_bytes(gray, extra_tags=[(322, 4, [16])])
    with _pytest.raises(NotImplementedError, match="tiled"):
        _tiff_pixels(tiled)
    assert media_decode_status(tiled) == ("image", "tiff", "header_only")

    torn = good[: len(good) - 5]
    with _pytest.raises(NotImplementedError):
        _tiff_pixels(torn)


def _pnm_bytes(px, magic=None, maxval=255, comment=False):
    import numpy as np

    px = np.asarray(px, np.uint16 if maxval > 255 else np.uint8)
    h, w = px.shape[:2]
    magic = magic or (b"P5" if px.ndim == 2 else b"P6")
    hdr = magic + b"\n"
    if comment:
        hdr += b"# synthetic fixture\n"
    hdr += f"{w} {h}\n{maxval}\n".encode()
    body = px.astype(">u2").tobytes() if maxval > 255 else px.tobytes()
    return hdr + body


def test_pnm_decode_exact_and_classify():
    import numpy as np
    import pytest as _pytest

    from temporai_mivdp_spark.llmdata.multimodal import (
        _image_dims,
        _netpbm_pixels,
        media_decode_status,
    )

    rng = np.random.default_rng(22)
    gray = rng.integers(0, 256, (6, 8), np.uint8)
    rgb = rng.integers(0, 256, (4, 5, 3), np.uint8)
    got = _netpbm_pixels(_pnm_bytes(gray, comment=True))
    assert np.array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))
    got = _netpbm_pixels(_pnm_bytes(rgb))
    assert np.array_equal(got, rgb)
    assert _image_dims(_pnm_bytes(gray)) == ("pnm", 8, 6)
    assert media_decode_status(_pnm_bytes(rgb)) == ("image", "pnm", "full")
    # 16-bit maxval: big-endian samples scale >>8 into the contract
    deep16 = (gray.astype(np.uint16) << 8) | 0x7F
    got16 = _netpbm_pixels(_pnm_bytes(deep16, maxval=65535))
    assert np.array_equal(got16[:, :, 0], gray)
    assert media_decode_status(_pnm_bytes(deep16, maxval=65535)) == (
        "image", "pnm", "full",
    )
    # odd maxval: dims parse, decode honestly refuses
    odd = _pnm_bytes(gray, maxval=100)
    assert media_decode_status(odd) == ("image", "pnm", "header_only")
    with _pytest.raises(NotImplementedError, match="maxval"):
        _netpbm_pixels(odd)
    with _pytest.raises(NotImplementedError, match="shorter"):
        _netpbm_pixels(_pnm_bytes(gray)[:-3])


def test_bmp_rle4_runs_absolute_delta():
    """BI_RLE4: runs alternate the byte's high/low nibbles; absolute
    chunks pack two pixels per byte (word-aligned); the escape codes
    match RLE8. Exact against a hand-laid stream."""
    import numpy as np
    import pytest as _pytest

    from temporai_mivdp_spark.llmdata.multimodal import (
        _bmp_pixels,
        media_decode_status,
    )

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    # 3x6 image, bottom-up stream:
    # row0(bottom): run of 5 alternating 1/2, then run 1 of 3
    # row1: absolute 4 pixels [0,3,1,2] (2 bytes + word pad), run 2 of 0
    # row2: delta skip (3,0) then run 3 alternating 2/1; end of bitmap
    stream = bytes([
        5, (1 << 4) | 2, 1, (3 << 4), 0, 0,        # runs, EOL
        0, 4, (0 << 4) | 3, (1 << 4) | 2, 2, 0, 0, 0,  # absolute+pad, run, EOL
        0, 2, 3, 0, 3, (2 << 4) | 1, 0, 1,         # delta, run, EOB
    ])
    payload = _bmp_bytes(indices=np.zeros((3, 6)), palette=pal,
                         bpp=4, compression=2, rle=stream)
    got = _bmp_pixels(payload)
    expect_idx = np.array([
        [0, 0, 0, 2, 1, 2],      # top row: delta leaves 0s, then 2/1/2
        [0, 3, 1, 2, 0, 0],
        [1, 2, 1, 2, 1, 3],      # bottom row
    ])
    assert (got == pal[expect_idx]).all()
    assert media_decode_status(payload) == ("image", "bmp", "full")

    # RLE type must match bit depth: RLE4 on an 8-bit BMP rejects
    bad = _bmp_bytes(indices=np.zeros((3, 6)), palette=pal,
                     bpp=8, compression=2, rle=stream)
    with _pytest.raises(NotImplementedError, match="match its bit depth|RLE type"):
        _bmp_pixels(bad)
    assert media_decode_status(bad) == ("image", "bmp", "header_only")


def test_bmp_rle8_runs_absolute_delta():
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _bmp_pixels

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    # 4x6 image, bottom-up stream: row0(bottom)=run of 6 color 1;
    # row1: absolute [2,3,2] then run 3 of 0; row2: delta skip (2,0)
    # then run 4 of 3; row3: run 6 of 2; end of bitmap
    rle = bytes([
        6, 1, 0, 0,                       # run, EOL
        0, 3, 2, 3, 2, 0,                 # absolute 3 (padded), ...
        3, 0, 0, 0,                       # run 3 of color 0, EOL
        0, 2, 2, 0, 4, 3, 0, 0,           # delta (2,0), run 4 of 3, EOL
        6, 2, 0, 1,                       # run 6 of 2, EOB
    ])
    got = _bmp_pixels(_bmp_bytes(indices=np.zeros((4, 6)), palette=pal,
                                 bpp=8, compression=1, rle=rle))
    expect_idx = np.array([
        [2, 2, 2, 2, 2, 2],      # top row (last decoded)
        [0, 0, 3, 3, 3, 3],      # delta left cells default 0
        [2, 3, 2, 0, 0, 0],
        [1, 1, 1, 1, 1, 1],      # bottom row (first decoded)
    ])
    assert (got == pal[expect_idx]).all()


def test_bmp_rle8_malformed_raises_codec_boundary():
    """Malformed RLE8 payloads hit the same NotImplementedError boundary
    as every other codec path — never a raw numpy IndexError — and
    out-of-range palette indices raise instead of silently clamping
    (the uncompressed paletted path's policy)."""
    import numpy as np
    import pytest as _pt

    from temporai_mivdp_spark.llmdata.multimodal import _bmp_pixels

    pal = np.array([[0, 0, 0], [255, 0, 0]], np.uint8)  # 2 colors

    # delta pushes y to 9 (>= h=4); the following run must raise, not crash
    bad_delta = bytes([0, 2, 0, 9, 3, 1, 0, 1])
    with _pt.raises(NotImplementedError):
        _bmp_pixels(_bmp_bytes(indices=np.zeros((4, 6)), palette=pal,
                               bpp=8, compression=1, rle=bad_delta))

    # run wider than the row
    bad_run = bytes([200, 1, 0, 1])
    with _pt.raises(NotImplementedError):
        _bmp_pixels(_bmp_bytes(indices=np.zeros((4, 6)), palette=pal,
                               bpp=8, compression=1, rle=bad_run))

    # palette index beyond the color table: raise, don't clamp
    oob_pal = bytes([6, 7, 0, 1])  # run of color 7, only 2 palette entries
    with _pt.raises(NotImplementedError):
        _bmp_pixels(_bmp_bytes(indices=np.zeros((4, 6)), palette=pal,
                               bpp=8, compression=1, rle=oob_pal))

    # a trailing delta-to-edge followed by EOB stays LEGAL (no write)
    edge = bytes([6, 1, 0, 2, 0, 3, 0, 1])
    out = _bmp_pixels(_bmp_bytes(indices=np.zeros((4, 6)), palette=pal,
                                 bpp=8, compression=1, rle=edge))
    assert (out[-1] == pal[1]).all()


# -- compressed-audio header tier: independent test-side stream builders ----


def _mp3_bytes(n_frames=38, kbps=128, sr=44100, stereo=True, id3=False):
    """Build a valid MPEG-1 Layer III frame sequence (silent payloads —
    the header tier never entropy-decodes), optionally ID3v2-prefixed.
    Independent of the decoder: fields are packed from the spec."""
    out = bytearray()
    if id3:
        tag_body = b"\x00" * 100
        out += b"ID3\x04\x00\x00" + bytes(
            [(len(tag_body) >> 21) & 0x7F, (len(tag_body) >> 14) & 0x7F,
             (len(tag_body) >> 7) & 0x7F, len(tag_body) & 0x7F]
        ) + tag_body
    br_idx = {32: 1, 40: 2, 48: 3, 56: 4, 64: 5, 80: 6, 96: 7, 112: 8,
              128: 9, 160: 10, 192: 11, 224: 12, 256: 13, 320: 14}[kbps]
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sr]
    frame_len = 144 * kbps * 1000 // sr  # no padding bit set
    for _ in range(n_frames):
        h = bytes([
            0xFF,
            0xFB,                       # sync cont. | MPEG1 | Layer III | no CRC
            (br_idx << 4) | (sr_idx << 2),
            0x00 if stereo else 0xC0,   # channel mode
        ])
        out += h + b"\x00" * (frame_len - 4)
    return bytes(out)


def _ogg_pages(packets_and_granules, serial=7):
    """Assemble Ogg pages (one packet per page, correct 255-lacing)."""
    import struct as s
    import zlib as z

    out = bytearray()
    for seq, (body, granule) in enumerate(packets_and_granules):
        segs = []
        n = len(body)
        while n >= 255:
            segs.append(255)
            n -= 255
        segs.append(n)
        htype = 2 if seq == 0 else (4 if seq == len(packets_and_granules) - 1 else 0)
        page = s.pack("<4sBBqIIIB", b"OggS", 0, htype, granule, serial, seq, 0,
                      len(segs)) + bytes(segs) + body
        out += page  # checksum left 0 — the header tier does not verify CRCs
    return bytes(out)


def _vorbis_stream(sr=22050, channels=2, total_samples=44100):
    import struct as s

    ident = b"\x01vorbis" + s.pack("<IBI", 0, channels, sr) + b"\x00" * 13
    return _ogg_pages([
        (ident, 0),
        (b"\xaa" * 300, total_samples // 2),
        (b"\xbb" * 40, total_samples),
    ])


def _opus_stream(channels=1, pre_skip=312, total_48k=96000):
    import struct as s

    head = b"OpusHead" + s.pack("<BBHIhB", 1, channels, pre_skip, 48000, 0, 0)
    return _ogg_pages([
        (head, 0),
        (b"\xcc" * 120, total_48k // 2),
        (b"\xdd" * 120, total_48k),
    ])


def test_mp3_header_stats():
    from temporai_mivdp_spark.llmdata.multimodal import _mp3_stats

    # 38 frames * 1152 samples @44100 = 43776 samples -> 992 ms
    dur, sr, ch, kbps = _mp3_stats(_mp3_bytes())
    assert (dur, sr, ch, kbps) == (38 * 1152 * 1000 // 44100, 44100, 2, 128)

    # ID3v2 prefix skipped; mono 64 kbps @32000; ID3v1 trailer tolerated
    dur, sr, ch, kbps = _mp3_stats(
        _mp3_bytes(n_frames=10, kbps=64, sr=32000, stereo=False, id3=True)
        + b"TAG" + b"\x00" * 125
    )
    assert (dur, sr, ch, kbps) == (10 * 1152 * 1000 // 32000, 32000, 1, 64)

    with pytest.raises(NotImplementedError):
        _mp3_stats(b"\x00" * 64)


def test_ogg_header_stats():
    from temporai_mivdp_spark.llmdata.multimodal import _ogg_stats

    codec, dur, sr, ch, _ = _ogg_stats(_vorbis_stream())
    assert (codec, dur, sr, ch) == ("vorbis", 2000, 22050, 2)

    codec, dur, sr, ch, _ = _ogg_stats(_opus_stream())
    # (96000 - 312 pre-skip) / 48k = 1993 ms
    assert (codec, dur, sr, ch) == ("opus", (96000 - 312) * 1000 // 48000, 48000, 1)

    with pytest.raises(NotImplementedError):
        _ogg_stats(_ogg_pages([(b"\x80theora-ish", 0)]))


def test_audio_metadata_mixed_batch(spark):
    """The accounting tier must survive a mixed crawl batch: PCM WAV
    reports status 'full', MP3/Vorbis/Opus report exact header metadata
    as 'header_only', garbage and null payloads degrade to 'unsupported'
    rows instead of failing the batch."""
    rows = [
        (1, _square_wav_bytes(), None, None, None, None),
        (2, _mp3_bytes(), None, None, None, None),
        (3, _vorbis_stream(), None, None, None, None),
        (4, _opus_stream(), None, None, None, None),
        (5, b"\x00garbage not audio at all", None, None, None, None),
        (6, None, None, None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in multimodal.audio_metadata(media).collect()}
    assert (got[1].codec, got[1].decode_status, got[1].duration_ms,
            got[1].sample_rate, got[1].channels) == ("pcm_wav", "full", 100, 8000, 1)
    assert (got[2].codec, got[2].decode_status, got[2].sample_rate,
            got[2].channels, got[2].bitrate_kbps) == ("mp3", "header_only", 44100, 2, 128)
    assert (got[3].codec, got[3].decode_status, got[3].duration_ms) == (
        "vorbis", "header_only", 2000)
    assert (got[4].codec, got[4].decode_status, got[4].channels) == (
        "opus", "header_only", 1)
    for mid in (5, 6):
        assert got[mid].decode_status == "unsupported"
        assert got[mid].codec is None and got[mid].duration_ms is None


# -- DSIR importance resampling --------------------------------------------


def test_dsir_importance_properties(spark):
    """The log-ratio fit must tilt toward the target domain: docs written
    in the target's vocabulary score higher than off-domain docs;
    importance is exact-integer and partitioning-invariant; empty docs
    surface with importance 0."""
    from temporai_mivdp_spark.llmdata import dsir

    target_rows = [(100 + i, "quantum flux capacitor resonance chamber") for i in range(5)]
    on_domain = [(i, "quantum resonance flux readings in the chamber") for i in range(3)]
    off_domain = [(10 + i, "cheap shoes sale discount buy now free shipping") for i in range(3)]
    raw_rows = on_domain + off_domain + [(99, ""), (98, None)]
    raw = spark.createDataFrame(raw_rows, "doc_id: long, text: string")
    target = spark.createDataFrame(target_rows, "doc_id: long, text: string")

    ratios = dsir.dsir_log_ratios(raw, target, n_buckets=512)
    imp = dsir.dsir_importance(raw, ratios, n_buckets=512)
    got = {r.doc_id: (r.importance, r.n_scored) for r in imp.collect()}
    assert len(got) == len(raw_rows)
    on = [got[i][0] for i in range(3)]
    off = [got[10 + i][0] for i in range(3)]
    assert min(on) > max(off)
    assert got[99] == (0, 0) and got[98] == (0, 0)

    # partitioning invariance: exact integer equality across layouts
    imp2 = dsir.dsir_importance(raw.repartition(13), ratios, n_buckets=512)
    assert {r.doc_id: r.importance for r in imp2.collect()} == {
        k: v[0] for k, v in got.items()
    }


# slow tier (r13, conftest default-skip): ~10s tier sweep; dsir stays covered by the dsir_select/dsir_gumbel oracles
@pytest.mark.slow
def test_dsir_selection_tiers(spark):
    """dsir_top_k flags exactly k docs by (importance desc, id asc);
    dsir_gumbel_sample is deterministic in (seed, id), re-deals with the
    seed, and across seeds prefers high-importance docs (the sample-
    proportional-to-exp(score) contract, checked distributionally)."""
    from temporai_mivdp_spark.llmdata import dsir

    rows = [(i, int((i % 10) * 1_000_000)) for i in range(50)]
    imp = spark.createDataFrame(rows, "doc_id: long, importance: long").withColumn(
        "n_scored", F.lit(10).cast("long")
    )

    top = dsir.dsir_top_k(imp, k=5)
    sel = sorted(r.doc_id for r in top.filter("selected").collect())
    # importance 9e6 docs are 9, 19, 29, 39, 49 -> all five, ids ascending
    assert sel == [9, 19, 29, 39, 49]

    g1 = {r.doc_id for r in dsir.dsir_gumbel_sample(imp, 10, seed="a").filter("selected").collect()}
    g1b = {r.doc_id for r in dsir.dsir_gumbel_sample(imp.repartition(7), 10, seed="a").filter("selected").collect()}
    g2 = {r.doc_id for r in dsir.dsir_gumbel_sample(imp, 10, seed="b").filter("selected").collect()}
    assert g1 == g1b            # partitioning-invariant
    assert len(g1) == 10
    assert g1 != g2             # seed re-deals
    # distributional tilt: across seeds, selected mean importance beats
    # the corpus mean (4.5e6) comfortably
    means = []
    for s in range(8):
        picked = dsir.dsir_gumbel_sample(imp, 10, seed=f"s{s}").filter("selected")
        means.append(
            picked.agg(F.avg("importance")).collect()[0][0]
        )
    assert sum(means) / len(means) > 6_000_000


# ---------------------------------------------------------------------------
# model-based quality scoring (llmdata/quality_model.py)
# ---------------------------------------------------------------------------


def test_quality_features_py_mirrors_spark(spark):
    """quality_features_py is documented as the pure-Python mirror of the
    Spark feature projection — pin row parity off the ASCII domain: \\s
    is ASCII (NBSP is a token character, not whitespace) and the
    stopword boundary is the explicit [a-z0-9_] class (round 10 —
    'café a' DOES count the trailing 'a', and 'a'+combining-mark counts
    'a', identically in Spark, this mirror, and the RE2 oracle), plus
    the null-text all-zero contract (array_size null propagation)."""
    from temporai_mivdp_spark.llmdata import quality_model as qm

    texts = [
        "The committee reviewed the proposal, and it WAS 90% done!",
        "",
        None,
        "buy " * 40 + "now",
        "aé b the café a x",   # non-ASCII letters + NBSP whitespace
        "word",
        "a a a a a the the the 12345 ... !!!",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: [r[name] for name in qm.FEATURES]
        for r in qm.quality_feature_vector(docs).collect()
    }
    for i, t in enumerate(texts):
        expected = qm.quality_features_py(t)
        assert got[i] == pytest.approx(expected, rel=1e-12, abs=1e-12), (i, t)


# slow tier (r13, conftest default-skip): ~38s differential; the trained model's scores stay pinned by the
# text_quality_model oracle (bit-identical literal dot product)
@pytest.mark.slow
def test_logreg_fit_matches_pure_python_fit(spark):
    """The distributed trainer must reproduce _fit_py on the same labeled
    frame — same iteration count / lr / l2, identical math, only the
    float partial-sum order differs (docstring bound ~1e-12/iter)."""
    from temporai_mivdp_spark.llmdata import quality_model as qm

    xs = [
        qm.quality_features_py(t)
        for t in qm._SEED_POSITIVE + qm._SEED_NEGATIVE
    ]
    ys = [1] * len(qm._SEED_POSITIVE) + [0] * len(qm._SEED_NEGATIVE)
    b_py, w_py = qm._fit_py(xs, ys, n_iter=40)

    rows = [(y, *x) for x, y in zip(xs, ys)]
    schema = "label: int, " + ", ".join(f"{n}: double" for n in qm.FEATURES)
    feats = spark.createDataFrame(rows, schema).repartition(7)
    b_sp, w_sp = qm.logreg_fit(feats, "label", n_iter=40)

    assert b_sp == pytest.approx(b_py, abs=1e-8)
    assert list(w_sp) == pytest.approx(list(w_py), abs=1e-8)

    # and the fitted model separates the seed, like the pretrained tier
    for x, y in zip(xs, ys):
        z = b_sp + sum(wj * xj for wj, xj in zip(w_sp, x))
        assert (z > 0) == (y == 1)


# ---------------------------------------------------------------------------
# decode-status rollup (curation surface for multimodal accounting)
# ---------------------------------------------------------------------------


def _wav_bytes(sr=8000, n=800, ch=1):
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(b"\x00\x01" * (n * ch))
    return buf.getvalue()


def _arithmetic_jpeg_bytes():
    """A REAL libjpeg-encoded sequential-arithmetic (SOF9) JPEG — since
    round 8 the pixel tier decodes these (tests/test_jpeg_arithmetic.py
    carries the full fixture battery), so the classifier must say
    'full'."""
    from test_jpeg_arithmetic import _jpg

    return _jpg("rgb444", "arith")


def _deep_precision_jpeg_bytes():
    """SOI + 12-bit SOF9 (sequential ARITHMETIC) header — dims present,
    decode unsupported by imagecodecs.jpeg_pixels (12-bit Huffman
    decodes since round 9; 12-bit arithmetic and hierarchical are the
    honest remaining JPEG stubs)."""
    import struct as s

    sof = s.pack(">BBHHB", 12, 0, 4, 4, 1) + bytes([1, 0x11, 0])
    return (
        b"\xff\xd8\xff\xc9" + s.pack(">H", 2 + len(sof)) + sof + b"\xff\xd9"
    )


def _deep_precision_jpeg_real_bytes():
    """A REAL decodable 12-bit Huffman JPEG (extended precision) from
    the independent test-side encoder — the classifier must say
    'full' since round 9."""
    from test_imagecodecs import _smooth_rgb, jpeg_bytes

    return jpeg_bytes(_smooth_rgb(8, 8).astype("uint16") * 16, precision=12)


def _lossless_jpeg_bytes_fixture():
    """A REAL decodable 12-bit single-component lossless JPEG (SOF3)."""
    import numpy as _np

    from test_imagecodecs import jpeg_lossless_bytes

    gray = (_np.arange(48, dtype=_np.int64).reshape(6, 8) * 77) % 4096
    return jpeg_lossless_bytes(gray, 12, predictor=4)


def _lossless_subsampled_header_bytes():
    """SOI + SUBSAMPLED 3-component SOF3 header — dims present, decode
    unsupported (round 10 decodes the interleaved 1:1 RGB shape, but
    subsampled lossless stays an honest rejection)."""
    import struct as s

    sof = s.pack(">BHHB", 12, 4, 4, 3) + bytes(
        [1, 0x21, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    return b"\xff\xd8\xff\xc3" + s.pack(">H", 2 + len(sof)) + sof + b"\xff\xd9"


def _lossless_rgb_real_bytes():
    """A REAL decodable interleaved 3-component lossless JPEG (SOF3,
    the DICOM RGB shape — round 10)."""
    from tests.test_imagecodecs import _rgb_ramp, jpeg_lossless_rgb_bytes

    return jpeg_lossless_rgb_bytes(_rgb_ramp(4, 5, seed=9), 8, predictor=4)


def _ima_wav_fixture():
    """One valid mono IMA-ADPCM block (silence) with align=256."""
    import struct as s

    block = s.pack("<hBB", 0, 0, 0) + b"\x00" * 252
    payload = _raw_wav(0x11, 1, 8000, 4, block, byte_rate=4055)
    return payload[:32] + (256).to_bytes(2, "little") + payload[34:]


def _avi_dib_fixture():
    """A minimal valid RIFF/AVI: one 2x2 DIB frame at 25 fps."""
    import struct as s

    def chunk(cid, body):
        return cid + s.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(t, body):
        return chunk(b"LIST", t + body)

    w = h = 2
    px = (bytes([30, 20, 10]) * w + b"\x00" * 2) * h  # BGR rows, padded
    info = s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 0, 0, 0, 0)
    avih = s.pack("<10I", 40000, 0, 0, 0, 1, 0, 1, 0, w, h) + bytes(16)
    strh = (
        b"vids" + b"DIB " + s.pack("<IHH", 0, 0, 0)
        + s.pack("<IIII", 0, 1, 25, 0) + s.pack("<I", 1)
        + s.pack("<IiI", 0, -1, 0) + s.pack("<hhhh", 0, 0, w, h)
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", info)))
    movi = lst(b"movi", chunk(b"00dc", info + px))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + s.pack("<I", len(body)) + body


def _ms_wav_fixture():
    """One valid mono MS-ADPCM block (silence) with align=256: header =
    predictor idx byte + int16 delta + int16 sample1 + int16 sample2."""
    import struct as s

    block = s.pack("<Bhhh", 0, 16, 0, 0) + b"\x00" * 249
    payload = _raw_wav(0x02, 1, 8000, 4, block, byte_rate=4000)
    return payload[:32] + (256).to_bytes(2, "little") + payload[34:]


def _ccitt_g4_fixture():
    """Real T.6-compressed bilevel TIFF (round 10) — encoder from the
    independent test-side battery in tests/test_tiff_ccitt.py."""
    import numpy as _np

    from tests.test_tiff_ccitt import tiff_bilevel

    return tiff_bilevel(_np.eye(4, 6, dtype=_np.uint8), 4)


def _jpeg_in_tiff_fixture():
    """Real new-style JPEG-in-TIFF (compression 7, round 10): a baseline
    JPEG strip inside the TIFF container."""
    from tests.test_imagecodecs import _smooth_rgb, jpeg_bytes
    from tests.test_tiff_ccitt import tiff_jpeg

    return tiff_jpeg([jpeg_bytes(_smooth_rgb(4, 6, seed=3))], 6, 4, 4, 3, 2)


def _media_fixtures():
    """(name, payload, want_modality, want_status) — the classifier's
    contract over one of each tier."""
    return [
        ("wav", _wav_bytes(), "audio", "full"),
        ("wav_ulaw", _raw_wav(7, 1, 8000, 8, b"\x7f" * 800), "audio", "full"),
        ("wav_alaw", _raw_wav(6, 1, 8000, 8, b"\x2a" * 800), "audio", "full"),
        ("wav_24bit", _raw_wav(1, 1, 8000, 24, b"\x01\x02\x03" * 64), "audio", "full"),
        ("wav_ima", _ima_wav_fixture(), "audio", "full"),
        ("wav_ms", _ms_wav_fixture(), "audio", "full"),
        # round 9: IEEE-float WAV + EXTENSIBLE-resolved PCM decode
        ("wav_float", _raw_wav(3, 1, 8000, 32, b"\x00" * 64), "audio", "full"),
        ("wav_extensible_pcm",
         _raw_wav(0xFFFE, 1, 8000, 16, b"\x00" * 64,
                  extension=b"\x10\x00\x04\x00\x00\x00" + _ext_guid(1)),
         "audio", "full"),
        # block_align 1 is structurally invalid for IMA (the guard keeps
        # it header_only — metadata from byte rate, no decode claim)
        ("wav_adpcm", _raw_wav(17, 1, 8000, 4, b"\x00" * 256, byte_rate=4000),
         "audio", "header_only"),
        # round 9: RIFF/AVI routes to the VIDEO tier (it was previously
        # misclassified as unsupported audio); a malformed AVI is
        # video/unsupported, a well-formed DIB AVI is video/full
        ("riff_avi_malformed", b"RIFF\x10\x00\x00\x00AVI " + b"\x00" * 16,
         "video", "unsupported"),
        ("avi_dib", _avi_dib_fixture(), "video", "full"),
        ("riff_not_wave_not_avi", b"RIFF\x10\x00\x00\x00JUNK" + b"\x00" * 16,
         "audio", "unsupported"),
        ("mp3", _mp3_bytes(n_frames=6), "audio", "header_only"),
        ("vorbis", _vorbis_stream(), "audio", "header_only"),
        # round 9: FLAC with real frames decodes (RFC 9639 sample tier);
        # a STREAMINFO-only / junk-tail payload is header math only
        ("flac_frames",
         _flac_encode([_flac_test_signal(256, 16, 99)], 8000, 16, 256,
                      [("fixed", 2, 0, 0)]),
         "audio", "full"),
        ("flac_headeronly", _flac_bytes(), "audio", "header_only"),
        ("ogg_unknown", _ogg_pages([(b"\x7fFLAC\x00\x00", 0)]), "audio", "unsupported"),
        ("png", _png_bytes([[(10, 20, 30), (40, 50, 60)]] * 2, color_type=2), "image", "full"),
        ("jpeg_arith", _arithmetic_jpeg_bytes(), "image", "full"),
        ("jpeg_12bit_huffman", _deep_precision_jpeg_real_bytes(), "image", "full"),
        ("jpeg_12bit_arith", _deep_precision_jpeg_bytes(), "image", "header_only"),
        # round 9: single-component lossless (SOF3, the DICOM shape)
        # decodes; round 10: interleaved 1:1 RGB lossless decodes too,
        # while SUBSAMPLED 3-component lossless stays header_only
        ("jpeg_lossless_gray", _lossless_jpeg_bytes_fixture(), "image", "full"),
        ("jpeg_lossless_rgb", _lossless_rgb_real_bytes(), "image", "full"),
        ("jpeg_lossless_subsampled_header", _lossless_subsampled_header_bytes(),
         "image", "header_only"),
        # round 9: baseline TIFF (gray strips, LZW incl.) decodes;
        # round 10: CCITT G4 and REAL new-style JPEG-in-TIFF decode too,
        # while a comp-7 claim wrapping a non-JPEG strip stays header
        ("tiff_gray", _tiff_bytes([[1, 2], [3, 4]]), "image", "full"),
        ("tiff_lzw",
         _tiff_bytes([[1, 2], [3, 4]], compression=5,
                     lzw_encode=_tiff_lzw_encode),
         "image", "full"),
        ("tiff_ccitt_g4", _ccitt_g4_fixture(), "image", "full"),
        ("tiff_jpeg_real", _jpeg_in_tiff_fixture(), "image", "full"),
        ("tiff_jpegcomp_header", _tiff_bytes([[1, 2], [3, 4]], compression=7),
         "image", "header_only"),
        ("pnm_rgb", _pnm_bytes([[[1, 2, 3], [4, 5, 6]]]), "image", "full"),
        ("garbage", b"\x00\x01\x02\x03garbage-bytes", "unknown", "unsupported"),
        ("null", None, "unknown", "unsupported"),
    ]


def test_media_decode_status_classifier():
    from temporai_mivdp_spark.llmdata.multimodal import media_decode_status

    for name, payload, modality, status in _media_fixtures():
        got_mod, _codec, got_status = media_decode_status(payload)
        assert (got_mod, got_status) == (modality, status), name


def test_media_decode_status_tracks_decoder_capability():
    """status=='full' must mean the pixel/sample tier actually decodes,
    and header_only/unsupported must mean it doesn't — the classifier is
    an accounting mirror of the decoders, pinned here so capability
    drift fails a test instead of lying in telemetry."""
    from temporai_mivdp_spark.llmdata.multimodal import (
        _audio_samples,
        _raster_pixels,
        media_decode_status,
    )

    from temporai_mivdp_spark.llmdata.multimodal import avi_frames

    for name, payload, _modality, status in _media_fixtures():
        if payload is None:
            continue
        modality, _codec, got_status = media_decode_status(payload)
        if modality == "image":
            try:
                _raster_pixels(payload)
                decodes = True
            except NotImplementedError:
                decodes = False
        elif modality == "audio":
            try:
                _audio_samples(payload)
                decodes = True
            except (NotImplementedError, Exception):
                decodes = False
        elif modality == "video":
            try:
                avi_frames(payload)
                decodes = True
            except (NotImplementedError, Exception):
                decodes = False
        else:
            continue
        assert decodes == (got_status == "full"), name


def test_media_decode_rollup_fractions(spark):
    from temporai_mivdp_spark.llmdata.pipeline import curation_media_report

    fixtures = _media_fixtures()
    media = spark.createDataFrame(
        [(i, payload) for i, (_, payload, _, _) in enumerate(fixtures)],
        "media_id: long, payload: binary",
    ).repartition(3)
    rows = {(r.modality, r.decode_status): r for r in curation_media_report(media).collect()}

    # audio: 9 full (pcm wav + ulaw + alaw + 24-bit + ima + ms +
    # flac-with-frames + float + extensible-pcm), 4 header_only (mp3 +
    # vorbis + degenerate-align adpcm + streaminfo-only flac), 2
    # unsupported (ogg_unknown + riff_not_wave_not_avi)
    assert rows[("audio", "full")].n_items == 9
    assert rows[("audio", "header_only")].n_items == 4
    assert rows[("audio", "unsupported")].n_items == 2
    # frac_items is 6dp-rounded engine-side: compare at that precision
    assert rows[("audio", "header_only")].frac_items == pytest.approx(4 / 15, abs=1e-6)
    # video (round 9): DIB AVI decodes, malformed AVI classifies
    assert rows[("video", "full")].n_items == 1
    assert rows[("video", "unsupported")].n_items == 1
    assert rows[("video", "full")].frac_items == pytest.approx(1 / 2)
    # image: 10 full (png + sequential-arithmetic jpeg + 12-bit huffman
    # jpeg + gray lossless jpeg + RGB lossless jpeg + gray tiff +
    # LZW tiff + CCITT-G4 tiff + real JPEG-in-TIFF + rgb pnm), 3
    # header_only (12-bit ARITHMETIC jpeg + subsampled lossless header
    # + comp-7 claim over a non-JPEG strip)
    assert rows[("image", "full")].n_items == 10
    # frac_items is 6dp-rounded engine-side (3/13 repeats)
    assert rows[("image", "header_only")].frac_items == pytest.approx(3 / 13, abs=1e-6)
    # unknown: garbage + null, all unsupported
    assert rows[("unknown", "unsupported")].n_items == 2
    assert rows[("unknown", "unsupported")].frac_items == pytest.approx(1.0)
    # byte fractions sum to 1 within each modality that has bytes
    for mod in ("audio", "image"):
        total = sum(r.frac_bytes for (m, _), r in rows.items() if m == mod)
        assert total == pytest.approx(1.0, abs=1e-5)


def _flac_bytes(sr=44100, channels=2, bps=16, total_samples=132300, in_ogg=False):
    """Independent test-side FLAC STREAMINFO builder (fields packed from
    the spec, not via the parser): fLaC signature + a last-flagged
    STREAMINFO block; optionally wrapped in the Ogg-FLAC mapping packet."""
    import struct as s

    packed = (sr << 44) | ((channels - 1) << 41) | ((bps - 1) << 36) | total_samples
    streaminfo = (
        s.pack(">HH", 4096, 4096)            # min/max blocksize
        + (0).to_bytes(3, "big") * 2         # min/max framesize (unknown)
        + packed.to_bytes(8, "big")
        + b"\x00" * 16                       # md5 of raw samples
    )
    bare = b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    if not in_ogg:
        return bare + b"\xde\xad" * 200      # fake frame bytes for bitrate
    mapping = b"\x7fFLAC\x01\x00" + s.pack(">H", 0) + bare
    return _ogg_pages([(mapping, 0), (b"\xee" * 150, total_samples // 2),
                       (b"\xef" * 150, total_samples)])


def test_flac_header_stats():
    from temporai_mivdp_spark.llmdata.multimodal import _flac_stats, _ogg_stats

    dur, sr, ch, kbps = _flac_stats(_flac_bytes())
    assert (dur, sr, ch) == (3000, 44100, 2)    # 132300 samples @ 44.1k
    assert kbps > 0

    codec, dur, sr, ch, _ = _ogg_stats(_flac_bytes(sr=48000, channels=1,
                                                   total_samples=96000, in_ogg=True))
    assert (codec, dur, sr, ch) == ("flac", 2000, 48000, 1)

    with pytest.raises(NotImplementedError):
        _flac_stats(b"fLaC\x00\x00\x00")        # truncated


def test_flac_audio_metadata_rows(spark):
    from temporai_mivdp_spark.llmdata import multimodal

    media = spark.createDataFrame(
        [(1, _flac_bytes()), (2, _flac_bytes(in_ogg=True)), (3, _wav_bytes())],
        "media_id: long, payload: binary",
    )
    rows = {r.media_id: r for r in multimodal.audio_metadata(media).collect()}
    assert rows[1].codec == "flac" and rows[1].decode_status == "header_only"
    assert rows[1].duration_ms == 3000 and rows[1].sample_rate == 44100
    assert rows[2].codec == "flac" and rows[2].decode_status == "header_only"
    assert rows[3].codec == "pcm_wav" and rows[3].decode_status == "full"


# ---------------------------------------------------------------------------
# FLAC frame-body decode (RFC 9639) — pinned by a hand-written test-side
# encoder built from the spec's own primitives (bit writer, UTF-8 frame
# numbers, Rice partitions, fixed/LPC residuals, stereo decorrelation,
# table-driven CRCs — all independent of the decoder's implementation).
# A round-trip must be BIT-EXACT: residual coding is lossless by
# construction, so any reconstruction drift is a decoder bug.
# ---------------------------------------------------------------------------

_FLAC_CRC8_TAB = None
_FLAC_CRC16_TAB = None


def _tab_crc8(data: bytes) -> int:
    """Table-driven CRC-8/0x07 (independent of the decoder's loop)."""
    global _FLAC_CRC8_TAB
    if _FLAC_CRC8_TAB is None:
        tab = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
            tab.append(c)
        _FLAC_CRC8_TAB = tab
    crc = 0
    for byte in data:
        crc = _FLAC_CRC8_TAB[crc ^ byte]
    return crc


def _tab_crc16(data: bytes) -> int:
    """Table-driven CRC-16/0x8005 (independent of the decoder's loop)."""
    global _FLAC_CRC16_TAB
    if _FLAC_CRC16_TAB is None:
        tab = []
        for i in range(256):
            c = i << 8
            for _ in range(8):
                c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
            tab.append(c)
        _FLAC_CRC16_TAB = tab
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFF) ^ _FLAC_CRC16_TAB[(crc >> 8) ^ byte]
    return crc


class _FlacBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        v &= (1 << n) - 1
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                self.acc = 0
                self.nbits = 0

    def align(self) -> None:
        while self.nbits:
            self.write(0, 1)

    def data(self) -> bytes:
        assert self.nbits == 0, "writer not byte-aligned"
        return bytes(self.buf)


def _enc_utf8_num(w: _FlacBitWriter, val: int) -> None:
    if val < 0x80:
        w.write(val, 8)
        return
    for nbytes, cap in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31), (7, 36)):
        if val < (1 << cap):
            break
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    w.write(lead | (val >> shift), 8)
    for i in range(nbytes - 1):
        shift -= 6
        w.write(0x80 | ((val >> shift) & 0x3F), 8)


def _enc_rice_vals(w: _FlacBitWriter, vals, param: int) -> None:
    for v in vals:
        u = (v << 1) if v >= 0 else (-v << 1) - 1  # zigzag
        for _ in range(u >> param):
            w.write(0, 1)
        w.write(1, 1)
        if param:
            w.write(u, param)


def _best_rice_param(vals, pbits: int) -> int:
    best, best_bits = 0, None
    for p in range((1 << pbits) - 1):
        bits = sum((((v << 1) if v >= 0 else (-v << 1) - 1) >> p) + 1 + p for v in vals)
        if best_bits is None or bits < best_bits:
            best, best_bits = p, bits
        if bits > 1 << 20:
            break
    return best


def _enc_residual(
    w: _FlacBitWriter, res, porder: int, method: int, blocksize: int,
    order: int, escape_bits: int | None = None,
) -> None:
    w.write(method, 2)
    w.write(porder, 4)
    pbits = 4 + method
    esc = (1 << pbits) - 1
    step = blocksize >> porder
    pos = 0
    for p in range(1 << porder):
        cnt = step - (order if p == 0 else 0)
        part = res[pos : pos + cnt]
        pos += cnt
        if escape_bits is not None:
            w.write(esc, pbits)
            w.write(escape_bits, 5)
            for v in part:
                w.write(v, escape_bits)
        else:
            param = _best_rice_param(part, pbits)
            w.write(param, pbits)
            _enc_rice_vals(w, part, param)
    assert pos == len(res)


_ENC_FIXED = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _enc_subframe(w: _FlacBitWriter, samples, bps: int, mode) -> None:
    """mode: ('constant',) | ('verbatim',) | ('fixed', order, porder,
    method[, escape_bits]) | ('lpc', coefs, shift, precision, porder,
    method) | prefix ('wasted', k, inner_mode) shifts samples down."""
    wasted = 0
    if mode[0] == "wasted":
        wasted, mode = mode[1], mode[2]
        assert all(v % (1 << wasted) == 0 for v in samples)
        samples = [v >> wasted for v in samples]
    eff = bps - wasted
    w.write(0, 1)  # padding
    if mode[0] == "constant":
        w.write(0, 6)
    elif mode[0] == "verbatim":
        w.write(1, 6)
    elif mode[0] == "fixed":
        w.write(8 + mode[1], 6)
    else:
        w.write(32 + len(mode[1]) - 1, 6)
    if wasted:
        w.write(1, 1)
        for _ in range(wasted - 1):
            w.write(0, 1)
        w.write(1, 1)
    else:
        w.write(0, 1)
    n = len(samples)
    if mode[0] == "constant":
        assert len(set(samples)) == 1
        w.write(samples[0], eff)
    elif mode[0] == "verbatim":
        for v in samples:
            w.write(v, eff)
    elif mode[0] == "fixed":
        order, porder, method = mode[1], mode[2], mode[3]
        esc = mode[4] if len(mode) > 4 else None
        coefs = _ENC_FIXED[order]
        for v in samples[:order]:
            w.write(v, eff)
        res = [
            samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, n)
        ]
        _enc_residual(w, res, porder, method, n, order, esc)
    else:
        coefs, shift, prec, porder, method = mode[1:6]
        order = len(coefs)
        for v in samples[:order]:
            w.write(v, eff)
        w.write(prec - 1, 4)
        w.write(shift, 5)
        for c in coefs:
            w.write(c, prec)
        res = [
            samples[i] - (sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
            for i in range(order, n)
        ]
        _enc_residual(w, res, porder, method, n, order)


def _enc_frame(
    frame_idx: int, chans, sr: int, bps: int, modes, ch_mode: str = "indep",
    explicit_sr: bool = False, explicit_bps: bool = False,
) -> bytes:
    w = _FlacBitWriter()
    bs = len(chans[0])
    w.write(0x3FFE, 14)
    w.write(0, 1)  # reserved
    w.write(0, 1)  # fixed blocksize strategy (number = frame index)
    bs_code = 6 if bs <= 256 else 7
    w.write(bs_code, 4)
    sr_code = 13 if explicit_sr else 0  # 13 = 16-bit Hz follow-up
    w.write(sr_code, 4)
    ch_code = {"indep": len(chans) - 1, "ls": 8, "rs": 9, "ms": 10}[ch_mode]
    w.write(ch_code, 4)
    ss_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps] if explicit_bps else 0
    w.write(ss_code, 3)
    w.write(0, 1)  # reserved
    _enc_utf8_num(w, frame_idx)
    w.write(bs - 1, 8 if bs_code == 6 else 16)
    if explicit_sr:
        w.write(sr, 16)
    w.write(_tab_crc8(w.data()), 8)
    if ch_mode == "indep":
        for c, samps in enumerate(chans):
            _enc_subframe(w, samps, bps, modes[c % len(modes)])
    else:
        left, right = chans
        side = [lv - rv for lv, rv in zip(left, right)]
        if ch_mode == "ls":
            _enc_subframe(w, left, bps, modes[0])
            _enc_subframe(w, side, bps + 1, modes[1 % len(modes)])
        elif ch_mode == "rs":
            _enc_subframe(w, side, bps + 1, modes[0])
            _enc_subframe(w, right, bps, modes[1 % len(modes)])
        else:  # mid/side
            mid = [(lv + rv) >> 1 for lv, rv in zip(left, right)]
            _enc_subframe(w, mid, bps, modes[0])
            _enc_subframe(w, side, bps + 1, modes[1 % len(modes)])
    w.align()
    body = w.data()
    return body + _tab_crc16(body).to_bytes(2, "big")


def _flac_encode(
    chans, sr: int, bps: int, blocksize: int, modes, ch_mode: str = "indep",
    **frame_kw,
) -> bytes:
    """Full test-side FLAC file: STREAMINFO + frames of ``blocksize``
    (last frame shorter)."""
    import struct as s

    total = len(chans[0])
    packed = (sr << 44) | ((len(chans) - 1) << 41) | ((bps - 1) << 36) | total
    streaminfo = (
        s.pack(">HH", 16, 65535)
        + (0).to_bytes(3, "big") * 2
        + packed.to_bytes(8, "big")
        + b"\x00" * 16
    )
    out = bytearray(
        b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    )
    idx = 0
    for lo in range(0, total, blocksize):
        sub = [c[lo : lo + blocksize] for c in chans]
        out += _enc_frame(idx, sub, sr, bps, modes, ch_mode, **frame_kw)
        idx += 1
    return bytes(out)


def _flac_test_signal(n: int, bps: int, seed: int, smooth: bool = True):
    """Deterministic int samples whose residuals stay small under the
    fixed/LPC predictors (slow ramp + bounded noise), clamped to bps."""
    import random as _random

    rng = _random.Random(seed)
    lim = (1 << (bps - 1)) - 1
    out, v = [], 0
    for i in range(n):
        v += rng.randint(-40, 40) if smooth else rng.randint(-lim // 2, lim // 2)
        v = max(-lim, min(lim, v))
        out.append(v)
    return out


def _flac_expected(chans, bps: int):
    import numpy as _np

    return _np.array(chans, dtype=_np.float64).mean(axis=0) / float(1 << (bps - 1))


class TestFlacDecode:
    def _roundtrip(self, chans, sr, bps, blocksize, modes, ch_mode="indep", **kw):
        import numpy as _np

        from temporai_mivdp_spark.llmdata.multimodal import _flac_samples

        payload = _flac_encode(chans, sr, bps, blocksize, modes, ch_mode, **kw)
        got_sr, got = _flac_samples(payload)
        assert got_sr == sr
        want = _flac_expected(chans, bps)
        assert got.shape == want.shape
        assert _np.array_equal(got, want), f"mode={modes} ch={ch_mode}"
        return payload

    def test_constant_and_verbatim_mono(self):
        self._roundtrip([[123] * 400], 8000, 16, 256, [("constant",)])
        sig = _flac_test_signal(400, 16, 1, smooth=False)
        self._roundtrip([sig], 8000, 16, 256, [("verbatim",)])

    def test_fixed_orders_all(self):
        sig = _flac_test_signal(1024, 16, 2)
        for order in range(5):
            self._roundtrip(
                [sig], 16000, 16, 512, [("fixed", order, 0, 0)]
            )

    def test_rice_partitions_and_methods(self):
        sig = _flac_test_signal(1024, 16, 3)
        for porder in (1, 2, 4):
            for method in (0, 1):
                self._roundtrip(
                    [sig], 44100, 16, 512, [("fixed", 2, porder, method)]
                )

    def test_escape_partitions_raw_residual(self):
        sig = _flac_test_signal(512, 16, 4)
        self._roundtrip([sig], 8000, 16, 256, [("fixed", 1, 1, 0, 12)])

    def test_lpc_orders(self):
        sig = _flac_test_signal(768, 16, 5)
        for coefs in ([3], [2, -1], [1, 1, -1, 0, 1], list(range(1, 13))):
            self._roundtrip(
                [sig], 22050, 16, 256,
                [("lpc", coefs, 4, 12, 1, 0)],
            )

    def test_wasted_bits(self):
        sig = [v << 3 for v in _flac_test_signal(300, 12, 6)]
        self._roundtrip([sig], 8000, 16, 300, [("wasted", 3, ("fixed", 2, 0, 0))])

    def test_stereo_modes_and_channel_counts(self):
        left = _flac_test_signal(600, 16, 7)
        right = _flac_test_signal(600, 16, 8)
        for ch_mode in ("indep", "ls", "rs", "ms"):
            self._roundtrip(
                [left, right], 48000, 16, 300,
                [("fixed", 2, 1, 0), ("fixed", 3, 0, 0)], ch_mode,
            )
        # 3 independent channels exercise the n-channel path
        third = _flac_test_signal(600, 16, 9)
        self._roundtrip(
            [left, right, third], 8000, 16, 200,
            [("fixed", 1, 0, 0), ("verbatim",), ("fixed", 4, 1, 0)],
        )

    def test_bit_depths_and_explicit_header_codes(self):
        for bps in (8, 16, 24):
            sig = _flac_test_signal(400, bps, 10 + bps)
            self._roundtrip(
                [sig], 32000, bps, 256, [("fixed", 2, 0, 0)],
                explicit_sr=True, explicit_bps=True,
            )

    def test_multibyte_utf8_frame_numbers(self):
        # 130 frames of 8 samples: frame numbers cross the 1-byte UTF-8
        # boundary at 128
        sig = _flac_test_signal(1040, 16, 11)
        self._roundtrip([sig], 8000, 16, 8, [("fixed", 1, 0, 0)])

    def test_crc_detects_corruption(self):
        import pytest as _pytest

        from temporai_mivdp_spark.llmdata.multimodal import _flac_samples

        sig = _flac_test_signal(512, 16, 12)
        payload = bytearray(
            _flac_encode([sig], 8000, 16, 256, [("fixed", 2, 0, 0)])
        )
        payload[-10] ^= 0x40  # corrupt a frame-body byte
        with _pytest.raises(NotImplementedError):
            _flac_samples(bytes(payload))

    def test_streaminfo_only_and_truncation_raise(self):
        import pytest as _pytest

        from temporai_mivdp_spark.llmdata.multimodal import _flac_samples

        with _pytest.raises(NotImplementedError):
            _flac_samples(_flac_bytes())  # junk tail is not a frame
        sig = _flac_test_signal(512, 16, 13)
        payload = _flac_encode([sig], 8000, 16, 256, [("verbatim",)])
        with _pytest.raises(NotImplementedError):
            _flac_samples(payload[: len(payload) - 40])  # truncated

    def test_status_features_and_spectral_tiers(self, spark):
        """The classifier says full ⇔ the sample tier decodes; duration
        and spectral rows flow through the production mapInPandas paths."""
        import numpy as _np

        from temporai_mivdp_spark.llmdata import multimodal

        sr, n = 8000, 4096
        tone = [
            int(20000 * _np.sin(2 * _np.pi * 440.0 * i / sr)) for i in range(n)
        ]
        payload = _flac_encode([tone], sr, 16, 512, [("verbatim",)])
        assert multimodal.media_decode_status(payload) == ("audio", "flac", "full")
        # STREAMINFO-only / junk-tail payloads stay header_only
        assert multimodal.media_decode_status(_flac_bytes()) == (
            "audio", "flac", "header_only",
        )

        media = spark.createDataFrame(
            [(1, payload), (2, _flac_bytes()), (3, _wav_bytes())],
            "media_id: long, payload: binary",
        )
        meta = {r.media_id: r for r in multimodal.audio_metadata(media).collect()}
        assert meta[1].decode_status == "full" and meta[1].codec == "flac"
        assert meta[1].duration_ms == n * 1000 // sr
        assert meta[2].decode_status == "header_only"

        feats = {
            r.media_id: r
            for r in multimodal.audio_features(
                media.filter("media_id = 1").withColumns(
                    {"mime": F.lit(None).cast("string"),
                     "width": F.lit(None).cast("int"),
                     "height": F.lit(None).cast("int"),
                     "duration_ms": F.lit(None).cast("long")}
                )
            ).collect()
        }
        assert feats[1].duration_ms == n * 1000 // sr
        assert float(feats[1].rms) == pytest.approx(20000 / 32768 / _np.sqrt(2), rel=1e-2)

        spec = multimodal.audio_spectral(media.filter("media_id = 1")).collect()[0]
        assert spec.sample_rate == sr
        assert abs(float(spec.dominant_hz) - 440.0) < sr / 4096 + 1e-9


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------


def test_semantic_dedup_keeps_farthest_and_drops_dominated(spark):
    """Hand-built geometry: centroid seeds are the 2 lowest-id vectors
    (axis-aligned); a tight bundle around +x must collapse to ONE kept
    representative — the member FARTHEST from the centroid — while the
    orthogonal singleton and the far-off member survive."""
    from temporai_mivdp_spark.llmdata import dedup as dd
    from temporai_mivdp_spark.llmdata import similarity as sim

    rows = [
        (0, [1.0, 0.0, 0.0]),     # centroid seed A (+x)
        (1, [0.0, 1.0, 0.0]),     # centroid seed B (+y)
        (10, [0.9, 0.1, 0.0]),    # +x bundle
        (11, [0.9, 0.11, 0.0]),   # +x bundle (nearly identical to 10)
        (12, [0.9, 0.12, 0.0]),   # +x bundle
        (13, [0.3, 0.0, 0.95]),   # assigned to A but nearly orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents = sim.deterministic_centroids(emb, n=2)
    out = {r.vec_id: r for r in dd.semantic_dedup(emb, cents, eps=0.98).collect()}

    bundle = [out[i] for i in (10, 11, 12)]
    assert all(r.bucket == 0 for r in bundle)
    kept = [r.vec_id for r in bundle if r.keep]
    # the bundle's farthest-from-centroid member (lowest centroid_sim)
    farthest = min(bundle, key=lambda r: (r.centroid_sim, r.vec_id)).vec_id
    assert kept == [farthest]
    # orthogonal-ish member: no neighbour within eps — survives
    assert out[13].keep
    # seeds: 0 is inside the bundle's eps-ball? cos(0, 10) ~ 0.9938 < 0.98? no:
    # 0.9/sqrt(0.82) = 0.9938 >= 0.98, so the seed competes with the bundle
    # via the dominance rule; just assert the rule's determinism here
    assert {r.vec_id for r in out.values()} == {0, 1, 10, 11, 12, 13}


def test_semantic_dedup_partition_invariant(spark):
    from temporai_mivdp_spark.llmdata import dedup as dd
    from temporai_mivdp_spark.llmdata import similarity as sim

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cents = sim.deterministic_centroids(emb, n=4)
    a = sorted(tuple(r) for r in dd.semantic_dedup(emb, cents, eps=0.5).collect())
    b = sorted(
        tuple(r)
        for r in dd.semantic_dedup(emb.repartition(13), cents, eps=0.5).collect()
    )
    assert a == b
    # every bucket's kept set is non-empty when the bucket is non-empty
    import collections

    per_bucket = collections.defaultdict(list)
    for vec_id, bucket, _cs, keep in a:
        per_bucket[bucket].append(keep)
    assert all(any(keeps) for keeps in per_bucket.values())


def _theora_ident(picw=320, pich=240, frn=25, frd=1, kfgshift=6):
    import struct as s

    return (
        b"\x80theora"
        + bytes([3, 2, 1])                              # VMAJ VMIN VREV
        + s.pack(">HH", (picw + 15) // 16, (pich + 15) // 16)
        + picw.to_bytes(3, "big") + pich.to_bytes(3, "big")
        + bytes([0, 0])                                 # PICX PICY
        + s.pack(">II", frn, frd)
        + (0).to_bytes(3, "big") + (1).to_bytes(3, "big")  # PAR
        + bytes([0]) + (0).to_bytes(3, "big")           # CS NOMBR
        + ((0 << 10) | (kfgshift << 5)).to_bytes(2, "big")  # QUAL|KFGSHIFT|PF|RES
    )


def test_theora_header_stats():
    from temporai_mivdp_spark.llmdata.multimodal import _theora_stats

    # 50 frames at 25 fps: last granule = keyframe 40, 9 p-frames since
    payload = _ogg_pages([
        (_theora_ident(), 0),
        (b"\x00" * 60, (40 << 6) | 9),
    ])
    w, h, frn, frd, n, dur = _theora_stats(payload)
    assert (w, h, frn, frd) == (320, 240, 25, 1)
    assert n == 50 and dur == 2000

    with pytest.raises(NotImplementedError):
        _theora_stats(_vorbis_stream())


def test_video_metadata_rows(spark):
    import numpy as np

    from temporai_mivdp_spark.llmdata import multimodal
    from tests.test_imagecodecs import gif_anim_bytes

    gct = np.array([[255, 0, 0], [0, 255, 0]], np.uint8)
    gif = gif_anim_bytes(
        (3, 2), gct,
        [
            {"indices": np.zeros((2, 3), int), "delay_cs": 30},
            {"indices": np.ones((2, 3), int), "delay_cs": 10},
            {"indices": np.zeros((2, 3), int), "delay_cs": 20},
        ],
    )
    theora = _ogg_pages([(_theora_ident(), 0), (b"\x00" * 60, (40 << 6) | 9)])
    media = spark.createDataFrame(
        [(1, gif), (2, theora), (3, b"garbage-not-a-video"), (4, None)],
        "media_id: long, payload: binary",
    )
    rows = {r.media_id: r for r in multimodal.video_metadata(media).collect()}
    g = rows[1]
    assert (g.codec, g.decode_status) == ("gif", "full")
    assert (g.width, g.height, g.n_frames, g.duration_ms) == (3, 2, 3, 600)
    assert g.fps_milli == 3 * 1_000_000 // 600        # 5 fps
    t = rows[2]
    assert (t.codec, t.decode_status) == ("theora", "header_only")
    assert (t.width, t.height, t.n_frames, t.duration_ms) == (320, 240, 50, 2000)
    assert t.fps_milli == 25000
    assert rows[3].decode_status == "unsupported" and rows[3].codec is None
    assert rows[4].decode_status == "unsupported"

    # the decode-status classifier agrees on modality
    from temporai_mivdp_spark.llmdata.multimodal import media_decode_status

    assert media_decode_status(theora) == ("video", "theora", "header_only")
    assert media_decode_status(gif)[0] == "image"   # stills tier owns GIF


def test_gif_animation_stats_matches_full_decode():
    """The header-only block walk must agree with the real composited
    decoder on frame count and total timeline."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.imagecodecs import gif_frames
    from temporai_mivdp_spark.llmdata.multimodal import _gif_animation_stats
    from tests.test_imagecodecs import gif_anim_bytes

    gct = np.array([[1, 2, 3], [4, 5, 6], [7, 8, 9]], np.uint8)
    payload = gif_anim_bytes(
        (4, 3), gct,
        [
            {"indices": np.zeros((3, 4), int), "delay_cs": 12},
            {"indices": np.ones((3, 4), int), "delay_cs": 0},
            {"indices": np.full((3, 4), 2, int), "delay_cs": 7},
        ],
    )
    w, h, n, dur = _gif_animation_stats(payload)
    frames = gif_frames(payload)
    assert n == len(frames) == 3
    assert dur == sum(d for d, _ in frames) == 190
    assert (w, h) == (4, 3)


def test_semantic_dedup_kept_set_is_eps_separated(spark):
    """Dominance-rule invariant: if two kept items shared a bucket with
    cosine >= eps, the higher-priority one would dominate the other —
    contradiction. So the KEPT set must be pairwise eps-separated
    within every bucket, for any input. Randomized corpora + a
    pathological single-cluster (all-identical-direction) case."""
    import itertools
    import math
    import random

    from temporai_mivdp_spark.llmdata import dedup as dd
    from temporai_mivdp_spark.llmdata import similarity as sim

    def check(rows, n_cent, eps):
        emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        cents = sim.deterministic_centroids(emb, n=n_cent)
        out = dd.semantic_dedup(emb, cents, eps=eps).collect()
        vecs = dict(rows)
        kept_by_bucket = {}
        for r in out:
            if r.keep:
                kept_by_bucket.setdefault(r.bucket, []).append(r.vec_id)
        for bucket, ids in kept_by_bucket.items():
            for a, b in itertools.combinations(ids, 2):
                va, vb = vecs[a], vecs[b]
                cos = sum(x * y for x, y in zip(va, vb)) / (
                    math.sqrt(sum(x * x for x in va)) * math.sqrt(sum(x * x for x in vb))
                )
                assert cos < eps, (bucket, a, b, cos)
        # and nothing vanished
        assert len(out) == len(rows)

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        rows = [(i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(60)]
        check(rows, n_cent=3, eps=0.6)

    # giant single cluster, heavy duplication: 40 near-identical vectors
    # (all assigned to the one centroid) + slight noise — the dominance
    # rule must still produce an eps-separated kept set, not die or
    # keep everything
    rng = random.Random(9)
    base = [1.0, 0.2, 0.1, 0.05]
    rows = [
        (i, [x + rng.gauss(0, 0.001) for x in base]) for i in range(40)
    ]
    check(rows, n_cent=1, eps=0.999)


def _raw_wav(fmt_tag, ch, sr, bits, data, byte_rate=None, extension=None):
    """Hand-assembled RIFF/WAVE (the stdlib wave module refuses to WRITE
    anything but PCM, so G.711/ADPCM/float/EXTENSIBLE fixtures need
    manual chunks). ``extension``: fmt-extension body (appended after a
    cbSize word, the WAVE_FORMAT_EXTENSIBLE layout)."""
    import struct as _struct

    sw = bits // 8 or 1
    br = byte_rate if byte_rate is not None else sr * ch * sw
    fmt = _struct.pack("<HHIIHH", fmt_tag, ch, sr, br, ch * sw, bits)
    if extension is not None:
        fmt += _struct.pack("<H", len(extension)) + extension
    chunks = (
        b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _ext_guid(base_tag):
    return base_tag.to_bytes(2, "little") + bytes(
        [0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x80, 0x00,
         0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71]
    )


def test_float_wav_and_extensible_resolution(spark):
    """IEEE-float WAV (fmt 3, 32/64-bit) decodes exactly (clipped to
    the nominal [-1, 1]); WAVE_FORMAT_EXTENSIBLE resolves through its
    SubFormat GUID to PCM/float; a non-standard GUID stays header
    tier on every surface."""
    import numpy as np
    import struct as s

    from temporai_mivdp_spark.llmdata.multimodal import (
        _wav_samples,
        media_decode_status,
    )

    vals = np.array([0.0, 0.5, -0.5, 1.0, -1.0, 2.0, -3.0])
    f32 = _raw_wav(3, 1, 8000, 32, vals.astype("<f4").tobytes())
    sr, x = _wav_samples(f32)
    assert sr == 8000
    assert np.array_equal(x, np.clip(vals.astype(np.float32), -1, 1))
    assert media_decode_status(f32) == ("audio", "pcm_float", "full")

    f64 = _raw_wav(3, 2, 16000, 64, vals[:6].astype("<f8").tobytes())
    _sr, x = _wav_samples(f64)
    assert np.array_equal(x, np.clip(vals[:6], -1, 1).reshape(-1, 2).mean(axis=1))

    # EXTENSIBLE -> PCM 16-bit: same samples as the plain-PCM twin
    pcm = s.pack("<4h", 0, 1000, -1000, 32767)
    ext = s.pack("<HI", 16, 0x4) + _ext_guid(1)
    wav_ext = _raw_wav(0xFFFE, 1, 8000, 16, pcm, extension=ext)
    _sr, x_ext = _wav_samples(wav_ext)
    _sr, x_pcm = _wav_samples(_raw_wav(1, 1, 8000, 16, pcm))
    assert np.array_equal(x_ext, x_pcm)
    assert media_decode_status(wav_ext) == ("audio", "pcm_wav", "full")

    # EXTENSIBLE -> float
    wav_extf = _raw_wav(
        0xFFFE, 1, 8000, 32, vals.astype("<f4").tobytes(),
        extension=s.pack("<HI", 32, 0x4) + _ext_guid(3),
    )
    assert media_decode_status(wav_extf) == ("audio", "pcm_float", "full")
    _sr, x = _wav_samples(wav_extf)
    assert np.array_equal(x, np.clip(vals.astype(np.float32), -1, 1))

    # non-standard SubFormat GUID: honest header tier, decode raises
    import pytest as _pytest

    bad = _raw_wav(
        0xFFFE, 1, 8000, 16, pcm,
        extension=s.pack("<HI", 16, 0x4) + b"\xde\xad" * 8,
    )
    assert media_decode_status(bad) == ("audio", "wav_fmt_65534", "header_only")
    with _pytest.raises(NotImplementedError, match="SubFormat"):
        _wav_samples(bad)

    # EXTENSIBLE-wrapped ADPCM: the fmt extension holds the GUID block,
    # not the coefficient tables the ADPCM decoders read — honest
    # rejection on every surface, never a silent misparse
    ext_adpcm = _raw_wav(
        0xFFFE, 1, 8000, 4, b"\x00" * 256,
        extension=s.pack("<HI", 256, 0x4) + _ext_guid(2),
    )
    assert media_decode_status(ext_adpcm) == (
        "audio", "wav_fmt_65534", "header_only",
    )
    with _pytest.raises(NotImplementedError, match="ADPCM"):
        _wav_samples(ext_adpcm)

    # both accounting surfaces label unresolvable EXTENSIBLE payloads
    # by the CONTAINER tag (the r9 review caught a 'wav_fmt_-1' leak)
    from temporai_mivdp_spark.llmdata import multimodal as mm

    media = spark.createDataFrame(
        [(1, bad), (2, ext_adpcm)], "media_id: long, payload: binary"
    )
    rows = {r.media_id: r for r in mm.audio_metadata(media).collect()}
    assert rows[1].codec == "wav_fmt_65534"
    assert rows[1].decode_status == "header_only"
    assert rows[2].codec == "wav_fmt_65534"
    assert rows[2].decode_status == "header_only"


def test_g711_tables_match_audioop():
    """The ITU G.711 expansion tables must agree with the stdlib
    reference implementation for all 256 codes, both laws (audioop is
    deprecated-but-present in this interpreter — an independent
    implementation of the same spec)."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from temporai_mivdp_spark.llmdata.multimodal import _ALAW_TABLE, _ULAW_TABLE

    for code in range(256):
        want_u = int.from_bytes(audioop.ulaw2lin(bytes([code]), 2), "little", signed=True)
        want_a = int.from_bytes(audioop.alaw2lin(bytes([code]), 2), "little", signed=True)
        assert int(_ULAW_TABLE[code]) == want_u, ("ulaw", code)
        assert int(_ALAW_TABLE[code]) == want_a, ("alaw", code)


def test_wav_g711_and_24bit_sample_decode():
    """_wav_samples over a µ-law-companded sine must recover the PCM
    waveform (audioop lin2ulaw ENCODES test-side — independent of the
    decode tables' derivation), and 24-bit PCM must round-trip known
    sample values exactly."""
    import struct as _struct
    import warnings

    import numpy as np

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from temporai_mivdp_spark.llmdata.multimodal import _wav_samples

    sr, n = 8000, 800
    t = np.arange(n)
    pcm = (10000.0 * np.sin(2 * np.pi * 440.0 * t / sr)).astype("<i2")
    ulaw = audioop.lin2ulaw(pcm.tobytes(), 2)
    got_sr, x = _wav_samples(_raw_wav(7, 1, sr, 8, ulaw))
    assert got_sr == sr and len(x) == n
    # companding is lossy but bounded: worst-case µ-law step at this
    # amplitude is ~1/32 of full scale in the top segment
    assert np.max(np.abs(x - pcm.astype(np.float64) / 32768.0)) < 0.04
    alaw = audioop.lin2alaw(pcm.tobytes(), 2)
    got_sr, xa = _wav_samples(_raw_wav(6, 1, sr, 8, alaw))
    assert got_sr == sr and np.max(np.abs(xa - pcm / 32768.0)) < 0.04

    # 24-bit PCM: exact positive, negative, and extreme values
    vals = [0, 1, -1, 8388607, -8388608, 123456, -654321]
    raw = b"".join(_struct.pack("<i", v)[:3] for v in vals)
    got_sr, x24 = _wav_samples(_raw_wav(1, 1, sr, 24, raw))
    assert got_sr == sr
    assert np.array_equal(x24 * 8388608.0, np.array(vals, dtype=np.float64))


def test_audio_metadata_g711_and_compressed_wav(spark):
    """audio_metadata must report G.711 WAVs as 'full' with exact
    sample math, and unknown compressed tags (ADPCM) as 'header_only'
    with the byte-rate duration."""
    ulaw = _raw_wav(7, 2, 8000, 8, b"\x55" * 1600)  # 800 frames stereo
    adpcm = _raw_wav(17, 1, 8000, 4, b"\x00" * 2000, byte_rate=4000)
    rows = [
        (1, ulaw, None, None, None, None),
        (2, adpcm, None, None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in multimodal.audio_metadata(media).collect()}
    assert (got[1].codec, got[1].decode_status, got[1].duration_ms,
            got[1].sample_rate, got[1].channels) == ("g711_ulaw", "full", 100, 8000, 2)
    # 2000 bytes at 4000 B/s -> 500 ms, no sample decode claimed
    assert (got[2].codec, got[2].decode_status, got[2].duration_ms,
            got[2].sample_rate) == ("wav_fmt_17", "header_only", 500, 8000)


def _ima_encode_block(samples, ch, align, state=None):
    """Test-side WAV IMA-ADPCM block encoder (the standard IMA encode
    loop over the same step table — decode correctness is independently
    pinned against audioop's C step function, not against this)."""
    import struct as _struct

    from temporai_mivdp_spark.llmdata.multimodal import (
        _IMA_INDEX_TABLE,
        _IMA_STEP_TABLE,
        _ima_samples_per_block,
        _ima_step,
    )

    spb = _ima_samples_per_block(align, ch)
    assert ch == 1, "test encoder: mono fixtures"
    index = 0 if state is None else state
    pred = int(samples[0])
    out = _struct.pack("<hBB", pred, index, 0)
    recon = [pred]
    nibs = []
    for s_val in samples[1:spb]:
        step = _IMA_STEP_TABLE[index]
        diff = s_val - pred
        nib = 8 if diff < 0 else 0
        if diff < 0:
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        pred, index = _ima_step(pred, index, nib)
        recon.append(pred)
        nibs.append(nib)
    while len(nibs) < (align - 4) * 2:
        pred, index = _ima_step(pred, index, 0)
        recon.append(pred)
        nibs.append(0)
    body = bytes(
        (nibs[i] & 0x0F) | (nibs[i + 1] << 4) for i in range(0, len(nibs), 2)
    )
    return out + body, index, recon


def test_ima_step_matches_audioop_exhaustively():
    """The IMA step function must agree with stdlib audioop's C
    implementation for every (state index, nibble) pair and across
    predictor values — the decode table/arithmetic pin."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from temporai_mivdp_spark.llmdata.multimodal import _ima_step

    for index in range(89):
        for nib in range(16):
            for pred in (-32768, -1234, 0, 999, 32767):
                # audioop consumes the HIGH nibble of each byte first
                out, _ = audioop.adpcm2lin(bytes([nib << 4]), 2, (pred, index))
                want = int.from_bytes(out[:2], "little", signed=True)
                got, _ = _ima_step(pred, index, nib)
                assert got == want, (index, nib, pred)


def test_ima_adpcm_wav_decode_and_metadata(spark):
    """A mono 440 Hz sine encoded to WAV IMA-ADPCM blocks (test-side
    encoder) must decode to the waveform within ADPCM's tracking error,
    audio_metadata must report exact block-math duration as 'full', and
    the spectral tier must recover the tone through the new path."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import (
        _ima_samples_per_block,
        _wav_samples,
    )

    sr, align = 8000, 256
    spb = _ima_samples_per_block(align, 1)  # 505
    n_blocks = 4
    t = np.arange(n_blocks * spb)
    pcm = (9000.0 * np.sin(2 * np.pi * 440.0 * t / sr)).astype(int)
    data, state, recon_all = b"", None, []
    for i in range(n_blocks):
        seg = pcm[i * spb : (i + 1) * spb]
        block, state, recon = _ima_encode_block(list(seg), 1, align, state)
        data += block
        recon_all.extend(recon)
    payload = _raw_wav(0x11, 1, sr, 4, data, byte_rate=4055)
    # hand-patch block align into the fmt chunk (offset 32 in canonical
    # RIFF: 12 header + 8 chunk hdr + tag2 ch2 sr4 br4 = 32)
    payload = payload[:32] + align.to_bytes(2, "little") + payload[34:]

    got_sr, x = _wav_samples(payload)
    assert got_sr == sr and len(x) == n_blocks * spb
    # the decoder must reproduce the encoder-side reconstruction EXACTLY
    # (the step function is the shared spec; its correctness is pinned
    # against audioop above)
    assert np.array_equal(x * 32768.0, np.array(recon_all, dtype=np.float64))
    # and once the step size has adapted past the initial attack, the
    # waveform itself tracks within ADPCM error
    assert np.max(np.abs(x[64:] - pcm[64:] / 32768.0)) < 0.08

    media = spark.createDataFrame(
        [(1, bytearray(payload), "audio/wav", None, None, None)],
        multimodal.MEDIA_SCHEMA,
    )
    meta = multimodal.audio_metadata(media).collect()[0]
    assert (meta.codec, meta.decode_status, meta.sample_rate, meta.channels) == (
        "ima_adpcm", "full", sr, 1
    )
    assert meta.duration_ms == n_blocks * spb * 1000 // sr

    spec = multimodal.audio_spectral(media, n_bands=8).collect()[0]
    assert abs(float(spec.dominant_hz) - 440.0) <= 2.0


def test_ima_adpcm_truncated_metadata_matches_sample_tier():
    """On a TRUNCATED IMA-ADPCM payload (trailing partial block) the
    metadata tier's sample count must equal what the sample tier
    actually decodes — both walk the same block bound
    (`_ima_data_samples` mirrors `_ima_adpcm_samples`), so duration_ms
    can never disagree with audio_features/audio_spectral."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import (
        _ima_adpcm_samples,
        _ima_data_samples,
        _ima_samples_per_block,
    )

    sr, align, ch = 8000, 256, 1
    spb = _ima_samples_per_block(align, ch)
    t = np.arange(3 * spb)
    pcm = (9000.0 * np.sin(2 * np.pi * 440.0 * t / sr)).astype(int)
    data, state = b"", None
    for i in range(3):
        block, state, _ = _ima_encode_block(
            list(pcm[i * spb : (i + 1) * spb]), ch, align, state
        )
        data += block
    # lop off part of the last block at assorted cut points: mid-body
    # (partial block decodes), inside the header (partial block skipped),
    # and exactly at a block boundary (agreement on the easy case too)
    for cut in (0, 1, 3, align - 5, align - 37, align // 2, align - 4 * ch):
        trunc = data[: len(data) - cut]
        decoded = _ima_adpcm_samples(trunc, ch, align)
        assert len(decoded) == _ima_data_samples(len(trunc), ch, align), cut


def test_decode_image_strict_flag_on_hostile_media(spark):
    """decode_image(strict=False) must degrade truncated-IDAT PNGs and
    zero-width BMPs to NULL features (one corrupt image in a 100 TB
    crawl must not kill the task); strict=True (the default the
    capability unit tests pin against) must still raise. The fixtures
    come from the roundtrip generators' adversarial id range."""
    import tempfile

    import pandas as pd
    import pytest as _pytest

    from temporai_mivdp_spark.queries_llm import _image_fixture

    # build the two hostile payload classes through the same code path
    # the entry uses: run the fixture generator over adversarial ids
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9_000_000, 9_000_001]})
    )

    with tempfile.TemporaryDirectory() as d:
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        media = _image_fixture(spark, d)
        got = {
            r.media_id: r.features
            for r in multimodal.decode_image(media, strict=False).collect()
        }
        assert got == {9_000_000: None, 9_000_001: None}
        with _pytest.raises(Exception):
            multimodal.decode_image(media, strict=True).collect()


def test_video_fixture_gif_frames_decode_exactly(spark):
    """The video roundtrip entry claims decode_status='full' for its
    GIF class via the block-walk accounting — this pins the claim to
    the PIXEL tier: imagecodecs.gif_frames must decode every sampled
    fixture to the exact constructed palette color, frame count, and
    GCE delay, and the Theora class must parse through _theora_stats
    with the generator's exact granule/rational algebra."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.imagecodecs import gif_frames
    from temporai_mivdp_spark.llmdata.multimodal import _theora_stats
    from temporai_mivdp_spark.queries_llm import _video_fixture

    fixture = _video_fixture(spark, "/root/testdata/sf0.001")
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    for r in fixture.filter("media_id % 5 = 0 AND media_id < 9000000").limit(8).collect():
        did = r.media_id
        # n keys off did // 5 since the frame-sampling entry landed
        # (did % 5 is 0 on this class, which would pin n to 1)
        w, h, n, d = 2 + did % 9, 1 + did % 7, 1 + (did // 5) % 5, 3 + did % 11
        frames = gif_frames(bytes(r.payload))
        assert len(frames) == n
        for f, (delay, px) in enumerate(frames):
            assert delay == d * 10
            assert px.shape == (h, w, 3)
            assert (px == np.array(pal[f % 4])).all()
    for r in fixture.filter("media_id % 5 = 1 AND media_id < 9000000").limit(8).collect():
        did = r.media_id
        frn, frd = ((24000, 1001), (25000, 1000), (30000, 1001))[did % 3]
        m = 2 + did % 49
        got = _theora_stats(bytes(r.payload))
        assert got == (
            16 * (1 + did % 20), 16 * (1 + did % 11), frn, frd, m,
            m * 1000 * frd // frn,
        )


def test_video_fixture_avi_frames_decode_exactly(spark):
    """The AVI class (round 9) must pixel-decode through
    multimodal.avi_frames to the exact constructed BGR-swapped color,
    frame count, dims, and granule-exact dwRate/dwScale delays — the
    'full' claim's honesty pin, like the GIF twin above."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import avi_frames
    from temporai_mivdp_spark.queries_llm import _video_fixture

    fixture = _video_fixture(spark, "/root/testdata/sf0.001")
    rows = fixture.filter("media_id % 5 = 4 AND media_id < 9000000").limit(8).collect()
    assert rows
    for r in rows:
        did = r.media_id
        w, h, n = 2 + did % 7, 1 + did % 5, 1 + did % 6
        rate, scale = ((30000, 1001), (25, 1), (30, 1))[did % 3]
        frames = avi_frames(bytes(r.payload))
        assert len(frames) == n
        rgb = np.array([(did // 7) % 256, (did // 3) % 256, did % 256])
        for k, (delay, px) in enumerate(frames):
            want = (k + 1) * 1000 * scale // rate - k * 1000 * scale // rate
            assert delay == want
            assert px.shape == (h, w, 3)
            assert (px == rgb).all(), (did, k)


def _ms_encode_block(chan_samples, ch, align, idx=0, delta0=64, table=None):
    """Test-side WAV MS-ADPCM block encoder built on the SAME spec
    primitives the decoder uses (_ms_step) — there is no independent
    MS-ADPCM decoder in this container (audioop's adpcm is the
    Intel/DVI variant), so the decode pin is exact bit-round-trip of
    this encoder's reconstruction, the same contract the IMA tier uses
    for its block LAYOUT. Returns (block_bytes, per-channel recon)."""
    import struct as _struct

    from temporai_mivdp_spark.llmdata.multimodal import (
        _MS_COEF1,
        _MS_COEF2,
        _ms_step,
    )

    if table is not None:
        c1, c2 = table[0][idx], table[1][idx]
    else:
        c1, c2 = _MS_COEF1[idx], _MS_COEF2[idx]
    s2s = [int(chan_samples[c][0]) for c in range(ch)]
    s1s = [int(chan_samples[c][1]) for c in range(ch)]
    deltas = [delta0] * ch
    recon = [[s2s[c], s1s[c]] for c in range(ch)]
    block = bytes([idx] * ch)
    block += b"".join(_struct.pack("<h", deltas[c]) for c in range(ch))
    block += b"".join(_struct.pack("<h", s1s[c]) for c in range(ch))
    block += b"".join(_struct.pack("<h", s2s[c]) for c in range(ch))
    nibs = []
    for k in range(2 * (align - 7 * ch)):
        c = k % ch
        target = int(chan_samples[c][2 + k // ch])
        pred = (s1s[c] * c1 + s2s[c] * c2) >> 8
        want = max(-8, min(7, int((target - pred) / deltas[c])))
        nib = want & 0x0F
        s, deltas[c] = _ms_step(nib, s1s[c], s2s[c], deltas[c], c1, c2)
        s2s[c], s1s[c] = s1s[c], s
        recon[c].append(s)
        nibs.append(nib)
    block += bytes((nibs[i] << 4) | nibs[i + 1] for i in range(0, len(nibs), 2))
    assert len(block) == align
    return block, recon


def _ms_spb(align, ch):
    return 2 + 2 * (align - 7 * ch) // ch


def test_ms_adpcm_wav_decode_and_metadata(spark):
    """A mono 440 Hz sine encoded to WAV MS-ADPCM blocks (test-side
    spec encoder) must decode to the encoder's reconstruction EXACTLY,
    audio_metadata must report exact block-math duration as 'full', and
    the spectral tier must recover the tone through the new path."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _wav_samples

    sr, align, ch = 8000, 256, 1
    spb = _ms_spb(align, ch)  # 500
    n_blocks = 4
    t = np.arange(n_blocks * spb)
    pcm = (9000.0 * np.sin(2 * np.pi * 440.0 * t / sr)).astype(int)
    data, recon_all = b"", []
    for i in range(n_blocks):
        seg = pcm[i * spb : (i + 1) * spb]
        block, recon = _ms_encode_block([list(seg)], ch, align, idx=1)
        data += block
        recon_all.extend(recon[0])
    payload = _raw_wav(0x02, ch, sr, 4, data, byte_rate=4000)
    payload = payload[:32] + align.to_bytes(2, "little") + payload[34:]

    got_sr, x = _wav_samples(payload)
    assert got_sr == sr and len(x) == n_blocks * spb
    assert np.array_equal(x * 32768.0, np.array(recon_all, dtype=np.float64))
    # past the initial delta adaptation the waveform tracks within
    # ADPCM error
    assert np.max(np.abs(x[64:] - pcm[64:] / 32768.0)) < 0.08

    media = spark.createDataFrame(
        [(1, bytearray(payload), "audio/wav", None, None, None)],
        multimodal.MEDIA_SCHEMA,
    )
    meta = multimodal.audio_metadata(media).collect()[0]
    assert (meta.codec, meta.decode_status, meta.sample_rate, meta.channels) == (
        "ms_adpcm", "full", sr, ch
    )
    assert meta.duration_ms == n_blocks * spb * 1000 // sr

    spec = multimodal.audio_spectral(media, n_bands=8).collect()[0]
    assert abs(float(spec.dominant_hz) - 440.0) <= 2.0


def test_ms_adpcm_all_predictor_pairs_roundtrip():
    """Every one of the 7 spec coefficient pairs must round-trip the
    encoder reconstruction exactly (the pairs hit different prediction
    weights, so an >>8-vs-/256 or clamp bug surfaces per-index)."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _ms_adpcm_samples

    align, ch = 72, 1
    spb = _ms_spb(align, ch)
    t = np.arange(spb)
    pcm = (
        7000.0 * np.sin(2 * np.pi * 700.0 * t / 8000.0)
        + 2500.0 * np.sin(2 * np.pi * 150.0 * t / 8000.0)
    ).astype(int)
    for idx in range(7):
        block, recon = _ms_encode_block([list(pcm)], ch, align, idx=idx)
        x = _ms_adpcm_samples(block, ch, align)
        assert np.array_equal(
            x * 32768.0, np.array(recon[0], dtype=np.float64)
        ), idx


def test_ms_adpcm_stereo_nibble_rotation():
    """Stereo blocks interleave one nibble per channel, HIGH nibble
    first — a swapped rotation or nibble order decodes to the wrong
    channel and breaks the exact channel-mean equality here."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _ms_adpcm_samples

    align, ch = 142, 2
    spb = _ms_spb(align, ch)
    t = np.arange(spb)
    left = (8000.0 * np.sin(2 * np.pi * 300.0 * t / 8000.0)).astype(int)
    right = (6000.0 * np.sin(2 * np.pi * 1100.0 * t / 8000.0)).astype(int)
    block, recon = _ms_encode_block([list(left), list(right)], ch, align, idx=0)
    x = _ms_adpcm_samples(block, ch, align)
    want = (
        np.array(recon[0], dtype=np.float64) + np.array(recon[1], dtype=np.float64)
    ) / 2.0
    assert np.array_equal(x * 32768.0, want)


def test_ms_adpcm_fmt_extension_coef_table_and_caps():
    """Real-encoder fidelity (round-9 review finding): a fmt extension
    with CUSTOM coefficient pairs (predictor idx past the standard 7)
    must decode with those pairs; wSamplesPerBlock must cap per-block
    output; a fact chunk must trim the padded final block — and the
    metadata math (_ms_data_samples) must agree with the decoder on
    every path."""
    import struct as _struct

    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import (
        _MS_COEF1,
        _MS_COEF2,
        _ms_adpcm_samples,
        _ms_coef_table,
        _ms_data_samples,
    )

    # 9-pair table: the standard 7 (the spec requires them first) plus
    # two custom pairs; encode with idx=8 so the standard-table path
    # would produce different samples
    c1 = list(_MS_COEF1) + [300, 212]
    c2 = list(_MS_COEF2) + [-100, 44]
    align, ch = 72, 1
    spb = _ms_spb(align, ch)
    t = np.arange(3 * spb)
    pcm = (8000.0 * np.sin(2 * np.pi * 500.0 * t / 8000.0)).astype(int)

    def ext(wspb, ncoef=9):
        body = _struct.pack("<HHH", 4 + 4 * ncoef, wspb, ncoef)
        for i in range(ncoef):
            body += _struct.pack("<hh", c1[i], c2[i])
        return body

    data = b""
    for i in range(3):
        block, _ = _ms_encode_block(
            [list(pcm[i * spb : (i + 1) * spb])], ch, align,
            idx=8, table=(c1, c2),
        )
        data += block
    # extension parse
    got_c1, got_c2, got_wspb = _ms_coef_table(ext(spb))
    assert (got_c1, got_c2, got_wspb) == (c1, c2, spb)
    # custom pairs honored: re-encode reconstruction must round-trip
    _, recon = _ms_encode_block(
        [list(pcm[:spb])], ch, align, idx=8, table=(c1, c2)
    )
    x = _ms_adpcm_samples(data[:align], ch, align, extra=ext(spb))
    assert np.array_equal(x * 32768.0, np.array(recon[0], dtype=np.float64))
    # ...and the standard table would NOT (idx clamps to pair 6)
    x_std = _ms_adpcm_samples(data[:align], ch, align)
    assert not np.array_equal(x_std, x)

    # wSamplesPerBlock cap + fact trim, decoder vs metadata math
    for wspb, fact in ((spb, None), (spb - 17, None), (spb, 3 * spb - 40),
                       (spb - 5, 2 * spb)):
        dec = _ms_adpcm_samples(data, ch, align, extra=ext(wspb), fact=fact)
        assert len(dec) == _ms_data_samples(
            len(data), ch, align, wspb, fact
        ), (wspb, fact)


def test_ms_adpcm_fact_chunk_trims_metadata_duration(spark):
    """A WAV carrying a fact chunk whose sample count is smaller than
    the block math (padded final block — what real encoders emit) must
    report the fact-trimmed duration in audio_metadata, and the sample
    tier must decode exactly that many samples."""
    import struct as _struct

    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import _wav_samples

    sr, align, ch = 8000, 256, 1
    spb = _ms_spb(align, ch)
    t = np.arange(2 * spb)
    pcm = (9000.0 * np.sin(2 * np.pi * 440.0 * t / sr)).astype(int)
    data = b""
    for i in range(2):
        block, _ = _ms_encode_block(
            [list(pcm[i * spb : (i + 1) * spb])], ch, align, idx=1
        )
        data += block
    fact = 2 * spb - 123  # final block padded by 123 samples
    fmt = _struct.pack("<HHIIHH", 2, ch, sr, 4000, align, 4)
    chunks = (
        b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"fact" + _struct.pack("<I", 4) + _struct.pack("<I", fact)
        + b"data" + _struct.pack("<I", len(data)) + data
    )
    payload = b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    got_sr, x = _wav_samples(payload)
    assert (got_sr, len(x)) == (sr, fact)
    media = spark.createDataFrame(
        [(1, bytearray(payload), "audio/wav", None, None, None)],
        multimodal.MEDIA_SCHEMA,
    )
    meta = multimodal.audio_metadata(media).collect()[0]
    assert (meta.codec, meta.decode_status) == ("ms_adpcm", "full")
    assert meta.duration_ms == fact * 1000 // sr


def test_audio_tiers_strict_flag_on_unsupported_payloads(spark):
    """audio_features/audio_spectral(strict=False) must degrade
    unsupported/malformed payloads to NULL rows — the decode_image
    crawl contract — while the strict default still raises (pinned by
    the capability tests)."""
    import pytest as _pytest

    mp3ish = _raw_wav(0x55, 1, 8000, 0, b"\x00" * 64, byte_rate=4000)
    good = _wav_bytes()
    rows = [
        (1, bytearray(good), "audio/wav", None, None, None),
        (2, bytearray(mp3ish), "audio/wav", None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    with _pytest.raises(Exception):
        multimodal.audio_features(media).collect()
    with _pytest.raises(Exception):
        multimodal.audio_spectral(media).collect()
    feats = {
        r.media_id: r
        for r in multimodal.audio_features(media, strict=False).collect()
    }
    assert feats[1].rms is not None and feats[2].rms is None
    spec = {
        r.media_id: r
        for r in multimodal.audio_spectral(media, strict=False).collect()
    }
    assert spec[1].dominant_hz is not None and spec[2].dominant_hz is None


def test_sample_frames_mjpeg_avi_timeline(spark):
    """sample_frames routes RIFF/AVI payloads through avi_frames: an
    MJPEG AVI at 10 fps yields one tick row per every_ms with features
    exactly matching a driver-side jpeg_pixels decode of the frame each
    tick lands on — the AVI twin of the GIF timeline test."""
    import struct as s

    import numpy as np

    from temporai_mivdp_spark.llmdata.imagecodecs import jpeg_pixels
    from tests.test_imagecodecs import _smooth_rgb, jpeg_bytes

    def chunk(cid, body):
        return cid + s.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(t, body):
        return chunk(b"LIST", t + body)

    w = h = 16
    jpegs = [jpeg_bytes(_smooth_rgb(h, w, seed=k)) for k in range(3)]
    avih = s.pack("<10I", 100000, 0, 0, 0, 3, 0, 1, 0, w, h) + bytes(16)
    strh = (
        b"vids" + b"MJPG" + s.pack("<IHH", 0, 0, 0)
        + s.pack("<IIII", 0, 1, 10, 0) + s.pack("<I", 3)
        + s.pack("<IiI", 0, -1, 0) + s.pack("<hhhh", 0, 0, w, h)
    )
    strf = s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    payload = b"RIFF" + s.pack("<I", len(body)) + body

    media = spark.createDataFrame(
        [(5, bytearray(payload), "video/avi", None, None, None)],
        multimodal.MEDIA_SCHEMA,
    )
    got = {
        r.frame_ms: r.features
        for r in multimodal.sample_frames(media, every_ms=50).collect()
    }
    # 3 frames @ 10 fps = 300 ms -> ticks 0,50,...,250; frame k shows
    # during [100k, 100k+100)
    assert sorted(got) == [0, 50, 100, 150, 200, 250]

    def feats(px):
        px = px.astype(np.float64)
        lum = px[:, :, 0] * 0.299 + px[:, :, 1] * 0.587 + px[:, :, 2] * 0.114
        vals = [
            float(px.shape[1]), float(px.shape[0]),
            float(px[:, :, 0].mean()), float(px[:, :, 1].mean()),
            float(px[:, :, 2].mean()),
            float(lum.std()), float(lum.min()), float(lum.max()),
        ]
        return ",".join(str(round(v, 6)) for v in vals)

    for t in sorted(got):
        assert got[t] == feats(jpeg_pixels(jpegs[t // 100])), t


def test_sample_frames_strict_flag_skips_non_gif(spark):
    """sample_frames(strict=False) must skip undecodable payloads (no
    ticks emitted) while the default raises — the third member of the
    crawl-mode contract family."""
    import numpy as np
    import pytest as _pytest

    from tests.test_imagecodecs import gif_anim_bytes

    gct = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)
    gif = gif_anim_bytes(
        (3, 2), gct, [{"indices": np.zeros((2, 3), int), "delay_cs": 10}]
    )
    rows = [
        (1, bytearray(gif), "image/gif", None, None, None),
        (2, bytearray(b"JUNK-not-a-gif-payload"), "video/mp4", None, None, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    with _pytest.raises(Exception):
        multimodal.sample_frames(media, every_ms=50).collect()
    got = multimodal.sample_frames(media, every_ms=50, strict=False).collect()
    assert got and all(r.media_id == 1 for r in got)


def test_ima_adpcm_extension_wspb_and_fact_match():
    """IMA's fmt extension (cbSize + wSamplesPerBlock) and a fact chunk
    must cap/trim the decoder and the metadata math identically."""
    import struct as _struct

    from temporai_mivdp_spark.llmdata.multimodal import (
        _ima_adpcm_samples,
        _ima_data_samples,
        _ima_ext_wspb,
        _ima_samples_per_block,
    )

    align, ch = 256, 1
    spb = _ima_samples_per_block(align, ch)
    data = (_struct.pack("<hBB", 0, 0, 0) + bytes(align - 4)) * 3
    assert _ima_ext_wspb(_struct.pack("<HH", 2, spb - 9)) == spb - 9
    assert _ima_ext_wspb(b"") is None
    for wspb, fact in ((None, None), (spb - 9, None), (None, 3 * spb - 50),
                       (spb - 9, 2 * spb)):
        extra = _struct.pack("<HH", 2, wspb) if wspb else b""
        dec = _ima_adpcm_samples(data, ch, align, extra=extra, fact=fact)
        assert len(dec) == _ima_data_samples(
            len(data), ch, align, wspb, fact
        ), (wspb, fact)


def test_adpcm_closed_form_sample_counts_match_decoders():
    """The O(1) closed forms (_ms_data_samples / _ima_data_samples)
    must equal the decoders' actual output length for randomized
    (channels, align, byte-length) lattices including partial trailing
    blocks and sub-header tails — the accounting tier's block math is
    derived, so pin it against the walk it replaces."""
    import random

    from temporai_mivdp_spark.llmdata.multimodal import (
        _ima_adpcm_samples,
        _ima_data_samples,
        _ms_adpcm_samples,
        _ms_data_samples,
    )

    rng = random.Random(42)
    for _ in range(150):
        ch = rng.choice([1, 2])
        align = rng.choice([8, 12, 64, 128, 256, 1024]) + 7 * ch
        n_blocks = rng.randint(0, 4)
        cut = rng.randint(0, align + 7 * ch)
        data = bytes(align) * n_blocks
        data = data[: max(0, len(data) - cut)]
        assert len(_ms_adpcm_samples(data, ch, align)) == _ms_data_samples(
            len(data), ch, align
        ), ("ms", ch, align, len(data))
        ima_align = max(align, 4 * ch + 4)
        assert len(
            _ima_adpcm_samples(data, ch, ima_align)
        ) == _ima_data_samples(len(data), ch, ima_align), (
            "ima", ch, ima_align, len(data)
        )


def test_ms_adpcm_truncated_metadata_matches_sample_tier():
    """Same contract as the IMA tier: on truncated payloads the
    metadata sample count (_ms_data_samples) must equal what the sample
    tier actually decodes — both walk the same block bound."""
    import numpy as np

    from temporai_mivdp_spark.llmdata.multimodal import (
        _ms_adpcm_samples,
        _ms_data_samples,
    )

    align, ch = 128, 1
    spb = _ms_spb(align, ch)
    t = np.arange(3 * spb)
    pcm = (9000.0 * np.sin(2 * np.pi * 440.0 * t / 8000.0)).astype(int)
    data = b""
    for i in range(3):
        block, _ = _ms_encode_block(
            [list(pcm[i * spb : (i + 1) * spb])], ch, align
        )
        data += block
    for cut in (0, 1, 3, align - 8, align - 37, align // 2, align - 7 * ch):
        trunc = data[: len(data) - cut]
        decoded = _ms_adpcm_samples(trunc, ch, align)
        assert len(decoded) == _ms_data_samples(len(trunc), ch, align), cut


def test_remove_duplicated_spans_matches_bruteforce(spark):
    """remove_duplicated_spans (round 12) vs an independent brute-force
    Python restatement of the Lee et al. policy: per duplicated n-token
    span, the min-id doc keeps it, every other doc removes the union of
    its duplicated [pos, pos+n) intervals; short docs pass through.
    Also pins the corpus invariant (one occurrence of every duplicated
    span survives) and the coverage link (removed_tokens equals
    span_coverage's covered_tokens on non-keeper docs with no
    keeper-side overlap)."""
    import re

    n, min_docs = 3, 2
    boiler = "subscribe to our newsletter today please"
    rows = [
        (10, f"alpha beta gamma {boiler} delta epsilon zeta eta"),
        (20, f"{boiler} one two three four five six"),
        (30, "uniquex " * 8),  # in-doc repeats only: single doc, kept whole
        (40, "short text"),  # 2 tokens < n -> pass-through
        (50, f"seven eight nine {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    got = {
        r.doc_id: (r.text_clean, r.n_tokens, r.removed_tokens)
        for r in dedup.remove_duplicated_spans(
            docs, n=n, min_docs=min_docs
        ).collect()
    }

    # brute force, same normalization (lower, collapse ws, trim)
    norm = {
        d: re.sub(r"\s+", " ", t.lower()).strip().split(" ") for d, t in rows
    }
    from collections import defaultdict

    span_docs = defaultdict(set)
    for d, toks in norm.items():
        for i in range(len(toks) - n + 1):
            span_docs[tuple(toks[i : i + n])].add(d)
    dup = {s: ds for s, ds in span_docs.items() if len(ds) >= min_docs}
    want = {}
    for d, toks in norm.items():
        remove = set()
        for i in range(len(toks) - n + 1):
            s = tuple(toks[i : i + n])
            if s in dup and d != min(dup[s]):
                remove.update(range(i, i + n))
        clean = " ".join(t for i, t in enumerate(toks) if i not in remove)
        want[d] = (clean, len(toks), len(remove))
    assert got == want

    # invariant: every duplicated span still occurs somewhere
    surviving = " || ".join(v[0] for v in got.values())
    for s in dup:
        assert " ".join(s) in surviving, s
    # and the hot boilerplate actually got removed from non-keepers
    assert got[20][2] > 0 and got[50][2] > 0 and got[10][2] == 0


def test_remove_duplicated_spans_randomized_differential(spark):
    """Seeded random corpora (shared phrase snippets spliced into random
    filler) against the same brute-force restatement — the policy holds
    under overlap patterns a hand fixture doesn't reach (spans crossing
    splice boundaries, multiple hot phrases, in-doc repetition of a
    cross-doc span)."""
    import random
    import re
    from collections import defaultdict

    n, min_docs = 3, 2
    rng = random.Random(12012)
    phrases = [
        ["the", "quick", "brown", "fox", "jumps"],
        ["terms", "of", "service", "apply", "here", "now"],
        ["click", "to", "accept", "cookies"],
    ]
    rows = []
    for d in range(40):
        toks = []
        for _ in range(rng.randint(1, 4)):
            toks += [f"w{rng.randint(0, 30)}" for _ in range(rng.randint(0, 6))]
            if rng.random() < 0.7:
                toks += rng.choice(phrases)
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    got = {
        r.doc_id: (r.text_clean, r.removed_tokens)
        for r in dedup.remove_duplicated_spans(
            docs, n=n, min_docs=min_docs
        ).collect()
    }

    norm = {
        d: re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        for d, t in rows
        if t is not None
    }
    span_docs = defaultdict(set)
    for d, toks in norm.items():
        for i in range(len(toks) - n + 1):
            span_docs[tuple(toks[i : i + n])].add(d)
    dup = {s for s, ds in span_docs.items() if len(ds) >= min_docs}
    keeper = {s: min(ds) for s, ds in span_docs.items() if len(ds) >= min_docs}
    want = {}
    for d, toks in norm.items():
        remove = set()
        for i in range(len(toks) - n + 1):
            s = tuple(toks[i : i + n])
            if s in dup and d != keeper[s]:
                remove.update(range(i, i + n))
        want[d] = (
            " ".join(t for i, t in enumerate(toks) if i not in remove),
            len(remove),
        )
    assert got == want
