"""Tests: skew utilities and the stateful streaming ffill."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from temporai_mivdp_spark.operators.skew import salted_group_count, salted_join
from temporai_mivdp_spark.streaming.stateful import stream_ffill
from tests.conftest import ts


def test_salted_group_count_matches_plain(spark):
    rows = [(1, i) for i in range(500)] + [(2, i) for i in range(7)]
    df = spark.createDataFrame(rows, "k: long, v: long")
    got = {r.k: r.n for r in salted_group_count(df, ["k"], salt_buckets=8).collect()}
    assert got == {1: 500, 2: 7}


def test_salted_join_matches_plain_join(spark):
    facts = spark.createDataFrame(
        [(1, i) for i in range(300)] + [(2, 0), (3, 1)], "k: long, v: long"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], "k: long, name: string")
    got = salted_join(facts, dim, on="k", salt_buckets=4)
    plain = facts.join(dim, "k")
    assert got.count() == plain.count() == 301
    assert {r.name for r in got.collect()} == {"hot", "cold"}


def test_stream_ffill_carries_state_across_microbatches(spark):
    # two parquet files -> maxFilesPerTrigger=1 -> two micro-batches; the
    # fill for batch-2's leading null must come from batch-1's state.
    d = tempfile.mkdtemp(prefix="ffill-src-")
    batch1 = spark.createDataFrame(
        [(1, ts("2024-01-01 00:00:00"), 5.0), (1, ts("2024-01-01 01:00:00"), None)],
        "series_key: long, ts: timestamp, value: double",
    )
    batch2 = spark.createDataFrame(
        [(1, ts("2024-01-01 02:00:00"), None), (1, ts("2024-01-01 03:00:00"), 9.0)],
        "series_key: long, ts: timestamp, value: double",
    )
    batch1.coalesce(1).write.parquet(os.path.join(d, "b=1"))
    batch2.coalesce(1).write.parquet(os.path.join(d, "b=2"))

    src = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    q = (
        stream_ffill(src)
        .writeStream.format("memory")
        .queryName("t_ffill")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.ts: r.value_filled
        for r in spark.sql("select * from t_ffill").collect()
    }
    assert got[ts("2024-01-01 01:00:00")] == 5.0
    assert got[ts("2024-01-01 02:00:00")] in (5.0, 9.0)  # 5.0 if batches ordered
    assert got[ts("2024-01-01 03:00:00")] == 9.0
    assert len(got) == 4


# ---------------------------------------------------------------------------
# Skew stress: inject pathologically hot keys and assert the mitigation
# actually bounds per-partition load (spark_partition_id counts), not just
# that results are correct. AQE's small-data partition coalescing is
# disabled around the measurements — at test scale it would merge all
# output into one partition and hide the distribution being asserted.
# ---------------------------------------------------------------------------


class _no_aqe_coalesce:
    """Pin the partition-distribution measurement: AQE small-partition
    coalescing off (it would merge everything at test scale) AND
    auto-broadcast off, so joins under measurement always take the
    shuffle path — partition ids are then a pure function of the hash
    keys instead of varying with AQE's runtime join-strategy choice
    (the one nondeterminism a distribution assertion can flake on)."""

    _CONFS = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = {}
        for k, v in self._CONFS.items():
            self.prev[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, old in self.prev.items():
            if old is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, old)


def _partition_counts(df):
    return [
        r.n
        for r in df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]


def test_source_quota_hot_source_bounded_per_partition(spark):
    """One source owns 50% of the corpus (the reference's own reported
    bottleneck shape: skew-blind appends, day_intervals_cohort_v1.py:20-22).
    source_quota must (a) plan a map-side partial WindowGroupLimit so the
    shuffle never carries the full hot group, and (b) leave every output
    partition bounded by the quota, not by the hot group's size."""
    from temporai_mivdp_spark.llmdata.sampling import source_quota

    hot = [(i, "hot") for i in range(50_000)]
    cold = [(50_000 + i, f"s{i % 200}") for i in range(50_000)]
    docs = spark.createDataFrame(hot + cold, "doc_id: long, source: string").repartition(16)

    out = source_quota(docs, max_per_group=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan

    with _no_aqe_coalesce(spark):
        counts = _partition_counts(out)
    # 201 groups x <=20 rows, hashed over 32 partitions: any single
    # partition holds a few groups' quotas — nowhere near the 50k hot rows
    assert sum(counts) == 201 * 20
    assert max(counts) <= 20 * 30, counts  # p99 headroom, still << 50_000


def test_ngram_jaccard_stop_shingle_capped(spark):
    """A boilerplate shingle present in EVERY doc would create a
    quadratic candidate bucket (n^2/2 pairs through one posting list).
    max_shingle_freq must drop it; threshold=0 exposes the raw candidate
    pair count, so the bound is observable in the output."""
    from temporai_mivdp_spark.llmdata import dedup

    n = 120
    docs = spark.createDataFrame(
        [(i, f"click here now unique{i} tail{i} words{i}") for i in range(n)],
        "doc_id: long, text: string",
    )
    uncapped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0, max_shingle_freq=None)
    assert uncapped.count() == n * (n - 1) // 2  # the quadratic bucket, realized

    capped = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0, max_shingle_freq=100)
    assert capped.count() == 0  # stop-shingle dropped -> no candidate blowup


def _jaccard_reference(rows, n, cap, threshold):
    """Plain-Python n-gram Jaccard over (id, text) rows: string shingle
    sets of the normalized text, shingles in more than ``cap`` docs left
    out of the intersection, full set sizes in the denominator. Only
    pairs sharing a kept shingle are candidates."""
    from collections import Counter

    sets = {}
    for i, text in rows:
        toks = " ".join(text.lower().split()).split(" ")
        if len(toks) >= n:
            sets[i] = {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)}
    doc_freq = Counter(s for ss in sets.values() for s in ss)
    ids = sorted(sets)
    out = []
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            inter = sum(
                1 for s in sets[a] & sets[b] if cap is None or doc_freq[s] <= cap
            )
            if inter:
                jac = inter / (len(sets[a]) + len(sets[b]) - inter)
                if jac >= threshold:
                    out.append((a, b, round(jac, 9)))
    return sorted(out)


def _canon_pairs(df):
    return sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect())


def test_ngram_jaccard_prefilter_hot_same_output(spark):
    """The frequency cap is applied before the pairs are built (a
    window count over the shingle exchange drops over-cap shingles). The
    result must equal the plain-Python reference — same pairs, same
    jaccard values — on a corpus that mixes a stop-shingle (present in
    every doc) with real near-duplicate pairs that must survive."""
    from temporai_mivdp_spark.llmdata import dedup

    rows = []
    for i in range(60):
        rows.append((i, f"click here now unique{i} tail{i} words{i}"))
        # near-dup twin of every 10th doc (one appended token)
        if i % 10 == 0:
            rows.append((1000 + i, f"click here now unique{i} tail{i} words{i} zz"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    got = _canon_pairs(
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_shingle_freq=30)
    )
    assert got == _jaccard_reference(rows, 3, 30, 0.1)
    assert got, "fixture must produce surviving near-dup pairs"


def test_ngram_jaccard_uncapped_shingle_in_every_doc(spark):
    """Legal extreme: no cap, threshold 0, one shingle shared by all
    1,500 docs. With broadcasts off the self-join runs sort-merge and
    must emit every one of the n(n-1)/2 pairs, with no Python node."""
    from temporai_mivdp_spark.llmdata import dedup
    from temporai_mivdp_spark.plans import executed_plan

    n = 1500
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.format_string("click here now unique%d tail%d words%d", "id", "id", "id")
        .alias("text"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.0, max_shingle_freq=None
        )
        assert pairs.count() == n * (n - 1) // 2
        plan = executed_plan(pairs)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    assert "Python" not in plan and "MapInArrow" not in plan, plan


def test_minhash_lsh_prefilter_hot_same_output(spark):
    """The LSH twin of the jaccard buffer bound: with prefilter_hot, a
    degenerate (band, bh) bucket is anti-joined away before the id-list
    aggregation, and the surviving candidate pairs are identical to the
    post-aggregation size filter's."""
    from temporai_mivdp_spark.llmdata import dedup

    rows = []
    for i in range(40):
        rows.append((i, f"shared boiler plate text unique{i} tail{i}"))
        if i % 8 == 0:
            rows.append((1000 + i, f"shared boiler plate text unique{i} tail{i} zz"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    base = dedup.minhash_lsh_candidates(
        docs, num_hashes=8, bands=4, max_bucket_size=10, prefilter_hot=False
    )
    pre = dedup.minhash_lsh_candidates(
        docs, num_hashes=8, bands=4, max_bucket_size=10, hot_sample_inv=1
    )
    canon = lambda df: sorted((r.id_a, r.id_b) for r in df.collect())  # noqa: E731
    assert canon(pre) == canon(base)
    assert "BroadcastHashJoin" in pre._jdf.queryExecution().executedPlan().toString()


def test_ngram_jaccard_boilerplate_cap_matches_reference(spark):
    """Boilerplate shingles in all 300 docs (cap 20) are dropped exactly:
    the pairs and jaccard values equal the plain-Python reference at
    threshold 0, where every surviving candidate pair is visible."""
    from temporai_mivdp_spark.llmdata import dedup

    rows = [
        (i, f"subscribe to our newsletter unique{i} tail{i} words{i}")
        for i in range(300)
    ]
    # near-dup twins that share the boilerplate AND their own shingles
    rows += [(1000 + i, t + " zz") for i, t in rows[::50]]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    got = _canon_pairs(
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0, max_shingle_freq=20)
    )
    assert got == _jaccard_reference(rows, 3, 20, 0.0)
    assert len(got) == 6, got


def test_ngram_jaccard_cap_boundary_matches_reference(spark):
    """The cap keeps a shingle whose doc frequency equals it and drops it
    at one more doc. "alpha beta gamma" opens 6 docs and is their only
    shared shingle: with cap 6 every pair of them survives, with cap 5
    none does, and both equal the plain-Python reference."""
    from temporai_mivdp_spark.llmdata import dedup

    rows = [(i, f"alpha beta gamma u{i} v{i} w{i}") for i in range(6)]
    # an unrelated near-dup pair whose shingles are all under any cap
    rows += [(100, "one two three four five"), (101, "one two three four six")]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    at_cap = _canon_pairs(
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_shingle_freq=6)
    )
    over_cap = _canon_pairs(
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_shingle_freq=5)
    )
    assert at_cap == _jaccard_reference(rows, 3, 6, 0.1)
    assert over_cap == _jaccard_reference(rows, 3, 5, 0.1)
    assert len(at_cap) == 15 + 1, at_cap
    assert over_cap == [(100, 101, 0.5)], over_cap

    # a null-id doc never pairs but still counts toward the cap
    with_null = docs.union(
        spark.createDataFrame([(None, "alpha beta gamma q r s")], docs.schema)
    )
    for cap, want in ((6, over_cap), (7, at_cap)):
        got = dedup.ngram_jaccard_pairs(
            with_null, n=3, threshold=0.1, max_shingle_freq=cap
        )
        assert _canon_pairs(got) == want, cap


def _stage_spill_bytes(spark, group, action):
    """Run ``action()`` under job group ``group``; return the bytes its
    stages spilled (memory plus disk)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = action()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        ids = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    spilled = 0
    for j in ids:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j NoSuchElementException
                continue
            spilled += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out, spilled


def test_ngram_jaccard_cap_window_spills_hot_key(spark):
    """The cap's per-shingle window buffers one key's rows at a time. With
    the buffer's in-memory and spill thresholds forced down to a few
    rows, a boilerplate shingle in 60 docs (dropped, cap 40) and one in
    30 docs (kept) both go through the spill path, and the pairs still
    equal the plain-Python reference."""
    from temporai_mivdp_spark.llmdata import dedup

    rows = [(i, f"subscribe to our newsletter unique{i} tail{i}") for i in range(60)]
    rows += [(100 + i, f"read more here unique{i} tail{i} words{i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    confs = {
        "spark.sql.windowExec.buffer.in.memory.threshold": "2",
        "spark.sql.windowExec.buffer.spill.threshold": "4",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        pairs = dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.0, max_shingle_freq=40
        )
        got, spilled = _stage_spill_bytes(
            spark, "jaccard-cap-spill", lambda: _canon_pairs(pairs)
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert got == _jaccard_reference(rows, 3, 40, 0.0)
    assert len(got) == 30 * 29 // 2, len(got)
    assert spilled > 0, "the window buffer never spilled"


def test_prefilter_hot_defaults_and_guards(spark):
    """The jaccard cap's doc-frequency window is planned exactly when a
    cap is set. LSH: prefilter_hot=None resolves to on-iff-cap-set (the plan
    carries the detector's broadcast anti-join exactly when a cap
    exists), and the r11 silent no-op is now a loud ValueError."""
    import pytest

    from temporai_mivdp_spark.llmdata import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma unique{i} tail{i}") for i in range(6)],
        "doc_id: long, text: string",
    )
    plan = lambda df: df._jdf.queryExecution().executedPlan().toString()  # noqa: E731

    with_cap = dedup.ngram_jaccard_pairs(docs, max_shingle_freq=5)
    no_cap = dedup.ngram_jaccard_pairs(docs, max_shingle_freq=None)
    cap_window = "count(1) windowspecdefinition(shingle"
    assert plan(with_cap).count(cap_window) == 1, plan(with_cap)
    assert cap_window not in plan(no_cap), plan(no_cap)

    lsh_cap = dedup.minhash_lsh_candidates(docs, 8, 4, max_bucket_size=5)
    lsh_none = dedup.minhash_lsh_candidates(docs, 8, 4)
    assert "BroadcastHashJoin" in plan(lsh_cap)
    assert "BroadcastHashJoin" not in plan(lsh_none)

    with pytest.raises(ValueError, match="max_bucket_size"):
        dedup.minhash_lsh_candidates(docs, 8, 4, prefilter_hot=True)
    with pytest.raises(ValueError, match="hot_sample_inv"):
        dedup.minhash_lsh_candidates(
            docs, 8, 4, max_bucket_size=5, hot_sample_inv=0
        )


def test_salted_join_spreads_hot_key_across_partitions(spark):
    """One key holds 50% of the fact rows. A plain shuffle join lands all
    of them on one reducer; salted_join must spread them over multiple
    partitions with a bounded max share."""
    hot_n = 20_000
    facts = spark.createDataFrame(
        [(1, i) for i in range(hot_n)] + [(2 + (i % 50), i) for i in range(hot_n)],
        "k: long, v: long",
    ).repartition(16)
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 60)], "k: long, name: string")

    salted = salted_join(facts, dim, on="k", salt_buckets=8)

    with _no_aqe_coalesce(spark):
        hot_pids = (
            salted.filter(F.col("k") == 1)
            .withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    assert sum(r.n for r in hot_pids) == hot_n  # correctness: no rows lost
    assert len(hot_pids) >= 4, hot_pids         # hot key spread over partitions
    # no single partition carries the whole hot key. 8 salt buckets over
    # 32 partitions can hash-collide — with the measurement pinned to the
    # shuffle path (see _no_aqe_coalesce) the observed worst partition
    # holds exactly two buckets' worth (5003 rows: bucket sizes jitter a
    # few rows around hot_n/8, which is why a bare 2-buckets cap flaked
    # whenever AQE picked the shuffle path over broadcast). Allow three
    # buckets' worth: still 5x better than the unsalted single reducer.
    assert max(r.n for r in hot_pids) <= hot_n // 8 * 3, hot_pids


def test_repeated_spans_hot_span_stays_bounded(spark):
    """Skew stress: ONE span present in EVERY document (the universal
    license header). The wide aggregations key on (hash, doc) then hash,
    so the hot span distributes across doc-partitions in stage 1 and
    collapses to a single count row in stage 2 — per-partition input of
    the (hash, doc) stage must stay near-uniform, not pile onto one
    task."""
    from temporai_mivdp_spark.llmdata import dedup

    hot = "every single document carries this exact header line today"
    docs = spark.createDataFrame(
        [(i, f"{hot} unique tail {i} {i * 3} {i * 7}") for i in range(400)],
        "doc_id: long, text: string",
    )
    out = dedup.repeated_spans(docs, window=10, min_docs=2)
    rows = out.collect()
    # the hot span family is reported once per distinct span, not 400x
    hot_rows = [r for r in rows if r.span.startswith("every single")]
    assert hot_rows and all(r.n_docs == 400 for r in hot_rows)

    # per-partition distribution of the (hash, doc) aggregation input:
    # the hot span's 400 rows hash by (span_hash, doc) so no partition
    # owns more than a small multiple of the uniform share
    from temporai_mivdp_spark.llmdata.dedup import _shingles_raw
    from pyspark.sql import functions as F

    staged = (
        _shingles_raw(docs, n=10)
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .repartition(8, "h", "doc_id")
        .withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in staged]
    assert len(counts) > 1
    assert max(counts) <= 3 * (sum(counts) / len(counts)), counts


def test_range_join_hot_key_and_wide_interval_bounded(spark):
    """The binned range join's two skew axes, stressed together: one key
    holds 50% of the points, and one interval spans the WHOLE axis
    (exploding into span/bucket + 1 bucket rows). The exact result must
    match the plain range predicate, the wide interval's explode must be
    bounded by span/bucket + 1, and no partition may hold the whole hot
    key's candidate set."""
    from pyspark.sql import functions as F

    from temporai_mivdp_spark.operators.joins import range_join

    n = 2000
    pts = spark.createDataFrame(
        [(i, 1 if i % 2 == 0 else (i % 50) + 2, float(i % 1000)) for i in range(n)],
        "pid: long, k: long, t: double",
    )
    # 60 narrow intervals + ONE whole-axis interval on the hot key
    iv = spark.createDataFrame(
        [(j, (j % 50) + 2, float(j * 15 % 900), float(j * 15 % 900 + 30)) for j in range(60)]
        + [(999, 1, 0.0, 1000.0)],
        "iid: long, k: long, s: double, e: double",
    )
    bucket = 50.0
    got = range_join(pts, iv, "t", "s", "e", bucket=bucket, keys=["k"])
    plain = (
        pts.join(iv, "k")
        .filter((F.col("t") >= F.col("s")) & (F.col("t") <= F.col("e")))
    )
    assert got.count() == plain.count()
    # the wide interval explodes into exactly span/bucket + 1 rows
    wide_buckets = 1000.0 / bucket + 1
    exploded = iv.withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / bucket).cast("long"),
                F.floor(F.col("e") / bucket).cast("long"),
            )
        ),
    )
    assert exploded.filter(F.col("iid") == 999).count() == wide_buckets
    # hot-key candidates spread across buckets: the join keys on
    # (k, bucket), so the hot key's 1000 points land in 21 distinct
    # join partitions-worth of keys, not one
    hot_keys = (
        got.filter(F.col("k") == 1)
        .select(F.floor(F.col("t") / bucket).cast("long").alias("b"))
        .distinct()
        .count()
    )
    assert hot_keys >= 20


def test_skew_split_join_parity_detection_and_plan(spark):
    """skew_split_join (round 12): hot keys broadcast, cold keys plain —
    row-set must equal the plain join exactly (inner AND left, matched
    and unmatched facts), the detection path must find the injected hot
    key, and the physical plan must carry exactly the hybrid shape (a
    broadcast join for the hot side alongside the cold shuffle join)."""
    from pyspark.sql import functions as F

    from temporai_mivdp_spark.operators import skew as skew_ops

    hot_n, cold_n = 5_000, 3_000
    facts = spark.createDataFrame(
        [(777, f"e{i}") for i in range(hot_n)]
        + [(i % 97, f"c{i}") for i in range(cold_n)]
        + [(555_555, "unmatched")],  # no dim row -> left-join null probe
        "user_id: long, payload: string",
    )
    dim = spark.createDataFrame(
        [(i, f"seg{i % 5}") for i in range(97)] + [(777, "hotseg")],
        "user_id: long, segment: string",
    )

    canon = lambda df: sorted(  # noqa: E731
        (r.user_id, r.payload, r.segment) for r in df.collect()
    )
    for how in ("inner", "left"):
        plain = facts.join(dim, "user_id", how)
        split = skew_ops.skew_split_join(
            facts, dim, "user_id", hot_keys=[777], how=how
        )
        assert canon(split) == canon(plain), how

    # detection path: exact pass (sample=None) must find the hot key,
    # and a detected-keys run must still equal plain
    detected = skew_ops.skew_split_join(
        facts, dim, "user_id", min_share=0.25, sample=None
    )
    assert canon(detected) == canon(facts.join(dim, "user_id", "inner"))

    plan = skew_ops.skew_split_join(
        facts, dim, "user_id", hot_keys=[777]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    # empty hot list degrades to the plain join, not an error
    nohot = skew_ops.skew_split_join(facts, dim, "user_id", hot_keys=[])
    assert canon(nohot) == canon(facts.join(dim, "user_id", "inner"))

    import pytest

    with pytest.raises(ValueError, match="inner/left"):
        skew_ops.skew_split_join(facts, dim, "user_id", hot_keys=[777], how="right")
