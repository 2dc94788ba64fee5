"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "calibration_sec": ..., "sf": ...}.

The stdout line is the DRIVER-facing artifact and is kept deliberately
compact (<2000 chars): round 7 grew it past the driver's tail-capture
window by inlining 47 plan fingerprints, and BENCH_r07.json recorded
`parsed: null` — a full round with no perf signal. The fingerprints (and
the host-normalized per-query ratios) now go to the BENCH_FULL.json
sidecar, and the normalized round-over-round table is maintained in
PLANS.md; the committed fingerprint pin stays PLANS.json.

Methodology (why it looks like this — measured, not guessed):

* **DataFrame built once per query, outside the timed region.** Plan
  construction + Catalyst analysis is 0.3–0.8 s per headline query of
  pure driver-side overhead that is constant regardless of data scale; a
  100 TB run pays it once per job, so a per-run re-pay would only measure
  the Python/analyzer, not the engine. Execution (what scales) is what
  the timer wraps. Each .save() still re-runs the full physical plan —
  AQE re-plans per execution, nothing is cached between runs.

* **Interleaved round-robin, min over rounds.** This host shows transient
  multi-second slowdown windows (the same plan measured 2.0 s and 13.3 s
  minutes apart with zero plan change). Three *consecutive* runs all land
  inside one window; R rounds spread each query's samples across the
  whole bench wall-clock, so the min is taken over temporally independent
  samples and converges on the stable cost.

* **noop sink** so every output column materializes (a bare .count()
  would let Catalyst prune computed columns away and time nothing).

* **Plan fingerprints** (stable hash of the AQE-independent physical
  plan, normalized for plan-id / codegen-id / exchange-id counters and
  absolute paths) are emitted per query so a slower number with an
  unchanged fingerprint is provably noise, and a changed fingerprint
  names the commit. Compare against the committed PLANS.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from temporai_mivdp_spark.queries import QUERIES  # noqa: E402
import temporai_mivdp_spark.queries_llm  # noqa: E402,F401  (registers llm-data queries)
from temporai_mivdp_spark.session import get_session  # noqa: E402
from temporai_mivdp_spark.plans.fingerprint import plan_fingerprint  # noqa: E402

#: Headline set: the flagship join-agg plus the operators that dominate the
#: reference pipeline's cost profile (cohort labeling, cleaning windows,
#: bucketing, densification) — these are the plans whose scaling matters.
HEADLINE = [
    "flagship_revenue_by_nation",
    "j8_interval_exists_label",
    "a7_mode_vote_filter",
    "a8_winsorize",
    "w3_tumbling_bucket",
    "w4_w8_dense_grid_indicator",
    "w5_w6_w7_impute_active",
    "a2_two_level_agg",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "text_quality",
    # round-5 additions: the regression tripwire (fingerprints + timing)
    # now covers the round-4/5 operators too. The headline total is
    # therefore NOT comparable to BENCH_r04 (12 queries) — compare
    # per-query.
    "text_langid",
    "text_bpe_count",
    "pipeline_guard_corpus",
]

#: Fingerprint-only tripwire extension (round 6): the round-5 catalog
#: promotions are NOT timed (the headline total stays comparable to
#: BENCH_r05 per-query) but their physical plans are fingerprinted every
#: bench run, so a plan regression in them raises a PLANS.json diff
#: instead of surfacing only as a correctness failure. Decade rows for
#: these live in SCALING.md's extras table (tools/measure.py --queries
#: ... --inflate 10).
PINNED_EXTRAS = [
    "text_gopher",
    "text_perplexity",
    "text_tfidf",
    "text_boilerplate",
    "text_repeated_spans",
    "text_quantile_norm",
    "text_chunk_overlap",
    "dsir_select",  # round-6 addition
    "dsir_gumbel",  # round-7 addition
    "dedup_semantic",  # round-7 addition
    "sample_stratified",  # round-7 addition
    "text_encode_vocab",  # round-7 addition
    "sample_temperature",  # round-7 addition
    "split_leakage_safe",  # round-7 addition
    "sample_token_budget",  # round-7 addition
    "sim_mean_vectors",  # round-7 addition
    "embed_kmeans",  # round-7 addition
    "sketch_distinct",  # round-7 addition
    "text_bm25",  # round-7 addition
    "sketch_quantile",  # round-7 addition
    "text_pmi",  # round-7 addition
    "sample_weighted",  # round-7 addition
    "sketch_overlap",  # round-7 addition
    "dedup_span_coverage",  # round-7 addition
    # ingest_jsonl: fingerprinted like the other extras — building the
    # frame performs its scratch-dir JSONL write (the curation
    # checkpoint pattern, untimed planning cost); the read-back plan is
    # path-normalized so the fingerprint is session-stable
    "ingest_jsonl",  # round-7 addition
    "shard_assign",  # round-7 addition
    "dedup_incremental",  # round-7 addition
    "j_range_bucketed",  # round-7 addition
    "j_interval_overlap",  # round-7 addition
    "a_salted_skew",  # round-7 addition
    "text_bpe_train",  # round-7 addition
    "sketch_quantile_merge",  # round-7 addition
    # layout_compaction: building the frame performs the small-files
    # write + compaction into the scratch checkpoint (untimed build
    # cost, same pattern as ingest_jsonl); the pinned plan is the
    # read-back accounting over the compacted files (path-normalized)
    "layout_compaction",  # round-8 addition
    # multimodal_audio_roundtrip: the synthesized-media decode chain is
    # one row-local mapInPandas generation + one row-local codec walk —
    # no shuffle; pinned so a plan regression (e.g. an accidental
    # exchange creeping into the fixture) raises a PLANS.json diff
    "multimodal_audio_roundtrip",  # round-8 addition
    "multimodal_image_roundtrip",  # round-8 addition (same shuffle-free shape)
    "multimodal_video_roundtrip",  # round-9 addition (same shuffle-free shape)
    # frame sampling: full GIF/AVI frame decode + tick explode, still
    # one row-local mapInPandas chain — pinned for the same reason
    "multimodal_frame_sampling",  # round-9 addition
    # perceptual image dedup: mapInPandas hash + ONE hash-groupBy with
    # broadcast join-back — pinned so a regression to a shuffled join
    # or a second exchange raises a PLANS.json diff
    "dedup_image_phash",  # round-10 addition
    # stream_tumbling_bucket / stream_dedup_keys / stream_session_agg are
    # deliberately NOT fingerprinted here: building their DataFrames
    # EXECUTES the streaming query (memory sink), and the returned
    # frame's plan is a memory-table scan — no stable batch plan to pin.
    # Their regression signal is the oracle row itself.
]

#: Timed rounds per query (interleaved). 5 rounds x ~12 queries spreads each
#: query's samples over the full bench duration; one transient host stall
#: can then spoil at most one sample per query.
ROUNDS = 5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_session(
        app_name="mivdp-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in QUERIES]

    # Warm-up pass 1: JIT/codegen/classloading on the tiny sf.
    for name in names:
        QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()

    # Build each DataFrame once; plan construction + analysis happens here,
    # outside the timed region (see module docstring).
    dfs = {name: QUERIES[name](spark, sf_dir) for name in names}

    # Plan fingerprints for regression attribution (vs committed PLANS.json)
    # — the PINNED_EXTRAS are fingerprinted (planning only, never timed).
    plans = {name: plan_fingerprint(dfs[name]) for name in names}
    for name in PINNED_EXTRAS:
        if name in QUERIES:
            plans[name] = plan_fingerprint(QUERIES[name](spark, sf_dir))

    # Warm-up pass 2: one untimed run at the bench scale — pays first-touch
    # shuffle-file allocation and JIT at the real data shapes.
    for name in names:
        dfs[name].write.format("noop").mode("overwrite").save()

    # Host-speed calibration, TWO data-independent probes (round-9 fix —
    # the r8 verdict showed the headline swinging 14.3→18.5s across runs
    # at near-constant scalar calibration with byte-identical plan
    # fingerprints, i.e. the CPU-scalar probe is blind to what actually
    # moves Spark wall time):
    #
    # * cal (scalar): hash+sum over a generated range — no I/O, no
    #   shuffle. Tracks raw CPU speed only; kept for round-over-round
    #   continuity with BENCH_r0{5..8}.
    # * cal_shuffle (Spark-shaped): a fixed groupBy over a generated
    #   range — a real exchange (shuffle write + fetch + partial/final
    #   agg), the machinery whose JVM/GC/IO state the scalar probe
    #   misses. queries/cal_shuffle is the better host-invariant signal.
    #
    # Both are sampled ONCE PER TIMING ROUND, interleaved with the
    # queries (not in a burst before them), so the min is taken over the
    # same temporally independent windows the query samples come from.
    from pyspark.sql import functions as _F

    cal_df = (
        spark.range(0, 1_000_000_000, 1, int(cpus))
        .select(_F.sum(_F.xxhash64("id")).alias("s"))
    )
    cal_shuffle_df = (
        spark.range(0, 50_000_000, 1, int(cpus))
        .groupBy((_F.col("id") % 100_000).alias("k"))
        .agg(_F.sum("id").alias("s"))
        .select(_F.sum(_F.xxhash64("k", "s")).alias("h"))
    )
    # untimed warm-up (first-touch shuffle-file allocation, codegen)
    cal_df.write.format("noop").mode("overwrite").save()
    cal_shuffle_df.write.format("noop").mode("overwrite").save()

    cal = cal_shuffle = float("inf")
    samples: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(ROUNDS):
        for name in names:
            t0 = time.perf_counter()
            dfs[name].write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        cal_df.write.format("noop").mode("overwrite").save()
        cal = min(cal, time.perf_counter() - t0)
        t0 = time.perf_counter()
        cal_shuffle_df.write.format("noop").mode("overwrite").save()
        cal_shuffle = min(cal_shuffle, time.perf_counter() - t0)

    # min = the stable cost (transient stalls spoil at most one sample);
    # median = the drift-window indicator. A large median/min gap flags a
    # noisy run — exactly the signal r7/r8 cross-run comparisons lacked.
    timings = {name: round(min(s), 3) for name, s in samples.items()}
    medians = {
        name: round(sorted(s)[len(s) // 2], 3) for name, s in samples.items()
    }
    total = round(sum(timings.values()), 3)
    cal = round(cal, 3)
    cal_shuffle = round(cal_shuffle, 3)
    payload = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "calibration_sec": cal,
        "calibration_shuffle_sec": cal_shuffle,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    line = json.dumps(payload)
    # Driver tail-capture contract: ONE line, comfortably under 2000 chars
    # (round-7 lesson — the inlined plans map pushed it to 2,263 and the
    # driver recorded parsed: null). Explicit raise, not assert: an
    # optimized interpreter (-O) strips asserts and would print the
    # oversized line anyway.
    if len(line) >= 1900:
        raise RuntimeError(f"bench stdout line too long ({len(line)} chars)")
    print(line)

    # Full artifact (fingerprints + medians + host-normalized ratios) to a
    # sidecar — everything the stdout line used to carry, without the cap.
    normalized = {n: round(t / cal, 2) for n, t in timings.items()} if cal else {}
    norm_shuffle = (
        {n: round(t / cal_shuffle, 2) for n, t in timings.items()}
        if cal_shuffle else {}
    )
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as f:
        # cpus/default_parallelism (r12 verdict item 2): the driver's
        # core-count sweep flagged suspect_cpus_ignored because nothing in
        # the artifacts proved the session honored $SPARK_GRAFT_CPUS; the
        # sidecar now records the session's actual parallelism (stdout
        # line unchanged — the <1900-char driver contract).
        json.dump({**payload, "plans": plans,
                   "cpus": int(cpus),
                   "default_parallelism": spark.sparkContext.defaultParallelism,
                   "queries_median": medians,
                   "queries_per_calibration": normalized,
                   "queries_per_shuffle_calibration": norm_shuffle},
                  f, indent=1, sort_keys=True)
    _update_plans_md_normalized_table(timings, medians, cal, cal_shuffle, sf)
    spark.stop()


NORM_BEGIN = "<!-- bench-normalized:begin (maintained by bench.py) -->"
NORM_END = "<!-- bench-normalized:end -->"


def _update_plans_md_normalized_table(timings, medians, cal, cal_shuffle, sf) -> None:
    """Maintain the host-normalized timings table in PLANS.md.

    Rounds 5→7 burned two verdict cycles on uniform host-speed drift
    (byte-identical fingerprints, +8-36% wall time); queries[q] divided by
    the data-independent calibration workload is the host-invariant
    signal. The table lives between sentinel comments so both this
    function and tools/explain_all.py can regenerate their own sections
    without clobbering each other. The section holds the LATEST run only
    (labelled with its sf and calibration); round-over-round comparison
    is a git diff of this section — each round's snapshot commits it —
    not an in-file history."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLANS.md")
    try:
        text = open(path).read()
    except FileNotFoundError:
        text = "# PLANS\n"
    rows = "\n".join(
        f"| {n} | {t:.3f} | {medians.get(n, t):.3f} "
        f"| {round(t / cal, 2) if cal else '—'} "
        f"| {round(t / cal_shuffle, 2) if cal_shuffle else '—'} |"
        for n, t in timings.items()
    )
    section = (
        f"{NORM_BEGIN}\n\n"
        "## Host-normalized headline timings (latest bench run)\n\n"
        f"Calibrations, interleaved with the timing rounds: scalar "
        f"(1e9-row range→xxhash64→sum, no shuffle) **{cal}s**; "
        f"Spark-shaped (5e7-row groupBy — real exchange + partial/final "
        f"agg) **{cal_shuffle}s**, at sf={sf}. Roles, as MEASURED over "
        "three back-to-back r9 runs (SCALING.md 'Round-9 calibration "
        "validation'): `t/cal` is the per-query normalized signal "
        "(median cross-run spread 6.5% vs 13% raw); the shuffle probe "
        "is a RUN-STATE INDICATOR, not a divisor — its own cost can "
        "decouple from query cost (0.69→0.93s across runs at "
        "near-constant scalar cal), so normalizing by it is NOISIER "
        "(23%), but a swing in it flags the JVM/shuffle-path state "
        "drift the scalar probe is blind to (the r8 driver-vs-local "
        "class). `median` vs `min` bounds noise inside THIS run. A "
        "plan-regression claim requires a PLANS.json fingerprint diff; "
        "timings alone never qualify.\n\n"
        "| query | sec (min) | median | t/cal | t/cal_shuf |\n"
        "|---|---|---|---|---|\n"
        f"{rows}\n\n{NORM_END}"
    )
    if NORM_BEGIN in text and NORM_END in text:
        head, rest = text.split(NORM_BEGIN, 1)
        _, tail = rest.split(NORM_END, 1)
        text = head + section + tail
    else:
        text = text.rstrip() + "\n\n" + section + "\n"
    with open(path, "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()
