"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
cores this process may run on) and prints ONE JSON line
{"metric", "value", "unit", "queries", "calibration_sec",
"calibration_shuffle_sec", "sf"}: ``queries`` maps each headline query
to its fastest execution in seconds, ``value`` is their sum.

The stdout line is the DRIVER-facing artifact and is kept deliberately
compact (< 1900 chars): round 7 grew it past the driver's tail-capture
window by inlining 47 plan fingerprints, and BENCH_r07.json recorded
`parsed: null` — a full round with no perf signal. Everything else goes
to the BENCH_FULL.json sidecar: the payload plus ``cpus``,
``default_parallelism``, the plan fingerprints (``plans``, diffable
against the committed PLANS.json) and one ``tools/measure.py`` record per
headline query and calibration probe (``records``: build seconds, every
execution sample, result rows and hash, stage totals).

Timing is ``tools/measure.py``'s: one session from ``measure.session``
and ``measure.time_queries`` (an untimed warm-up run, a timed build,
then ROUNDS interleaved executions to a noop sink, min over rounds; see
its Method). The two calibration probes ride in the same interleaved
loop, so their min is taken over the same windows as the queries'.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

from pyspark.sql import functions as F  # noqa: E402

from measure import HOST_CORES, session, time_queries  # noqa: E402
from temporai_mivdp_spark.queries import QUERIES  # noqa: E402
import temporai_mivdp_spark.queries_llm  # noqa: E402,F401  (registers llm-data queries)
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
    # round 6
    "text_gopher", "text_perplexity", "text_tfidf", "text_boilerplate",
    "text_repeated_spans", "text_quantile_norm", "text_chunk_overlap",
    "dsir_select",
    # round 7. Building ingest_jsonl performs its scratch-dir JSONL write
    # (the curation checkpoint pattern); its read-back plan is
    # path-normalized, so the fingerprint is session-stable.
    "dsir_gumbel", "dedup_semantic", "sample_stratified", "text_encode_vocab",
    "sample_temperature", "split_leakage_safe", "sample_token_budget",
    "sim_mean_vectors", "embed_kmeans", "sketch_distinct", "text_bm25",
    "sketch_quantile", "text_pmi", "sample_weighted", "sketch_overlap",
    "dedup_span_coverage", "ingest_jsonl", "shard_assign", "dedup_incremental",
    "j_range_bucketed", "j_interval_overlap", "a_salted_skew", "text_bpe_train",
    "sketch_quantile_merge",
    # rounds 8-10. Building layout_compaction performs the small-files
    # write + compaction (same pattern as ingest_jsonl). The multimodal
    # chains are row-local mapInPandas walks with no shuffle, and
    # dedup_image_phash is one hash-groupBy with a broadcast join-back:
    # pinned so an exchange creeping in raises a PLANS.json diff.
    "layout_compaction", "multimodal_audio_roundtrip",
    "multimodal_image_roundtrip", "multimodal_video_roundtrip",
    "multimodal_frame_sampling", "dedup_image_phash",
    # stream_tumbling_bucket / stream_dedup_keys / stream_session_agg are
    # deliberately NOT fingerprinted: building their DataFrames EXECUTES
    # the streaming query (memory sink), and the returned frame's plan is
    # a memory-table scan — no stable batch plan to pin. Their regression
    # signal is the oracle row itself.
]

#: Timed rounds per query (interleaved). 5 rounds x ~15 queries spreads
#: each query's samples over the full bench duration; one transient host
#: stall can then spoil at most one sample per query.
ROUNDS = 5


# Host-speed calibration, two data-independent probes with the catalog
# signature (``sf`` is ignored). The r8 verdict showed the headline
# swinging 14.3→18.5s at near-constant scalar calibration with
# byte-identical fingerprints: the CPU-scalar probe is blind to what
# moves Spark wall time, so a Spark-shaped probe runs beside it.
def calibration(spark, sf):
    """Scalar: hash+sum over a generated range — no I/O, no shuffle."""
    return spark.range(
        0, 1_000_000_000, 1, spark.sparkContext.defaultParallelism
    ).select(F.sum(F.xxhash64("id")).alias("s"))


def calibration_shuffle(spark, sf):
    """Spark-shaped: a fixed groupBy — shuffle write + fetch and a
    partial/final aggregation, the JVM/GC/IO state the scalar probe
    misses."""
    return (
        spark.range(0, 50_000_000, 1, spark.sparkContext.defaultParallelism)
        .groupBy((F.col("id") % 100_000).alias("k"))
        .agg(F.sum("id").alias("s"))
        .select(F.sum(F.xxhash64("k", "s")).alias("h"))
    )


def payload(recs: dict, sf_dir: str) -> dict:
    """The driver payload from ``time_queries`` records."""
    timings = {n: recs[n]["exec_min_s"] for n in HEADLINE}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "calibration_sec": recs["calibration"]["exec_min_s"],
        "calibration_shuffle_sec": recs["calibration_shuffle"]["exec_min_s"],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


def driver_line(out: dict) -> str:
    """ONE line, comfortably under the driver's 2000-char tail capture.
    Explicit raise, not assert: ``python -O`` strips asserts and would
    print the oversized line anyway."""
    line = json.dumps(out)
    if len(line) >= 1900:
        raise RuntimeError(f"bench stdout line too long ({len(line)} chars)")
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", HOST_CORES))
    spark = session(cpus)
    fns = {n: QUERIES[n] for n in HEADLINE}
    fns.update(calibration=calibration, calibration_shuffle=calibration_shuffle)
    recs = time_queries(spark, fns, sf_dir, ROUNDS)
    out = payload(recs, sf_dir)
    print(driver_line(out), flush=True)

    # Fingerprints of fresh builds: the timed frames were collected for
    # their hash, which finalizes their adaptive plans.
    plans = {
        n: plan_fingerprint(QUERIES[n](spark, sf_dir))
        for n in HEADLINE + PINNED_EXTRAS
    }
    with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as f:
        # cpus/default_parallelism (r12 verdict item 2): proof that the
        # session honored $SPARK_GRAFT_CPUS
        json.dump({**out, "cpus": cpus,
                   "default_parallelism": spark.sparkContext.defaultParallelism,
                   "plans": plans, "records": recs},
                  f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
