"""Physical-plan regression tests: pin the plan properties that matter at
100 TB so a plan-shape regression fails CI."""

from __future__ import annotations

import pytest

from temporai_mivdp_spark import plans
from temporai_mivdp_spark.queries import QUERIES
import temporai_mivdp_spark.queries_llm  # noqa: F401  (registers llm-data queries)
from tests.conftest import SF_SMOKE


def test_flagship_broadcasts_all_dims(spark):
    df = QUERIES["flagship_revenue_by_nation"](spark, SF_SMOKE)
    s = plans.plan_summary(df)
    assert s.get("BroadcastHashJoin", 0) >= 3, s
    assert s.get("SortMergeJoin", 0) <= 1, s  # fact-fact join may sort-merge
    assert s.get("CartesianProduct", 0) == 0


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["p5_semi_join_filter"](spark, SF_SMOKE)
    pushed = plans.pushed_filters(df)
    assert any("c_mktsegment" in f for f in pushed), pushed


def test_column_pruning(spark):
    df = QUERIES["p2_derived_projection"](spark, SF_SMOKE)
    schemas = plans.read_schema_columns(df)
    assert schemas, "expected a parquet scan"
    # the projection touches 4 of customer's 5 columns — the unused
    # c_mktsegment must be pruned out of the scan
    assert all("c_mktsegment" not in cols for cols in schemas), schemas


def test_single_shuffle_for_window_chain(spark):
    """The ffill/impute chain must reuse ONE partitioning, not re-shuffle
    per window function."""
    df = QUERIES["w5_w6_w7_impute_active"](spark, SF_SMOKE)
    assert plans.count_exchanges(df) <= 1, plans.plan_summary(df)


def test_mode_vote_never_windows_facts(spark):
    df = QUERIES["a7_mode_vote_filter"](spark, SF_SMOKE)
    s = plans.plan_summary(df)
    # windows only over the tiny counts table; facts join back via broadcast
    assert s.get("BroadcastHashJoin", 0) >= 1, s


@pytest.mark.parametrize(
    "name", ["w3_tumbling_bucket", "a2_two_level_agg", "a1_a6_group_counts"]
)
def test_aggregations_are_partial(spark, name):
    """groupBy aggregates must plan partial (map-side) aggregation —
    visible as 2+ HashAggregate nodes around the exchange."""
    df = QUERIES[name](spark, SF_SMOKE)
    s = plans.plan_summary(df)
    n_aggs = s.get("HashAggregate", 0) + s.get("ObjectHashAggregate", 0) + s.get("SortAggregate", 0)
    assert n_aggs >= 2, s


def test_bloom_contamination_corpus_side_is_joinless(spark):
    """The corpus side of the bloom probe must carry NO equality join and
    exactly one exchange (the doc-keyed count): membership is a row-local
    expression against the broadcast one-row bloom."""
    from temporai_mivdp_spark.llmdata import dedup
    from temporai_mivdp_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    bench = docs.limit(5)
    bloom = dedup.shingle_bloom(bench, n=3, m_bits=1 << 14)
    out = dedup.bloom_contamination(docs, bloom, n=3)
    s = plans.plan_summary(out)
    assert s.get("SortMergeJoin", 0) == 0, s
    # the bloom is a plan literal: no join of any kind except the final
    # doc-id reattach (broadcast hash, left)
    assert s.get("BroadcastNestedLoopJoin", 0) == 0, s
    assert s.get("CartesianProduct", 0) == 0, s
    # partial + final aggregation around the single count exchange
    n_aggs = s.get("HashAggregate", 0) + s.get("ObjectHashAggregate", 0)
    assert n_aggs >= 2, s


def test_repeated_spans_wide_shuffles_are_hash_only(spark):
    """Span text may only appear in the survivors join — the wide
    (hash, doc) and hash aggregations must not carry the span string."""
    from temporai_mivdp_spark.llmdata import dedup
    from temporai_mivdp_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    out = dedup.repeated_spans(docs, window=8, min_docs=2)
    s = plans.plan_summary(out)
    assert s.get("SortMergeJoin", 0) == 0, s
    assert s.get("BroadcastHashJoin", 0) >= 1, s  # survivors broadcast back


def test_plan_fingerprint_stable_across_session_history(spark):
    """Fingerprints must not shift with session state: the expression-id
    and lambda-variable counters are session-global, so building/running
    other plans in between must not change a query's fingerprint (this is
    what makes bench fingerprints diffable against PLANS.json)."""
    from temporai_mivdp_spark.plans.fingerprint import plan_fingerprint

    names = ["flagship_revenue_by_nation", "dedup_ngram_jaccard", "text_quality"]
    before = {n: plan_fingerprint(QUERIES[n](spark, SF_SMOKE)) for n in names}
    # churn the session-global counters: build + execute an unrelated plan
    QUERIES["a2_two_level_agg"](spark, SF_SMOKE).write.format("noop").mode(
        "overwrite"
    ).save()
    after = {n: plan_fingerprint(QUERIES[n](spark, SF_SMOKE)) for n in names}
    assert before == after


def test_headline_set_and_plans_json_in_sync(spark):
    """bench.py's HEADLINE + PINNED_EXTRAS names must all exist in the
    catalog, and the committed PLANS.json must cover exactly their union
    (timed headline plans plus the fingerprint-only tripwire extension)
    — key drift here silently breaks regression attribution."""
    import json
    from pathlib import Path

    from bench import HEADLINE, PINNED_EXTRAS

    tracked = HEADLINE + PINNED_EXTRAS
    assert all(n in QUERIES for n in tracked), sorted(set(tracked) - set(QUERIES))
    fingerprints = json.loads(
        (Path(__file__).resolve().parents[1] / "PLANS.json").read_text()
    )
    assert sorted(fingerprints) == sorted(tracked)
    assert all(isinstance(v, str) and len(v) == 12 for v in fingerprints.values())


# slow tier (r13, conftest default-skip): builds all 47 pinned plans at sf0.1 (~87s): bench.py re-emits these
# fingerprints on every bench run and diffs against PLANS.json
@pytest.mark.slow
def test_pinned_extras_fingerprints_current(spark):
    """The seven promotion fingerprints in PLANS.json must match the
    live plans at the bench scale (sf0.1 — text_perplexity/text_tfidf
    inline data-dependent literals, so the pin is scale-specific by
    design; see SCALING.md round 6)."""
    import json
    from pathlib import Path

    from bench import PINNED_EXTRAS
    from temporai_mivdp_spark.plans.fingerprint import plan_fingerprint

    committed = json.loads(
        (Path(__file__).resolve().parents[1] / "PLANS.json").read_text()
    )
    live = {
        n: plan_fingerprint(QUERIES[n](spark, "/root/testdata/sf0.1"))
        for n in PINNED_EXTRAS
    }
    stale = {n: (live[n], committed[n]) for n in PINNED_EXTRAS if live[n] != committed[n]}
    assert not stale, f"plan changed without PLANS.json update: {stale}"


def assert_no_regex_in_lambdas(df) -> None:
    """No ``regexp_replace`` inside any ``lambdafunction`` of ``df``'s
    optimized plan. A normalize/tokenize expression inlined into a
    higher-order function's lambda re-runs its regex at every element,
    O(len^2) per document; a lambda must read a bound attribute."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bodies = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        bodies.append(plan[start : end + 1])
        start = plan.find("lambdafunction(", start + 1)
    assert bodies, "no lambdafunction in the optimized plan"
    inlined = [b for b in bodies if "regexp_replace" in b]
    assert not inlined, inlined[0][:300]


def test_langid_generate_reads_bound_attribute(spark):
    """Regression pin for the O(len^2) trigram explode: the Generate's
    transform lambda must reference the pre-materialized normalized-text
    ATTRIBUTE, never an inline regexp — passing the normalize expression
    into the lambda re-runs the regex at every trigram offset (measured
    13.5s -> 2.6s at sf0.1 when fixed). Also pins the weight table as a
    broadcast dimension, not a plan literal or a shuffled join side."""
    df = QUERIES["text_langid"](spark, SF_SMOKE)
    assert_no_regex_in_lambdas(df)
    summary = plans.plan_summary(df)
    assert summary.get("BroadcastHashJoin", 0) >= 1, summary


def test_bloom_hit_columns_lambdas_read_bound_tokens(spark):
    """Same pin for ``dedup.bloom_hit_columns``: its n-gram window lambda
    reads the bound token array, not the normalize regex."""
    from pyspark.sql import functions as F

    from temporai_mivdp_spark.llmdata import dedup

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "a b c d")], "doc_id: long, text: string"
    )
    bloom = dedup.shingle_bloom(
        docs.filter(F.col("doc_id") == 1), n=3, m_bits=1 << 8, k_hashes=2
    )
    assert_no_regex_in_lambdas(dedup.bloom_hit_columns(docs, bloom, n=3))


def test_mojibake_udf_runs_only_behind_marker_filter(spark):
    """Regression pin for the damage-proportional routing: the repair
    pandas UDF must sit BENEATH the marker-regex Filter (split-union),
    never above it — Spark hoists UDFs out of CASE WHEN into an
    unconditional ArrowEvalPython, which would ship every row's text
    to Python and merely discard unflagged results."""
    from temporai_mivdp_spark.llmdata import text as t

    docs = spark.createDataFrame(
        [(1, "plain"), (2, "cafÃ©")], "doc_id: long, text: string"
    )
    s = t.fix_mojibake(docs)._jdf.queryExecution().executedPlan().toString()
    lines = s.split("\n")
    udf_idx = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    rlike_idx = [i for i, ln in enumerate(lines) if "RLIKE" in ln and "NOT" not in ln]
    assert len(udf_idx) == 1, s
    assert rlike_idx, s
    # tree prints parents above children: the marker Filter must be a
    # DESCENDANT of (printed after) the UDF node, i.e. the UDF's input
    # is already filtered
    assert min(rlike_idx) > udf_idx[0], s


def test_dsir_selection_has_no_doc_scale_window(spark):
    """Round-7 scale pin (VERDICT r6 'What's wrong' #2): the dsir_top_k /
    dsir_gumbel_sample selection tier must rank via the broadcast-
    threshold form — TakeOrderedAndProject (per-partition heaps) + a
    1-row broadcast boundary — NEVER an unpartitioned Window over the
    full per-document frame. The only Window nodes allowed in the
    dsir_select plan are the two bounded ratio-table total sums
    (inputs __c_t/__c_r, <= n_buckets rows by construction)."""
    df = QUERIES["dsir_select"](spark, SF_SMOKE)
    s = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in s, s[:2000]
    win_lines = [ln for ln in s.split("\n") if "Window " in ln or ln.strip().startswith("Window")]
    for ln in win_lines:
        assert "__c_t" in ln and "__c_r" in ln, ln[:300]

    # the Gumbel tier shares the same threshold plan
    from temporai_mivdp_spark.llmdata import dsir

    imp = spark.createDataFrame(
        [(i, i * 1000, 3) for i in range(50)],
        "doc_id: long, importance: long, n_scored: long",
    )
    for tier in (dsir.dsir_top_k(imp, 5), dsir.dsir_gumbel_sample(imp, 5)):
        ps = plans.executed_plan(tier)
        assert "TakeOrderedAndProject" in ps, ps[:2000]
        assert "Window" not in ps, ps[:2000]


@pytest.mark.parametrize("name", ["j_range_bucketed", "j_interval_overlap"])
def test_binned_joins_never_nested_loop(spark, name):
    """The whole point of the binned range/overlap joins is restoring an
    EQUALITY key: if the bucketing is broken (bucket column dropped from
    the join keys, explode removed), Spark silently falls back to a
    BroadcastNestedLoopJoin and correctness still passes — only the
    100 TB plan dies. Pin the equality-join shape."""
    df = QUERIES[name](spark, SF_SMOKE)
    s = plans.plan_summary(df)
    assert s.get("BroadcastNestedLoopJoin", 0) == 0, s
    assert s.get("CartesianProduct", 0) == 0, s
    assert s.get("BroadcastHashJoin", 0) + s.get("SortMergeJoin", 0) + s.get(
        "ShuffledHashJoin", 0
    ) >= 1, s


def test_span_coverage_window_is_per_document(spark):
    """dedup_span_coverage's interval union runs one window per DOCUMENT
    (bounded by doc length); an unpartitioned Window.orderBy here would
    ship every duplicated position through one task — the dsir_top_k
    lesson from round 6. Pin the partitioning."""
    df = QUERIES["dedup_span_coverage"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "doc_id" in spec, spec


def test_jaccard_set_build_is_row_local(spark):
    """Round 12: the per-doc shingle set is array_distinct of the
    row-local shingle array — zero collect_set ObjectHashAggregate (the
    measured 100x external-sort cost, SCALING.md r11). The pairs come
    from a self-join on the shingle, so the plan has ZERO object
    aggregates and no MapInArrow (Python worker) node. Also pin the
    explode_outer fix: a plain explode gets an inferred
    size(array_distinct(...)) > 0 filter PUSHED INTO THE SCAN, re-running
    the whole shingle pipeline single-threaded below the fan-out
    exchange."""
    df = QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE)
    plan = plans.executed_plan(df)
    assert "collect_set" not in plan, "per-doc set must be row-local"
    assert "collect_list" not in plan, "no posting lists"
    assert "array_distinct" in plan
    s = plans.plan_summary(df)
    assert s.get("ObjectHashAggregate", 0) == 0, s
    assert plan.count("MapInArrow") == 0, "pair emit left the JVM"
    for line in plan.splitlines():
        if "Filter" in line and "collect" not in line:
            assert "array_distinct" not in line, (
                "shingle-set expression leaked into a filter (inferred "
                "generate filter pushed to the scan):\n" + line
            )


@pytest.mark.parametrize("broadcast", [True, False], ids=["broadcast", "sort-merge"])
def test_jaccard_tokenizes_once_per_execution(spark, tmp_path, broadcast):
    """``ngram_jaccard_pairs`` runs its tokenize -> shingle map once per
    execution: the executed plan holds one normalize regex, under the one
    shingle exchange that both join sides and the doc-frequency cap read
    (the second side is a ReusedExchange, which prints no subtree). The
    corpus is read from parquet, so a short-doc filter pushed into the
    scan's DataFilters would show up as a second regex."""
    from temporai_mivdp_spark.llmdata import dedup

    rows = [(i, f"click here now unique{i} tail{i} words{i}") for i in range(40)]
    rows += [(100, "a b"), (101, None), (None, "orphan text with no id")]
    path = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(path)
    docs = spark.read.parquet(path)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if not broadcast:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0, max_shingle_freq=50)
        assert len(pairs.collect()) == 40 * 39 // 2  # all through "click here now"
        final = pairs._jdf.queryExecution().executedPlan().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    join = "BroadcastHashJoin" if broadcast else "SortMergeJoin"
    assert join in final, final
    assert final.count("regexp_replace(") == 1, final
    assert final.count("ReusedExchange") == 1, final
