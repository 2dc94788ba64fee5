"""Contract tests for the driver entry points (__spark_entry__.py)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    # PySpark's per-call stack capture is off in every engine session
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # the generated-class cache holds a warm pass's working set, keyed
    # by source that does not depend on AQE's stage numbering
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    df = entrymod.entry(spark)
    assert df.count() > 0


# slow tier (r13, conftest default-skip): runs all 99 entries (~148s): strictly weaker than tools/oracle_check
# (run every round, 99/99) and the driver's own t2 gate
@pytest.mark.slow
def test_every_query_has_callable_and_runs(spark):
    qs = entrymod.queries()
    assert qs, "query catalog must not be empty"
    for name, fn in qs.items():
        df = fn(spark, SF_SMOKE)
        assert df.columns, name
        assert df.count() >= 0, name


def test_oracle_coverage():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle without query: {missing}"
    # EVERY catalog entry carries an oracle — the approximate ANN paths
    # included, since their determinism lets the oracles mirror the full
    # plan (centroid routing / md5 planes) step by step. A new rows-only
    # entry is a deliberate contract change: loosen this assertion AND
    # document the exception in COVERAGE.md in the same commit.
    no_oracle = set(qs) - set(oracles)
    assert not no_oracle, f"missing oracles: {no_oracle}"


@pytest.mark.parametrize("name", ["flagship_revenue_by_nation"])
def test_flagship_is_broadcast_joined(spark, name):
    """Plan check: dimension joins must be broadcast, not shuffle."""
    df = entrymod.queries()[name](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_driver_window_prioritizes_least_proven_entries():
    """The driver hash-checks only the first 50 entries. On the committed
    artifacts, every key outside that window has a green row from the
    round before the current one (newest artifact + 1), the reorder drops
    nothing, and the oracles come in the same order."""
    from temporai_mivdp_spark.queries import (
        QUERIES,
        driver_artifacts,
        last_green_rounds,
    )

    artifacts = driver_artifacts()
    assert artifacts, "no CORRECTNESS artifacts found"
    current = max(artifacts) + 1
    last_green = last_green_rounds(artifacts)
    keys = list(entrymod.queries())
    assert sorted(keys) == sorted(QUERIES), "reorder must not drop entries"
    stale = [k for k in keys[50:] if last_green.get(k, 0) < current - 1]
    assert not stale, stale
    assert list(entrymod.oracle_sql()) == keys


def test_window_rotation_invariant():
    """Synthetic rows: an ``err`` row or a hash mismatch is not green, a
    never-green key leads, and feeding round N's head back as green gives
    round N+1 the keys round N left out plus the newest entry as filler.
    2w - 1 keys with a w-key window is the catalog's 99/50 shape."""
    from temporai_mivdp_spark.queries import last_green_rounds, window_ordered

    w = 5
    catalog = {f"k{i}": i for i in range(2 * w - 1)}  # registration order
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    artifacts = {
        1: {
            **{f"k{i}": green for i in range(4)},
            "k4": {**green, "err": "boom"},
            "k5": {**green, "hash_match": False},
        }
    }
    last_green = last_green_rounds(artifacts)
    assert set(last_green) == {"k0", "k1", "k2", "k3"}
    head = list(window_ordered(catalog, last_green))[:w]
    assert head == ["k8", "k7", "k6", "k5", "k4"]  # never green, newest first
    for rnd in range(2, 6):
        artifacts[rnd] = {k: green for k in head}
        keys = list(window_ordered(catalog, last_green_rounds(artifacts)))
        assert sorted(keys) == sorted(catalog)
        left_out = [k for k in reversed(catalog) if k not in head]
        assert keys[:w] == left_out + ["k8"], (rnd, keys[:w])
        head = keys[:w]


def test_queries_order_independent_of_cwd(tmp_path):
    """The artifacts are found next to the package, not in the cwd."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import json, __spark_entry__ as e; print(json.dumps(list(e.queries())))",
        ],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(root)},
        capture_output=True,
        text=True,
        check=True,
    )
    assert json.loads(out.stdout.splitlines()[-1]) == list(entrymod.queries())


def test_coverage_doc_mentions_every_catalog_query():
    """Doc-rot guard: every driver-checked catalog key must appear in
    COVERAGE.md (the judge's operator->query crosswalk)."""
    from pathlib import Path

    import __spark_entry__ as entrymod

    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    # require the backticked form so a key can't pass via a longer
    # superstring key or stray prose
    missing = [k for k in entrymod.queries() if f"`{k}`" not in text]
    assert not missing, missing


# slow tier (r13, conftest default-skip): ANSI strict-dialect sweep of all 99 entries (~175s): stress tier;
# default-run crash coverage stays via the oracle harness every round
@pytest.mark.slow
def test_catalog_executes_under_ansi_mode(spark):
    """Spark 4 deployments increasingly run ANSI mode; the engine
    defaults it OFF for the reference's coerce semantics, but every
    catalog query must still EXECUTE cleanly under ansi.enabled=true
    (no silent reliance on lenient casts / out-of-bounds element_at /
    division edge cases). Results equality vs the oracle is the normal
    harness's job; this pins crash-freedom under the strict dialect."""
    import __spark_entry__ as entrymod

    from pyspark.sql.types import ArrayType, MapType, StructType

    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        failures = []
        container_cols = []
        for name, fn in sorted(entrymod.queries().items()):
            try:
                sdf = fn(spark, "/root/testdata/sf0.001")
                # Contract lint (round-7 driver lesson): the driver's
                # pandas canonicalizer (sort_values -> factorize) raises
                # on list cells, so NO registered entry may emit a bare
                # array/map/struct output column — serialize (csv/json)
                # or explode to (pos, value) rows instead.
                for f in sdf.schema.fields:
                    if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                        container_cols.append((name, f.name, str(f.dataType)))
                sdf.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001
                failures.append((name, str(ex).split("\n")[0][:160]))
        assert not failures, failures
        assert not container_cols, container_cols
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


# slow tier (r13, conftest default-skip): adversarial-corpus parity (~11s): the same tier is run per round via
# tools/edgecase_check.py (verify skill surface 2)
@pytest.mark.slow
def test_edgecase_corpus_parity(spark, tmp_path):
    """Fast subset of tools/edgecase_check.py: the entries whose
    null/empty/short-doc semantics round 7 fixed must match their
    DuckDB oracles on the adversarial corpus (null text, empty string,
    whitespace-only, one-token, 5000-token, exact cross-dup, ...).
    The full 60-entry sweep is the tool; this pins the fixed bug
    classes (size(null) = -1 leakage, partial-shingle fingerprints,
    null-score rank order, blank-doc LM fit rows) against regression."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import __spark_entry__ as entrymod
    from edgecase_check import build_corpus
    from oracle_check import compare_entry, duck_connection

    sf = str(tmp_path / "edge")
    (tmp_path / "edge").mkdir()
    build_corpus(sf)
    con = duck_connection(sf)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    subset = [
        "text_quality",
        "text_gopher",
        "text_chunk_overlap",
        "text_quantile_norm",
        "dedup_simhash",
        "multimodal_metadata",
        "text_bpe_count",
    ]
    for name in subset:
        sdf = qs[name](spark, sf)
        problems, _ = compare_entry(sdf, con, oracles[name])
        assert not problems, (name, problems)


def test_edgecase_vector_corpus_parity(spark, tmp_path):
    """Fast subset of tools/edgecase_check.py --embeddings: the
    degenerate-vector rules (null/NaN/inf vectors excluded, zero vectors
    dropped by cosine consumers, quantizer clamp) must hold against the
    DuckDB oracles on the vector-adversarial corpus. Pins the
    corrupt-vector exclusion policy (similarity.finite_vectors) against
    regression; the 7-entry sweep is the tool."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import __spark_entry__ as entrymod
    from edgecase_check import build_embeddings_corpus
    from oracle_check import compare_entry, duck_connection

    sf = str(tmp_path / "edgevec")
    (tmp_path / "edgevec").mkdir()
    build_embeddings_corpus(sf)
    con = duck_connection(sf)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    subset = ["sim_topk_bruteforce", "sim_mean_vectors", "embed_kmeans"]
    for name in subset:
        sdf = qs[name](spark, sf)
        problems, _ = compare_entry(sdf, con, oracles[name])
        assert not problems, (name, problems)
