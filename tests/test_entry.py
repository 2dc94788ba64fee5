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
    """The driver hash-checks only the first 50 registered entries.

    Round-11 roster, derived (not hand-listed): the head must hold every
    key whose driver evidence would otherwise age past the two-round
    invariant bound — i.e. every key with no green row in the previous
    round (LAST_DRIVER_ROUND < CURRENT_ROUND - 1) — plus fillers from the
    previous window chosen newest-first (round 11: dedup_image_phash, one
    green row). The tail is exactly WINDOW_TAIL and nothing is silently
    dropped — queries() returns the full catalog with oracles in the same
    order."""
    from temporai_mivdp_spark.queries import (
        CURRENT_ROUND,
        LAST_DRIVER_ROUND,
        QUERIES,
        WINDOW_TAIL,
    )

    keys = list(entrymod.queries())
    assert len(keys) == len(QUERIES), "reorder must not drop entries"
    window = set(keys[:50])
    # None marks a key registered this round (no artifact yet) — those
    # are pinned in-window by test_window_rotation_invariant; filter
    # them here so the comparison stays int-vs-int.
    must_face_driver = {
        k
        for k in keys
        if LAST_DRIVER_ROUND[k] is not None
        and LAST_DRIVER_ROUND[k] < CURRENT_ROUND - 1
    }
    assert must_face_driver <= window, must_face_driver - window
    assert "dedup_image_phash" in window  # r11+r12 filler: newest entry
    assert tuple(keys[len(keys) - len(WINDOW_TAIL):]) == WINDOW_TAIL
    assert list(entrymod.oracle_sql()) == [
        k for k in keys if k in entrymod.oracle_sql()
    ]


def test_window_rotation_invariant():
    """The round-11 codification of the rotation policy (the r10
    verdict's #1 task): at registration time, every catalog key must
    either sit inside the 50-key driver window for CURRENT_ROUND or
    carry a driver-green row from the previous round — so once the
    current round's driver run lands, no key's evidence is ever more
    than two rounds old. A key that is neither in-window nor current
    fails the suite by name."""
    from temporai_mivdp_spark.queries import (
        CURRENT_ROUND,
        LAST_DRIVER_ROUND,
        WINDOW_TAIL,
    )

    keys = list(entrymod.queries())
    window = set(keys[:50])
    unknown = [k for k in keys if k not in LAST_DRIVER_ROUND]
    assert not unknown, f"keys missing from LAST_DRIVER_ROUND: {unknown}"
    # None marks a key REGISTERED THIS ROUND with no driver artifact yet;
    # such a key must face the driver now, i.e. sit inside the window
    # (without this provision no new entry could ever be added: it has
    # no CORRECTNESS row, so any claimed round would fail the artifact
    # cross-check below)
    new_keys = [k for k, v in LAST_DRIVER_ROUND.items() if v is None]
    outside = sorted(set(new_keys) - window)
    assert not outside, f"new keys must enter the driver window: {outside}"
    stale = [
        k
        for k in keys
        if k not in window
        and LAST_DRIVER_ROUND[k] is not None
        and LAST_DRIVER_ROUND[k] < CURRENT_ROUND - 1
    ]
    assert not stale, (
        "window-rotation invariant violated — these keys are outside the "
        f"round-{CURRENT_ROUND} driver window with driver evidence older "
        f"than round {CURRENT_ROUND - 1}: {sorted(stale)}"
    )
    # the map must not name retired keys either
    gone = sorted(set(LAST_DRIVER_ROUND) - set(keys))
    assert not gone, f"LAST_DRIVER_ROUND names unregistered keys: {gone}"
    # and WINDOW_TAIL keys must all be current (they sit outside the
    # window; a new/None key can never sit in the tail)
    assert all(
        LAST_DRIVER_ROUND[k] is not None
        and LAST_DRIVER_ROUND[k] >= CURRENT_ROUND - 1
        for k in WINDOW_TAIL
    )


def test_last_driver_round_matches_artifacts():
    """LAST_DRIVER_ROUND is maintained by hand at rotation time; this
    cross-checks it against the driver-produced CORRECTNESS_r*.json
    artifacts so a stale or optimistic entry cannot survive a pytest
    run. A row counts as green only when rows/schema/hash all match and
    err is null — the same bar the verdicts apply."""
    import json
    import re
    from pathlib import Path

    from temporai_mivdp_spark.queries import CURRENT_ROUND, LAST_DRIVER_ROUND

    root = Path(__file__).resolve().parents[1]
    derived: dict[str, int] = {}
    rounds_seen = []
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", p.name).group(1))
        # artifacts from CURRENT_ROUND onward may land mid-round (the
        # driver writes them after this tree is judged); the hand map
        # records the state AT rotation time, so ignore them here
        if rnd >= CURRENT_ROUND:
            continue
        rounds_seen.append(rnd)
        for k, v in json.loads(p.read_text()).items():
            if (
                isinstance(v, dict)
                and v.get("err") is None
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match", True)
            ):
                derived[k] = max(derived.get(k, 0), rnd)
    assert rounds_seen, "no CORRECTNESS artifacts found"
    derived = {k: r for k, r in derived.items() if k in LAST_DRIVER_ROUND}
    mism = {
        k: (LAST_DRIVER_ROUND[k], derived[k])
        for k in derived
        if LAST_DRIVER_ROUND[k] is not None and LAST_DRIVER_ROUND[k] != derived[k]
    }
    assert not mism, f"LAST_DRIVER_ROUND disagrees with artifacts: {mism}"
    # None-valued keys are new this round (no artifact CAN exist yet;
    # the rotation test pins them inside the window instead); every key
    # CLAIMING a round must have that green artifact row
    claiming = {k for k, v in LAST_DRIVER_ROUND.items() if v is not None}
    missing = sorted(claiming - set(derived))
    assert not missing, (
        f"LAST_DRIVER_ROUND claims rounds for keys with no green artifact row: {missing}"
    )
    # and a key that HAS a green artifact row must not hide behind None
    # (the sentinel is for genuinely new keys only)
    hiding = sorted(set(derived) - claiming)
    assert not hiding, f"keys marked new but already driver-green: {hiding}"


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


def test_coverage_doc_lists_exact_window_tail_command():
    """COVERAGE.md's copy-paste re-verification command must name exactly
    the keys in queries.WINDOW_TAIL — a stale command silently skips
    re-verifying a displaced entry (this bit round 6: j4_dictionary_join
    was displaced but never added to the documented command)."""
    import re
    from pathlib import Path

    from temporai_mivdp_spark.queries import WINDOW_TAIL

    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    m = re.search(
        r"oracle_check\.py /root/testdata/sf0\.01 ([a-z0-9_\s]+?)`", text
    )
    assert m, "re-verification command not found in COVERAGE.md"
    documented = set(m.group(1).split())
    assert documented == set(WINDOW_TAIL), (
        sorted(set(WINDOW_TAIL) - documented),
        sorted(documented - set(WINDOW_TAIL)),
    )


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
