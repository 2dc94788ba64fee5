"""Static judge-sweep stages as standing pytest guards.

tools/judge_sweep.py's leakcheck and copycheck stages are pure static
sweeps (no Spark, <2s together); running them inside the suite turns
"the repo cites no non-public surface" and "no line is copied from the
reference" from per-round verdict spot-checks into invariants that fail
the suite the moment a commit violates them. The slow stages (oracle,
pytest, bench, baseline) are exercised by the tool itself at round
close-out — re-running them here would recurse (pytest stage) or double
the suite's runtime.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from judge_sweep import ENV_ALLOW_RE, stage_copycheck, stage_leakcheck  # noqa: E402


def test_leakcheck_green():
    result = stage_leakcheck()
    assert result["green"], result["hits"]


def test_env_allowlist_has_no_bare_tool_knobs():
    # tools take their knobs as command-line options; a bare env name
    # such as REPS would let a script's behavior drift with the shell
    assert ENV_ALLOW_RE.match("SPARK_GRAFT_CPUS")
    assert not ENV_ALLOW_RE.match("REPS")


def test_copycheck_green():
    result = stage_copycheck()
    if result["ref_lines_indexed"] == 0:
        import pytest

        pytest.skip("reference checkout not present on this machine")
    assert result["green"], result["overlaps"]
    # the benign tiers are bounded allowlists, not an open escape hatch:
    # a jump in any class means new verbatim-shared lines appeared and
    # the classification needs re-review, not silent acceptance
    benign = result["benign"]
    assert benign["idiom"] <= 40, benign
    assert benign["declared-transliteration"] <= 20, benign
    assert benign["api-parity-name"] <= 4, benign
