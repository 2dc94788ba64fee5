"""tools/measure.py end to end on a cheap query: an inflated input, two
core counts (two fresh JVMs), one record per core count with matching
result hashes, and no inflated data left behind."""

import json
import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]


def test_measure_inflated_core_sweep(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    proc = subprocess.run(
        [sys.executable, "tools/measure.py", "--queries", "a2_two_level_agg",
         "--sf", SF_SMOKE, "--inflate", "2",
         "--cores", "1,2", "--repeats", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
        env={**os.environ, "TMPDIR": str(tmp)},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    recs = [json.loads(ln) for ln in proc.stdout.splitlines()]

    inflated = [r for r in recs if "tables" in r]
    assert len(inflated) == 1
    for name, t in inflated[0]["tables"].items():
        assert t["rows"] == 2 * t["base_rows"] > 0, name

    runs = [r for r in recs if "query" in r]
    assert sorted(r["cores"] for r in runs) == [1, 2]
    for r in runs:
        assert r["query"] == "a2_two_level_agg" and r["inflate"] == 2
        assert r["build_s"] > 0 and 0 < r["exec_min_s"] <= r["exec_median_s"]
        assert r["rows"] > 0 and len(r["hash"]) == 16
        # classes compiled during the fastest execution (0 once the
        # codegen cache holds the query's classes)
        assert isinstance(r["codegen_classes"], int) and r["codegen_classes"] >= 0
        s = r["stages"]
        assert s["jobs"] >= 1 and s["tasks"] >= 1 and s["task_s"] > 0
        assert {"cpu_s", "shuffle_mb", "spill_mb", "peak_task_mem_mb"} <= set(s)
    assert len({r["hash"] for r in runs}) == 1

    assert not list(tmp.glob("mivdp_measure_*"))
    assert not list(tmp.rglob("*.parquet"))
