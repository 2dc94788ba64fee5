"""Self-test of the benchmark at tiny input sizes.

    python -m pytest perfbench/tests -q

Runs every workload once untraced and once traced (a few minutes: each
run starts its own JVM) and checks that every metric BENCHMARK.json
declares is emitted with its unit, that the output checks ran and
passed, and that the recorded spans nest with non-negative self time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, trace  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
TINY = {"icu_pipeline": 40, "llm_curation": 80}
STEPS = {"icu_pipeline": 10, "llm_curation": 11}
_RUNS: dict = {}


def _run(workload: str, traced: bool):
    key = (workload, traced)
    if key not in _RUNS:
        cmd = [*BENCH["command"], "--workload", workload, "--seed", "3",
               "--seconds", "0", "--trace", str(int(traced)),
               "--size", str(TINY[workload])]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             timeout=600)
        assert out.returncode == 0, out.stderr[-3000:]
        info, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        _RUNS[key] = info, result
    return _RUNS[key]


def test_workloads_match_benchmark_json():
    from perfbench.run import SIZES

    assert sorted(SIZES) == sorted(w["name"] for w in BENCH["workloads"])


@pytest.mark.parametrize("traced", [False, True])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_metric_emitted_with_unit(workload, traced):
    _, result = _run(workload, traced)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    declared = BENCH["per_layer" if traced else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    if not traced:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", sorted(TINY))
def test_output_checks_run_and_pass(workload):
    info, result = _run(workload, False)
    assert result["correct"] and result["failed"] == 0
    assert info["hashes"], "no artifact was hashed"
    # each iteration (warm-up or measured) counts its build, write and
    # hash steps: icu 5 + 4 + 1, curation 5 + 5 + 1
    n_iter = len(info["iterations"]) + len(info["setup"]["warm_s"])
    assert result["attempted"] == n_iter * STEPS[workload]
    assert info["cpus"] == info["default_parallelism"]


@pytest.mark.parametrize("workload", sorted(TINY))
def test_spans_nest_with_nonnegative_self_time(workload):
    info, result = _run(workload, True)
    with open(info["trace_file"]) as f:
        spans = [json.loads(x) for x in f]
    by_id = {s["id"]: s for s in spans}
    assert {s["run"] for s in spans} == {spans[0]["run"]}
    for s in spans:
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] <= s["end"] <= p["end"]
        else:
            assert s["name"] == "iteration"
    assert min(trace.self_times(spans).values()) >= 0
    layers = {s["layer"] for s in spans if s["traced"] and s["kind"] == "build"}
    assert layers and all(
        result["metrics"][f"{layer}.build_s"]["value"] > 0 for layer in layers)


def test_self_times_subtract_union_of_children():
    spans = [
        {"id": "r", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "parent": "r", "start": 1.0, "end": 4.0},
        {"id": "b", "parent": "r", "start": 3.0, "end": 5.0},
        {"id": "c", "parent": "b", "start": 3.5, "end": 4.0},
    ]
    st = trace.self_times(spans)
    assert st == pytest.approx({"r": 6.0, "a": 3.0, "b": 1.5, "c": 0.5})


def test_host_scaled_drops_and_applies_calibration():
    spans = [
        {"id": "r", "parent": None, "kind": "group", "start": 0.0, "end": 10.0},
        {"id": "c0", "parent": "r", "kind": "cal", "start": 0.0, "end": 1.0, "cal_s": 0.1},
        {"id": "b", "parent": "r", "kind": "build", "start": 1.0, "end": 4.0},
        {"id": "c1", "parent": "r", "kind": "cal", "start": 4.0, "end": 5.0, "cal_s": 0.3},
        {"id": "e", "parent": "r", "kind": "exec", "start": 5.0, "end": 9.0},
        {"id": "c2", "parent": "r", "kind": "cal", "start": 9.0, "end": 10.0, "cal_s": 0.1},
    ]
    # both steps ran while the kernel took twice its reference time
    got = trace.host_scaled(spans, "r", 0.1)
    assert got == pytest.approx({"wall_s": 7.0, "wall_n": 3.5, "build_n": 1.5,
                                 "exec_n": 2.0, "cal_s": 0.1})


def test_metric_value_parses_status_store_strings():
    assert trace.metric_value("1,234") == 1234
    assert trace.metric_value("12 ms") == pytest.approx(0.012)
    assert trace.metric_value("8.0 MiB") == 8 * trace.MB
    assert trace.metric_value(
        "total (min, med, max (stageId: taskId))\n480.0 B (240.0 B, 240.0 B, "
        "240.0 B (stage 0.0: task 1))") == 480


def test_content_hash_ignores_row_order_and_files(tmp_path):
    df = pd.DataFrame({"k": [3, 1, 2], "v": [0.1 + 0.2, None, 2.5],
                       "s": ["c", "a", None]})
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    df.to_parquet(a / "part-0.parquet")
    df.iloc[::-1].iloc[:2].to_parquet(b / "part-0.parquet")
    df.iloc[::-1].iloc[2:].to_parquet(b / "part-1.parquet")
    assert checks.content_hash(str(a)) == checks.content_hash(str(b))
    df.loc[0, "v"] = 0.31
    df.to_parquet(a / "part-0.parquet")
    assert checks.content_hash(str(a)) != checks.content_hash(str(b))
