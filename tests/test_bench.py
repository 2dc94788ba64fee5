"""bench.py's driver line contract, without Spark: exactly seven keys in a
fixed order, one line under 1900 chars even at worst-case values, and a
raise (not a truncated line) when it would not fit."""

import json

import pytest

from bench import HEADLINE, driver_line, payload

KEYS = ["metric", "value", "unit", "queries", "calibration_sec",
        "calibration_shuffle_sec", "sf"]


def _payload():
    recs = {n: {"exec_min_s": 123456.789}
            for n in [*HEADLINE, "calibration", "calibration_shuffle"]}
    return payload(recs, "testdata/sf0.1")


def test_driver_line_keys_order_and_length():
    line = driver_line(_payload())
    assert "\n" not in line and len(line) < 1900
    got = json.loads(line)
    assert list(got) == KEYS
    assert list(got["queries"]) == HEADLINE
    assert got["value"] == round(123456.789 * len(HEADLINE), 3)
    assert got["calibration_sec"] == got["calibration_shuffle_sec"] == 123456.789
    assert got["sf"] == 0.1 and got["unit"] == "sec"


def test_driver_line_too_long_raises():
    out = _payload()
    out["queries"] = {f"{n}_{i}": 123456.789 for i in range(4) for n in HEADLINE}
    with pytest.raises(RuntimeError, match="too long"):
        driver_line(out)
