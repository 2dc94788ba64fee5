"""One-command judge harness: every per-round verification in one JSON.

The round-10 verdict's item 6: each round's close-out re-runs the same
five checks by hand — the full oracle sweep, pytest, bench, the pandas
baseline, and the leak/copy greps — ~30 minutes of orchestration whose
results then have to be cross-read against each other. This tool runs
all of them as subprocesses (plus two self-contained static sweeps),
parses each one's native output, and emits ONE JSON object on stdout
(and to ``JUDGE_SWEEP.json``) with a top-level ``green`` boolean the
next verdict can check first.

Stages (each skippable via ``--skip name[,name...]``):

* ``oracle``   — ``tools/oracle_check.py <sf_dir>`` over the full
  catalog; parses PASS/ok?/FAIL lines and the ``N/M pass`` trailer.
* ``pytest``   — ``python -m pytest tests/ -q``; parses the summary.
* ``bench``    — ``python bench.py``; takes the final JSON line.
* ``baseline`` — ``tools/pandas_baseline.py``; parses the markdown
  table into per-operator {pandas, spark, growth} cells and computes
  the comparable-set spark/pandas ratio at the larger SF (the number
  the verdict grades against its 2× budget).
* ``tiers`` — the three adversarial-corpus differentials
  (``tools/edgecase_check.py``: degenerate / unicode / embeddings)
  over the full catalog. Default-skipped (slowest stage, only moves
  when operator expressions change); enable with ``--tiers`` at round
  close-out.
* ``leakcheck`` — static sweep for non-public surface: URLs outside a
  public-domain allowlist, cloud-bucket schemes, env-var reads outside
  the engine's documented set, and imports outside the baked-in
  package list (stdlib resolved via ``sys.stdlib_module_names``).
* ``copycheck`` — exact-line overlap against the reference: every
  stripped line >= 26 chars in any reference source file, matched
  against every repo (non-test and test) ``.py`` line. This mirrors
  the round-10 judge's independent sweep, which is stricter than the
  driver's 0.6-similarity flagger.

Exit code 0 iff every run stage is green. Stage wall-times are
recorded so a slow regression is visible in the artifact itself.

Usage::

    python tools/judge_sweep.py [--sf-dir DIR] [--skip a,b] [--fast]

``--fast`` skips pytest + baseline (the two slowest stages) — the
inner-loop combination while iterating; the round close-out runs all.
"""

from __future__ import annotations

import ast
import os
import json
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: Read-only reference checkout the copycheck stage indexes. Overridable
#: so the suite is not silently environment-coupled: on a machine
#: without the checkout, stage_copycheck reports green=False with
#: ref_lines_indexed=0 (unrunnable != clean) and the pytest wrapper
#: skips instead of passing vacuously.
REFERENCE_ROOT = Path(os.environ.get("SPARK_GRAFT_REFERENCE_ROOT", "/root/reference"))

STAGES = (
    "oracle",
    "pytest",
    "bench",
    "baseline",
    "tiers",
    "leakcheck",
    "copycheck",
)

#: stages skipped unless explicitly requested (--tiers): the three
#: adversarial-corpus sweeps re-run the full catalog three times
#: (degenerate / unicode / embeddings) and only change when operator
#: expressions do — the round close-out runs them, the inner loop not
DEFAULT_SKIP = {"tiers"}

#: public hosts an engine built only on public knowledge may cite
URL_ALLOW = (
    "apache.org",
    "github.com",
    "githubusercontent.com",
    "arxiv.org",
    "aclanthology.org",
    "wikipedia.org",
    "python.org",
    "duckdb.org",
    "w3.org",
    "ietf.org",
    "itu.int",
    "iso.org",
    "unicode.org",
    "postgresql.org",
    "pandas.pydata.org",
    "numpy.org",
    "localhost",
    "127.0.0.1",
    "example.com",
    "xiph.org",
    "id3.org",
    "mp3-tech.org",
    "sqlite.org",
    "ecma-international.org",
)

#: throwaway hostnames used as SYNTHETIC DATA inside redaction / URL-
#: normalization fixtures (tests + oracle fixture builders). These are
#: inputs the operators parse, not services anything connects to.
FIXTURE_HOSTS = {"x.io", "ex.io", "other.org", "example.co.uk"}

#: env vars the engine documents (TESTDATA/driver contract + JVM)
ENV_ALLOW_RE = re.compile(
    r"^(SPARK_|PYSPARK_|JAVA_|MIVDP_|ARROW_|TZ$|PATH$|HOME$|PYTEST_)"
)

#: baked-in third-party packages (everything else must be stdlib or local)
PKG_ALLOW = {
    "pyspark",
    "pyarrow",
    "pandas",
    "numpy",
    "duckdb",
    "pytest",
    "hypothesis",
    "py4j",  # ships inside pyspark
    "temporai_mivdp_spark",
    "__spark_entry__",
    "bench",
    "conftest",
    "tools",
}


def _run(cmd: list[str], timeout: int) -> tuple[int, str]:
    proc = subprocess.run(
        cmd,
        cwd=REPO,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        timeout=timeout,
    )
    return proc.returncode, proc.stdout


def stage_oracle(sf_dir: str) -> dict:
    rc, out = _run([sys.executable, "tools/oracle_check.py", sf_dir], 3600)
    fails = [ln.split(":", 1)[0].split()[-1] for ln in out.splitlines() if ln.startswith("FAIL")]
    m = re.search(r"^(\d+)/(\d+) pass\s*$", out, re.M)
    passed, checked = (int(m.group(1)), int(m.group(2))) if m else (0, 0)
    return {
        "green": rc == 0 and checked > 0,
        "passed": passed,
        "checked": checked,
        "failed_keys": fails,
        "sf_dir": sf_dir,
    }


def stage_pytest() -> dict:
    rc, out = _run([sys.executable, "-m", "pytest", "tests/", "-q", "--tb=line"], 5400)
    m = re.search(r"(\d+) passed", out)
    f = re.search(r"(\d+) failed", out)
    e = re.search(r"(\d+) error", out)
    tail = [ln for ln in out.splitlines() if ln.strip()][-15:]
    return {
        "green": rc == 0,
        "passed": int(m.group(1)) if m else 0,
        "failed": int(f.group(1)) if f else 0,
        "errors": int(e.group(1)) if e else 0,
        "tail": tail if rc != 0 else [],
    }


def stage_bench() -> dict:
    rc, out = _run([sys.executable, "bench.py"], 3600)
    line = next(
        (ln for ln in reversed(out.splitlines()) if ln.startswith("{")), None
    )
    payload = None
    if line is not None:
        try:
            payload = json.loads(line)
        except json.JSONDecodeError:
            payload = None
    return {"green": rc == 0 and payload is not None, "result": payload}


def stage_baseline() -> dict:
    rc, out = _run([sys.executable, "tools/pandas_baseline.py"], 3600)
    rows: dict[str, dict] = {}
    for ln in out.splitlines():
        cells = [c.strip() for c in ln.strip().strip("|").split("|")]
        # | name | pd sf0.01 | pd sf0.1 | pd growth | sp sf0.01 | sp sf0.1 | sp growth |
        if len(cells) == 7 and re.match(r"^\d", cells[1] or "x"):
            name = cells[0]
            rows[name] = {
                "pandas_small": float(cells[1]),
                "pandas_large": float(cells[2]),
                "pandas_growth": float(cells[3].rstrip("×x")),
                "spark_small": float(cells[4]),
                "spark_large": float(cells[5]),
                "spark_growth": float(cells[6].rstrip("×x")),
            }
    pd_total = sum(r["pandas_large"] for r in rows.values())
    sp_total = sum(r["spark_large"] for r in rows.values())
    ratio = (sp_total / pd_total) if pd_total else None
    return {
        "green": rc == 0 and bool(rows) and ratio is not None and ratio < 2.0,
        "operators": rows,
        "spark_total_large_sf": round(sp_total, 3),
        "pandas_total_large_sf": round(pd_total, 3),
        "spark_over_pandas": round(ratio, 3) if ratio is not None else None,
        "budget": 2.0,
    }


def stage_tiers() -> dict:
    """The three adversarial-corpus differentials (degenerate rows,
    unicode rows, degenerate vectors) over the full catalog — the
    remaining manual step of the round-close checklist."""
    out: dict = {"green": True}
    for name, args in (
        ("degenerate", []),
        ("unicode", ["--unicode"]),
        ("embeddings", ["--embeddings"]),
    ):
        rc, text = _run(
            [sys.executable, "tools/edgecase_check.py", *args], 7200
        )
        m = re.search(r"(\d+)/(\d+) pass", text)
        fails = [
            ln.split(":", 1)[0].split()[-1]
            for ln in text.splitlines()
            if ln.startswith("FAIL")
        ]
        out[name] = {
            "passed": int(m.group(1)) if m else 0,
            "checked": int(m.group(2)) if m else 0,
            "failed_keys": fails,
        }
        if rc != 0 or not m:
            out["green"] = False
    return out


def _source_files() -> list[Path]:
    out = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=REPO, stdout=subprocess.PIPE, text=True
    ).stdout.splitlines()
    return [REPO / p for p in out if (REPO / p).exists()]


def stage_leakcheck() -> dict:
    # skip any userinfo (user:pw@) so credential-bearing URL fixtures
    # resolve to their host
    url_re = re.compile(r"https?://(?:[^/\s\"'<>@]*@)?([A-Za-z0-9.-]+)")
    bucket_re = re.compile(r"\b(s3|s3a|gs|abfss?|wasbs?|oci|cos)://([A-Za-z0-9._-]+)")
    env_re = re.compile(
        r"(?:os\.environ(?:\.get)?\s*[\[(]|os\.getenv\s*\()\s*['\"]([A-Z0-9_]+)['\"]"
    )
    hits: dict[str, list[str]] = {
        "foreign-url": [],
        "bucket-scheme": [],
        "env-var": [],
        "foreign-import": [],
    }
    stdlib = set(getattr(sys, "stdlib_module_names", ()))
    files = _source_files()
    # any repo .py (tests import sibling test modules, tools insert their
    # own dir on sys.path) is a LOCAL module, not a third-party package
    local_mods = {p.stem for p in files} | {
        p.parent.name for p in files if p.parent != REPO
    }
    for path in files:
        rel = str(path.relative_to(REPO))
        text = path.read_text(errors="replace")
        for i, ln in enumerate(text.splitlines(), 1):
            for m in url_re.finditer(ln):
                host = m.group(1).lower()
                allow = URL_ALLOW + tuple(FIXTURE_HOSTS)
                if not any(host == d or host.endswith("." + d) for d in allow):
                    hits["foreign-url"].append(f"{rel}:{i} {host}")
            for m in bucket_re.finditer(ln):
                # scheme mentions in docstrings about deploy targets are
                # fine only for the generic spark schemes with example
                # buckets; anything named is a leak candidate
                hits["bucket-scheme"].append(f"{rel}:{i} {m.group(0)}")
            for m in env_re.finditer(ln):
                if not ENV_ALLOW_RE.match(m.group(1)):
                    hits["env-var"].append(f"{rel}:{i} {m.group(1)}")
        try:
            tree = ast.parse(text)
        except SyntaxError:
            continue
        for node in ast.walk(tree):
            mods: list[str] = []
            if isinstance(node, ast.Import):
                mods = [a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                mods = [node.module.split(".")[0]]
            for mod in mods:
                if mod in stdlib or mod in PKG_ALLOW or mod in local_mods:
                    continue
                hits["foreign-import"].append(f"{rel} import {mod}")
    n = sum(len(v) for v in hits.values())
    return {"green": n == 0, "n_hits": n, "hits": hits}


#: universal Python boilerplate — identical in any two repos by nature
_IDIOM_RE = re.compile(
    r"^(if __name__ == .__main__.:"
    r"|with warnings\.catch_warnings\(\):"
    r"|@pytest\.fixture\(scope=.session.\)"
    r"|from __future__ import annotations"
    r"|raise SystemExit\(main\(\)\))$"
)

#: files whose docstrings DECLARE they transliterate reference pandas
#: chains as differential oracles (VERDICT r10 reviewed and endorsed the
#: design: "Composition-level differentials against pandas
#: transliterations of the reference"). Single-line pandas idioms over
#: the shared column vocabulary coincide by construction there.
_DECLARED_TRANSLITERATIONS = {
    "tests/test_cohort_differential.py",
    "tests/test_feature_differential.py",
}

#: public-API parity: the reference's entry-point NAMES, which a drop-in
#: replacement must reproduce (SURVEY §2's API-surface requirement) —
#: the def line matches because the identifier does, not the body
_API_PARITY_LINES = {
    "def preprocess_features_icu(",
    "def features_selection_icu(",
}


def stage_copycheck(min_len: int = 26) -> dict:
    ref_lines: dict[str, str] = {}
    for path in REFERENCE_ROOT.rglob("*") if REFERENCE_ROOT.is_dir() else ():
        if path.suffix not in {".py", ".rs", ".go", ".cpp", ".h", ".java", ".sh"}:
            continue
        try:
            text = path.read_text(errors="replace")
        except OSError:
            continue
        for ln in text.splitlines():
            s = ln.strip()
            if len(s) >= min_len:
                ref_lines.setdefault(s, str(path))
    overlaps: list[dict] = []
    benign = {"idiom": 0, "declared-transliteration": 0, "api-parity-name": 0}
    for path in _source_files():
        rel = str(path.relative_to(REPO))
        for i, ln in enumerate(path.read_text(errors="replace").splitlines(), 1):
            s = ln.strip()
            if len(s) < min_len or s not in ref_lines:
                continue
            if _IDIOM_RE.match(s):
                benign["idiom"] += 1
            elif rel in _DECLARED_TRANSLITERATIONS:
                benign["declared-transliteration"] += 1
            elif s in _API_PARITY_LINES:
                benign["api-parity-name"] += 1
            else:
                overlaps.append(
                    {"repo": f"{rel}:{i}", "ref": ref_lines[s], "line": s}
                )
    return {
        # an empty index means the stage could not run (reference checkout
        # absent) — report NOT-green rather than a silent false green
        "green": bool(ref_lines) and not overlaps,
        "min_len": min_len,
        "ref_lines_indexed": len(ref_lines),
        "overlaps": overlaps[:50],
        "n_overlaps": len(overlaps),
        "benign": benign,
    }


def main() -> int:
    sf_dir = "/root/testdata/sf0.01"
    skip: set[str] = set()
    run_tiers = False
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--sf-dir":
            sf_dir = argv[i + 1]
            i += 2
        elif a.startswith("--sf-dir="):
            sf_dir = a.split("=", 1)[1]
            i += 1
        elif a == "--skip":
            skip |= set(argv[i + 1].split(","))
            i += 2
        elif a.startswith("--skip="):
            skip |= set(a.split("=", 1)[1].split(","))
            i += 1
        elif a == "--fast":
            skip |= {"pytest", "baseline"}
            i += 1
        elif a == "--tiers":
            run_tiers = True
            i += 1
        else:
            raise SystemExit(f"unknown arg {a!r} (stages: {', '.join(STAGES)})")
    unknown = skip - set(STAGES)
    if unknown:
        raise SystemExit(f"unknown stage(s) in --skip: {sorted(unknown)}")
    if not run_tiers:
        skip |= DEFAULT_SKIP

    report: dict = {"sf_dir": sf_dir, "skipped": sorted(skip), "stages": {}}
    runners = {
        "oracle": lambda: stage_oracle(sf_dir),
        "pytest": stage_pytest,
        "bench": stage_bench,
        "baseline": stage_baseline,
        "tiers": stage_tiers,
        "leakcheck": stage_leakcheck,
        "copycheck": stage_copycheck,
    }
    for name in STAGES:
        if name in skip:
            continue
        print(f"== {name} ==", file=sys.stderr, flush=True)
        t0 = time.perf_counter()
        try:
            result = runners[name]()
        except Exception as e:  # noqa: BLE001 — a crashed stage is a red stage
            result = {"green": False, "error": f"{type(e).__name__}: {e}"}
        result["wall_s"] = round(time.perf_counter() - t0, 1)
        report["stages"][name] = result
        print(
            f"   {'green' if result['green'] else 'RED'} ({result['wall_s']}s)",
            file=sys.stderr,
            flush=True,
        )
    report["green"] = all(s["green"] for s in report["stages"].values())
    out = json.dumps(report, indent=1)
    (REPO / "JUDGE_SWEEP.json").write_text(out + "\n")
    print(out)
    return 0 if report["green"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
