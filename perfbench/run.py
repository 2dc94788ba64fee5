"""End-to-end benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload icu_pipeline --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. A fresh Spark session (``local[nproc]``,
shuffle partitions = nproc) is started per invocation; one client runs
iterations back to back (closed loop) for ``--seconds`` after set-up.

* Set-up (``setup_s``): session start + input generation (repeated
  ``GEN_REPEATS`` times from the seed, median taken) + ``WARMUP``
  warm-up iterations. The first iteration in a JVM pays JIT, code
  generation and Python-worker start-up (two to three times a later one).
* Each measured iteration goes from inputs on disk to every output
  written and checked. Between iterations the outputs are deleted and the
  scratch roots (the engine's curation scratch under ``$TMPDIR``, the
  warehouse dir, ``SPARK_LOCAL_DIRS``) are measured, then the first two
  are cleared; Spark's own cleaner empties the third after a JVM GC.
* Host speed. On a shared host the same single-threaded loop runs up to
  twice as slow from one few-second stretch to the next. So before every
  step of an iteration, and around session start, the run times a fixed
  Python kernel (``_kernel``, ~0.1 s), and every end-to-end time is
  reported in seconds at the kernel's reference speed ``CAL_REF_S``:
  each stretch between two kernel timings is scaled by ``CAL_REF_S``
  over their mean. The kernel's own time is left out of every metric.
* ``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, from the
  fastest measured iteration (the JVM is still compiling through every
  run, and that and a busy host only ever add time). ``--trace 1``
  alternates untraced and traced iterations and prints the per-layer
  metrics, medians over the traced ones, as measured (only
  ``bench.build_s`` is scaled): spans set a Spark job group, and the
  jobs' stage and SQL-operator metrics are read back from the in-process
  status stores.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (build/exec/check steps) and ``metrics``. Spans go to
``perfbench/.traces/``; everything else the run writes stays under
``perfbench/.work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: input size per workload: subjects, corpus documents
SIZES = {"icu_pipeline": 150, "llm_curation": 600}
DEFAULT_SEED = 0
GEN_REPEATS = 3
WARMUP = 1
#: measured iterations per run, at least (the fastest is reported)
MIN_ITERS = 2
#: seconds one pass of ``_kernel`` takes on a quiet 4-vCPU x86-64 host
#: (Python 3.11): the reference speed end-to-end times are scaled to
CAL_REF_S = 0.08
#: kernel passes around session start (median taken)
CAL_REPEATS = 3


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", type=float, default=None,
                   help="override the workload's input size (self-test)")
    return p.parse_args(argv)


def _scratch_roots(work: str) -> dict[str, str]:
    roots = {k: os.path.join(work, k) for k in ("tmp", "warehouse", "spark-local")}
    for p in roots.values():
        os.makedirs(p, exist_ok=True)
    return roots


def _session(roots: dict[str, str], cores: int):
    # every temp file of the run (JVM, Python workers, the engine's
    # curation scratch) lands under the run's work dir
    jvm_opts = f"-Djava.io.tmpdir={roots['tmp']} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=roots["tmp"],
        SPARK_LOCAL_DIRS=roots["spark-local"],
        SPARK_LAUNCHER_OPTS=jvm_opts,  # spark-submit's helper JVM
    )
    tempfile.tempdir = None
    from temporai_mivdp_spark.session import get_session

    spark = get_session(
        app_name="mivdp-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": roots["warehouse"],
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for
    it to exit (its Python workers are its children and go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _kernel() -> float:
    """Time one pass of a fixed single-threaded CPU kernel (dict inserts,
    string building, a sort); it does not touch the program under test."""
    t = time.perf_counter()
    d = {}
    for i in range(300_000):
        d[i * 7919 % 100_003] = str(i)
    sorted(d.values())
    return time.perf_counter() - t


def _calibrate() -> float:
    """How fast the host runs right now: the kernel's median time."""
    return statistics.median(_kernel() for _ in range(CAL_REPEATS))


def _scale(before: float, after: float) -> float:
    """Factor that turns a time measured between two calibrations into
    seconds at the reference host speed."""
    return CAL_REF_S / ((before + after) / 2)


def _clear(roots: dict[str, str]) -> None:
    """Empty the engine's curation scratch and the warehouse dir."""
    for d in (os.path.join(roots["tmp"], "mivdp_curation_scratch"), roots["warehouse"]):
        for name in os.listdir(d) if os.path.isdir(d) else ():
            shutil.rmtree(os.path.join(d, name), ignore_errors=True)


def main(argv=None) -> int:
    args = _args(argv)
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    roots = _scratch_roots(work)
    sys.path.insert(0, ROOT)
    from perfbench import layers
    from perfbench.trace import StatusStore, Tracer, host_scaled
    from perfbench.workloads import WORKLOADS, dir_bytes

    cores = len(os.sched_getaffinity(0))
    cal0 = _calibrate()
    t0 = time.perf_counter()
    try:
        spark = _session(roots, cores)
    except Exception:
        shutil.rmtree(work, ignore_errors=True)
        raise
    session_s = time.perf_counter() - t0
    setup_scale = _scale(cal0, _calibrate())
    ok = False
    try:
        wl = WORKLOADS[args.workload](os.path.join(work, "run"),
                                      args.size or SIZES[args.workload])
        store = StatusStore(spark)
        tr = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}", _kernel)
        gen_s = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            wl.generate(args.seed)
            gen_s.append(time.perf_counter() - t)
        problems: list[str] = []

        pins = {}
        if args.seed == DEFAULT_SEED and args.size is None:
            with open(os.path.join(HERE, "pins.json")) as f:
                pins = json.load(f).get(args.workload, {})
        ref: dict[str, str] = dict(pins)
        iters: list[dict] = []
        scratch_mb: list[float] = []

        def run_one(traced: bool) -> dict:
            tr.tagging = traced
            try:
                with tr.span("iteration", "bench") as rec:
                    hashes = wl.iteration(spark, tr)
                    tr.checkpoint()
            finally:
                tr.tagging = False
                wl.clear_outputs()
                spark._jvm.System.gc()
                scratch_mb.append(sum(dir_bytes(p) for p in roots.values()) / 2**20)
                _clear(roots)
            if ref and set(hashes) != set(ref):
                tr.failed_check()
                problems.append(f"artifacts {sorted(set(hashes) ^ set(ref))} differ")
            for k, h in hashes.items():
                if ref.setdefault(k, h) != h:
                    tr.failed_check()
                    problems.append(f"{k}: hash {h} != {ref[k]}")
            return {"span": rec["id"], "traced": traced,
                    **host_scaled(tr.spans, rec["id"], CAL_REF_S)}

        warm, metrics = [], {}
        try:
            for _ in range(WARMUP):
                warm.append(run_one(False))
            setup_s = ((session_s + statistics.median(gen_s)) * setup_scale
                       + sum(w["wall_n"] for w in warm))
            scratch_mb.clear()

            first_job = store.next_job_id()
            t_end = time.perf_counter() + args.seconds
            while True:
                traced = bool(args.trace) and len(iters) % 2 == 1
                iters.append(run_one(traced))
                left = t_end - time.perf_counter()
                if len(iters) >= MIN_ITERS and left < iters[-1]["wall_s"] / 2:
                    break
            if args.trace:
                metrics = layers.per_layer(
                    tr.spans, iters, store, first_job, wl, cores, scratch_mb, tr)
            else:
                metrics = layers.end_to_end(iters, store, first_job, wl, setup_s)
        except Exception:  # noqa: BLE001 - the failed step is counted
            traceback.print_exc()
        trace_file = None
        if args.trace:
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            trace_file = os.path.join(HERE, ".traces", f"{tr.run_id}.jsonl")
            tr.write(trace_file)
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "cpus": cores,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "setup": {"session_s": session_s, "gen_s": gen_s,
                      "warm_s": [w["wall_s"] for w in warm], "scale": setup_scale},
            "iterations": [[i["wall_s"], i["traced"], i["wall_n"], i["cal_s"]] for i in iters],
            "hashes": ref, "trace_file": trace_file,
        }))
        ok = bool(metrics) and not problems and tr.failures == 0
        print(json.dumps({"correct": ok, "attempted": max(tr.steps, 1),
                          "failed": tr.failures, "metrics": metrics}))
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
