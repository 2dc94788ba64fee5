"""Spans around the benchmark's calls into the engine, and the Spark
metrics of the jobs each span launched.

A span is a named interval (``layer``, ``kind``) with a parent. Spans
are always timed, because the end-to-end build/execute split comes from
them; only a traced iteration also tags Spark jobs with the innermost
span's job group, so that ``StatusStore`` records can be attributed to
layers afterwards. Before every step of an iteration (a ``build``,
``exec`` or ``check`` span directly below the iteration) the tracer
times a calibration kernel in a ``cal`` span: how fast the host runs at
that moment (see ``host_scaled``). Everything is read from the in-process
status stores (works with ``spark.ui.enabled=false``); nothing is added
to the engine.
"""

from __future__ import annotations

import itertools
import json
import re
import statistics
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0
_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse a formatted SQL metric ("1,234", "8.2 MiB", "12 ms" or the
    "total (min, med, max ...)\\n<total> (...)" form) into bytes, seconds
    or a plain count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


STEPS = ("build", "exec", "check")


class Tracer:
    """In-memory span recorder for one benchmark invocation.

    ``steps`` / ``failures`` count the build, exec and check spans
    attempted and failed (the error rate's numerator and denominator).
    ``calibrate`` returns the calibration kernel's time in seconds.
    """

    def __init__(self, spark, run_id: str, calibrate=None):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.calibrate = calibrate
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.tagging = False
        self._ids = itertools.count()
        self.steps = 0
        self.failures = 0

    def checkpoint(self) -> None:
        """Time the calibration kernel in a ``cal`` span."""
        if self.calibrate is not None:
            with self.span("calibrate", "bench", "cal") as rec:
                rec["cal_s"] = self.calibrate()

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "group"):
        if kind in STEPS and len(self.stack) == 1:
            self.checkpoint()
        parent = self.stack[-1]["id"] if self.stack else None
        rec = {"id": f"{self.run_id}.{next(self._ids)}",
               "name": name, "layer": layer, "kind": kind, "parent": parent,
               "run": self.run_id, "traced": self.tagging}
        self.stack.append(rec)
        if self.tagging:
            self.sc.setJobGroup(rec["id"], name, False)
        if kind in STEPS:
            self.steps += 1
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except Exception:
            if kind in STEPS:
                self.failures += 1
            raise
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self.spans.append(rec)
            if self.tagging:
                if self.stack:
                    self.sc.setJobGroup(self.stack[-1]["id"], self.stack[-1]["name"], False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def failed_check(self) -> None:
        """Count an output check that ran without raising but failed."""
        self.failures += 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def descendants(spans: list[dict], root_id: str) -> list[dict]:
    """``root_id``'s span and every span below it."""
    kids: dict[str | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def host_scaled(spans: list[dict], root_id: str, ref_s: float) -> dict[str, float]:
    """Times of the iteration ``root_id`` with its ``cal`` spans taken
    out: ``wall_s`` as measured, and ``wall_n`` / ``build_n`` /
    ``exec_n`` in seconds at the reference host speed.

    The calibration spans cut the iteration into segments; a segment's
    time is scaled by ``ref_s`` over the mean kernel time at its two ends
    (the one end it has, before the first or after the last), so a host
    that runs slower for a while does not read as a slower program."""
    sub = descendants(spans, root_id)
    root = next(s for s in sub if s["id"] == root_id)
    cals = sorted((s for s in sub if s["kind"] == "cal"), key=lambda s: s["start"])
    if not cals:
        raise ValueError("iteration without calibration spans")
    # segments between calibrations: (start, end, scale)
    lows = [(root["start"], None)] + [(c["end"], c) for c in cals]
    highs = [(c["start"], c) for c in cals] + [(root["end"], None)]
    segs = []
    for (a, ca), (b, cb) in zip(lows, highs):
        ks = [c["cal_s"] for c in (ca, cb) if c is not None]
        segs.append((a, b, ref_s * len(ks) / sum(ks)))

    def scaled(s: dict) -> float:
        mid = (s["start"] + s["end"]) / 2
        k = next(k for a, b, k in segs if a <= mid <= b)
        return (s["end"] - s["start"]) * k

    steps = [s for s in sub if s["parent"] == root_id and s["kind"] in STEPS]
    return {
        "wall_s": sum(b - a for a, b, _ in segs),
        "wall_n": sum((b - a) * k for a, b, k in segs),
        "build_n": sum(scaled(s) for s in steps if s["kind"] == "build"),
        "exec_n": sum(scaled(s) for s in steps if s["kind"] == "exec"),
        "cal_s": statistics.median(c["cal_s"] for c in cals),
    }


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[str | None, list[tuple[float, float]]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class StatusStore:
    """Reads jobs, stages and SQL plan metrics from Spark's in-process
    status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._q1 = self.sc._gateway.new_array(self.jvm.double, 1)
        self._q1[0] = 1.0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        self.drain()
        ids = [j.jobId() for j in self.conv.asJava(self.store.jobsList(None))]
        return max(ids) + 1 if ids else 0

    def jobs(self, first_job: int) -> list[dict]:
        """Jobs with id >= ``first_job``: id, job group, stage ids."""
        self.drain()
        out = []
        for j in self.conv.asJava(self.store.jobsList(None)):
            if j.jobId() < first_job:
                continue
            grp = j.jobGroup()
            out.append({"id": j.jobId(),
                        "group": grp.get() if grp.isDefined() else None,
                        "stages": list(self.conv.asJava(j.stageIds()))})
        return out

    def stage(self, stage_id: int) -> dict | None:
        """Aggregated task metrics of a stage's last attempt, plus its
        largest per-task peak execution memory; ``None`` when the stage
        never ran (skipped) or is no longer retained."""
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - py4j NoSuchElementException
            return None
        if s.status().toString() == "SKIPPED":
            return None
        peak = 0.0
        summ = self.store.taskSummary(stage_id, s.attemptId(), self._q1)
        if summ.isDefined():
            peak = float(self.conv.asJava(summ.get().peakExecutionMemory())[0])
        return {
            "tasks": s.numTasks(),
            "failed_tasks": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_b": s.shuffleWriteBytes(),
            "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input_b": s.inputBytes(),
            "input_rows": s.inputRecords(),
            "output_b": s.outputBytes(),
            "peak_task_mem_b": peak,
        }

    def operators(self, job_ids: set[int]) -> list[tuple[set[int], str, dict[str, float]]]:
        """(job ids, node name, {metric: value}) for every plan node of
        the SQL executions that ran any of ``job_ids``."""
        out = []
        for e in self.conv.asJava(self.sql.executionsList()):
            jobs = {int(k) for k in self.conv.asJava(e.jobs()).keySet()}
            if not jobs & job_ids:
                continue
            eid = e.executionId()
            values = self.conv.asJava(self.sql.executionMetrics(eid))
            graph = self.sql.planGraph(eid)
            for node in self.conv.asJava(graph.allNodes()):
                mets = {}
                for m in self.conv.asJava(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is not None:
                        mets[m.name()] = mets.get(m.name(), 0.0) + metric_value(v)
                out.append((jobs, node.name(), mets))
        return out
