"""Turn spans and Spark status-store records into the benchmark's
metrics: the end-to-end set (untraced iterations) and the per-layer set
(traced iterations), both as ``{name: {"value": v, "unit": u}}``.

Layer names are the engine's module names. A layer's ``build_s`` /
``exec_s`` / ``self_s`` come from its spans; ``task_s`` (executor run
time), ``shuffle_mb``, ``spill_mb``, ``jobs`` / ``eager_jobs`` (jobs
started inside build spans) and Python-worker traffic come from the
Spark jobs tagged with those spans' job groups.

``sources`` is measured at the stage level over all of an iteration's
jobs: ``scan_*`` / ``rows_read`` over stages that read files (one task
per gzip file shows in ``scan_tasks``), ``write_s`` / ``bytes_written``
over stages that wrote files, ``files_written`` from the write nodes.
"""

from __future__ import annotations

import statistics

from perfbench.trace import MB, descendants, self_times

#: layer -> its per-layer metric suffixes (all layers get self_s too)
LAYER_METRICS = {
    "mivdp.cohort": ("build_s", "exec_s", "task_s", "shuffle_mb"),
    "mivdp.features": ("build_s", "eager_jobs", "exec_s", "task_s", "shuffle_mb",
                       "spill_mb"),
    "mivdp.datagen": ("build_s", "exec_s", "task_s", "shuffle_mb", "jobs"),
    "llmdata.dedup": ("build_s", "eager_jobs", "exec_s", "task_s", "shuffle_mb",
                      "python_in_mb", "python_out_mb", "pair_yield"),
    "llmdata.pipeline": ("build_s", "eager_jobs", "exec_s", "task_s",
                         "python_in_mb"),
}
SOURCES = ("scan_s", "scan_tasks", "rows_read", "write_s", "bytes_written",
           "files_written")
SPARK = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "core_util",
         "shuffle_write_mb", "spill_mb", "failed_tasks")
RUN = ("trace.overhead_s", "bench.build_s", "bench.self_s", "bench.check_s",
       "bench.host_cal_s", "error_rate", "scratch_left_mb",
       "bytes_written_per_input_byte")


def unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("sources.bytes_written",):
        return "B"
    if name.endswith(("core_util", "pair_yield", "error_rate", "_per_input_byte")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"sources.{m}" for m in SOURCES]
    for layer, mets in LAYER_METRICS.items():
        names += [f"{layer}.{m}" for m in mets] + [f"{layer}.self_s"]
    return names + [f"spark.{m}" for m in SPARK] + list(RUN)


def _out(values: dict[str, float]) -> dict[str, dict]:
    return {k: {"value": float(v), "unit": unit(k)} for k, v in values.items()}


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


class _Stages:
    """Memoized per-stage records."""

    def __init__(self, store):
        self.store, self.cache = store, {}

    def __call__(self, ids) -> list[dict]:
        out = []
        for i in set(ids):
            if i not in self.cache:
                self.cache[i] = self.store.stage(i)
            if self.cache[i] is not None:
                out.append(self.cache[i])
        return out


def end_to_end(iters, store, first_job, wl, setup_s) -> dict[str, dict]:
    stages = _Stages(store)
    jobs = store.jobs(first_job)
    peak = max((s["peak_task_mem_b"] for j in jobs for s in stages(j["stages"])),
               default=0.0)
    # the fastest iteration: a busy host or a JVM still compiling only
    # ever add time, so the minimum is the steadiest estimate
    wall = min(i["wall_n"] for i in iters)
    return _out({
        "setup_s": setup_s,
        "wall_s": wall,
        "exec_s": min(i["exec_n"] for i in iters),
        "input_rows_per_s": wl.input_rows / wall,
        "peak_task_mem_mb": peak / MB,
    })


def _iteration_layers(spans, it, jobs, stages, ops, cores, input_bytes) -> dict:
    sub = descendants(spans, it["span"])
    selfs = self_times(sub)
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    m: dict[str, float] = {}

    def jobs_of(span_list):
        return [j for s in span_list for j in by_group.get(s["id"], [])]

    def op_sum(job_list, name_part, metric):
        ids = {j["id"] for j in job_list}
        return sum(v.get(metric, 0.0) for js, node, v in ops
                   if js & ids and name_part in node)

    for layer, mets in LAYER_METRICS.items():
        ls = [s for s in sub if s["layer"] == layer]
        lj = jobs_of(ls)
        st = stages(x for j in lj for x in j["stages"])
        vals = {
            "build_s": _dur(s for s in ls if s["kind"] == "build"),
            "exec_s": _dur(s for s in ls if s["kind"] == "exec"),
            "task_s": sum(s["run_s"] for s in st),
            "shuffle_mb": sum(s["shuffle_write_b"] for s in st) / MB,
            "spill_mb": sum(s["spill_b"] for s in st) / MB,
            "jobs": len(lj),
            "eager_jobs": len(jobs_of(s for s in ls if s["kind"] == "build")),
            "python_in_mb": op_sum(lj, "", "data sent to Python workers") / MB,
            "python_out_mb": op_sum(lj, "", "data returned from Python workers") / MB,
        }
        if "pair_yield" in mets:
            # pair rows leave the MapInArrow emit when the pairs are written
            pj = jobs_of(s for s in ls if s["name"] in ("pairs", "write curation/pairs"))
            emitted = op_sum(pj, "MapInArrow", "number of output rows")
            kept = op_sum(pj, "InsertInto", "number of output rows")
            vals["pair_yield"] = kept / emitted if emitted else 0.0
        for k in mets:
            m[f"{layer}.{k}"] = vals[k]
        m[f"{layer}.self_s"] = sum(selfs[s["id"]] for s in ls)

    aj = jobs_of(sub)
    st = stages(x for j in aj for x in j["stages"])
    scans = [s for s in st if s["input_b"] > 0]
    writes = [s for s in st if s["output_b"] > 0]
    m.update({
        "sources.scan_s": sum(s["run_s"] for s in scans),
        "sources.scan_tasks": sum(s["tasks"] for s in scans),
        "sources.rows_read": sum(s["input_rows"] for s in scans),
        "sources.write_s": sum(s["run_s"] for s in writes),
        "sources.bytes_written": sum(s["output_b"] for s in writes),
        "sources.files_written": op_sum(aj, "InsertInto", "number of written files"),
    })
    task_s = sum(s["run_s"] for s in st)
    m.update({
        "spark.jobs": len(aj),
        "spark.tasks": sum(s["tasks"] for s in st),
        "spark.task_s": task_s,
        "spark.cpu_s": sum(s["cpu_s"] for s in st),
        "spark.gc_s": sum(s["gc_s"] for s in st),
        "spark.core_util": task_s / (it["wall_s"] * cores),
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / MB,
        "spark.spill_mb": sum(s["spill_b"] for s in st) / MB,
        "spark.failed_tasks": sum(s["failed_tasks"] for s in st),
        "bench.self_s": selfs[it["span"]],
        "bench.check_s": _dur(s for s in sub if s["kind"] == "check"),
        "bytes_written_per_input_byte": m["sources.bytes_written"] / input_bytes,
    })
    return m


def per_layer(spans, iters, store, first_job, wl, cores, scratch_mb, tr) -> dict[str, dict]:
    """Medians over the traced iterations of every per-layer metric.

    ``spark.core_util`` divides task time by wall time x cores (not by
    exec time alone: eager jobs run while frames are built also occupy
    cores)."""
    jobs = [j for j in store.jobs(first_job) if j["group"] is not None]
    traced = [i for i in iters if i["traced"]]
    stages = _Stages(store)
    ops = store.operators({j["id"] for j in jobs})
    per = [_iteration_layers(spans, it, jobs, stages, ops, cores, wl.input_bytes)
           for it in traced]
    m = {k: statistics.median(p[k] for p in per) for k in per[0]}
    plain = [i["wall_s"] for i in iters if not i["traced"]]
    m["trace.overhead_s"] = (statistics.median(i["wall_s"] for i in traced)
                             - statistics.median(plain))
    # time inside public calls, at the reference host speed (end-to-end
    # in spirit, but it swings too much between runs to carry a bound)
    m["bench.build_s"] = statistics.median(i["build_n"] for i in traced)
    m["bench.host_cal_s"] = statistics.median(i["cal_s"] for i in iters)
    m["error_rate"] = tr.failures / max(tr.steps, 1)
    m["scratch_left_mb"] = statistics.median(scratch_mb)
    return _out({k: m[k] for k in per_layer_names()})
