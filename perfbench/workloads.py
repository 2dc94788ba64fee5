"""The benchmark's workloads, each driven through the engine's public
functions.

A workload writes its inputs from the seed (``generate``), then runs
whole iterations (``iteration``): every public call sits in a ``build``
span, every action the benchmark takes (a parquet write) in an ``exec``
span, and the output checks in a ``check`` span. ``iteration``
returns the order-insensitive content hash of every artifact it wrote.
"""

from __future__ import annotations

import os
import shutil

from perfbench import checks, gen


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:  # removed while walking
                pass
    return total


class Workload:
    name = ""
    #: the input tables an iteration reads (None: all that were written)
    reads: tuple[str, ...] | None = None

    def __init__(self, work: str, size: float):
        self.input = os.path.join(work, "input")
        self.out = os.path.join(work, "out")
        self.size = size
        self.input_rows = 0
        self.input_bytes = 0

    def generate(self, seed: int) -> None:
        shutil.rmtree(self.input, ignore_errors=True)
        rows = self._generate(seed)
        self.input_rows = sum(n for t, n in rows.items()
                              if self.reads is None or t in self.reads)
        self.input_bytes = dir_bytes(self.input)

    def clear_outputs(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def _write(self, tr, layer: str, frames: dict, subdir: str) -> dict[str, str]:
        """Write each frame to ``out/<subdir>/<key>`` in one exec span."""
        from temporai_mivdp_spark.sources import write_parquet

        paths = {}
        with tr.span(f"write {subdir}/{'+'.join(frames)}", layer, "exec"):
            for key, df in frames.items():
                paths[f"{subdir}/{key}"] = p = os.path.join(self.out, subdir, key)
                write_parquet(df, p)
        return paths

    def _check(self, tr, paths: dict[str, str]) -> dict[str, str]:
        with tr.span("hash outputs", "bench", "check"):
            return {k: checks.content_hash(p) for k, p in sorted(paths.items())}


class IcuPipeline(Workload):
    """The reference user's chain through ``mivdp.api`` on a csv.gz drop,
    with the chart-event modality (unit vote, winsorize, dense imputed
    grid); every stage's frames land in the api's ``data/{cohort,features,
    summary,timeseries}`` layout and are read back for the next stage.

    The other modalities repeat the same operators on smaller tables; at
    this input size each one adds seconds of fixed per-job cost to an
    iteration, which would leave too few iterations per run to measure."""

    name = "icu_pipeline"
    reads = ("patients", "admissions", "icustays", "chartevents")

    def __init__(self, work: str, size: float):
        super().__init__(work, size)
        self.out = os.path.join(self.input, "data")

    def _generate(self, seed: int) -> dict[str, int]:
        return gen.mimic_drop(self.input, seed, int(self.size))

    def iteration(self, spark, tr) -> dict[str, str]:
        from temporai_mivdp_spark.mivdp import api

        read = spark.read.parquet
        root, v = self.input, gen.MIMIC_VERSION
        with tr.span("extract_data", "mivdp.cohort", "build"):
            cohort, name = api.extract_data(
                spark, root, v, use_icu=True, label="Mortality", persist=False)
        paths = self._write(tr, "mivdp.cohort", {name: cohort}, "cohort")
        cohort = read(paths[f"cohort/{name}"])
        with tr.span("feature_icu", "mivdp.features", "build"):
            feats = api.feature_icu(spark, root, v, cohort, diag_flag=False,
                                    out_flag=False, proc_flag=False,
                                    med_flag=False, persist=False)
        with tr.span("preprocess_features_icu", "mivdp.features", "build"):
            feats = api.preprocess_features_icu(
                feats, clean_chart=True, impute_outlier_chart=False, thresh=98,
                left_thresh=2)
        paths.update(self._write(tr, "mivdp.features", feats, "features"))
        feats = {k: read(paths[f"features/{k}"]) for k in feats}
        with tr.span("generate_summary_icu", "mivdp.features", "build"):
            summaries = api.generate_summary_icu(feats)
        paths.update(self._write(tr, "mivdp.features", summaries, "summary"))
        with tr.span("generate_time_series", "mivdp.datagen", "build"):
            series = api.generate_time_series(
                cohort, feats, label="Mortality", include_time=24, bucket=1,
                pred_window=6, impute="Mean")
        paths.update(self._write(tr, "mivdp.datagen", series, "timeseries/mortality"))
        return self._check(tr, paths)


class LlmCuration(Workload):
    """Dedup (exact, n-gram Jaccard pairs, clusters, representatives) and
    the quality gate over a corpus with planted duplicates; each step's
    output is persisted and read back.

    The contamination guard is left out: it repeats the cluster rounds
    and adds the bloom-sizing count, and in a JVM as young as a run's its
    time still halves from one iteration to the next, which no run here
    is long enough to wait out."""

    name = "llm_curation"
    reads = ("corpus",)

    def _generate(self, seed: int) -> dict[str, int]:
        return gen.curation_corpus(self.input, seed, int(self.size),
                                   max(int(self.size) // 50, 10))

    def iteration(self, spark, tr) -> dict[str, str]:
        from temporai_mivdp_spark.llmdata import dedup, pipeline

        read = spark.read.parquet
        corpus = read(os.path.join(self.input, "corpus.parquet"))
        steps = [
            ("exact_duplicates", "llmdata.dedup",
             lambda o: dedup.exact_duplicates(corpus)),
            ("pairs", "llmdata.dedup",
             lambda o: dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.5)),
            ("clusters", "llmdata.dedup",
             lambda o: dedup.duplicate_clusters(o["pairs"])),
            ("kept", "llmdata.dedup",
             lambda o: dedup.keep_representatives(corpus, o["clusters"])),
            ("gated", "llmdata.pipeline",
             lambda o: pipeline.curation_gate(o["kept"])),
        ]
        outs, paths = {}, {}
        for key, layer, build in steps:
            with tr.span(key, layer, "build"):
                df = build(outs)
            paths.update(self._write(tr, layer, {key: df}, "curation"))
            outs[key] = read(paths[f"curation/{key}"])
        return self._check(tr, paths)


WORKLOADS = {w.name: w for w in (IcuPipeline, LlmCuration)}
