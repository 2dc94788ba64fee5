"""Model-based document quality scoring — a logistic classifier over the
engine's cheap text features, with a pretrained tier and a distributed
trainer.

Real curation pipelines (CCNet, GPT-3's WebText filter, LLaMA) rank
documents with a trained quality CLASSIFIER, not hand thresholds: rules
like Gopher's catch pathologies, a linear model learns the trade-offs
between signals. This module supplies that layer Spark-first:

* **Features** (`quality_feature_vector`) are the oracle-pinned cheap
  signals — capped length, mean word length, punctuation/digit/upper
  ratios, stopword ratio, unique-token ratio — every one a codegen'd
  expression over one projection (no shuffle, no Python).
* **Pretrained tier** (`pretrained_quality_weights`): weights fit by
  deterministic pure-Python gradient descent on a FIXED in-repo seed of
  clean prose vs. generated junk — the ``langid_data`` / ``bpe``
  discipline: no stored model artifact, the constants re-derive from
  source at import and inline into both the Spark plan and the DuckDB
  oracle, so scoring is a broadcast-free literal expression.
* **Distributed trainer** (`logreg_fit`): batch gradient descent where
  each iteration is ONE map-side-combined aggregation producing the
  (dim+1)-float gradient — the per-iteration driver pull is bounded by
  the feature dimension (the ``kmeans_fit`` collect contract), so
  fitting on a corpus-scale labeled set is a scan per iteration, never
  a per-row Python boundary.

Float discipline: the logit is a fixed-order chain of IEEE double
multiply/adds over ratio features — no transcendentals — so Spark and
DuckDB produce bit-identical scores and the driver's 1e-6 hash canon
never sits on a boundary. (`sigmoid` appears only inside training.)
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from temporai_mivdp_spark.llmdata.dedup import normalize_text, words
from temporai_mivdp_spark.llmdata.text import STOPWORDS

#: feature names in scoring order — the weight vector indexes this list
FEATURES = (
    "len_feat",        # least(n_tokens, 512) / 512
    "cpt_feat",        # (n_chars / n_tokens) / 10
    "punct_ratio",     # [.!?,;:] chars / n_chars
    "digit_ratio",     # [0-9] chars / n_chars
    "upper_ratio",     # [A-Z] chars / n_chars
    "stopword_ratio",  # whole-token stopword hits / n_tokens
    "uniq_ratio",      # distinct tokens / n_tokens
)

_LEN_CAP = 512


def quality_feature_vector(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The FEATURES columns per document — one row-local projection.

    Degenerate docs (null/empty text) coalesce every feature to 0.0, so
    the scorer assigns them the bias logit instead of dropping them —
    accounting, as everywhere, beats silent loss. The token array is
    materialized to a bound column before the distinct-ratio touches it
    (the HOF-lambda re-evaluation hazard, see text.language_id_ngram).
    """
    t = F.col(text_col)
    with_toks = docs.select(
        id_col,
        t.alias("__t"),
        words(t).alias("__toks"),
    )
    n_chars = F.length("__t")
    # array_size, NOT size: size(null) is -1 (legacy sentinel), which
    # would leak -1/512 len_feat and -1/-1 uniq_ratio for null text;
    # array_size propagates null so the coalesce below lands every
    # degenerate doc on the documented all-zero feature row — matching
    # the DuckDB oracle (len(NULL) IS NULL) and quality_features_py
    n_tokens = F.array_size("__toks")
    # explicit boundary class, not \b — Java's \b is Unicode-aware and
    # RE2's is ASCII; lookarounds over [a-z0-9_] agree with the DuckDB
    # oracle's doubled-boundary form on any Unicode text (text._BOUNDARY_L)
    stop_pat = (
        r"(?<![a-z0-9_])(" + "|".join(STOPWORDS) + r")(?![a-z0-9_])"
    )
    feats = {
        # when() guard: least() SKIPS nulls (returns 512 for null
        # n_tokens, both in Spark and DuckDB), which would score a null
        # doc as max-length — propagate the null into the coalesce
        "len_feat": F.when(
            n_tokens.isNotNull(),
            F.least(n_tokens, F.lit(_LEN_CAP)) / F.lit(float(_LEN_CAP)),
        ),
        "cpt_feat": n_chars / n_tokens / F.lit(10.0),
        "punct_ratio": F.regexp_count("__t", F.lit(r"[.!?,;:]")) / n_chars,
        "digit_ratio": F.regexp_count("__t", F.lit(r"[0-9]")) / n_chars,
        "upper_ratio": F.regexp_count("__t", F.lit(r"[A-Z]")) / n_chars,
        "stopword_ratio": F.regexp_count(
            normalize_text(F.col("__t")), F.lit(stop_pat)
        ) / n_tokens,
        "uniq_ratio": F.array_size(F.array_distinct("__toks")) / n_tokens,
    }
    return with_toks.select(
        id_col,
        *[
            F.coalesce(feats[name].cast("double"), F.lit(0.0)).alias(name)
            for name in FEATURES
        ],
    )


def quality_features_py(text: str | None) -> list[float]:
    """Pure-Python mirror of ``quality_feature_vector`` — the trainer's
    view of the seed corpus and the differential tests' reference. Only
    NULL short-circuits to zeros; an empty string flows through the same
    arithmetic as the Spark expressions (split('') is [''], so
    n_tokens = 1 — identical on both sides).

    Regex semantics mirror the ENGINE OF RECORD (Spark's Java regex),
    measured, not assumed
    (tests/test_llmdata.py::test_quality_features_py_mirrors_spark):
    ``\\s`` is ASCII by default (NBSP is NOT whitespace → ``re.ASCII``
    on the normalize sub). The stopword boundary is the EXPLICIT class
    ``(?<![a-z0-9_])..(?![a-z0-9_])`` — not ``\\b``, whose Java flavor
    is Unicode-aware while RE2's is ASCII. The explicit class means the
    Spark exprs, this mirror, and the DuckDB oracle (doubled-boundary
    RE2 form, queries_llm._occ_sql) agree on ANY Unicode text; on ASCII
    text it equals the old ``\\b`` count exactly."""
    if text is None:
        return [0.0] * len(FEATURES)
    norm = re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip()
    toks = norm.split(" ")
    n_chars = len(text)
    n_tokens = len(toks)
    stop_pat = r"(?<![a-z0-9_])(?:" + "|".join(STOPWORDS) + r")(?![a-z0-9_])"

    def safe(x, d):
        return x / d if d else 0.0

    return [
        min(n_tokens, _LEN_CAP) / float(_LEN_CAP),
        safe(safe(n_chars, n_tokens), 10.0),
        safe(len(re.findall(r"[.!?,;:]", text)), n_chars),
        safe(len(re.findall(r"[0-9]", text)), n_chars),
        safe(len(re.findall(r"[A-Z]", text)), n_chars),
        safe(len(re.findall(stop_pat, norm)), n_tokens),
        safe(len(set(toks)), n_tokens),
    ]


# ---------------------------------------------------------------------------
# fixed in-repo seed: clean prose vs. generated junk
# ---------------------------------------------------------------------------

_SEED_POSITIVE = [
    "The committee reviewed the proposal in detail and agreed that the plan "
    "would need further revision before it could be adopted by the board.",
    "Early in the morning the valley is quiet, and the light moves slowly "
    "across the fields while the river keeps its steady course to the sea.",
    "She explained that the results of the experiment were consistent with "
    "the original hypothesis, although a larger sample would be required.",
    "After the storm passed, the crew spent two days repairing the roof and "
    "clearing the fallen branches from the narrow road behind the barn.",
    "The library holds an extensive collection of maps, letters, and "
    "photographs that document the growth of the town over a century.",
    "A good stew rewards patience: brown the meat slowly, add the stock in "
    "stages, and let the pot barely simmer for most of the afternoon.",
    "Researchers found that the birds adjust their song at dawn, singing "
    "at a higher pitch where traffic noise would otherwise mask the call.",
    "He walked to the station every day for thirty years, and he said the "
    "habit taught him more about the seasons than any almanac could.",
    "The bridge was closed for repairs, so the bus took the long road "
    "around the lake, which added twenty minutes to the journey.",
    "In the second chapter the author turns to the question of evidence, "
    "arguing that the archive is richer than earlier historians assumed.",
    "Plant the seedlings after the last frost, water them in the evening, "
    "and thin the rows once the first true leaves have appeared.",
    "The orchestra rehearsed the slow movement twice, and the conductor "
    "asked the strings to hold the final chord a little longer each time.",
]

# junk generated deterministically: repeated tokens, digit dumps,
# punctuation storms, keyboard mash, unspaced jargon — the spam/log/
# boilerplate shapes a crawl actually contains
_SEED_NEGATIVE = (
    ["buy " * 40 + "now"]
    + ["click here " * 25]
    + [" ".join(str(1234567 + 13 * i) for i in range(60))]
    + ["!!!" + "?!" * 50 + ";;;;" * 20]
    + [" ".join("qwxzj" + str(i % 7) for i in range(50))]
    + ["ERROR 0x" + "DEADBEEF " * 30]
    + ["aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa " * 12]
    + [",,,,.... " * 40]
    + [" ".join(f"SKU{i:05d}" for i in range(70))]
    + ["loremipsumdolorsitametconsecteturadipiscingelit" * 4]
    + ["$$$ WIN $$$ " * 30]
    + ["0 1 0 1 1 0 " * 35]
)


def _fit_py(xs: list[list[float]], ys: list[int], n_iter=400, lr=1.0, l2=1e-3):
    """Deterministic batch-GD logistic regression (zero init, fixed
    order) — pure Python so the pretrained weights re-derive identically
    on any host."""
    dim = len(xs[0])
    w = [0.0] * dim
    b = 0.0
    n = float(len(xs))
    for _ in range(n_iter):
        gw = [0.0] * dim
        gb = 0.0
        for x, y in zip(xs, ys):
            z = b + sum(wj * xj for wj, xj in zip(w, x))
            p = 1.0 / (1.0 + math.exp(-z))
            d = p - y
            gb += d
            for j in range(dim):
                gw[j] += d * x[j]
        b -= lr * gb / n
        for j in range(dim):
            w[j] -= lr * (gw[j] / n + l2 * w[j])
    return b, w


@lru_cache(maxsize=1)
def pretrained_quality_weights() -> tuple[float, tuple[float, ...]]:
    """(bias, weights) fit on the fixed seed — cached, re-derived from
    source, no stored artifact. The seed must stay separable: asserted
    here so a feature change that breaks the pretrained tier fails loudly
    at derivation, not silently at scoring."""
    xs = [quality_features_py(t) for t in _SEED_POSITIVE + _SEED_NEGATIVE]
    ys = [1] * len(_SEED_POSITIVE) + [0] * len(_SEED_NEGATIVE)
    b, w = _fit_py(xs, ys)
    for x, y in zip(xs, ys):
        z = b + sum(wj * xj for wj, xj in zip(w, x))
        assert (z > 0) == (y == 1), "pretrained seed no longer separable"
    return b, tuple(w)


def quality_model_score(
    docs: DataFrame,
    weights: tuple[float, tuple[float, ...]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a linear quality model: ``logit`` (the
    ranking currency — threshold or `quantile_normalize` it per source)
    and ``keep`` (logit > 0). Weights default to the pretrained tier and
    inline as plan literals, so the whole scorer is one codegen'd
    projection — zero shuffle, zero Python, zero broadcast."""
    b, w = weights if weights is not None else pretrained_quality_weights()
    feats = quality_feature_vector(docs, text_col=text_col, id_col=id_col)
    logit: Column = F.lit(b)
    for name, wj in zip(FEATURES, w):
        logit = logit + F.lit(wj) * F.col(name)
    return feats.select(
        id_col,
        *FEATURES,
        logit.alias("logit"),
        (logit > 0).alias("keep"),
    )


def logreg_fit(
    feats: DataFrame,
    label_col: str,
    feature_cols: tuple[str, ...] = FEATURES,
    n_iter: int = 50,
    lr: float = 1.0,
    l2: float = 1e-3,
) -> tuple[float, tuple[float, ...]]:
    """Distributed batch-GD logistic regression over a labeled feature
    frame: each iteration is ONE aggregation — sum of per-row gradient
    contributions for every weight — so the driver pulls dim+1 floats
    per iteration (small-by-contract, the kmeans_fit discipline) and the
    executors do map-side partial sums over the scan. No per-row Python,
    no MLlib dependency, deterministic given the input (floating-point
    partial-sum order can vary with partitioning; at these magnitudes
    the drift is ~1e-12 per iteration — the parity test pins the bound).

    For corpora too large to rescan ``n_iter`` times, persist ``feats``
    (dim+1 narrow columns) or fit on a deterministic sample
    (`sample_exact_k`) — the scorer is exact regardless.
    """
    feats = feats.select(label_col, *feature_cols)
    n = feats.count()
    w = [0.0] * len(feature_cols)
    b = 0.0
    for _ in range(n_iter):
        z = F.lit(b)
        for name, wj in zip(feature_cols, w):
            z = z + F.lit(wj) * F.col(name)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        d = p - F.col(label_col).cast("double")
        row = feats.agg(
            F.sum(d).alias("gb"),
            *[F.sum(d * F.col(c)).alias(f"g{j}") for j, c in enumerate(feature_cols)],
        ).collect()[0]
        b -= lr * row["gb"] / n
        for j in range(len(w)):
            w[j] -= lr * (row[f"g{j}"] / n + l2 * w[j])
    return b, tuple(w)
