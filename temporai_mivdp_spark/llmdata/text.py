"""Text analysis operators: token counting, quality scoring, language-ID,
document fingerprinting. Pure Catalyst expressions (regex + string
built-ins) running inside whole-stage codegen at full scan speed, each
with an exact DuckDB-oracle twin. The one exception is ``fix_mojibake``:
byte-level transcoding is genuinely inexpressible in Catalyst (Spark 4's
encode/decode throw on exactly the malformed input mojibake repair
exists for), so its Arrow kernel runs ONLY on rows a native regex flags
— Python cost scales with the damage, not the corpus.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import lru_cache
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from temporai_mivdp_spark.llmdata.dedup import (
    content_key,
    normalize_text,
    tokenize,
    word_ngrams,
    words,
)
from temporai_mivdp_spark.session import arrow_rows

if TYPE_CHECKING:
    import pyarrow as pa

#: tiny marker lexicons for the n-gram/stopword language heuristic —
#: enough to separate corpora at scale; swap for fastText offline models
#: via mapInPandas when available.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "und", "die", "nicht", "ist"],
    "en": ["the", "and", "of", "is", "to"],
    "es": ["el", "los", "que", "es", "y"],
    "fr": ["le", "la", "et", "les", "est"],
}

#: small english stopword set for the quality heuristic
STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def token_count(col: Column) -> Column:
    """Whitespace token count (the cheap proxy; a BPE-ish subword count is
    ``bpe_token_estimate``). ``array_size``, not ``size``: ``size(null)``
    is the -1 legacy sentinel, which leaks into output columns where the
    DuckDB oracles (``len(NULL) IS NULL``) and every downstream consumer
    expect null for null text (adversarial-corpus harness,
    tools/edgecase_check.py); in filters both behave as exclusion."""
    return F.array_size(words(col))


def bpe_token_estimate(col: Column) -> Column:
    """BPE-ish token estimate without a vocab file: split on word
    boundaries/punctuation/digit runs and charge long words one token per
    4 chars (the common LLM rule of thumb). Deterministic + portable."""
    pieces = F.split(normalize_text(col), r"[^a-z0-9]+")
    per_word = F.transform(
        pieces, lambda w: F.when(F.length(w) == 0, 0).otherwise(
            F.ceil(F.length(w) / F.lit(4.0)).cast("long")
        )
    )
    return F.aggregate(per_word, F.lit(0).cast("long"), lambda acc, v: acc + v)


#: Explicit word-boundary class for whole-token counting. NOT ``\b``:
#: Java's ``\b`` is Unicode-aware while DuckDB/RE2's is ASCII, so the
#: two engines disagree wherever a counted word abuts a non-ASCII
#: letter ('café a' vs 'a'+combining-mark). Defining the boundary as
#: "any char outside [a-z0-9_]" — lowercase suffices because every
#: caller scans ``normalize_text`` output — makes both engines agree
#: on ANY Unicode text: both match the class per UTF-8 codepoint. The
#: Spark side says it with zero-width lookarounds (Java supports them);
#: the DuckDB oracle (RE2: no lookarounds) says the identical thing by
#: doubling every boundary char first so adjacent matches never share
#: one — see queries_llm._occ_sql / _PAD. On pure-ASCII text both forms
#: equal the old ``\b`` count exactly (retired UNICODE_EXEMPT, round 10).
_BOUNDARY_L = r"(?<![a-z0-9_])"
_BOUNDARY_R = r"(?![a-z0-9_])"

#: every counted word must itself be made of boundary-class-interior
#: chars: the DuckDB oracle's doubled-boundary form REWRITES any char
#: outside [a-z0-9_] inside ``pad``, so a needle containing one (an
#: accented marker word, say) would silently count 0 there while the
#: Spark lookaround form counts normally. Assert at import so the trap
#: is impossible to add (review fix, round 10).
_NEEDLE_SAFE = frozenset("abcdefghijklmnopqrstuvwxyz0123456789_")


def _assert_needles_safe(words) -> None:
    bad = [w for w in words if not set(w) <= _NEEDLE_SAFE]
    if bad:
        raise AssertionError(
            f"boundary-counted words must be [a-z0-9_]-only: {bad}"
        )


_assert_needles_safe(STOPWORDS)
for _words in LANG_MARKERS.values():
    _assert_needles_safe(_words)


def _count_occurrences(text: Column, word: str) -> Column:
    """Occurrences of ``word`` as a whole token — explicit-boundary regex
    count (see ``_BOUNDARY_L``; portable to RE2 via the doubled-boundary
    oracle form). A replace-based count would miss consecutive
    occurrences ("the the the" counts 2, not 3, because adjacent needles
    share the separating space); zero-width lookarounds consume nothing,
    so adjacency is free. ``regexp_count`` counts matches without
    materializing the match array ``regexp_extract_all`` would build."""
    return F.regexp_count(
        normalize_text(text), F.lit(f"{_BOUNDARY_L}{word}{_BOUNDARY_R}")
    ).cast("long")


def _count_any_occurrence(text: Column, words: list[str]) -> Column:
    """Total whole-token occurrences of ANY word in ``words`` — ONE
    alternation regex scan instead of ``len(words)`` separate passes.
    Equivalent to summing per-word counts: matches are whole tokens
    delimited by the explicit boundary class (``_BOUNDARY_L``), so two
    distinct words can never match at the same position and
    non-overlapping extraction counts each token once.
    Measured at sf0.1 this took the 10-stopword count from 10 regex
    scans of every document to 1 (~35% off the whole quality query);
    ``regexp_count`` instead of ``regexp_extract_all``+``size`` skips
    the match-array materialization (another ~40% off the projection)."""
    pat = _BOUNDARY_L + "(" + "|".join(words) + ")" + _BOUNDARY_R
    return F.regexp_count(normalize_text(text), F.lit(pat)).cast("long")


def _quality_columns(t: Column, names: tuple[str, ...] | None = None) -> dict[str, Column]:
    """The ``quality_features`` expressions over the text column ``t``,
    keyed by output name, for ``names`` (default: all six, in output
    order). Only the named columns are built: ``pipeline.curation_gate``
    adds two of them to its input frame instead of joining the feature
    frame back, and the stopword count alone is a second normalize tree."""
    n_chars = F.length(t)
    n_tokens = token_count(t)
    build = {
        "n_chars": lambda: n_chars,
        "n_tokens": lambda: n_tokens,
        "chars_per_token": lambda: n_chars / n_tokens,
        # count the kept class directly: same value as length(replace-all-
        # others-away) with no intermediate string per doc
        "punct_ratio": lambda: F.regexp_count(t, F.lit(r"[.!?,;:]")) / n_chars,
        "digit_ratio": lambda: F.regexp_count(t, F.lit(r"[0-9]")) / n_chars,
        "stopword_ratio": lambda: _count_any_occurrence(t, STOPWORDS) / n_tokens,
    }
    return {name: build[name]() for name in names or build}


def quality_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality signals (the C4/Gopher-style cheap filters):
    length, word stats, punctuation/digit ratios, stopword ratio."""
    cols = _quality_columns(F.col(text_col))
    return docs.select(id_col, *[c.alias(name) for name, c in cols.items()])


def repetition_features(
    docs: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document, over word ``n``-grams:

    * ``top_ngram_frac`` — tokens covered by the single most frequent
      n-gram (``max_count * n / n_tokens``); spammy/templated docs score
      high.
    * ``dup_ngram_frac`` — fraction of n-gram occurrences that are
      repeats of an earlier occurrence (``(total - distinct) / total``).

    explode + two groupBys, NOT a row-local HOF: Spark lambdas have no
    map/dict accumulator, so counting distinct n-grams per row would be
    O(k^2) interpreted — the shuffle keyed by (id, gram) is map-side
    combined and stays in codegen. Docs with fewer than ``n`` tokens have
    no n-grams and are absent from the output (callers left-join and
    coalesce to 0).
    """
    toks = docs.select(
        id_col, words(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= n)
    # the gram identity is all the aggregate needs (max/sum/count of
    # per-gram counts are invariant to WHICH collision-free value names a
    # gram), so hash to 8 bytes row-locally before the shuffle — same
    # trick as ngram_jaccard_pairs: the (id, gram) exchange carries
    # fixed-width keys instead of n-word strings.
    grams = toks.select(
        id_col, F.explode(word_ngrams(F.col("__toks"), n, hashed=True)).alias("__g")
    )
    # one exchange for both aggregation levels: hash-partitioning by the
    # doc id alone satisfies the clustering requirement of the
    # (id, gram) groupBy AND the (id) groupBy (same single-exchange
    # reasoning as operators.aggregates.two_level_agg — gram keys are
    # near-unique per row, so the lost map-side combine is cheap)
    gc = (
        grams.repartition(id_col)
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    rep = gc.groupBy(id_col).agg(
        F.max("__c").alias("__max_c"),
        F.sum("__c").alias("__tot"),
        F.count(F.lit(1)).alias("__dist"),
    )
    n_tokens = F.col("__tot") + F.lit(n - 1)  # grams = tokens - (n-1)
    return rep.select(
        id_col,
        (F.col("__max_c") * F.lit(n) / n_tokens).alias("top_ngram_frac"),
        ((F.col("__tot") - F.col("__dist")) / F.col("__tot")).alias("dup_ngram_frac"),
    )


def gopher_keep(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_chars_per_token: float = 3.0,
    max_chars_per_token: float = 10.0,
    min_stopword_ratio: float = 0.02,
    max_top_ngram_frac: float = 0.20,
    max_dup_ngram_frac: float = 0.30,
) -> DataFrame:
    """The published Gopher-rules keep policy as one boolean column:
    ``(doc_id, keep, n_tokens)`` plus the individual rule verdicts so a
    rejected doc says WHY (`keep_*` columns) — threshold defaults follow
    the Gopher paper's document-filter table (token-count window,
    mean-word-length window, stopword floor, repetition caps), tuned for
    English web text; every threshold is a keyword for corpus-specific
    retuning (ideally via ``quantile_normalize`` per source).

    Pure composition of ``quality_features`` + ``repetition_features`` —
    one projection and one hashed-n-gram shuffle; docs too short for
    2-grams fail the token floor anyway.
    """
    q = quality_features(docs, text_col=text_col, id_col=id_col)
    rep = repetition_features(docs, n=2, text_col=text_col, id_col=id_col)
    j = q.join(rep, id_col, "left").select(
        q["*"],
        F.coalesce("top_ngram_frac", F.lit(0.0)).alias("top_ngram_frac"),
        F.coalesce("dup_ngram_frac", F.lit(0.0)).alias("dup_ngram_frac"),
    )
    rules = {
        "keep_length": (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens),
        "keep_word_shape": (F.col("chars_per_token") >= min_chars_per_token)
        & (F.col("chars_per_token") <= max_chars_per_token),
        "keep_stopwords": F.col("stopword_ratio") >= min_stopword_ratio,
        "keep_repetition": (F.col("top_ngram_frac") <= max_top_ngram_frac)
        & (F.col("dup_ngram_frac") <= max_dup_ngram_frac),
    }
    out = j.select(
        id_col, "n_tokens", *[c.alias(name) for name, c in rules.items()]
    )
    keep = F.lit(True)
    for name in rules:
        keep = keep & F.col(name)
    return out.withColumn("keep", keep)


def quality_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scalar quality score in [0,1]: penalize too-short docs, extreme
    punctuation/digit density, and missing stopwords. A linear
    combination of the feature columns — tune weights downstream."""
    q = quality_features(docs, text_col=text_col, id_col=id_col)
    score = (
        F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0)) * 0.4
        + F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 10) * 0.2
        + F.greatest(F.lit(0.0), F.lit(1.0) - F.col("digit_ratio") * 10) * 0.2
        + F.least(F.col("stopword_ratio") * 5, F.lit(1.0)) * 0.2
    )
    return q.select(id_col, score.alias("quality_score"))


def build_vocabulary(
    docs: DataFrame,
    size: int = 50_000,
    text_col: str = "text",
    reserved: int = 1,
) -> DataFrame:
    """Frequency-ranked token vocabulary: ``(token, token_id, count)``
    with ids ``reserved .. reserved+size-1`` (id 0 stays free for OOV by
    default) assigned by descending count, ties alphabetical — fully
    deterministic, so two sessions build the identical vocab.

    One token-count aggregate (map-side combined), then the top-``size``
    selection runs as a distributed ``orderBy().limit()``
    (TakeOrderedAndProject: per-partition top-size heaps merged on the
    driver) — NOT a global no-partition rank window, which would funnel
    every distinct corpus token (billions at 100 TB: typos, numbers,
    URLs) through one task. Only the size-bounded winners see the final
    id-assignment window. This is the dictionary half of text→ids
    encoding (``encode_tokens``); persist it next to the corpus the way
    the reference pickles its vocabs (data_generation_icu.py:926-988 —
    here a plain DataFrame).
    """
    counts = (
        tokenize(docs.select(text_col), text_col=text_col, out_col="token")
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    topk = counts.orderBy(F.col("count").desc(), F.col("token").asc()).limit(size)
    # single-group window is fine HERE: input is <= size rows. The
    # partition key is a column-derived constant (count % 1 — Catalyst
    # folds count*0 and literal keys away, leaving an empty spec that
    # WARNs "No Partition Defined" every run; the dsir ratio-table
    # pattern)
    w = Window.partitionBy(F.col("count") % 1).orderBy(
        F.col("count").desc(), F.col("token").asc()
    )
    return topk.withColumn("__r", F.row_number().over(w)).select(
        "token",
        (F.col("__r") - 1 + reserved).cast("long").alias("token_id"),
        "count",
    )


def encode_tokens(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = 0,
    out_col: str = "token_ids",
) -> DataFrame:
    """Map each document to its token-id array under ``vocab`` (from
    ``build_vocabulary``), unknown tokens becoming ``oov_id`` — the
    text→ids step feeding ``pack_sequences``/``chunk_documents``.

    Plan: tokens posexplode row-local, ONE broadcastable join against
    the vocabulary (the only shuffle-relevant touch; vocab is
    size-bounded by construction), then a doc-keyed ordered reassembly
    (``array_sort(collect_list(struct(pos, id)))``). Docs with no
    tokens come back with an empty array, not a missing row.
    """
    toks = docs.select(
        id_col,
        F.posexplode(
            F.filter(words(F.col(text_col)), lambda t: t != "")
        ).alias("__pos", "token"),
    )
    mapped = toks.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    rebuilt = mapped.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__pos"),
                        F.coalesce("token_id", F.lit(oov_id).cast("long")).alias("id"),
                    )
                )
            ),
            lambda s: s["id"],
        ).alias(out_col)
    )
    return (
        docs.select(id_col)
        .dropDuplicates([id_col])
        .join(rebuilt, id_col, "left")
        .withColumn(
            out_col, F.coalesce(out_col, F.array().cast("array<bigint>"))
        )
    )


def strip_common_lines(
    docs: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove boilerplate LINES — a line (newline-delimited, compared
    after trim) occurring in at least ``min_docs`` distinct documents is
    stripped from every document, and documents are rebuilt with their
    surviving lines in original order. The C4-recipe cleanup for nav
    chrome / cookie banners / license footers that repeat verbatim
    across pages whose documents otherwise differ (the doc-level dedup
    blind spot ``repeated_spans`` *reports*; this op *repairs* it at
    line granularity).

    Plan: posexplode lines row-local, then frequency runs in TWO tiers
    so the wide shuffles stay hash-only but a 64-bit collision can
    never delete text: (1) a (hash, doc) → hash aggregate finds
    frequent HASHES (8-byte keys — same discipline as
    ``repeated_spans``); (2) only lines whose hash survived (a tiny
    candidate set) re-aggregate on the actual trimmed STRING, and the
    anti-join matches on that string. Tier 2 exists because this op
    MUTATES documents — a report op can tolerate the ~0 collision odds,
    silent corpus-wide deletion of an innocent colliding line cannot.
    Then one doc-keyed rebuild carries each surviving line once. Docs
    whose every line was boilerplate come back with empty text rather
    than disappearing. Blank lines pass through untouched (stripping
    them would mangle paragraph structure; they never meet the
    frequency test).
    """
    lines = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__h", F.xxhash64(F.trim(F.col("__line"))))
    nonblank = lines.filter(F.trim("__line") != "")
    frequent_hashes = (
        nonblank.dropDuplicates([id_col, "__h"])
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__h")
    )
    frequent = (
        nonblank.join(F.broadcast(frequent_hashes), "__h")
        .select(id_col, F.trim("__line").alias("__t"))
        .dropDuplicates([id_col, "__t"])
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("__t")
    )
    kept = lines.join(
        frequent,
        (F.trim(lines["__line"]) == frequent["__t"])
        & (F.trim(lines["__line"]) != ""),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__line")))
                ),
                lambda s: s["__line"],
            ),
        ).alias(text_col)
    )
    passthrough = [c for c in docs.columns if c not in (text_col,)]
    return (
        docs.select(*passthrough)
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(text_col, F.lit("")))
    )


def _bigrams(toks: Column) -> Column:
    """Every adjacent token pair of ``toks`` in order, as ``(w1, w2)``
    structs. Callers keep ``size(toks) >= 2``."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.struct(
            F.element_at(toks, i + 1).alias("w1"),
            F.element_at(toks, i + 2).alias("w2"),
        ),
    )


def bigram_lm(
    clean: DataFrame,
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Fit an interpolated bigram language model on a reference corpus —
    the model half of CCNet-style perplexity filtering (train a small LM
    on known-good text, score the crawl, drop the high-perplexity tail).

    Returns one row per observed bigram: ``(w1, w2, logp)`` with
    ``p(w2|w1) = (1-alpha) * count(w1 w2)/count(w1) + alpha * p_uni(w2)``
    (interpolation, not backoff: every probability is strictly positive
    wherever the unigram exists, and the model stays a single flat
    table). Plus the unigram rows as ``(w1=NULL, w2, logp)`` — the
    fallback ``perplexity`` uses for unseen bigrams, itself interpolated
    with a uniform floor so unseen *words* cost a finite, vocabulary-
    scaled penalty rather than -inf.

    Two token-keyed aggregates over the clean corpus (bounded by corpus
    token count, map-side combined); the result is vocabulary-sized —
    persist it and broadcast-join it against any crawl.
    """
    # blank docs normalize to "" which would split to the bogus token
    # [""] — drop them before tokenizing, not after
    nonblank = clean.filter(
        F.coalesce(normalize_text(F.col(text_col)), F.lit("")) != ""
    )
    toks = nonblank.select(words(F.col(text_col)).alias("__toks")).filter(
        F.size("__toks") > 0
    )
    uni = (
        toks.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # single-token docs feed the unigram counts above but have no bigram
    # window — without this guard sequence(0, -1) descends to [0, -1]
    # and element_at faults
    big = (
        toks.filter(F.size("__toks") >= 2)
        .select(F.explode(_bigrams(F.col("__toks"))).alias("__b"))
        .select("__b.w1", "__b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("__c12"))
    )
    totals = uni.agg(
        F.sum("__c").alias("__n"), F.count(F.lit(1)).alias("__v")
    ).first()
    if totals is None or totals["__n"] is None or int(totals["__n"]) == 0:
        raise ValueError(
            "bigram_lm: reference corpus has no tokens — "
            "fit the LM on a non-empty clean corpus"
        )
    n_tokens, vocab = int(totals["__n"]), int(totals["__v"])
    # unigram with uniform-floor interpolation: finite logp for any word
    p_uni = (1.0 - alpha) * F.col("__c") / F.lit(float(n_tokens)) + F.lit(
        alpha / max(vocab, 1)
    )
    uni_rows = uni.select(
        F.lit(None).cast("string").alias("w1"),
        F.col("w").alias("w2"),
        F.log(p_uni).alias("logp"),
    )
    big_rows = (
        big.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("__c", "__c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("__c", "__c2"), "w2")
        .select(
            "w1",
            "w2",
            F.log(
                (1.0 - alpha) * F.col("__c12") / F.col("__c1")
                + alpha
                * (
                    (1.0 - alpha) * F.col("__c2") / F.lit(float(n_tokens))
                    + F.lit(alpha / max(vocab, 1))
                )
            ).alias("logp"),
        )
    )
    return big_rows.unionByName(uni_rows)


def perplexity(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_logp: float = -20.0,
) -> DataFrame:
    """Score documents against a ``bigram_lm``: per doc, ``n_scored``
    bigrams and ``ppl = exp(-mean logp)`` (lower = more reference-like;
    the CCNet keep rule is "drop the highest-perplexity tail").

    Plan shape: docs explode to bigrams (row-local), LEFT join the
    bigram rows of the LM, fall back to the w2 unigram rows for unseen
    pairs, then ``oov_logp`` for unseen words; one doc-keyed mean
    aggregate ends it. Both joins are token-string-keyed against
    vocabulary-sized sides — AQE broadcasts them when they fit; docs
    shorter than two tokens surface with NULL ppl rather than silently
    disappearing.
    """
    bigrams = lm.filter(F.col("w1").isNotNull())
    unigrams = lm.filter(F.col("w1").isNull()).select(
        F.col("w2").alias("__uw"), F.col("logp").alias("__ulogp")
    )
    toks = docs.select(id_col, words(F.col(text_col)).alias("__toks"))
    pairs = toks.filter(F.size("__toks") >= 2).select(
        id_col, F.explode(_bigrams(F.col("__toks"))).alias("__b")
    ).select(id_col, "__b.w1", "__b.w2")
    scored = (
        pairs.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, pairs["w2"] == unigrams["__uw"], "left")
        .select(
            id_col,
            F.coalesce("logp", "__ulogp", F.lit(oov_logp)).alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.exp(-F.avg("__lp")).alias("ppl"),
    )
    return (
        docs.select(id_col)
        .dropDuplicates([id_col])
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_scored", F.lit(0).cast("long")).alias("n_scored"),
            F.col("ppl"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Per-document top-k terms by tf-idf — the keyword/topic surface
    used for corpus browsing, domain tagging, and spotting boilerplate
    (terms whose idf collapses to ~0 are corpus-wide chrome).

    Plan: one (doc, term) count aggregate (bounded by document length,
    map-side combined), a term-level document-frequency aggregate over
    its output (vocabulary-sized), idf as a plain expression with the
    corpus doc count inlined as a literal (one tiny count job at plan
    build — same eager contract as the bloom/pack boundary peeks), a
    term-keyed join back (vocab side — AQE broadcasts it when it fits),
    and a per-doc top-k window. ``idf = ln(N / df)``: a term in every
    document scores exactly 0 and never makes a top-k over positive
    scores. ``min_df`` drops hapax noise before the join when raised.
    """
    n_docs = docs.select(id_col).distinct().count()
    tf = (
        tokenize(docs.select(id_col, text_col), text_col=text_col, out_col="term")
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    scored = tf.join(df_t, "term").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.filter(F.col("tfidf") > 0)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval: the top-k documents for a bag-of-terms query —
    the standard relevance scorer for corpus search, prompt-grounding
    retrieval over a crawl, and targeted-subset mining ("every document
    about X") where tf-idf's per-document keyword view is the wrong
    axis. Lucene's non-negative idf variant: ``ln(1 + (N - df + 0.5) /
    (df + 0.5))``, so corpus-saturating terms contribute ~0 instead of
    going negative.

    Plan at 100 TB: the per-(doc, term) count FILTERS to the query's
    terms before aggregating (a literal IN over the exploded tokens —
    the scan discards everything else map-side); document length joins
    in on the id key; the query-sized df/idf dimension broadcasts; and
    the top-k is ``orderBy().limit(k)`` — TakeOrderedAndProject's
    per-partition heaps, never a global sort. N and avgdl are two
    scalars pulled once at plan build (same eager contract as the
    tf-idf corpus count).

    Determinism discipline: each term's contribution is quantized to
    integer nano-units (``floor(x·1e9 + 0.5)``) BEFORE the per-document
    sum, so the sum is exact in int64 and order-independent, and the
    ranking key is that integer — no float ordering anywhere. (The idf
    ``ln`` is the one transcendental; engines agree on it to 1 ulp, so
    cross-engine nano-units can only differ on a ~1e-16-relative .5
    tie.) The
    emitted ``bm25`` is the descaled sum (one exact-input division, no
    final round — queries.py module-docstring discipline).
    """
    toks = tokenize(docs.select(id_col, text_col), text_col=text_col).filter(
        F.col("token") != ""
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    head = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    n_docs = int(head["n"] or 0)
    if n_docs == 0:
        return docs.select(F.col(id_col)).limit(0).withColumn("bm25", F.lit(0.0))
    avgdl = head["tot"] / n_docs
    tf = (
        toks.filter(F.col("token").isin(list(query_terms)))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    # association pinned left-to-right and mirrored term-for-term by the
    # catalog oracle — double ops are not associative, so both engines
    # must multiply/divide in the same order for the quantized integer
    # to match exactly
    contrib = idf * (
        (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
        )
    )
    scored = (
        tf.join(F.broadcast(dfq), "token")
        .join(dl, id_col)
        .select(
            id_col,
            F.floor(contrib * F.lit(1e9) + F.lit(0.5)).cast("long").alias("__cu"),
        )
        .groupBy(id_col)
        .agg(F.sum("__cu").alias("__su"))
    )
    return (
        scored.orderBy(F.col("__su").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, (F.col("__su") / F.lit(1e9)).alias("bm25"))
    )


def pmi_bigrams(
    docs: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information — the
    standard corpus-analysis lens for multiword expressions ("new york",
    "machine learning"), tokenizer-merge candidates, and boilerplate
    phrase discovery. ``pmi = ln p(xy) − ln p(x) − ln p(y)`` with
    ``p(xy) = c_xy/N_bigrams`` and ``p(x) = c_x/N_tokens``.

    Determinism discipline: every ``ln`` input is an integer-valued
    double (exact counts), ``2·ln(N)`` is an exact ×2, and the five-term
    sum is associated LEFT TO RIGHT — the catalog oracle mirrors the
    expression term for term in the same order, so the emitted double
    matches across engines to a few ulps (engine ``ln`` agrees to 1 ulp;
    everything else is exact IEEE) — far inside the harness's 6-decimal
    canonicalization — and the float ranking is stable (ties break on
    the words).

    Plan at 100 TB: bigrams are row-local (two shifted ``slice``s of the
    token array zipped — no position explode, no self-join); unigram and
    bigram counts are map-side-combinable hash aggregations; the
    ``min_count`` filter prunes the long tail BEFORE the two
    unigram-count joins (hash-keyed on the word — the vocabulary is
    unbounded, so the dim side is deliberately NOT broadcast); the two
    corpus totals are 1-row aggregates cross-joined in-plan; the top-k
    is ``orderBy().limit(k)`` — TakeOrderedAndProject, no global sort.
    """
    t = words(F.col(text_col))
    toks = (
        docs.filter(normalize_text(F.col(text_col)) != "")
        .select(t.alias("t"))
    )
    uni = toks.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1).alias("w1"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bcnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    n_big = bcnt.agg(F.sum("n_pair").alias("n_big"))
    cx = uni.select(F.col("w").alias("w1"), F.col("c").alias("cx"))
    cy = uni.select(F.col("w").alias("w2"), F.col("c").alias("cy"))
    pmi = (
        F.log(F.col("n_pair").cast("double"))
        - F.log(F.col("cx").cast("double"))
        - F.log(F.col("cy").cast("double"))
        + F.lit(2.0) * F.log(F.col("n_uni").cast("double"))
        - F.log(F.col("n_big").cast("double"))
    )
    return (
        bcnt.filter(F.col("n_pair") >= min_count)
        .join(cx, "w1")
        .join(cy, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Replace a score with its within-group percentile rank in [0, 1]
    (``percent_rank`` — 0 for the group min, 1 for the max).

    The calibration step between raw quality scores and a global keep
    threshold: heuristic scores are not comparable across languages or
    sources (stopword ratios, punctuation norms differ), so "keep the
    top 60%" must mean top 60% *within* each group. One rank window per
    group — a single exchange on ``group_col``; with ``group_col=None``
    the rank is corpus-global and the plan is a single-partition window
    (fine for dimension-sized inputs, wrong for a 100 TB fact — pass a
    group).

    Null scores rank FIRST (percentile 0 end) — explicitly: Spark's
    ascending default is nulls-first but DuckDB/Postgres default to
    nulls-LAST, which would hand a null-quality doc percentile 1.0 and
    sail it over any keep threshold (edgecase_check catch; the oracle
    says NULLS FIRST for the same reason).
    """
    out = out_col or f"{value_col}_pct"
    w = (
        Window.partitionBy(group_col) if group_col else Window.partitionBy()
    ).orderBy(F.col(value_col).asc_nulls_first())
    return df.withColumn(out, F.percent_rank().over(w))


def language_id(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Marker-word language heuristic: per language, count whole-token
    marker hits; predict the argmax (ties: first language alphabetically;
    zero hits -> 'und'). One projection, no shuffle. ``passthrough``
    names extra input columns to carry into the output (keeps sibling
    per-doc stats in the same projection instead of a self-join)."""
    t = F.col(text_col)
    scores = [
        (lang, _count_any_occurrence(t, LANG_MARKERS[lang]))
        for lang in sorted(LANG_MARKERS)
    ]
    # argmax via a struct sort: (hits desc, lang asc)
    best = F.greatest(
        *[F.struct(h.alias("h"), F.lit(i).alias("nl"), F.lit(lang).alias("lang"))
          for i, (lang, h) in enumerate(sorted(scores, key=lambda x: x[0], reverse=True))]
    )
    # greatest() on structs compares fieldwise: highest hits wins; on hit
    # ties the higher `nl` wins == alphabetically-first language (list was
    # built reverse-sorted).
    pred = F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und"))
    out_cols = [id_col, *passthrough, pred.alias("lang_pred")] + [
        h.alias(f"score_{lang}") for lang, h in scores
    ]
    return docs.select(*out_cols)


def _py_normalize(s: str) -> str:
    """Driver-side mirror of ``normalize_text`` (lowercase + collapse
    whitespace + trim) — the trigram tables must be derived from the
    exact string form the Spark expressions will scan."""
    return " ".join(s.lower().split())


#: Per-language trigram budget for the shared feature set. 400 (up from
#: the round-4 default of 80) is where held-out accuracy plateaus with 16
#: languages — the union table is ~5.1k trigrams, a broadcast dimension,
#: not a plan literal (see language_id_ngram).
TRIGRAM_TOP_K = 400


def trigram_score_tables(top_k_per_lang: int = TRIGRAM_TOP_K) -> dict[str, dict[str, int]]:
    """Per-language character-trigram score tables, derived
    deterministically from the fixed in-repo samples
    (``langid_data.TRAIN_SAMPLES``) — no stored model object, the same
    re-derivation discipline as the LSH planes: any session (and the
    DuckDB oracle, via inlined literals) rebuilds identical tables.

    Feature set = union of each language's top-``top_k_per_lang``
    trigrams (ties alphabetical). Weight = ``round(1000 · ln((c+1) /
    (total+V)))`` — integer-scaled add-one-smoothed multinomial
    Naive-Bayes log-probabilities, restricted to the shared set so every
    feature has a weight in every language (a matched trigram moves
    every language's score; an unseen one moves none — a constant shift
    under NB, safely dropped). Integer weights keep the per-doc score sums exact
    and summation-order-independent, so the operator stays
    hash-checkable against the oracle."""
    import math

    from temporai_mivdp_spark.llmdata.langid_data import TRAIN_SAMPLES

    from collections import Counter

    counts: dict[str, Counter] = {}
    for lang, sample in TRAIN_SAMPLES.items():
        t = _py_normalize(sample)
        counts[lang] = Counter(t[i : i + 3] for i in range(len(t) - 2))
    shared: set[str] = set()
    for c in counts.values():
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k_per_lang]
        shared.update(g for g, _ in top)
    feats = sorted(shared)
    v = len(feats)
    tables: dict[str, dict[str, int]] = {}
    for lang, c in counts.items():
        total = sum(c[g] for g in feats)
        tables[lang] = {
            g: round(1000 * math.log((c[g] + 1) / (total + v))) for g in feats
        }
    return tables


@lru_cache(maxsize=8)
def _trigram_weight_table(top_k_per_lang: int) -> tuple[tuple[str, ...], pa.Table]:
    """``(langs, table)`` for ``language_id_ngram``'s broadcast dimension:
    the sorted language list and an Arrow table with one ``(__g trigram,
    __w weights in langs order)`` row per shared feature. Derived from
    ``trigram_score_tables`` once per process (like
    ``bpe.pretrained_merges_list``) — the tables are a pure function of
    the in-repo samples, and re-deriving them cost every call ~0.2 s."""
    import pyarrow as pa

    tables = trigram_score_tables(top_k_per_lang)
    langs = tuple(sorted(tables))
    feats = sorted(next(iter(tables.values())))
    schema = pa.schema([("__g", pa.string()), ("__w", pa.list_(pa.int32()))])
    rows = ((g, [tables[lang][g] for lang in langs]) for g in feats)
    return langs, arrow_rows(rows, schema)


#: Unicode-script fallback for zero-feature docs (applied ONLY when no
#: trigram feature matched): unambiguous script ranges map straight to
#: their single in-table language. Syllabic/ideographic scripts have
#: near-unique per-word trigrams, so a short sentence of unseen words
#: can miss every feature while its SCRIPT is unmistakable; Latin and
#: Cyrillic stay out (multiple candidate languages) and keep 'und'.
#: Literal range characters so the identical pattern works in Spark
#: rlike and the DuckDB oracle's regexp_matches.
SCRIPT_FALLBACK: list[tuple[str, str]] = [
    ("ko", "[가-힣]"),     # Hangul syllables  U+AC00-D7A3
    ("ja", "[ぁ-ヿ]"),     # Hiragana+Katakana U+3041-30FF
    ("hi", "[ऀ-ॿ]"),      # Devanagari       U+0900-097F
    ("ar", "[؀-ۿ]"),      # Arabic           U+0600-06FF
    ("el", "[Ͱ-Ͽ]"),      # Greek            U+0370-03FF
]


def language_id_ngram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: Sequence[str] = (),
    top_k_per_lang: int = TRIGRAM_TOP_K,
) -> DataFrame:
    """Character-trigram Naive-Bayes language ID — the fidelity tier
    above the ``language_id`` marker-word heuristic (which stays as the
    zero-shuffle cheap tier; this one costs a doc-keyed aggregate).

    Plan: docs explode to character trigrams row-locally
    (``substring`` over a ``sequence`` — stays in codegen), the trigram
    weights live in a BROADCAST dimension (one row per feature trigram,
    value = the per-language weight array) joined on the gram, and one
    map-side-combined doc-keyed sum per language finishes; a left join
    back surfaces gram-less docs (< 3 chars) as ``'und'``. With 20
    languages the shared feature set is ~5.1k trigrams — a dimension
    that ships once per executor via broadcast, NOT a plan literal
    repeated into every task binary (the round-4 4-language version
    inlined per-language maps; growing coverage grows the dimension
    now, never the plan). The dimension is a JVM-local relation
    (``LocalTableScan`` over a per-process Arrow table), so building and
    running it launches no Python worker. Unmatched grams simply find
    no row — they contributed exactly 0 under the shared-set scheme
    anyway.
    Prediction = argmax with (score desc, language asc) tie-break;
    weights are negative, so any matched trigram drives every score
    below zero and ``max(score) < 0`` is exactly "at least one feature
    matched". All-zero rows fall to the ``SCRIPT_FALLBACK`` tier:
    unambiguous unicode-script ranges (Hangul/kana/Devanagari/Arabic/
    Greek) map straight to their single in-table language — syllabic
    scripts have near-unique per-word trigrams, so short unseen-word
    sentences can miss every feature while their script is certain —
    and everything else predicts ``'und'``.

    Accuracy on the held-out samples beats the marker heuristic
    (asserted in tests); both tiers misroute languages outside the
    table, honestly — extend ``TRAIN_SAMPLES`` to grow coverage."""
    langs, weights = _trigram_weight_table(top_k_per_lang)
    # Materialize the normalized text ONCE per row before the explode.
    # Passing the normalize expression itself into the transform lambda
    # re-evaluates the regexp_replace at EVERY trigram position —
    # O(len^2) regex work per document (measured 13.5s -> 0.7s at sf0.1
    # on the 20-language table). A bound column reference is free.
    nt = F.col("__nt")
    grams = (
        docs.select(id_col, normalize_text(F.col(text_col)).alias("__nt"))
        .where(F.length(nt) >= 3)  # guard BEFORE the sequence: len-2 < 1
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(nt) - 2),
                    lambda i: F.substring(nt, i, 3),
                )
            ).alias("__g"),
        )
    )
    # One SQL string per score column, one zero-fill call and one argmax
    # string: nested F.* trees cost about three py4j round trips per
    # Column node (a curation_gate build made 1,912 calls, now 693).
    score_cols = [f"score_{lang}" for lang in langs]
    scores = (
        grams.join(F.broadcast(docs.sparkSession.createDataFrame(weights)), "__g")
        .groupBy(id_col)
        .agg(
            *[
                F.expr(f"sum(CAST(element_at(__w, {i + 1}) AS BIGINT)) AS {c}")
                for i, c in enumerate(score_cols)
            ]
        )
    )
    base = (
        docs.select(id_col, F.col(text_col).alias("__t"), *passthrough)
        .join(scores, id_col, "left")
        .na.fill(0, subset=score_cols)
    )
    # argmax via struct greatest: score desc; ties -> alphabetically
    # first language (nl is the reverse-alphabetical index, so the
    # alphabetically-first language carries the HIGHEST nl and wins the
    # fieldwise comparison on equal scores)
    best = "greatest({})".format(
        ", ".join(
            f"named_struct('s', score_{lang}, 'nl', {i}, 'lang', '{lang}')"
            for i, lang in enumerate(sorted(langs, reverse=True))
        )
    )
    fallback = " ".join(
        f"WHEN __t RLIKE '{pattern}' THEN '{lang}'" for lang, pattern in SCRIPT_FALLBACK
    )
    pred = (
        f"CASE WHEN {best}.s < 0 THEN {best}.lang"
        f" ELSE CASE {fallback} ELSE 'und' END END AS lang_pred"
    )
    carried = ["`" + c.replace("`", "``") + "`" for c in (id_col, *passthrough)]
    return base.selectExpr(*carried, pred, *score_cols)


def fingerprint(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content fingerprint: md5 of the normalized text plus a winnowing-
    style secondary print (min 32-bit hash over word 4-grams — a stable
    'rarest shingle' signature that survives small edits better than the
    full-text hash).

    The gram hashing runs as explode → codegen'd projection → min
    aggregate, not as a row-local array_min over a transform lambda:
    higher-order-function bodies are interpreted per element, and moving
    the md5/conv chain into a whole-stage-codegen'd projection after the
    explode measured 4.4× faster at sf0.1 (identical output — the
    shuffle carries 8-byte gram hashes). Docs whose text normalizes to
    null keep a row with null prints via the left join, matching the
    old row-local form."""
    base = docs.select(
        id_col,
        content_key(F.col(text_col)).alias("content_md5"),
        words(F.col(text_col)).alias("__toks"),
    )
    grams = base.filter(F.size("__toks") >= 4).select(
        # the >=4 guard keeps the print a true 4-gram signature: shorter
        # docs have NO 4-gram and surface null via the left join (the
        # oracle's len==4 CASE agrees — edgecase_check caught the old
        # form hashing partial shingles for 1-3-token docs)
        id_col,
        F.explode(word_ngrams(F.col("__toks"), 4, hashed=False)).alias("__g"),
    ).select(
        id_col,
        F.conv(F.substring(F.md5("__g"), 1, 8), 16, 10).cast("long").alias("__h"),
    )
    mins = grams.groupBy(id_col).agg(F.min("__h").alias("min_shingle_hash"))
    return base.select(id_col, "content_md5").join(mins, id_col, "left")


def corpus_stats(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group corpus telemetry: doc count, approximate distinct
    content count (the cheap duplication signal — ``n_docs -
    approx_distinct`` estimates in-group exact dups without a dedup
    pass), token volume, and length quantiles.

    Every aggregate here is sketch- or counter-based (HyperLogLog++ for
    the distinct, KLL-style buffer for ``percentile_approx``), so the
    shuffle carries one bounded buffer per (partition, group) — this is
    the query you run over 100 TB FIRST, to size the real dedup and
    quota passes. Exact where exactness is free, approximate where
    exactness would buffer values.
    """
    t = F.col(text_col)
    return docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_count_distinct(content_key(t)).alias("approx_distinct"),
        F.sum(token_count(t)).cast("long").alias("n_tokens"),
        F.percentile_approx(
            F.length(t).cast("double"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
        ).alias("len_p50_p90_p99"),
    )


#: cleaning regexes — shared with the DuckDB oracles verbatim (RE2-safe:
#: no backreferences, no lookaround)
MARKUP_RE = r"<[^>]*>"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"
URL_RE = r"https?://[^\s]+"


def strip_markup(col: Column) -> Column:
    """Remove HTML/XML-ish tags and collapse the leftover whitespace —
    the first pass of every web-corpus cleaning recipe."""
    return F.trim(F.regexp_replace(F.regexp_replace(col, MARKUP_RE, " "), r"\s+", " "))


def redact_pii(col: Column) -> Column:
    """Replace emails, URLs, and phone-number-shaped digit runs with typed
    placeholder tokens. Regex-only (codegen'd, no UDF); a production
    pipeline layers NER on top via mapInPandas for names/addresses."""
    out = F.regexp_replace(col, URL_RE, "<URL>")
    out = F.regexp_replace(out, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return out


def clean_documents(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Composed cleaning pass: strip markup -> redact PII -> normalized
    whitespace; emits the cleaned text plus before/after lengths so a
    pipeline can quarantine docs the cleaner gutted."""
    cleaned = redact_pii(strip_markup(F.col(text_col)))
    return docs.select(
        id_col,
        cleaned.alias("text_clean"),
        F.length(F.col(text_col)).alias("len_raw"),
        F.length(cleaned).alias("len_clean"),
    )


#: cp1252 printable chars for C1 bytes 0x80-0x9F (0x81/0x8D/0x8F/0x90/0x9D
#: are undefined in cp1252; the sloppy table maps them to the C1 controls
#: themselves, the ftfy convention, so any byte round-trips)
_CP1252_C1 = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}


def _sloppy_cp1252_bytes(s: str) -> bytes | None:
    """Reverse of "UTF-8 bytes displayed as (sloppy) windows-1252":
    map each char back to the byte it was displayed from. Returns None
    when any char has no byte — the string cannot be cp1252 mojibake."""
    rev = _SLOPPY_REV
    out = bytearray()
    for c in s:
        o = ord(c)
        if o < 0x80 or 0xA0 <= o <= 0xFF:
            out.append(o)
        elif 0x80 <= o <= 0x9F:  # sloppy: C1 control was shown as itself
            out.append(o)
        else:
            b = rev.get(c)
            if b is None:
                return None
            out.append(b)
    return bytes(out)


_SLOPPY_REV = {c: b for b, c in _CP1252_C1.items()}


def fix_mojibake_py(s: str, max_passes: int = 3) -> str:
    """Repair UTF-8-read-as-windows-1252 double encoding ("ftfy-lite"):
    map the visible chars back to the bytes they were displayed from
    (sloppy cp1252 — undefined slots pass the C1 control through, so
    latin-1 mojibake repairs on the same path) and re-decode as UTF-8.
    A pass applies ONLY if the whole string re-decodes cleanly — a
    legit string that merely contains 'Ã' (e.g. "SÃO") produces
    invalid UTF-8 and is kept verbatim, so the guard is exact, not
    heuristic. Up to ``max_passes`` unwinds doubly-encoded text."""
    for _ in range(max_passes):
        b = _sloppy_cp1252_bytes(s)
        if b is None:
            return s
        try:
            fixed = b.decode("utf-8")
        except UnicodeDecodeError:
            return s
        if fixed == s:
            return s
        s = fixed
    return s


#: chars that appear in virtually all cp1252/latin-1 mojibake: the
#: displayed forms of UTF-8 lead bytes 0xC2-0xF4 (two-byte leads
#: 0xC2-0xDF — including 0xD5-0xDF, whose display chars ÕÖ×ØÙÚÛÜÝÞß
#: flag mojibake of U+0540-U+07FF scripts: Arabic 'Ø§...', Hebrew
#: '×©...', Armenian — plus three/four-byte leads 0xE0-0xF4). The
#: 0xD5-0xDF chars also occur in legit German/Nordic text (Ü, Ø, ß);
#: those rows route to Python and survive verbatim via the exact
#: whole-string decode guard — recall is what correctness needs,
#: precision only prices the routing.
_MOJIBAKE_MARKERS = "ÂÃÄÅÆÇÈÉÊËÌÍÎÏÐÑÒÓÔÕÖ×ØÙÚÛÜÝÞßàáâãäåæçèéêëìíîïðñòóô"


def fix_mojibake(
    docs: DataFrame,
    text_col: str = "text",
    max_passes: int = 3,
) -> DataFrame:
    """Corpus-scale mojibake repair with detection native and repair
    routed: a codegen ``rlike`` flags rows containing any UTF-8
    lead-byte display char (a SUPERSET of real mojibake — precision
    only affects routing cost, never correctness, because the repair
    kernel's whole-string decode guard returns false positives
    verbatim). Unflagged rows never leave the JVM; flagged rows pass
    through one Arrow batch of ``fix_mojibake_py``. On a real crawl
    the corrupted fraction is small, so the Python cost scales with
    the DAMAGE, not the corpus — the same boundary discipline as the
    media codecs. Adds ``was_fixed``; the repaired text replaces
    ``text_col``."""
    import pandas as pd
    from pyspark.sql.types import StringType

    marker = "[" + _MOJIBAKE_MARKERS + "]"
    flagged = F.col(text_col).isNotNull() & F.col(text_col).rlike(marker)

    def _repair_fn(s):
        return s.map(lambda v: None if v is None else fix_mojibake_py(v, max_passes))

    # module has `from __future__ import annotations`, which stringifies
    # inline hints and defeats pandas_udf's signature inference — attach
    # the real class objects instead
    _repair_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _repair = F.pandas_udf(_repair_fn, StringType())

    # SPLIT-UNION, not CASE WHEN: Spark hoists pandas UDFs out of
    # conditional expressions into an unconditional ArrowEvalPython
    # node — a `when(flag, udf(...))` ships EVERY row's text to Python
    # and merely discards unflagged results. Filtering before the UDF
    # is the only plan shape where Python cost actually tracks the
    # flagged fraction; the price is a second pass over the source
    # (filter + anti-filter), which at corpus scale is codegen'd scan
    # work — orders cheaper than Arrow round-tripping the whole corpus.
    # A plan test pins the UDF strictly beneath the marker Filter.
    hit = docs.filter(flagged).withColumn("__fixed", _repair(F.col(text_col)))
    miss = docs.filter(~flagged).withColumn("__fixed", F.col(text_col))
    out = hit.unionByName(miss)
    # coalesce: (__fixed != text) is three-valued — null text rows must
    # report was_fixed = false, not NULL (the column is documented boolean)
    return out.select(
        *[c for c in docs.columns if c != text_col],
        F.col("__fixed").alias(text_col),
        F.coalesce(
            F.col("__fixed") != F.col(text_col), F.lit(False)
        ).alias("was_fixed"),
    )
