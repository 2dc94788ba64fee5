"""Deterministic merge-table BPE tokenization.

Replaces the ``ceil(len/4)``-per-word estimate (``text.bpe_token_estimate``,
kept as the documented cheap tier) with real byte-pair-encoding token
accounting — the counts that feed ``pack_sequences`` and
``token_budget_sample``, the two ops whose whole point is token-exactness.

Reference lineage (public): Sennrich, Haddow & Birch, "Neural Machine
Translation of Rare Words with Subword Units" (ACL 2016) — train merges on
a word-frequency table, apply them greedily by rank. The reference repo has
no tokenizer (its vocabularies are itemid dictionaries,
``data_generation_icu.py:926-988``); this is part of the
training-data-pipeline layer the Spark engine adds.

Scale split — who does what:

* **Word counting is the 100 TB job** and runs as one Spark aggregate
  (map-side combined, fixed-width after hashing? no — word strings, but
  bounded by the top-``max_word_types`` TakeOrdered selection, the same
  plan as ``text.build_vocabulary``).
* **Merge training runs on the driver** over that bounded word-frequency
  table (the textbook formulation — HF/sentencepiece trainers do exactly
  this): the table is ``max_word_types`` rows by construction, and the
  incremental pair-count algorithm below is O(types · word_len +
  merges · touched_words). No corpus-sized data ever reaches the driver.
* **Merge application runs once per distinct word TYPE, not per
  occurrence**: an Arrow-batched pandas UDF over the word-type table
  (this is the legitimate UDF boundary — a per-word iterative merge loop
  has no Catalyst expression), then a word-keyed join carries
  ``n_pieces`` back to the corpus. A 100 TB corpus has orders of
  magnitude more occurrences than types; the Python cost is amortized
  to the type table and the corpus side stays JVM-only (explode,
  join — AQE broadcasts the type table when it fits — and one
  map-side-combined sum).

Determinism: training tie-breaks are total (count desc, pair asc), word
counting tie-breaks are total (count desc, word asc), application is a
pure function of (word, merge ranks) — two sessions, any partitioning,
same merges, same counts. Tested under repartition(1) vs repartition(64).
"""

from __future__ import annotations

from collections import Counter, defaultdict
from collections.abc import Sequence
from functools import lru_cache
from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from temporai_mivdp_spark.llmdata.dedup import tokenize, words
from temporai_mivdp_spark.session import arrow_rows

if TYPE_CHECKING:
    import pyarrow as pa

__all__ = [
    "train_bpe",
    "merge_ranks",
    "segment_words",
    "bpe_token_count",
    "apply_merges_py",
    "pretrained_merges_list",
    "pretrained_merges",
]


def apply_merges_py(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply a trained merge table to one word (pure Python — the kernel
    the pandas UDF vectorizes over a word-type batch, and the same
    function tests call directly).

    Greedy by rank: repeatedly find the lowest-rank adjacent pair present
    and merge ALL its occurrences left-to-right, until no mergeable pair
    remains — the standard BPE apply order (merge rank = training order,
    so application replays training). Characters the table never saw just
    stay single-symbol: no vocab lookup, no OOV failure mode — counting
    degrades to character count for alien scripts, which is the honest
    upper bound."""
    symbols = list(word)
    while len(symbols) >= 2:
        best_rank = None
        best_pair = None
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (symbols[i], symbols[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        merged: list[str] = []
        i = 0
        while i < len(symbols):
            if i < len(symbols) - 1 and symbols[i] == a and symbols[i + 1] == b:
                merged.append(a + b)
                i += 2
            else:
                merged.append(symbols[i])
                i += 1
        symbols = merged
    return symbols


def _train_merges(
    word_counts: dict[str, int], num_merges: int
) -> list[tuple[str, str]]:
    """Sennrich training over a word-frequency dict, incremental variant:
    pair counts and a pair→words index are maintained across rounds, so
    each merge touches only the words containing the merged pair instead
    of rescanning the whole table. Tie-break: (count desc, pair asc) —
    total and data-independent."""
    vocab: list[tuple[tuple[str, ...], int]] = [
        (tuple(w), c) for w, c in word_counts.items() if len(w) > 0
    ]
    pair_counts: Counter[tuple[str, str]] = Counter()
    pair_words: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for idx, (sym, c) in enumerate(vocab):
        for i in range(len(sym) - 1):
            p = (sym[i], sym[i + 1])
            pair_counts[p] += c
            pair_words[p].add(idx)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        for p, cnt in pair_counts.items():
            if cnt <= 0:
                continue
            key = (-cnt, p)
            if best is None or key < best:
                best = key
        if best is None:
            break
        pair = best[1]
        merges.append(pair)
        a, b = pair
        # rewrite only the words that (may) contain the pair; the index
        # holds stale ids after rewrites, so re-check membership
        for idx in list(pair_words.get(pair, ())):
            sym, c = vocab[idx]
            has = any(
                sym[i] == a and sym[i + 1] == b for i in range(len(sym) - 1)
            )
            if not has:
                continue
            for i in range(len(sym) - 1):
                pair_counts[(sym[i], sym[i + 1])] -= c
            # inline single-pair merge (cheaper than the full kernel here)
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new = tuple(out)
            vocab[idx] = (new, c)
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pair_counts[p] += c
                pair_words[p].add(idx)
        # the merged pair is consumed everywhere it occurred
        pair_counts[pair] = 0
        pair_words.pop(pair, None)
    return merges


def train_bpe(
    docs: DataFrame,
    num_merges: int = 500,
    max_word_types: int = 50_000,
    text_col: str = "text",
) -> DataFrame:
    """Train a BPE merge table on the corpus: returns ``(rank, left,
    right)`` with rank dense from 0 in training order — a plain dimension
    DataFrame, persistable next to the corpus like any vocab (the same
    no-model-object discipline as the LSH planes / IVF centroids).

    One Spark aggregate builds the word-frequency table (top
    ``max_word_types`` by (count desc, word asc) — TakeOrdered, never a
    global rank window); training itself is driver-side over that bounded
    table (see module docstring for why that is the textbook scale
    split). Eager: calling this runs the counting job."""
    counts = (
        tokenize(docs.select(text_col), text_col=text_col, out_col="token")
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").desc(), F.col("token").asc())
        .limit(max_word_types)
    )
    wc = {r["token"]: int(r["count"]) for r in counts.collect()}
    merges = _train_merges(wc, num_merges)
    return docs.sparkSession.createDataFrame(_merge_table(merges))


@lru_cache(maxsize=8)
def pretrained_merges_list(num_merges: int = 300) -> tuple[tuple[str, str], ...]:
    """The PRETRAINED merge table: trained deterministically on the fixed
    in-repo seed corpus (``bpe_data.SEED_TEXT``) at call time — the
    no-stored-model discipline (langid trigram tables, md5 LSH planes).
    Any session, and the DuckDB oracle via inlined VALUES, re-derives the
    identical list. This is the counting tokenizer the catalog queries
    use; per-corpus training (``train_bpe``) remains the offline job for
    corpora that want their own table, persisted like the IVF centroids.

    Pure Python over the seed text (no Spark): the seed is module data,
    a few KB — training takes milliseconds and is cached per process."""
    from temporai_mivdp_spark.llmdata.bpe_data import SEED_TEXT

    words = Counter(w for w in " ".join(SEED_TEXT.lower().split()).split(" ") if w)
    merges = _train_merges(dict(words), num_merges)
    for a, b in merges:
        # the oracle's delimiter-string replay reserves '|'
        assert "|" not in a and "|" not in b, "seed corpus must not contain '|'"
    return tuple(merges)


def _merge_table(merges: Sequence[tuple[str, str]]) -> pa.Table:
    """``merges`` as the ``(rank, left, right)`` Arrow table that
    ``createDataFrame`` plans as a ``LocalTableScan`` (no Python worker
    at execution; see ``session.arrow_rows``)."""
    import pyarrow as pa

    schema = pa.schema(
        [("rank", pa.int32()), ("left", pa.string()), ("right", pa.string())]
    )
    return arrow_rows(((i, a, b) for i, (a, b) in enumerate(merges)), schema)


@lru_cache(maxsize=8)
def _pretrained_table(num_merges: int) -> pa.Table:
    return _merge_table(pretrained_merges_list(num_merges))


def pretrained_merges(spark: SparkSession, num_merges: int = 300) -> DataFrame:
    """The pretrained merge table as the standard ``(rank, left, right)``
    dimension DataFrame ``train_bpe`` produces, from an Arrow table built
    once per process."""
    return spark.createDataFrame(_pretrained_table(num_merges))


@lru_cache(maxsize=8)
def _pretrained_ranks(num_merges: int = 300) -> dict[tuple[str, str], int]:
    """``merge_ranks(pretrained_merges(spark, num_merges))`` without the
    DataFrame round trip: the rank dict straight from the memoized list,
    once per process. Callers must not mutate it."""
    return {pair: i for i, pair in enumerate(pretrained_merges_list(num_merges))}


def merge_ranks(merges: DataFrame) -> dict[tuple[str, str], int]:
    """Collect a merge table to the rank dict the apply kernel wants.
    Bounded by ``num_merges`` — a legitimate small-side collect."""
    return {
        (r["left"], r["right"]): int(r["rank"])
        for r in merges.select("rank", "left", "right").collect()
    }


def _segment(
    words: DataFrame, ranks: dict[tuple[str, str], int], word_col: str
) -> DataFrame:
    """``segment_words`` over an already-collected rank dict."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _pieces(col: pd.Series) -> pd.Series:
        return col.map(lambda w: apply_merges_py(w, ranks))

    return words.withColumn("pieces", _pieces(F.col(word_col))).withColumn(
        "n_pieces", F.size("pieces")
    )


def segment_words(
    words: DataFrame,
    merges: DataFrame,
    word_col: str = "token",
) -> DataFrame:
    """Segment a WORD-TYPE table: adds ``pieces array<string>`` and
    ``n_pieces int`` per distinct word. The one Python-UDF stage of the
    BPE path — Arrow-batched, and it runs over word types, not the
    corpus (see module docstring). The merge table rides into the UDF
    closure as a plain dict (bounded by num_merges)."""
    return _segment(words, merge_ranks(merges), word_col)


def _token_count(
    docs: DataFrame,
    ranks: dict[tuple[str, str], int],
    text_col: str,
    id_col: str,
    out_col: str,
) -> DataFrame:
    """The sparse ``bpe_token_count`` (``dense=False``) over a rank dict:
    one ``(id_col, out_col)`` row per id with >= 1 word. Shared by
    ``bpe_token_count`` and ``pipeline.curation_gate``, which takes its
    ranks from ``_pretrained_ranks`` and so builds with no Spark job."""
    tok = (
        docs.select(
            id_col,
            F.explode(
                F.filter(words(F.col(text_col)), lambda t: t != "")
            ).alias("token"),
        )
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("__occ"))
    )
    types = tok.select("token").distinct()
    seg = _segment(types, ranks, "token").select("token", "n_pieces")
    return (
        tok.join(seg, "token")
        .groupBy(id_col)
        .agg(F.sum(F.col("__occ") * F.col("n_pieces")).alias(out_col))
    )


def bpe_token_count(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
    dense: bool = True,
) -> DataFrame:
    """Per-document REAL BPE token count under a trained merge table:
    ``(id_col, out_col)``, one row per input document id (empty/blank
    docs count 0; documents sharing an id are counted together).

    Plan: (doc, word) occurrence counts (one map-side-combined
    aggregate), the distinct-word slice of that output segments through
    the pandas UDF once per TYPE, a word-keyed join (AQE broadcasts the
    type table when it fits) carries ``n_pieces`` back, and one doc-keyed
    sum of ``occurrences × n_pieces`` finishes. The corpus never passes
    through Python. Building the frame collects ``merges`` to a rank
    dict (one small job).

    ``dense=False`` skips the all-ids densification (an extra full scan
    of ``docs`` plus an id-keyed dropDuplicates shuffle, guide §2.4) and
    returns only docs with >= 1 word — rows the caller must left-join
    and zero-fill itself. Use it when the caller already holds a frame
    with every id (e.g. ``text_bpe_count``'s cheap-tier projection, or
    ``curation_gate``): same result, one corpus pass and one shuffle
    fewer."""
    per_doc = _token_count(docs, merge_ranks(merges), text_col, id_col, out_col)
    if not dense:
        return per_doc
    return (
        docs.select(id_col)
        .dropDuplicates([id_col])
        .join(per_doc, id_col, "left")
        .withColumn(out_col, F.coalesce(out_col, F.lit(0).cast("long")))
    )
