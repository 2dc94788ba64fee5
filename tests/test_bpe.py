"""Merge-table BPE: differential vs an independent pure-Python reference,
training determinism / partition invariance, and packing parity (real
counts move pack boundaries vs the ceil(len/4) estimate)."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from temporai_mivdp_spark.llmdata import bpe, sampling, text


# ---------------------------------------------------------------------------
# Independent reference implementation (naive Sennrich: full pair rescan
# every round; naive apply: re-scan for the best pair after every merge).
# Deliberately a different algorithmic formulation from the engine's
# incremental/indexed version — agreement is evidence, not tautology.
# ---------------------------------------------------------------------------


def ref_train(word_counts: dict[str, int], num_merges: int) -> list[tuple[str, str]]:
    vocab = {tuple(w): c for w, c in word_counts.items() if w}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        if not pairs:
            break
        # max count, ties -> lexicographically smallest pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        new_vocab = {}
        for sym, c in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def ref_apply(word: str, merges: list[tuple[str, str]]) -> list[str]:
    sym = list(word)
    changed = True
    while changed and len(sym) >= 2:
        changed = False
        # earliest-trained merge present anywhere wins this round
        for a, b in merges:
            i = 0
            hit = False
            out = []
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                    hit = True
                else:
                    out.append(sym[i])
                    i += 1
            if hit:
                sym = out
                changed = True
                break
    return sym


def _norm_words(s: str) -> list[str]:
    return [w for w in " ".join(s.lower().split()).split(" ") if w]


WORDS = [
    "low", "lower", "lowest", "newer", "newest", "wider", "widest",
    "the", "then", "there", "these", "those", "bet", "better", "best",
    "run", "runner", "running", "reran", "banana", "bandana", "cabana",
]


def _random_corpus(seed: int, n_docs: int = 60) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    return [
        (i, " ".join(rng.choices(WORDS, k=rng.randint(3, 40))))
        for i in range(n_docs)
    ]


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_bpe_differential_vs_reference(spark, seed):
    rows = _random_corpus(seed)
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    merges_df = bpe.train_bpe(docs, num_merges=40)
    got_merges = [
        (r.left, r.right)
        for r in merges_df.orderBy("rank").collect()
    ]

    # reference trains on the exact word-count table
    wc: Counter = Counter()
    for _, t in rows:
        wc.update(_norm_words(t))
    want_merges = ref_train(dict(wc), 40)
    assert got_merges == want_merges

    # application parity: engine per-doc counts == reference per-doc counts
    counts = {
        r.doc_id: r.bpe_tokens
        for r in bpe.bpe_token_count(docs, merges_df).collect()
    }
    for doc_id, t in rows:
        want = sum(len(ref_apply(w, want_merges)) for w in _norm_words(t))
        assert counts[doc_id] == want, (doc_id, counts[doc_id], want)


def test_bpe_apply_kernel_matches_reference_on_random_words(spark):
    rng = random.Random(99)
    wc = {w: rng.randint(1, 50) for w in WORDS}
    merges = ref_train(wc, 30)
    ranks = {p: i for i, p in enumerate(merges)}
    for _ in range(200):
        w = "".join(rng.choices("abdelnorstuw", k=rng.randint(1, 14)))
        assert bpe.apply_merges_py(w, ranks) == ref_apply(w, merges), w
    # untouched scripts degrade to characters
    assert bpe.apply_merges_py("日本語", ranks) == ["日", "本", "語"]


def test_bpe_training_partition_invariant(spark):
    rows = _random_corpus(3)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = [(r.rank, r.left, r.right)
            for r in bpe.train_bpe(docs, num_merges=25).orderBy("rank").collect()]
    for parts in (1, 16):
        again = [
            (r.rank, r.left, r.right)
            for r in bpe.train_bpe(docs.repartition(parts), num_merges=25)
            .orderBy("rank")
            .collect()
        ]
        assert again == base


def test_bpe_token_count_edge_docs(spark):
    docs = spark.createDataFrame(
        [(1, "banana banana"), (2, ""), (3, "   "), (4, None), (5, "xyzzy")],
        "doc_id long, text string",
    )
    trained_on = spark.createDataFrame(
        [(0, "banana repeated banana often")], "doc_id long, text string"
    )
    merges = bpe.train_bpe(trained_on, num_merges=10)
    got = {r.doc_id: r.bpe_tokens for r in bpe.bpe_token_count(docs, merges).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[2] == 0 and got[3] == 0 and got[4] == 0
    # 'banana' fully merges after enough rounds -> few pieces, never 0
    assert 2 <= got[1] <= 12
    # OOV word: counts its unmerged pieces (at most its char count)
    assert 1 <= got[5] <= 5


def test_bpe_zero_merges_counts_characters(spark):
    docs = spark.createDataFrame([(1, "ab cde")], "doc_id long, text string")
    empty = bpe.train_bpe(
        spark.createDataFrame([], "doc_id long, text string"), num_merges=5
    )
    assert empty.count() == 0
    got = bpe.bpe_token_count(docs, empty).first()
    assert got.bpe_tokens == 5  # 2 + 3 characters


def test_packing_parity_real_counts_shift_boundaries(spark):
    """The point of real BPE accounting: pack boundaries computed from
    real counts differ from estimate-based ones, and downstream budget
    math follows the real counts."""
    rows = _random_corpus(11, n_docs=80)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.train_bpe(docs, num_merges=60)

    real = bpe.bpe_token_count(docs, merges)
    est = docs.select(
        "doc_id",
        text.bpe_token_estimate(F.col("text")).cast("long").alias("est_tokens"),
    )
    both = real.join(est, "doc_id")
    # the estimate and the real count disagree for a meaningful share
    diff = both.filter(F.col("bpe_tokens") != F.col("est_tokens")).count()
    assert diff > 40

    packed_real = sampling.pack_sequences(
        both, max_tokens=128, tokens_col="bpe_tokens", order_col="doc_id"
    ).select("doc_id", F.col("pack_id").alias("pack_real"))
    packed_est = sampling.pack_sequences(
        both, max_tokens=128, tokens_col="est_tokens", order_col="doc_id"
    ).select("doc_id", F.col("pack_id").alias("pack_est"))
    moved = (
        packed_real.join(packed_est, "doc_id")
        .filter(F.col("pack_real") != F.col("pack_est"))
        .count()
    )
    assert moved > 0
    # every real pack holds at most max_tokens of REAL tokens (starting-
    # offset packing: a pack's start offsets span < max_tokens)
    sums = (
        packed_real.join(real, "doc_id")
        .groupBy("pack_real")
        .agg(F.sum("bpe_tokens").alias("s"))
        .collect()
    )
    biggest_doc = max(r.bpe_tokens for r in real.collect())
    assert all(r.s <= 128 + biggest_doc for r in sums)


def test_token_budget_sample_with_real_counts(spark):
    rows = _random_corpus(5, n_docs=50)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.train_bpe(docs, num_merges=40)
    counted = bpe.bpe_token_count(docs, merges)
    sel = sampling.token_budget_sample(counted, 300, tokens_col="bpe_tokens")
    total = sel.agg(F.sum("bpe_tokens")).first()[0]
    biggest = counted.agg(F.max("bpe_tokens")).first()[0]
    assert total <= 300 + biggest  # one-doc overshoot contract
    assert sel.count() >= 1


# ---------------------------------------------------------------------------
# Pretrained tier + the recursive-CTE DuckDB oracle replay
# ---------------------------------------------------------------------------


def test_pretrained_merges_deterministic_and_subword_like():
    """The pretrained table re-derives identically (no stored model) and
    behaves like a real subword tokenizer on everyday English."""
    m1 = bpe.pretrained_merges_list()
    # re-derive without the cache: same seed text, same trainer
    from temporai_mivdp_spark.llmdata.bpe_data import SEED_TEXT

    words = Counter(w for w in " ".join(SEED_TEXT.lower().split()).split(" ") if w)
    m2 = tuple(bpe._train_merges(dict(words), 300))
    assert m1 == m2
    ranks = {p: i for i, p in enumerate(m1)}
    # seen words compress to one piece; unseen-but-English words to few
    assert bpe.apply_merges_py("table", ranks) == ["table"]
    assert len(bpe.apply_merges_py("understanding", ranks)) <= 5
    # alien scripts degrade to characters, never fail
    assert len(bpe.apply_merges_py("日本語", ranks)) == 3


def _duck_replay_n_pieces(words: list[str], merges: list[tuple[str, str]]) -> dict[str, int]:
    """The oracle's recursive-CTE merge replay, standalone: delimiter-
    wrapped symbol strings, replace() on the lowest-rank pair present."""
    import duckdb

    vals = ",".join(f"({i}, '{a}', '{b}')" for i, (a, b) in enumerate(merges))
    wvals = ",".join(f"('{w}')" for w in sorted(set(words)))
    sql = f"""
    WITH RECURSIVE
    m(rank, l, r) AS (VALUES {vals}),
    types(token) AS (VALUES {wvals}),
    seg(token, s, it) AS (
      SELECT token, '||' || array_to_string(string_split(token, ''), '||') || '||', 0
      FROM types
      UNION ALL
      SELECT x.token,
             replace(x.s, '|' || mm.l || '||' || mm.r || '|', '|' || mm.l || mm.r || '|'),
             x.it + 1
      FROM (SELECT token, s, it,
                   (SELECT min(rank) FROM m
                    WHERE contains(s, '|' || m.l || '||' || m.r || '|')) AS best
            FROM seg) x JOIN m mm ON mm.rank = x.best
    )
    SELECT token, CAST((length(s) - length(replace(s, '|', ''))) / 2 - 1 AS BIGINT)
    FROM (SELECT token, s, row_number() OVER (PARTITION BY token ORDER BY it DESC) AS rn
          FROM seg) WHERE rn = 1
    """
    return dict(duckdb.connect().execute(sql).fetchall())


@pytest.mark.parametrize("seed", [3, 19])
def test_oracle_recursive_cte_matches_kernel_worst_case_runs(seed):
    """The delimiter-replace replay must reproduce the kernel's
    left-to-right non-overlapping scan EXACTLY — the adversarial case is
    a single-letter alphabet where every merge overlaps its neighbor
    (odd runs: [a,a,a,a,a] -> [aa,aa,a], not [aa,a,aa])."""
    rng = random.Random(seed)
    words = ["".join(rng.choice("ab") for _ in range(rng.randint(1, 14))) for _ in range(250)]
    merges = bpe._train_merges(dict(Counter(words)), 30)
    ranks = {p: i for i, p in enumerate(merges)}
    got = _duck_replay_n_pieces(words, merges)
    for w in sorted(set(words)):
        assert got[w] == len(bpe.apply_merges_py(w, ranks)), w


def test_merge_tables_are_local_relations(spark):
    """Both merge-table constructors plan a JVM LocalTableScan: a frame
    built from a Python row list plans ``Scan ExistingRDD``, whose
    reserializing map starts Python-worker tasks on every execution."""
    from temporai_mivdp_spark.plans import executed_plan

    docs = spark.createDataFrame([(1, "banana bandana band")], "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    pretrained = bpe.pretrained_merges(spark)
    for merges in (pretrained, bpe.train_bpe(docs, 5), bpe.train_bpe(empty, 5)):
        plan = executed_plan(merges)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert merges.columns == ["rank", "left", "right"]
        assert merges.dtypes == [("rank", "int"), ("left", "string"), ("right", "string")]
    assert [(r.rank, (r.left, r.right)) for r in pretrained.collect()] == list(
        enumerate(bpe.pretrained_merges_list())
    )


def test_oracle_recursive_cte_matches_kernel_pretrained_table():
    """Same replay under the real pretrained table on real-ish words,
    including accented (multibyte) symbols from the multilingual seed."""
    merges = [list(p) for p in bpe.pretrained_merges_list()]
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    words = [
        "table", "understanding", "découverte", "verständnis", "años",
        "zqx", "a", "the", "lowering", "xyzzyplugh",
    ]
    esc = [(a.replace("'", "''"), b.replace("'", "''")) for a, b in merges]
    got = _duck_replay_n_pieces(words, esc)
    for w in words:
        assert got[w] == len(bpe.apply_merges_py(w, ranks)), w


def test_pipeline_curation_packs_on_real_counts(spark):
    """The flagship pipeline's packing currency IS the real tier: the
    emitted pack_id equals an independent recomputation from bpe_tokens
    (exclusive cumsum / 2048 in doc_id order) and, wherever the cheap
    estimate would have drawn a different boundary, the pipeline
    follows the real counts."""
    from temporai_mivdp_spark.queries import QUERIES
    import temporai_mivdp_spark.queries_llm  # noqa: F401

    out = QUERIES["pipeline_docs_curation"](spark, "/root/testdata/sf0.001")
    pdf = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert "bpe_tokens" in pdf.columns and "bpe_estimate" in pdf.columns
    # the two tiers genuinely disagree on this corpus
    assert (pdf.bpe_tokens != pdf.bpe_estimate).mean() > 0.5

    def packs(counts):
        cum = counts.cumsum().shift(1, fill_value=0)
        return (cum // 2048).astype("int64")

    real_pack = packs(pdf.bpe_tokens)
    est_pack = packs(pdf.bpe_estimate)
    assert (pdf.pack_id == real_pack).all()
    moved = (real_pack != est_pack)
    if moved.any():
        assert (pdf.pack_id[moved] == real_pack[moved]).all()
        assert (pdf.pack_id[moved] != est_pack[moved]).all()


def test_bpe_token_count_sparse_matches_dense(spark):
    """dense=False (round 12): skips the all-ids densification scan and
    returns only docs with >= 1 word; a caller-side left join + zero-fill
    must reproduce the dense result exactly (the text_bpe_count shape)."""
    docs = spark.createDataFrame(
        [(1, "banana banana"), (2, ""), (3, "   "), (4, None), (5, "xyzzy")],
        "doc_id long, text string",
    )
    merges = bpe.train_bpe(
        spark.createDataFrame(
            [(0, "banana repeated banana often")], "doc_id long, text string"
        ),
        num_merges=10,
    )
    from pyspark.sql import functions as F

    dense = {r.doc_id: r.bpe_tokens for r in bpe.bpe_token_count(docs, merges).collect()}
    sparse = bpe.bpe_token_count(docs, merges, dense=False)
    assert {r.doc_id for r in sparse.collect()} == {1, 5}  # wordless docs absent
    refilled = {
        r.doc_id: r.bpe_tokens
        for r in docs.select("doc_id")
        .join(sparse, "doc_id", "left")
        .withColumn("bpe_tokens", F.coalesce("bpe_tokens", F.lit(0).cast("long")))
        .collect()
    }
    assert refilled == dense
