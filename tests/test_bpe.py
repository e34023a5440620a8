"""Distributed BPE trainer (operators/bpe.py) vs a pure-Python
reference implementation of the classical algorithm (Sennrich et al.
2016): greedy left-to-right pair merging over a word-frequency dict,
argmax by (count DESC, pair ASC)."""

import random

import pytest
from pyspark.sql import functions as F

from zinger_spark.operators.bpe import (
    bpe_learn,
    bpe_segment,
    merge_fold_expr,
    pair_counts,
    spaced,
    word_frequencies,
)


def _ref_merge_word(syms, p1, p2):
    """Greedy left-to-right single-pass merge — the reference semantics."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == p1 and syms[i + 1] == p2:
            out.append(p1 + p2)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_learn(freqs, merges):
    """freqs: dict word -> n.  Returns (merge_list, final_vocab)."""
    vocab = {w: list(w) for w in freqs}
    out = []
    for k in range(1, merges + 1):
        pairs = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freqs[w]
        if not pairs:
            break
        (p1, p2), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append({"rank": k, "p1": p1, "p2": p2, "cnt": cnt})
        vocab = {w: _ref_merge_word(s, p1, p2) for w, s in vocab.items()}
    return out, vocab


@pytest.mark.parametrize(
    "word,p1,p2,want",
    [
        ("aaaa", "a", "a", ["aa", "aa"]),   # runs merge pairwise, not every-other
        ("aaa", "a", "a", ["aa", "a"]),
        ("aab", "a", "b", ["a", "ab"]),
        ("banana", "a", "n", ["b", "an", "an", "a"]),
        ("x", "a", "b", ["x"]),
    ],
)
def test_merge_fold_matches_reference(spark, word, p1, p2, want):
    df = spark.createDataFrame([(word,)], ["w"]).select(
        spaced(F.col("w")).alias("s")
    )
    got = df.select(merge_fold_expr("s", p1, p2).alias("m")).collect()[0]["m"]
    assert got.split(" ") == want
    assert _ref_merge_word(list(word), p1, p2) == want


def test_merge_fold_multichar_symbols(spark):
    # after 'e r' -> 'er', merging 'm'+'er' must fuse whole symbols only
    df = spark.createDataFrame([("m er g er",)], ["s"])
    got = df.select(merge_fold_expr("s", "m", "er").alias("m")).collect()[0]["m"]
    assert got == "mer g er"
    # and a one-char suffix of a longer symbol must NOT match ('r' != 'er')
    got2 = df.select(merge_fold_expr("s", "r", "g").alias("m")).collect()[0]["m"]
    assert got2 == "m er g er"


@pytest.mark.parametrize("local_threshold", [65_536, 0])
def test_learn_matches_reference_with_ties(spark, local_threshold):
    # local_threshold=65536 takes the r13 driver-replay path; 0 forces
    # the distributed loop — both must match the reference, merge list
    # AND final vocabulary.
    words = ["abab", "abab", "cdcd", "abcd", "dd", "a"]
    freqs = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    docs = spark.createDataFrame([(" ".join(words),)], ["text"])
    got, gvocab = bpe_learn(
        word_frequencies(docs), merges=5, local_threshold=local_threshold
    )
    want, wvocab = _ref_learn(freqs, 5)
    assert got == want
    gfinal = {
        r["word"]: r["s"].split(" ") for r in gvocab.collect()
    }
    assert gfinal == wvocab


@pytest.mark.parametrize("local_threshold", [65_536, 0])
def test_learn_random_corpus_and_partitioning_invariance(
    spark, local_threshold
):
    rng = random.Random(3)
    alphabet = "abc"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
        for _ in range(120)
    ]
    freqs = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    docs = spark.createDataFrame([(w,) for w in words], ["text"])
    base = word_frequencies(docs)
    got1, _ = bpe_learn(
        base.coalesce(1), merges=6, local_threshold=local_threshold
    )
    got2, _ = bpe_learn(
        base.repartition(7, "word"), merges=6, local_threshold=local_threshold
    )
    want, _ = _ref_learn(freqs, 6)
    assert got1 == want
    assert got2 == want


def test_learn_without_checkpoint_still_takes_driver_path(
    spark, monkeypatch
):
    """checkpoint=False changes only the distributed loop's lineage
    cuts: under the threshold the merge loop still replays on the
    driver, with the same result as the distributed loop."""
    import zinger_spark.operators.bpe as bpe

    calls = []
    real = bpe._learn_local

    def spy(v, merges):
        calls.append(merges)
        return real(v, merges)

    monkeypatch.setattr(bpe, "_learn_local", spy)
    docs = spark.createDataFrame(
        [("abab abab cdcd abcd dd a",)], ["text"]
    )
    got, gvocab = bpe_learn(word_frequencies(docs), merges=5, checkpoint=False)
    assert calls == [5]
    want, wvocab = bpe_learn(
        word_frequencies(docs), merges=5, local_threshold=0
    )
    assert calls == [5]  # local_threshold=0: distributed loop
    assert got == want
    assert sorted(map(tuple, gvocab.collect())) == sorted(
        map(tuple, wvocab.collect())
    )


def test_pair_counts_weighted(spark):
    vocab = spark.createDataFrame(
        [("a b", 3), ("a b", 0), ("b c", 2), ("x", 9)], ["s", "n"]
    )
    rows = {
        (r["p1"], r["p2"]): r["cnt"] for r in pair_counts(vocab).collect()
    }
    assert rows == {("a", "b"): 3, ("b", "c"): 2}


def test_segment_applies_merges_in_rank_order(spark):
    merges = [
        {"rank": 1, "p1": "e", "p2": "r", "cnt": 0},
        {"rank": 2, "p1": "m", "p2": "er", "cnt": 0},
    ]
    df = spark.createDataFrame([("merger",)], ["w"]).select(
        spaced(F.col("w")).alias("s")
    )
    got = df.select(bpe_segment("s", merges).alias("t")).collect()[0]["t"]
    assert got == "mer g er"


def test_oracle_survives_pair_exhaustion(spark):
    """When pairs run out before `merges` rounds, bpe_learn breaks
    early; the oracle CTE chain must pass the vocab through intact
    (LEFT JOIN null-pair guard), not wipe it with an empty cross
    join.  Runs the REAL oracle SQL on a fabricated corpus."""
    import importlib.util

    import duckdb

    import pathlib

    spec = importlib.util.spec_from_file_location(
        "entry_for_bpe_test",
        pathlib.Path(__file__).resolve().parents[1] / "__spark_entry__.py",
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT 'ab ab ab' AS text"
    )
    merges_sql = con.execute(m._sql_bpe_learn(5)).df()
    vocab_sql = con.execute(m._sql_bpe_vocab_tokens(5)).df()
    docs = spark.createDataFrame([("ab ab ab",)], ["text"])
    got, vfinal = bpe_learn(word_frequencies(docs), merges=5)
    # only one merge exists ('a'+'b'); both sides stop there
    assert [(g["p1"], g["p2"], g["cnt"]) for g in got] == [("a", "b", 3)]
    assert len(merges_sql) == 1
    assert (merges_sql.iloc[0]["p1"], merges_sql.iloc[0]["p2"]) == ("a", "b")
    # and the final vocabulary survives on the oracle side
    assert sorted(
        (r["token"], r["cnt"]) for _, r in vocab_sql.iterrows()
    ) == [("ab", 3)]
    assert [r["s"] for r in vfinal.collect()] == ["ab"]
