"""Distributed BPE (byte-pair encoding) merge learning.

Training-data pipelines don't just count tokens — they LEARN the
tokenizer: BPE (Sennrich et al. 2016, the GPT-2/LLaMA vocab algorithm)
greedily merges the most frequent adjacent symbol pair, N times.  The
classical trainer is a single-machine loop over a word-frequency dict;
this module is the Spark-native form whose per-round cost is bounded
by the VOCABULARY, not the corpus:

  1. ONE corpus pass builds the word-frequency table (partial-agged
     groupBy — the standard first step of every real BPE trainer);
  2. every merge round then runs on the vocab frame only: a
     pair-count aggregation (explode adjacent symbol pairs weighted by
     word count — shuffle bounded by |pairs| <= |vocab| * max word
     length), a 1-row argmax to the driver (count DESC, pair ASC —
     deterministic tie-break), and a re-tokenization that is a pure
     projection (a JVM `aggregate` fold, no shuffle).

At 100 TB the corpus is touched exactly once; 10^7 distinct words x
50 rounds is embarrassingly parallel vocab work.  Total driver
traffic: N pairs.

The re-tokenization fold implements the exact greedy left-to-right
merge of the reference algorithm (runs like `a a a a` -> `aa aa`, and
an already-merged symbol is never half of a second merge in the same
pass) — NOT a naive string replace(), whose resume-after-match
scanning drops every other merge in a run.  The fold is expressible
identically in Spark (`aggregate`) and DuckDB (`list_reduce` with a
prepended-sentinel init), which is what makes the whole trainer
hash-exact under the oracle (__spark_entry__._sql_bpe_*).

Symbols are whitespace-delimited inside an internal "spaced" word
representation, so the input alphabet must not contain whitespace —
guaranteed by whitespace tokenization upstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from zinger_spark.functions.text import tokens as _ws_tokens


def _sql_str(s: str) -> str:
    """A single-quoted Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) from whitespace tokenization — the one corpus-wide
    pass; everything after is vocab-bounded."""
    return (
        docs.select(F.explode(_ws_tokens(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def spaced(word: Column) -> Column:
    """Initial symbol sequence: one character per symbol, space-joined
    ('bpe' -> 'b p e')."""
    return F.trim(F.regexp_replace(word, "(.)", "$1 "))


def merge_fold_expr(spaced_col: str, p1: str, p2: str) -> Column:
    """Greedy left-to-right merge of the pair (p1, p2) over a spaced
    symbol string, as a JVM `aggregate` fold (see module docstring for
    why replace() is wrong).  The accumulator is the re-tokenized
    prefix; a symbol equal to p2 fuses when the accumulator ends with
    ' p1' — and a just-merged 'p1p2' tail never re-matches because the
    fold compares whole space-delimited symbols."""
    return F.expr(_merge_fold_sql(spaced_col, p1, p2))


def pair_counts(vocab: DataFrame, spaced_col: str = "s") -> DataFrame:
    """(p1, p2, cnt): adjacent-symbol pair frequencies weighted by word
    count.  The explode is vocab-bounded; the groupBy partial-aggregates
    map-side so the exchange carries surviving pairs only."""
    pairs = F.expr(
        "CASE WHEN size(_syms) < 2 THEN array() "
        "ELSE transform(sequence(1, size(_syms) - 1), "
        "i -> struct(element_at(_syms, i) AS p1, "
        "element_at(_syms, i + 1) AS p2)) END"
    )
    return (
        # split ONCE per row — Spark does not CSE the four references
        # the inlined form would carry
        vocab.select(F.split(spaced_col, " ").alias("_syms"), "n")
        .select(F.explode(pairs).alias("pr"), "n")
        .select("pr.p1", "pr.p2", "n")
        .groupBy("p1", "p2")
        .agg(F.sum("n").cast("long").alias("cnt"))
    )


def _learn_local(v: DataFrame, merges: int) -> tuple[list[dict], DataFrame]:
    """Driver-side replay of the merge loop over the collected
    (word, s, n) vocab — exact by construction: the spaced symbols are
    collected from the SAME column the distributed rounds would fold
    over, pair counts are integer sums (order-independent), the argmax
    tie-break compares Python strings by code point, which equals
    Spark's UTF8 byte ordering (UTF-8 is order-preserving), and the
    greedy left-to-right merge replicates merge_fold_expr
    symbol-for-symbol (a just-merged p1p2 tail never re-matches because
    the comparison is against whole symbols).

    Why (r13): each distributed round paid one pair-count aggregation
    job + one TakeOrdered argmax job + one eager localCheckpoint of the
    vocab frame — 3 scheduler round-trips per merge on a frame that is
    vocabulary-bounded, not corpus-bounded.
    """
    rows = v.collect()
    words: list[list] = [[r["word"], r["s"].split(" "), r["n"]] for r in rows]
    out: list[dict] = []
    for k in range(1, merges + 1):
        cnt: dict[tuple[str, str], int] = {}
        for _, syms, n in words:
            for i in range(len(syms) - 1):
                pr = (syms[i], syms[i + 1])
                cnt[pr] = cnt.get(pr, 0) + n
        if not cnt:
            break
        (p1, p2), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append({"rank": k, "p1": p1, "p2": p2, "cnt": c})
        for rec in words:
            syms = rec[1]
            res: list[str] = []
            for s in syms:
                if res and res[-1] == p1 and s == p2:
                    res[-1] = p1 + p2
                else:
                    res.append(s)
            rec[1] = res
    final = v.sparkSession.createDataFrame(
        [(w, " ".join(syms), n) for w, syms, n in words], v.schema
    )
    return out, final


def bpe_learn(
    vocab: DataFrame,
    merges: int = 8,
    checkpoint: bool = True,
    local_threshold: int = 65_536,
) -> tuple[list[dict], DataFrame]:
    """Learn ``merges`` BPE merges from a (word, n) vocab frame.

    Returns ``(merge_list, final_vocab)`` where merge_list entries are
    ``{"rank": k, "p1": .., "p2": .., "cnt": ..}`` (cnt = the pair's
    weighted frequency when it was chosen) and final_vocab carries
    (word, s, n) with ``s`` the re-tokenized spaced form.  Ties break
    deterministically on (cnt DESC, p1 ASC, p2 ASC), so the result is
    engine- and partitioning-independent.  Stops early if no pair
    remains.

    When the materialized vocab holds at most ``local_threshold``
    distinct words (a data-size gate — independent of scale factor and
    cluster size; the corpus pass that BUILT the vocab stays
    distributed), the merge loop runs on the driver over the collected
    vocab (:func:`_learn_local`) instead of paying 3 scheduler
    round-trips per merge round.  A natural-language vocabulary is
    Heaps-law bounded, but a pathological one (hashes, ids) exceeds the
    threshold and takes the distributed loop unchanged.
    ``local_threshold=0`` disables the driver path; ``checkpoint`` does
    not change which path runs."""
    v = vocab.select("word", spaced(F.col("word")).alias("s"), "n")
    if checkpoint:
        # the vocab frame is small (distinct words); materialize per
        # round so round k's pair scan doesn't replay rounds 1..k-1's
        # nested folds
        v = v.localCheckpoint(eager=True)
    if local_threshold and v.count() <= local_threshold:
        return _learn_local(v, merges)
    out: list[dict] = []
    for k in range(1, merges + 1):
        top = (
            pair_counts(v)
            .orderBy(F.desc("cnt"), "p1", "p2")
            .limit(1)
            .collect()
        )
        if not top:
            break
        p1, p2, cnt = top[0]["p1"], top[0]["p2"], top[0]["cnt"]
        out.append({"rank": k, "p1": p1, "p2": p2, "cnt": cnt})
        v = v.select("word", merge_fold_expr("s", p1, p2).alias("s"), "n")
        if checkpoint:
            v = v.localCheckpoint(eager=True)
    return out, v


def bpe_segment(spaced_col: str, merge_list: list[dict]) -> Column:
    """Apply a learned merge table (in rank order) to a spaced symbol
    column — chained JVM folds, a pure projection for corpus-wide
    tokenization."""
    expr = spaced_col
    for mg in merge_list:
        expr = f"({_merge_fold_sql(expr, mg['p1'], mg['p2'])})"
    return F.expr(expr)


def _merge_fold_sql(spaced_expr: str, p1: str, p2: str) -> str:
    q1, q2 = _sql_str(p1), _sql_str(p2)
    qm = _sql_str(p1 + p2)
    tail = len(p1) + 1
    return (
        f"trim(aggregate(split({spaced_expr}, ' '), '', (acc, s) -> "
        f"CASE WHEN right(acc, {tail}) = ' ' || {q1} AND s = {q2} "
        f"THEN substring(acc, 1, length(acc) - {tail}) || ' ' || {qm} "
        f"ELSE acc || ' ' || s END))"
    )


def save_merges(path: str, merge_list: list[dict]) -> None:
    """Persist a learned merge table as JSON (rank order preserved) —
    the tokenizer artifact a training job ships to every consumer;
    :func:`load_merges` + :func:`bpe_segment` rebuild the corpus
    tokenizer exactly."""
    import json
    import os

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"kind": "bpe_merges", "merges": merge_list}, f, indent=1)
    os.replace(tmp, path)


def load_merges(path: str) -> list[dict]:
    import json

    with open(path) as f:
        obj = json.load(f)
    if obj.get("kind") != "bpe_merges":
        raise ValueError(f"{path}: not a BPE merge-table artifact")
    ms = obj["merges"]
    if [m["rank"] for m in ms] != list(range(1, len(ms) + 1)):
        raise ValueError(f"{path}: merge ranks must be 1..n in order")
    return ms
