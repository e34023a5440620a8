"""Data card generator: one markdown report describing a documents
table — the artifact a dataset release ships alongside the parquet
(composition, quality, duplication, token statistics).

Everything is computed with the library's own operators (profile,
exact dedup, lang mix, token stats, BPE pair pressure), so the card
doubles as an end-to-end smoke of the curation suite on any corpus:

    python tools/datacard.py /root/testdata/sf0.01 [out.md]

Each section is a bounded aggregate (the card is a constant-size
artifact whatever the corpus), and every number is deterministic —
two runs over the same data produce byte-identical cards, which makes
the card diffable across dataset versions.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_card(spark, sf_dir: str) -> str:
    from pyspark.sql import functions as F

    import zinger_spark.functions.text as ztext
    from zinger_spark.operators.bpe import pair_counts, spaced, word_frequencies
    from zinger_spark.operators.profile import profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    lines = ["# Data card: documents", ""]
    lines += [f"- rows: **{n_docs}**", ""]

    lines += ["## Column profile", "",
              "| column | rows | nulls | distinct | min | max |",
              "|---|---|---|---|---|---|"]
    for r in profile(docs).orderBy("column_name").collect():
        mn = r["min_str"] if r["min_num"] is None else r["min_num"]
        mx = r["max_str"] if r["max_num"] is None else r["max_num"]
        mn = (str(mn)[:28] + "…") if mn and len(str(mn)) > 29 else mn
        mx = (str(mx)[:28] + "…") if mx and len(str(mx)) > 29 else mx
        lines.append(
            f"| {r['column_name']} | {r['n_rows']} | {r['n_null']} | "
            f"{r['n_distinct']} | {mn} | {mx} |"
        )
    lines.append("")

    lines += ["## Composition", ""]
    for dim in ("lang", "source"):
        if dim not in docs.columns:
            continue
        top = (
            docs.groupBy(dim).count().orderBy(F.desc("count"), dim).limit(8).collect()
        )
        parts = ", ".join(f"{r[dim]} {100.0 * r['count'] / n_docs:.1f}%" for r in top)
        lines.append(f"- by **{dim}**: {parts}")
    lines.append("")

    lines += ["## Duplication", ""]
    norm = F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
    n_distinct = docs.select(norm.alias("h")).distinct().count()
    dup_pct = 100.0 * (n_docs - n_distinct) / max(n_docs, 1)
    lines.append(
        f"- exact (normalized-text) duplicates: **{n_docs - n_distinct}** "
        f"rows ({dup_pct:.2f}%)"
    )
    # near-dup pressure: symmetric (Jaccard) and directional
    # (containment — subset/quote) pairs, both projected from ONE
    # shingle-blocked pair-counts pass (the candidate/verify core is
    # the heaviest job in the card — pay it once, not per ratio)
    from zinger_spark.operators.dedup import _shingle_pair_counts

    counted = _shingle_pair_counts(
        docs, "text", "doc_id", shingle_k=8, max_df=1000,
        parallelism=None, materialize=True,
    ).persist()
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    ).cast("double")
    con = F.greatest(
        F.col("shared").cast("double") / F.col("na").cast("double"),
        F.col("shared").cast("double") / F.col("nb").cast("double"),
    )
    n_jac = counted.filter(jac >= 0.4).count()
    n_con = counted.filter(con >= 0.5).count()
    counted.unpersist()
    lines.append(
        f"- near-dup pairs: **{n_jac}** at jaccard ≥ 0.4, **{n_con}** at "
        f"containment ≥ 0.5 (8-gram shingles; containment also catches "
        f"subset/quote duplication)"
    )
    lines.append("")

    lines += ["## Tokens", ""]
    tok = docs.select(ztext.token_count(F.col("text")).alias("t")).agg(
        F.sum("t").alias("total"),
        F.expr("CAST(avg(t) AS DOUBLE)").alias("mean"),
        F.min("t").alias("mn"),
        F.max("t").alias("mx"),
    ).collect()[0]
    lines.append(
        f"- whitespace tokens: total **{tok['total']}**, per-doc mean "
        f"{tok['mean']:.1f} (min {tok['mn']}, max {tok['mx']})"
    )
    vocab = word_frequencies(docs)
    v = vocab.agg(F.count(F.lit(1)).alias("v"), F.sum("n").alias("n")).collect()[0]
    lines.append(f"- vocabulary: **{v['v']}** distinct words over {v['n']} occurrences")
    top_pairs = (
        pair_counts(vocab.select("word", spaced(F.col("word")).alias("s"), "n"))
        .orderBy(F.desc("cnt"), "p1", "p2")
        .limit(5)
        .collect()
    )
    pairs = ", ".join(f"'{r['p1']}'+'{r['p2']}' ({r['cnt']})" for r in top_pairs)
    lines.append(f"- top BPE merge candidates: {pairs}")
    lines.append("")
    return "\n".join(lines) + "\n"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else None
    from zinger_spark.session import get_spark

    spark = get_spark("datacard")
    card = build_card(spark, sf_dir)
    if out:
        with open(out, "w") as f:
            f.write(card)
        print(f"wrote {out}")
    else:
        print(card)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
