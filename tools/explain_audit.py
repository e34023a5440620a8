"""Physical-plan audit: assert the plan properties SCALE.md claims.

Checks, per query: parquet pushdown (PushedFilters / pruned ReadSchema),
broadcast joins for small dims, TakeOrderedAndProject for tail/top-k,
no CartesianProduct anywhere, whole-stage codegen present.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as m
    from zinger_spark.session import get_spark

    spark = get_spark("audit")
    qs = m.queries()
    failures = []

    def check(name: str, cond: bool, why: str):
        status = "ok" if cond else "VIOLATION"
        print(f"{status:9s} {name}: {why}")
        if not cond:
            failures.append(f"{name}: {why}")

    # 1) filter pushdown + column pruning reach the scan
    p = plan_of(qs["filter_predicates"](spark, sf))
    check("filter_predicates", "PushedFilters: [" in p and "GreaterThanOrEqual(value" in p,
          "range filter pushed to parquet scan")
    check("filter_predicates", "ReadSchema" in p and "props" not in p.split("ReadSchema:")[-1],
          "unused column (props) pruned from scan")

    # 2) TPC-H q1: pruned scan reads only the 7 needed columns
    p = plan_of(qs["tpch_q1"](spark, sf))
    read = p.split("ReadSchema:")[-1]
    check("tpch_q1", "l_orderkey" not in read and "l_quantity" in read,
          "scan reads agg columns only")

    # 3) small dims broadcast
    for q in ("tpch_q3", "tpch_q5", "tpch_q10", "tpch_q14"):
        p = plan_of(qs[q](spark, sf))
        check(q, "BroadcastHashJoin" in p, "small dimension broadcast")
        check(q, "CartesianProduct" not in p, "no cartesian product")

    # 4) tail1 / read_batch compile to TakeOrderedAndProject (no global sort)
    p = plan_of(qs["tail1"](spark, sf))
    check("tail1", "TakeOrderedAndProject" in p, "desc limit 1 = per-partition top-k")
    p = plan_of(qs["read_batch"](spark, sf))
    check("read_batch", "TakeOrderedAndProject" in p, "ordered head N = top-k")

    # 5) anti-join dedup broadcasts the done side
    import pyspark.sql.functions as F
    ev = m._events(spark, sf)
    env = ev.select(F.struct(F.col("event_type").alias("topic"), F.col("event_id").alias("offset")).alias("kafka"))
    done = env.limit(100)
    from zinger_spark.operators.relational import anti_join
    p = plan_of(anti_join(env, done, on=("kafka.topic", "kafka.offset")))
    check("anti_join", "BroadcastHashJoin" in p and "LeftAnti" in p,
          "small done set broadcast in left-anti join")

    # 6) LSH/minhash plans have no cartesian product
    for q in (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "embedding_dup_pairs",
        "embedding_dup_pairs_multiprobe",
    ):
        p = plan_of(qs[q](spark, sf))
        check(q, "CartesianProduct" not in p, "candidates via equi-join, not cross join")

    # 7) whole-stage codegen ("*(n)" prefix) in narrow hot paths; AQE
    #    plans print pre-finalization, so check map-side combine for q1.
    for q in ("simhash", "quality_score"):
        p = plan_of(qs[q](spark, sf))
        check(q, "*(1)" in p or "*(2)" in p, "JVM codegen active")
    p = plan_of(qs["tpch_q1"](spark, sf))
    check("tpch_q1", "partial_sum" in p, "map-side partial aggregation")

    # 8) round-2 queries: hash joins only (the single BNLJ allowed is
    #    q22's deliberate 1-row scalar-subquery broadcast)
    for q in ("tpch_q8", "tpch_q12", "tpch_q15", "tpch_q21"):
        p = plan_of(qs[q](spark, sf))
        check(q, "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
              "equi-joins only (hash-based)")
    p = plan_of(qs["tpch_q8"](spark, sf))
    check("tpch_q8", "BroadcastHashJoin" in p, "small dims broadcast in 6-way join")
    p = plan_of(qs["tpch_q22"](spark, sf))
    check("tpch_q22", "CartesianProduct" not in p, "scalar subquery via 1-row broadcast")
    p = plan_of(qs["tpch_q21"](spark, sf))
    check("tpch_q21", "LeftSemi" in p and "LeftAnti" in p,
          "EXISTS/NOT EXISTS compile to semi/anti joins")
    p = plan_of(qs["ann_lsh_multiprobe"](spark, sf))
    check("ann_lsh_multiprobe", "CartesianProduct" not in p and "TakeOrderedAndProject" in p,
          "multi-probe = bucket IN-filter + per-partition top-k")

    # 9) curation queries: broadcasts where claimed, no cross products,
    #    partitioned windows (no single-partition global sort).
    p = plan_of(qs["stratified_sample"](spark, sf))
    check("stratified_sample", "BroadcastHashJoin" in p and "CartesianProduct" not in p,
          "per-source sizes broadcast")
    p = plan_of(qs["tfidf_top_terms"](spark, sf))
    check("tfidf_top_terms", "BroadcastHashJoin" in p and "CartesianProduct" not in p,
          "document-frequency side broadcast")
    check("tfidf_top_terms", "hashpartitioning(_pid" in p and "row_number()" not in p,
          "per-source top-k rank via prefix sum, not a per-source window sort")
    p = plan_of(qs["pack_sequences"](spark, sf))
    check("pack_sequences", "hashpartitioning(_pid" in p,
          "cumsum window keyed by (partition, source) — no per-source "
          "single-task window on the corpus")
    check("pack_sequences", "BroadcastHashJoin" in p,
          "cross-partition offsets joined back via broadcast")
    p = plan_of(qs["deterministic_shuffle"](spark, sf))
    check("deterministic_shuffle", "hashpartitioning(_pid" in p,
          "global rank via two-level prefix sum — no one-reducer row_number window")
    # r7: the rank-based registry forms themselves run on the prefix sum
    # (the corpus-wide window is keyed by (_pid, group); the only
    # single-partition window left is over the <=num_partitions-row
    # partials table, which is the two-level design)
    for q in ("percent_rank_dist", "ntile_deciles"):
        p = plan_of(qs[q](spark, sf))
        # the range exchange itself sits inside prefix_sum's
        # materialization barrier (invisible to the downstream plan
        # string); the (_pid, group)-keyed window proves the rank runs
        # on the two-level decomposition
        check(q, "hashpartitioning(_pid" in p,
              "exact global rank via two-level prefix sum, not an "
              "unpartitioned Window.orderBy over the corpus")
        check(q, "percent_rank()" not in p and "ntile(" not in p,
              "no rank window function on the corpus — closed form in (rn, N)")
    # r9: dense output-offset assignment has both strategies.  The
    # distributed form runs on the two-level prefix sum — the per-topic
    # Window.orderBy sort reducer (the r8 verdict's flagged
    # serialization point) is gone from its plan; the "auto" default
    # must pick the cheap window at micro-batch scale (the adaptive
    # cutover working) and the prefix sum past the size threshold.
    p = plan_of(qs["offset_assign_dist"](spark, sf))
    check("offset_assign_dist", "hashpartitioning(_pid" in p,
          "dense per-topic offsets via two-level prefix sum "
          "(parallelism = #partitions)")
    check("offset_assign_dist", "row_number()" not in p,
          "no per-topic row_number sort reducer in the plan")
    p = plan_of(qs["offset_assign"](spark, sf))
    check("offset_assign", "row_number()" in p and "hashpartitioning(_pid" not in p,
          "auto strategy keeps the single-shuffle window for a "
          "bounded micro-batch (no prefix-sum constant paid)")
    # r9: BM25 is scan-bound — the corpus-stats aggregate comes back as
    # a broadcast (1-row cross), per-term tf is array filters in the
    # projection; no keyed shuffle join anywhere
    p = plan_of(qs["bm25_topk"](spark, sf))
    check("bm25_topk", "SortMergeJoin" not in p and "ShuffledHashJoin" not in p,
          "no keyed shuffle joins — stats ride a 1-row broadcast")
    check("bm25_topk", "TakeOrderedAndProject" in p,
          "top-20 via per-partition top-k, no global sort")
    for q in ("contamination", "fuzzy_prefix_pairs"):
        p = plan_of(qs[q](spark, sf))
        check(q, "CartesianProduct" not in p, "candidates via equi-join, not cross join")
    p = plan_of(qs["simhash_incremental_dups"](spark, sf))
    check("simhash_incremental_dups",
          "CartesianProduct" not in p,
          "batch-vs-corpus candidates via band equi-join, no cross "
          "product (oracle pin runs uncapped for recall-completeness)")
    # the PRODUCTION path keeps the hot-bucket cap: audit it directly
    from zinger_spark.operators import dedup as _zd
    _docs = spark.read.parquet(f"{sf}/documents.parquet")
    _fps = _zd.simhash(_docs, bits=16)
    _new = _fps.filter("doc_id % 5 = 0")
    p = plan_of(_zd.incremental_hamming_dups(
        _fps.filter("doc_id % 5 != 0"), _new, fp_col="simhash", bits=16,
        max_hamming=2))
    check("incremental_hamming_dups(default cap)",
          "CartesianProduct" not in p and "LeftAnti" in p,
          "default max_bucket engages the broadcast hot-bucket anti guard")
    p = plan_of(qs["zscore_anomalies"](spark, sf))
    check("zscore_anomalies", "BroadcastHashJoin" in p, "per-type stats broadcast")
    p = plan_of(qs["sliding_window_counts"](spark, sf))
    check("sliding_window_counts", "hashpartitioning(user_id" in p,
          "RANGE window partitioned by user (no global sort)")
    p = plan_of(qs["knn_join"](spark, sf))
    check("knn_join", "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p,
          "query batch broadcast (intended BNLJ), corpus never shuffles for scoring")
    # scale paths for the rank-window queries: no window, broadcast-only
    from zinger_spark.functions import text as ztext
    from zinger_spark.operators.quantiles import (
        bucket_by_quantiles,
        group_quantile_filter,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source", ztext.quality_score(F.col("text")).alias("quality")
    )
    p = plan_of(group_quantile_filter(docs, "source", "quality", 0.6))
    check("quality_quantile_scale", "Window" not in p and "BroadcastHashJoin" in p,
          "approx path: per-source threshold broadcast, no per-source window")
    p = plan_of(bucket_by_quantiles(docs, "quality", 10))
    check("ntile_scale", "Window" not in p and "Broadcast" in p,
          "approx deciles: broadcast cut points, no single-reducer window")

    p = plan_of(qs["quality_quantile_filter"](spark, sf))
    check("quality_quantile_filter",
          "hashpartitioning(_pid" in p and "percent_rank()" not in p
          and "BroadcastHashJoin" in p,
          "per-source rank via two-level prefix sum (parallelism = "
          "#partitions, not #sources); sizes broadcast")

    # 10) r5 additions: narrow text ops stay shuffle-free; adapted
    #     tpch queries broadcast their dims; no cross products.
    for q in ("doc_chunks", "pii_scrub", "repetition_flags"):
        p = plan_of(qs[q](spark, sf))
        check(q, "CartesianProduct" not in p, "no cross product")
    for q in ("pii_scrub",):
        p = plan_of(qs[q](spark, sf))
        check(q, "Exchange" not in p, "pure per-row expression — zero shuffles")
    for q in ("tpch_q2", "tpch_q9", "tpch_q16", "tpch_q20"):
        p = plan_of(qs[q](spark, sf))
        check(q, "BroadcastHashJoin" in p and "CartesianProduct" not in p,
              "dimension sides broadcast, no cross join")
    p = plan_of(qs["tpch_q11"](spark, sf))
    check("tpch_q11", "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p,
          "scalar total via 1-row broadcast")
    p = plan_of(qs["embedding_dup_pairs_multiprobe"](spark, sf))
    check("embedding_dup_pairs_multiprobe", "HashAggregate" not in p.split("Join")[0]
          or "Distinct" not in p,
          "duplicate-free probe generation — no distinct over candidates")
    p = plan_of(qs["contamination_exact"](spark, sf))
    check("contamination_exact",
          "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p,
          "probe set broadcast (intended BNLJ), corpus scanned once")
    p = plan_of(qs["quantize_embeddings"](spark, sf))
    check("quantize_embeddings", "Exchange" not in p,
          "pure per-row quantization — zero shuffles")
    p = plan_of(qs["token_rarity"](spark, sf))
    check("token_rarity", "CartesianProduct" not in p,
          "token-keyed equi-join, partial-aggregated")

    # 13) new-in-r6: incremental dedup + zedql-compiled queries
    p = plan_of(qs["dedup_incremental_exact"](spark, sf))
    check("dedup_incremental_exact",
          "CartesianProduct" not in p and "LeftAnti" in p,
          "content-hash anti-join against corpus hashes")
    p = plan_of(qs["dedup_incremental_minhash"](spark, sf))
    check("dedup_incremental_minhash", "CartesianProduct" not in p,
          "bucket-probe equi-joins only, no pair blowup")
    p = plan_of(qs["zq_join_denorm"](spark, sf))
    check("zq_join_denorm", "CartesianProduct" not in p,
          "zedql join compiles to an equi-join")
    p = plan_of(qs["zq_filter_cut"](spark, sf))
    check("zq_filter_cut", "PushedFilters: [" in p and "In(event_type" in p,
          "zedql leg filter pushes into the parquet scan")

    p = plan_of(qs["gopher_quality"](spark, sf))
    check("gopher_quality",
          "CartesianProduct" not in p and "Generate" in p
          and "partial" in p.lower(),
          "n-gram coverage is linear explode + partial-agg, no pair blowup")

    p = plan_of(qs["dsir_affinity"](spark, sf))
    check("dsir_affinity",
          "CartesianProduct" not in p
          and ("BroadcastHashJoin" in p or "BroadcastNestedLoop" in p),
          "bucket table broadcasts; token join never shuffles the corpus twice")

    p = plan_of(qs["line_dedup"](spark, sf))
    check("line_dedup",
          "CartesianProduct" not in p and "Generate" in p
          and "Window" not in p,
          "line dedup is explode + keyed aggs, no corpus-wide window")

    p = plan_of(qs["line_dedup_incremental"](spark, sf))
    check("line_dedup_incremental",
          "CartesianProduct" not in p and "Window" not in p,
          "incremental line dedup anti-joins a distinct corpus projection")

    p = plan_of(qs["substring_dups"](spark, sf))
    check("substring_dups",
          "CartesianProduct" not in p,
          "winnowing pairs come from fingerprint equi-joins only")

    p = plan_of(qs["simhash_dup_pairs"](spark, sf))
    check("simhash_dup_pairs",
          "CartesianProduct" not in p,
          "hamming candidates come from band equi-joins, never all-pairs")

    p = plan_of(qs["source_vocab_overlap"](spark, sf))
    check("source_vocab_overlap",
          "CartesianProduct" not in p and "partial" in p.lower(),
          "vocab matrix is partial-agg + token-keyed equi-join")

    p = plan_of(qs["source_quota_sample"](spark, sf))
    check("source_quota_sample",
          "hashpartitioning(_pid" in p and "row_number()" not in p,
          "quota rank via the per-group prefix sum — the dominant "
          "source never serializes into one window sort task")

    p = plan_of(qs["script_mix"](spark, sf))
    check("script_mix",
          "Exchange" not in p and "FileScan" in p,
          "script counts are per-row expressions pipelined into the scan")

    # round 7: sketches + fixed-point PageRank
    p = plan_of(qs["hll_distinct"](spark, sf))
    check("hll_distinct",
          "partial_max" in p,
          "HLL registers combine map-side — the exchange carries at "
          "most 2^p rows per partition, never the distinct keys")
    p = plan_of(qs["hll_distinct_by_group"](spark, sf))
    check("hll_distinct_by_group",
          "partial_max" in p and "CartesianProduct" not in p,
          "per-group registers partial-agg on (group, bucket)")
    p = plan_of(qs["kmv_distinct"](spark, sf))
    check("kmv_distinct",
          "TakeOrderedAndProject" in p,
          "k smallest hashes = per-partition top-k heaps, no global sort")
    p = plan_of(qs["countmin_heavy_hitters"](spark, sf))
    check("countmin_heavy_hitters",
          "BroadcastHashJoin" in p and "CartesianProduct" not in p,
          "fixed-size CM grid broadcast to the probe side")
    p = plan_of(qs["bloom_contamination"](spark, sf))
    check("bloom_contamination",
          "forall" in p and "Join" not in p and "CartesianProduct" not in p,
          "literal-bitmap membership: zero joins, probe is a map-side "
          "JVM forall filter (the only shuffle left is the doc_id agg)")
    p = plan_of(qs["weighted_sample"](spark, sf))
    check("weighted_sample",
          "TakeOrderedAndProject" in p and "Window" not in p,
          "global weighted sample = top-n by integer priority, "
          "never a single-reducer window sort")
    p = plan_of(qs["ann_ivf_index_topk"](spark, sf))
    check("ann_ivf_index_topk",
          "PartitionFilters: [" in p and "ivf_cell" in p.split("PartitionFilters:")[-1],
          "persisted IVF probe prunes to the probed cells' partitions")

    p = plan_of(qs["range_join_bands"](spark, sf))
    check("range_join_bands",
          "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p,
          "interval join bucketized into a hash equi-join, never BNLJ")

    # the registry form localCheckpoints per round (lineage cut), which
    # hides iteration internals from the final plan — audit one
    # un-checkpointed round of the distributed loop directly
    # (local_threshold=0: a small graph would replay on the driver)
    from zinger_spark.operators.graph import pagerank_fixed_point
    li = qs["tpch_q1"].__globals__["_t"](spark, sf, "lineitem")
    ed = li.select(F.col("l_suppkey").cast("string").alias("src"),
                   F.col("l_orderkey").cast("string").alias("dst"))
    p = plan_of(pagerank_fixed_point(ed, iterations=1, checkpoint=False,
                                     local_threshold=0))
    check("pagerank_trade_graph",
          "CartesianProduct" not in p and "partial_sum" in p,
          "per-iteration contributions partial-agg before the dst shuffle")

    # round 7 (cont.): LM quality scoring + zedql function-library keys
    for q in ("lm_quality_unigram", "lm_quality_bigram"):
        p = plan_of(qs[q](spark, sf))
        check(q, "BroadcastHashJoin" in p and "CartesianProduct" not in p,
              "vocab-bounded model broadcast; corpus never shuffles on token")
        check(q, "partial_count" in p or "partial_sum" in p,
              "per-doc reduction partial-aggregates map-side")
    p = plan_of(qs["zq_regexp_funcs"](spark, sf))
    check("zq_regexp_funcs", "Exchange" not in p and "BatchEvalPython" not in p,
          "regexp/levenshtein/replace are per-row JVM expressions — zero "
          "shuffles, zero Python")
    p = plan_of(qs["zq_grok"](spark, sf))
    check("zq_grok", "BatchEvalPython" not in p and "CartesianProduct" not in p,
          "grok extraction is JVM regexp_extract; only the group-by shuffles")

    # round 7 (late): fixed-point perceptron — the per-round gradient agg
    # must partial-aggregate (one pre-agg row per partition crosses the
    # exchange) with the margin computed JVM-side, no Python, no joins
    from zinger_spark.operators.classifier import perceptron_margin
    feats = m._perc_feats(spark, sf)
    staged = feats.withColumn(
        "__mis",
        F.expr("CAST(y * (" + " + ".join(f"1L * f{j}" for j in range(m._PERC_D)) + ") <= 0 AS BIGINT)"),
    )
    gsums = ", ".join(
        f"CAST(COALESCE(SUM(__mis * y * f{j}), 0) AS BIGINT) AS g{j}"
        for j in range(m._PERC_D)
    )
    p = plan_of(staged.groupBy().agg(F.expr(f"struct({gsums}) AS r")))
    check("perceptron_train", "partial_sum" in p and "BatchEvalPython" not in p,
          "gradient round partial-aggregates map-side; margin is JVM codegen")
    check("perceptron_train", "Exchange SinglePartition" in p and "Join" not in p,
          "only exchange is the one-row-per-partition final agg; no joins")
    p = plan_of(
        feats.select(perceptron_margin([3] * m._PERC_D, m._PERC_FCOLS).alias("margin"))
    )
    check("perceptron_score_topk", "Exchange" not in p and "BatchEvalPython" not in p,
          "scoring is a pure projection — zero shuffles, zero Python")

    # BPE trainer: the per-round pair count partial-aggregates and the
    # re-tokenization fold is a shuffle-free JVM projection
    from zinger_spark.operators import bpe as zbpe
    docs = qs["tpch_q1"].__globals__["_t"](spark, sf, "documents")
    vocab = zbpe.word_frequencies(docs)
    p = plan_of(zbpe.pair_counts(vocab.select(zbpe.spaced(F.col("word")).alias("s"), "n")))
    check("bpe_learn_merges", "partial_sum" in p and "BatchEvalPython" not in p,
          "pair counts partial-aggregate map-side; no Python")
    p = plan_of(
        vocab.select(zbpe.spaced(F.col("word")).alias("s"), "n")
        .select(zbpe.merge_fold_expr("s", "a", "b").alias("s"), "n")
    )
    check("bpe_learn_merges",
          "BatchEvalPython" not in p and p.count("Exchange") == 1,
          "merge fold adds no exchange beyond the vocab groupBy")

    # profiler: every per-column leg prunes its scan to that column
    from zinger_spark.operators.profile import profile as zprofile
    orders = qs["tpch_q1"].__globals__["_t"](spark, sf, "orders")
    p = plan_of(zprofile(orders, cols=["o_totalprice"]))
    read = p.split("ReadSchema:")[-1]
    check("profile_orders",
          "o_totalprice" in read and "o_orderkey" not in read,
          "profile leg scan pruned to its single column")

    # rollup cascade: the day tier's plan aggregates hour PARTIALS —
    # exactly one scan of the fact table in the whole cascade
    from zinger_spark.operators.rollup import cents as zcents, rollup_cascade
    ev = m._events(spark, sf)
    tiers = rollup_cascade(ev, "ts", zcents(F.col("value")), ("hour", "day"),
                           keys=["event_type"])
    p = plan_of(tiers["day"])
    check("rollup_cascade_daily",
          p.count("Scan parquet") == 1 and "partial_sum" in p,
          "coarser tier merges partials; raw events scanned once")

    # gap-fill + SCD2: every window is PARTITIONED (per-key sort, no
    # global single-reducer window), and no Python anywhere
    for q in ("gap_fill_hourly", "cdc_scd2_history"):
        p = plan_of(qs[q](spark, sf))
        # partitioned spec leads with the partition column; a GLOBAL
        # window's first argument is the order column ("col ASC ...")
        specs = [seg.split(",")[0] for seg in p.split("windowspecdefinition(")[1:]]
        check(q, specs and all(" ASC" not in s and " DESC" not in s for s in specs)
              and "BatchEvalPython" not in p,
              "windows partition by key; zero Python")
    p = plan_of(qs["inverted_index_top"](spark, sf))
    check("inverted_index_top",
          "CartesianProduct" not in p and "partial_count" in p,
          "df partial-aggregates; no cross products")
    p = plan_of(qs["zorder_key_head"](spark, sf))
    check("zorder_key_head",
          "BatchEvalPython" not in p and "TakeOrderedAndProject" in p,
          "Morton key is JVM shift/mask; 20-row top-k never sorts globally")
    p = plan_of(qs["event_transitions"](spark, sf))
    specs = [seg.split(",")[0] for seg in p.split("windowspecdefinition(")[1:]]
    check("event_transitions",
          specs and all(" ASC" not in s and " DESC" not in s for s in specs)
          and "partial_count" in p,
          "lead window partitions by user; (from,to) cells partial-agg")
    p = plan_of(qs["join_size_estimate"](spark, sf))
    check("join_size_estimate",
          "BroadcastHashJoin" in p and "Scan ExistingRDD" in p,
          "probes broadcast the <=k-row KMV sample, which is "
          "materialized ONCE (r12 localCheckpoint — its TakeOrdered "
          "build runs upstream of the cut, so the final plan reads "
          "the checkpointed sample instead of inlining 3 copies)")
    p = plan_of(qs["cohort_retention"](spark, sf))
    check("cohort_retention",
          "CartesianProduct" not in p and "partial_min" in p,
          "first-seen partial-aggregates; no cross products")

    # r9: WARC ingest + crawl curation — byte parsing is ONE Arrow
    # kernel (the mapInPandas record reader); everything downstream
    # (HTML->text, gopher metrics, lang-id, dedup) must stay JVM: no
    # row-at-a-time BatchEvalPython, no cross products, and only the
    # reader's Arrow stage(s) in the plan.
    p = plan_of(qs["warc_curation"](spark, sf))
    check("warc_curation",
          "BatchEvalPython" not in p and "CartesianProduct" not in p,
          "no row-at-a-time Python, no cross products")
    check("warc_curation",
          p.count("MapInPandas") == 0,
          "parse+extraction materialized once (localCheckpoint); the 4 "
          "downstream consumers scan the cut, never re-run the reader")
    p = plan_of(qs["warc_ingest"](spark, sf))
    check("warc_ingest",
          "BatchEvalPython" not in p and p.count("MapInPandas") == 1,
          "one Arrow record-parse stage; extraction is JVM regexps")
    p = plan_of(qs["warc_link_graph"](spark, sf))
    check("warc_link_graph",
          "BatchEvalPython" not in p and p.count("MapInPandas") == 1
          and "CartesianProduct" not in p,
          "href extraction + eTLD+1 cut are JVM expressions after the "
          "single Arrow parse stage; only the edge groupBy shuffles")

    # r9 (late): containment dedup shares ngram_jaccard's blocked shape;
    # RRF fuses two ALREADY-BOUNDED top-k runs (the corpus reductions
    # are TakeOrderedAndProject, fusion never sees corpus-sized input);
    # canonical-URL dedup is pure JVM normalization + one groupBy.
    p = plan_of(qs["dedup_ngram_containment"](spark, sf))
    check("dedup_ngram_containment", "CartesianProduct" not in p,
          "candidates via shingle equi-join under the max_df cap, not all-pairs")
    p = plan_of(qs["containment_incremental_dups"](spark, sf))
    check("containment_incremental_dups",
          "CartesianProduct" not in p,
          "batch-vs-corpus candidates via the capped shingle equi-join, "
          "never all-pairs")
    p = plan_of(qs["rrf_hybrid_topk"](spark, sf))
    check("rrf_hybrid_topk",
          "TakeOrderedAndProject" in p and "CartesianProduct" not in p,
          "both retrieval runs reduce via per-partition top-k before the fuse")
    check("rrf_hybrid_topk", "BatchEvalPython" not in p,
          "BM25 + cosine scoring all JVM expressions")
    p = plan_of(qs["salted_skew_agg"](spark, sf))
    check("salted_skew_agg",
          "__salt" in p and "partial_" in p,
          "join and phase-1 agg keyed by (key, __salt) — hot keys spread "
          "over salt shards, partials merge by key alone")
    check("salted_skew_agg", "CartesianProduct" not in p,
          "small side replicated via explode, not a cross join")
    p = plan_of(qs["url_dedup_canonical"](spark, sf))
    check("url_dedup_canonical",
          "BatchEvalPython" not in p and "Join" not in p,
          "canonicalization is regexp/array JVM expressions fused into "
          "the scan; the only shuffle is the canonical-key groupBy")
    p = plan_of(qs["url_frontier_dedup"](spark, sf))
    check("url_frontier_dedup",
          "LeftAnti" in p and "CartesianProduct" not in p
          and "BatchEvalPython" not in p,
          "frontier admission is one left-anti join on the canonical "
          "key (shuffle-hash pinned — corpus side grows with the crawl)")

    # round 10: IVF-PQ serving — the probe must open only the probed
    # cells' CODE files (partition pruning) and the ADC fold must be a
    # broadcast of the m*ksub table + a partial-agg groupBy(id)
    p = plan_of(qs["ann_ivfpq_topk"](spark, sf))
    check("ann_ivfpq_topk",
          any(
              seg.lstrip().startswith("[ivf_cell")
              for seg in p.split("PartitionFilters:")[1:]
          ),
          "IVF-PQ probe prunes to the probed cells' code partitions")
    check("ann_ivfpq_topk",
          "BroadcastHashJoin" in p and "partial_sum" in p
          and "TakeOrderedAndProject" in p,
          "ADC table broadcast, per-id fold partial-aggregates, "
          "top-k is TakeOrdered — never a global sort")
    p = plan_of(qs["ann_ivfpq_rerank"](spark, sf))
    check("ann_ivfpq_rerank",
          "BroadcastHashJoin" in p and "CartesianProduct" not in p,
          "exact re-rank fetches candidates via a broadcast semi-join; "
          "the corpus never shuffles")

    # round 10: multi-output ETL — the pool read underlying the key must
    # keep the anti-join shape (no cartesian, no Python) and the offset
    # assignment its per-topic form
    p = plan_of(qs["etl_multi_output"](spark, sf))
    check("etl_multi_output",
          "CartesianProduct" not in p and "BatchEvalPython" not in p,
          "multi-output pool contents read back clean (declarative "
          "scan; the fan-out happened in one atomic commit)")

    # round 11: over-scope inner sort — the per-parent rank must be a
    # PARTITIONED window (partitionBy __over_pid), never a global one,
    # and the ordered collect stays column algebra (no Python)
    p = plan_of(qs["zq_over_sort_collect"](spark, sf))
    check("zq_over_sort_collect",
          "BatchEvalPython" not in p and "CartesianProduct" not in p
          and "TakeOrderedAndProject" in p,
          "ordered collect is pure column algebra; head 50 is TakeOrdered")
    # the window spec itself: partition expression present on __over_pid
    w = qs["zq_over_sort_collect"](spark, sf)
    opt = w._jdf.queryExecution().optimizedPlan().toString()
    check("zq_over_sort_collect",
          "windowspecdefinition(__over_pid" in opt,
          "row_number window is partitioned by the lateral parent id")
    p = plan_of(qs["zq_unflatten_filter"](spark, sf))
    check("zq_unflatten_filter",
          "BatchEvalPython" not in p and "CartesianProduct" not in p,
          "map_from_entries rebuild stays in whole-stage codegen")

    # round 11: DSIR — both bucket models must BROADCAST (fixed |B|
    # feature space), never sort-merge against the corpus, and the
    # top-k select is TakeOrdered, not a global sort
    p = plan_of(qs["dsir_select"](spark, sf))
    check("dsir_select",
          "BroadcastHashJoin" in p and "SortMergeJoin" not in p
          and "TakeOrderedAndProject" in p and "BatchEvalPython" not in p,
          "bucket models broadcast; weight top-k is TakeOrdered")

    # round 12: exact duplicate spans — gram match must be an equi-join
    # on the hash (never cartesian), the island window partitioned by
    # the pair+diff (never global), all column algebra (no Python)
    w = qs["dedup_duplicate_spans"](spark, sf)
    p = plan_of(w)
    check("dedup_duplicate_spans",
          "CartesianProduct" not in p and "BatchEvalPython" not in p,
          "gram match is a hash equi-join; run consolidation is pure "
          "column algebra")
    opt = w._jdf.queryExecution().optimizedPlan().toString()
    check("dedup_duplicate_spans",
          "windowspecdefinition(doc_a" in opt,
          "gaps-and-islands row_number window is partitioned by "
          "(doc_a, doc_b, diff), bounded by one pair's overlap")
    p = plan_of(qs["dedup_span_removal"](spark, sf))
    check("dedup_span_removal",
          "CartesianProduct" not in p and "BatchEvalPython" not in p,
          "interval merge + token filter rebuild stay in column "
          "algebra; cut list joined back by doc id")

    print(f"\n{'PASS' if not failures else 'FAIL'}: {len(failures)} violations")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
