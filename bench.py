"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed as a count-style action (collect on the already
small results) after a warm-up of the input file listing; timings are
per-query wall seconds.

Variance discipline: single cold runs on a shared box swing 1.2-2.6x
(observed 28-74 s for the same binary back-to-back), so each query is
run $SPARK_GRAFT_BENCH_REPS times (default 3) and the PER-QUERY MEDIAN
is reported; the JSON discloses reps/agg so rounds stay comparable
(round-1/2 files were single cold runs — expect the median to sit at
or below them purely from noise removal).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "envelope_wrap",
    "anti_join_done",
    "denorm_join",
    "switch_route",
    "top1_per_group",
    "offset_assign",
    # r9: the distributed (prefix-sum) form, the auto cutover's scale side
    "offset_assign_dist",
    # r9: BM25 retrieval scorer (1-row stats broadcast + array-filter tf)
    "bm25_topk",
    # r9: LSH recall audit (uncapped exact side is the heavy leg; tracked
    # because a recall regression from a cap/band change must be visible)
    "minhash_lsh_recall",
    # r9: WARC streaming reader + JVM HTML->text (fixture build is cached
    # outside the timed region after the first rep)
    "warc_ingest",
    "asof_join",
    "sessionize",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q7",
    "tpch_q17",
    "time_rollup",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "simhash",
    "lang_id",
    "quality_score",
    "token_counts",
    "ann_brute_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_dup_pairs_multiprobe",
    # the production refine-then-drop form (r7): same operator with the
    # finite max_bucket scale guard — tracked alongside the pinned
    # oracle-parity form so the linear-at-scale path is measured
    "embedding_dup_pairs_multiprobe_scaled",
    "doc_chunks",
    "pii_scrub",
    "repetition_flags",
    "quantize_embeddings",
    "tpch_q2",
    "tpch_q9",
    "session_window_stats",
    "contamination_exact",
    "gopher_quality",
    "curation_pipeline",
    "line_dedup",
    "dsir_affinity",
    "substring_dups",
    # r7: the rank queries rewritten onto the distributed prefix sum
    # (no single-reducer Window.orderBy) — tracked so a regression back
    # to a global window would show up as a time cliff at high SF
    "percent_rank_dist",
    "ntile_deciles",
    "quality_quantile_filter",
    # r7: sketch suite + fixed-point PageRank — the approximate-counting
    # toolkit whose whole point is flat cost at scale; tracked so any
    # accidental de-sketching (e.g. a countDistinct sneaking back in)
    # shows up as a superlinear time cliff
    "hll_distinct",
    "hll_distinct_by_group",
    "kmv_distinct",
    "countmin_heavy_hitters",
    "bloom_contamination",
    "weighted_sample",
    "pagerank_trade_graph",
    "hdr_quantiles",
    "range_join_bands",
    "source_overlap_sketch",
    # r7 (cont.): LM quality scoring — broadcast-model cross-entropy;
    # tracked because it is the canonical "score every document" pass a
    # curation pipeline runs corpus-wide, and grok — the log-parsing
    # hot path (must stay a zero-Python JVM regex pipeline)
    "lm_quality_unigram",
    "lm_quality_bigram",
    "zq_grok",
    # r7 (late): the TRAINERS — fixed-point perceptron (8 gradient
    # rounds, one partial-agg scan each) and distributed BPE (8
    # vocab-bounded merge rounds); tracked because iterative driver
    # loops are where per-round overhead compounds, plus the cascade
    # rollup and the column profiler (one-pass shapes that must stay
    # one-pass)
    "perceptron_train",
    "bpe_learn_merges",
    "rollup_cascade_daily",
    "profile_orders",
    # r7 (late): embedding analytics — Arrow-kernel Gram partials,
    # fixed-point power iteration (PCA top component), centroid drift;
    # tracked because their whole design claim is corpus-size-free
    # shuffles (bounded d^2 / labels x d exchanges)
    "embedding_gram",
    "gram_power_iteration",
    "label_centroid_drift",
    # r7 (late, final batch): calendar gap-fill (time-range-bounded
    # grid + per-key windows), SCD2 CDC materialization, inverted-index
    # build, Morton clustering key
    "gap_fill_hourly",
    "cdc_scd2_history",
    "inverted_index_top",
    "zorder_key_head",
    "cohort_retention",
    "event_transitions",
    "join_size_estimate",
    "quality_blend",
    "token_cooccurrence",
    # r8: general-Avro-union round-trip (the per-record decode map of
    # the consumer path — Arrow-batched pandas UDF, embarrassingly
    # parallel) and the unpinned corpus-derived contamination form
    # (deliberately quadratic, tracked for its curve; sf>=3 skips it
    # with the other exhaustive pins)
    "avro_union_roundtrip",
    "contamination_exact_fullprobe",
    # r9 (late): directional containment dedup (same blocked shape as
    # ngram_jaccard — tracked for the same hot-shingle-cap reasons),
    # RRF hybrid retrieval (two bounded top-k runs + a ≤200-row fuse:
    # must stay corpus-size-free past the retrievers), canonical-URL
    # dedup (pure JVM regex/array normalization fused into the scan)
    "dedup_ngram_containment",
    "containment_incremental_dups",
    "rrf_hybrid_topk",
    "url_dedup_canonical",
    # r9 (late): crawl link graph — one Arrow parse stage + JVM href
    # extraction; the edge groupBy is bounded by #domain-pairs — and
    # domain PageRank composed on top of it (fixed-point integer loop
    # over the #domains-bounded graph; the crawl scan dominates)
    "warc_link_graph",
    "warc_domain_rank",
    # r9 (late): per-doc token counts under the LEARNED tokenizer —
    # merge fold over the vocab frame only, word-length broadcast back
    # onto one exploded corpus pass
    "bpe_doc_token_counts",
    # r9 (late): manual skew levers (salted replicate-join + two-phase
    # salted agg) — results identical to the plain plan by construction
    "salted_skew_agg",
    # r9 (late): recrawl frontier dedup — canonicalize scan-side, one
    # left-anti join on the canonical key against the corpus
    "url_frontier_dedup",
    # r9 (late): per-source token-budget selection on the two-level
    # prefix sum — mixture weights to an actual training set
    "token_budget_select",
    # r10: multi-output-topic ETL read-back (fixture pool built once
    # per SF; the measured cost is the pool scan + flatten)
    "etl_multi_output",
    # r10: IVF-PQ serving — partition-pruned code scan + integer-ADC
    # broadcast fold, the exact re-rank over a bounded candidate fetch,
    # and the recall audit (embeds a brute-force side by definition,
    # same class as minhash_lsh_recall above)
    "ann_ivfpq_topk",
    "ann_ivfpq_rerank",
    "ivfpq_recall",
    # r11: lateral-scope ordered aggregates (pid-partitioned rank +
    # ordered array collect), per-parent top-k, the static-key
    # unflatten rebuild, and DSIR importance weights (broadcast bucket
    # models + exact decimal log-sums, TakeOrdered select)
    "zq_over_sort_collect",
    "zq_over_topk",
    "zq_unflatten_filter",
    "dsir_select",
    # r12: the rest of the r11 additions, timed like everything else —
    # the lateral scope aggregate, the Gumbel top-k sample (same DSIR
    # weights plan + one projection), and the leakage-safe split pair
    # (components + hash assign; the audit embeds the split itself)
    "zq_over_scope",
    "dsir_gumbel_sample",
    "leakage_safe_split",
    "split_leakage_audit",
    # r12: exact duplicate-span detection (ExactSubstr at word
    # granularity — gram join + gaps-and-islands run consolidation)
    # and its cut-the-span treatment
    "dedup_duplicate_spans",
    "dedup_span_removal",
    "decontaminate_spans",
    # r12: CCNet head/middle/tail perplexity terciles (rank-exact via
    # the distributed prefix sum; LM scoring reuses the lm_quality plan)
    "ccnet_buckets",
]

# Deliberately-exhaustive parity pins: correct by construction but
# quadratic by design (the oracle-exact multiprobe form brute-forces
# every candidate).  At sf>=3 one such key was 534 s of an 870 s suite
# total — drowning the signal of the ~70 production-shaped queries — so
# they are skipped from the sf>=3 headline run and recorded separately
# in the JSON ("skipped_pinned").  sf0.1/sf1 keep them as parity pins.
# SPARK_GRAFT_BENCH_PINNED=1 forces them back in at any SF.
PINNED_EXHAUSTIVE = {"embedding_dup_pairs_multiprobe", "contamination_exact_fullprobe"}


def _release_leaked_blocks(spark, heavy: bool) -> None:
    """Between queries, deterministically drop storage blocks the
    finished query leaked.

    dedup/bloom-style queries cut shared subtrees with
    ``localCheckpoint`` (which persists MEMORY_AND_DISK); the Python
    refs die when the query returns, but the JVM frees the blocks only
    after a GC notices the dead references — and storage blocks below
    ``spark.memory.storageFraction`` are unevictable by execution, so
    at sf3 the accumulated dead checkpoints starved a later query's
    broadcast build ("Not enough memory to build and broadcast") even
    with 16x headroom when run alone.  A bare ``System.gc()`` nudge
    proved insufficient (the async ContextCleaner races the next
    query), so sweep the persistent-RDD registry directly: nothing in
    this harness legitimately keeps blocks alive across queries.
    ``System.gc()`` still runs after heavy queries for the remaining
    dead broadcast tables.
    """
    try:
        it = spark.sparkContext._jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            try:
                it.next().unpersist(False)
            except Exception:  # noqa: BLE001
                pass
        if heavy:
            spark._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass


def etl_incremental_bench(spark) -> dict:
    """Micro-bench for the cursor-bounded incremental ETL scan: grow a
    pool commit-by-commit (each run leaves done markers + an advanced
    cursor), then time one incremental run WITH the cursor sidecar vs
    one with the sidecar deleted (full-pool rescan + anti-join against
    every done marker).  The cursor path should win and the gap widens
    linearly with pool history."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from zinger_spark.etl.config import Route, Rule, Transform
    from zinger_spark.etl.planner import EtlPipeline
    from zinger_spark.sources.pool import Pool

    base = _tempfile.mkdtemp(prefix="bench_etl_")
    try:
        raw = Pool.create(spark, f"{base}/Raw")
        staging = Pool.create(spark, f"{base}/Staging")
        pools = {"Raw": raw, "Staging": staging}
        transform = Transform(
            inputs=[Route("T", "Raw")],
            output=Route("OUT", "Staging"),
            etls=[
                Rule(
                    type="stateless",
                    where="value.v >= 0",
                    in_topic="T",
                    out="OUT",
                    zed="named_struct('key', `in`.key, 'value', `in`.value)",
                )
            ],
        )
        pipe = EtlPipeline(spark, transform, lambda n: pools[n])
        rows_per = 20_000
        n_history = 10

        def grow(c: int) -> None:
            lo = c * rows_per
            raw.load_batch(
                spark.range(lo, lo + rows_per).selectExpr(
                    "named_struct('topic', 'T', 'partition', CAST(0 AS BIGINT),"
                    " 'offset', id) AS kafka",
                    "named_struct('ID', id) AS key",
                    "named_struct('v', id * 2) AS value",
                    "'data' AS _type",
                )
            )

        for c in range(n_history):
            grow(c)
            pipe.run()
        grow(n_history)
        t0 = time.time()
        assert pipe.run() == 2 * rows_per
        t_on = time.time() - t0
        _os.remove(_os.path.join(staging.path, pipe._cursor_sidecar()))
        grow(n_history + 1)
        t0 = time.time()
        assert pipe.run() == 2 * rows_per
        t_off = time.time() - t0
        return {
            "cursor_on_sec": round(t_on, 3),
            "cursor_off_sec": round(t_off, 3),
            "history_commits": n_history + 1,
            "rows_per_commit": rows_per,
        }
    finally:
        _shutil.rmtree(base, ignore_errors=True)


def streaming_bench(spark) -> dict:
    """Sustained-throughput + crash-recovery numbers for the three
    continuous paths (r9 verdict ask #3): streaming ingest
    (from_kafka.run_ingest), streaming ETL (planner.run_stream), and
    streaming egress (to_kafka.continuous_sink over the wire stub
    broker — a real socket, not a memory sink).  Plus a mid-stream
    kill: stop the ingest query between micro-batches, restart on the
    same checkpoint, and measure recovery time to exactly-once
    convergence (the reference's restart-from-max claim,
    README.md:140-156, measured rather than asserted).

    Rows/s here are single-process local numbers — the point is the
    trend across rounds and that the commit path (envelope -> atomic
    pool commit -> txn sidecar) sustains micro-batch cadence, not an
    absolute cluster throughput.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from zinger_spark.etl.config import Route, Rule, Transform
    from zinger_spark.etl.planner import EtlPipeline
    from zinger_spark.kafka_stub import StubBroker
    from zinger_spark.sources.pool import Pool
    from zinger_spark.streaming import from_kafka as fk
    from zinger_spark.streaming import to_kafka as tk

    base = _tempfile.mkdtemp(prefix="bench_stream_")
    out: dict = {}
    try:
        n_files, rows_per = 8, 50_000
        total = n_files * rows_per
        src = f"{base}/src"
        # one source file per micro-batch (maxFilesPerTrigger=1)
        for i in range(n_files):
            (
                spark.range(i * rows_per, (i + 1) * rows_per)
                .selectExpr(
                    "CAST(id AS BIGINT) AS offset",
                    "CAST(id % 1000 AS BIGINT) AS uid",
                    "CAST(id * 2 AS BIGINT) AS v",
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
        schema = "offset bigint, uid bigint, v bigint"

        def envelope():
            s = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            return s.select(
                F.struct(
                    F.lit("T").alias("topic"),
                    F.lit(0).cast("long").alias("partition"),
                    F.col("offset"),
                ).alias("kafka"),
                F.struct(F.col("uid").alias("ID")).alias("key"),
                F.struct(F.col("uid"), F.col("v")).alias("value"),
                F.lit("data").alias("_type"),
            )

        # -- 1) streaming ingest: 8 micro-batches, one atomic commit each
        raw = Pool.create(spark, f"{base}/Raw")
        t0 = time.time()
        q = fk.run_ingest(envelope(), raw, f"{base}/ck_ingest", available_now=True)
        q.awaitTermination()
        t_ingest = time.time() - t0
        commits = sorted(
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        )
        assert raw.df().count() == total
        out["ingest"] = {
            "rows": total,
            "micro_batches": len(commits),
            "wall_sec": round(t_ingest, 3),
            "rows_per_sec": round(total / t_ingest),
            "commit_sec_p50": round(commits[len(commits) // 2], 3),
            "commit_sec_max": round(commits[-1], 3),
        }

        # -- 2) mid-stream kill + recovery: stop between micro-batches,
        # restart on the same checkpoint, converge exactly-once
        pool2 = Pool.create(spark, f"{base}/Raw2")
        ck2 = f"{base}/ck_kill"

        def env2():
            s = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            return s.select(
                F.struct(
                    F.lit("T").alias("topic"),
                    F.lit(0).cast("long").alias("partition"),
                    F.col("offset"),
                ).alias("kafka"),
                F.lit(None).cast("string").alias("key"),
                F.struct(F.col("uid"), F.col("v")).alias("value"),
                F.lit("data").alias("_type"),
            )

        q = fk.run_ingest(env2(), pool2, ck2, interval="0 seconds")
        deadline = time.time() + 120
        while time.time() < deadline:
            done = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            if len(done) >= 3:
                break
            time.sleep(0.05)
        q.stop()  # the kill: between (or inside) micro-batches
        q.awaitTermination()
        partial = pool2.df().count()
        t0 = time.time()
        q = fk.run_ingest(env2(), pool2, ck2, available_now=True)
        q.awaitTermination()
        t_recover = time.time() - t0
        final = pool2.df().count()
        distinct = (
            pool2.df().select("kafka.topic", "kafka.offset").distinct().count()
        )
        assert final == total == distinct, (
            f"recovery lost/duplicated rows: {final} vs {total} "
            f"(distinct {distinct})"
        )
        out["kill_recovery"] = {
            "rows_before_kill": int(partial),
            "rows_recovered": int(total - partial),
            "recovery_sec": round(t_recover, 3),
            "exactly_once": True,
        }

        # -- 3) streaming ETL: run_stream over the ingested pool's commits
        staging = Pool.create(spark, f"{base}/Staging")
        pools = {"Raw": raw, "Staging": staging}
        transform = Transform(
            inputs=[Route("T", "Raw")],
            output=Route("OUT", "Staging"),
            etls=[
                Rule(
                    type="stateless",
                    where="value.v >= 0",
                    in_topic="T",
                    out="OUT",
                    zed="named_struct('key', `in`.key, 'value', `in`.value)",
                )
            ],
        )
        pipe = EtlPipeline(spark, transform, lambda n: pools[n])
        etl_rows: list[int] = []
        t0 = time.time()
        q = pipe.run_stream(
            f"{base}/ck_etl", available_now=True, on_batch=etl_rows.append
        )
        q.awaitTermination()
        t_etl = time.time() - t0
        etld = sum(etl_rows) // 2  # n counts data row + done marker
        assert etld == total
        out["etl_stream"] = {
            "rows": etld,
            "wall_sec": round(t_etl, 3),
            "rows_per_sec": round(etld / t_etl),
        }

        # -- 4) streaming egress: pool commits -> stub broker over the
        # wire protocol (real sockets, CRC'd message sets)
        with StubBroker() as broker:
            from zinger_spark.kafka_wire import KafkaWireClient

            with KafkaWireClient(broker.bootstrap) as c:
                c.create_topic("OUT")
                t0 = time.time()
                q = tk.continuous_sink(
                    spark,
                    staging,
                    staging.df().schema,
                    f"{base}/ck_egress",
                    lambda df: df.select(
                        F.to_json(F.col("key")).alias("key"),
                        F.to_json(F.col("value")).alias("value"),
                    ),
                    brokers=broker.bootstrap,
                    topic="OUT",
                    available_now=True,
                    transport="wire",
                    query_name="bench_egress",
                )
                q.awaitTermination()
                t_egress = time.time() - t0
                produced = c.list_offset("OUT", 0, -1)
        assert produced == total
        out["egress"] = {
            "rows": int(produced),
            "wall_sec": round(t_egress, 3),
            "rows_per_sec": round(produced / t_egress),
        }
        return out
    finally:
        _shutil.rmtree(base, ignore_errors=True)


def soak_bench(spark, n_commits: int = 520, rows_per: int = 2000) -> dict:
    """Steady-state streaming soak (r10 verdict ask #5): ``n_commits``
    micro-commits (sf1-scale total volume) through the REAL commit path
    — commit_batch's writer lock + txn sidecar into a txlog pool — with
    an incremental ETL run every 10 commits, a size-tiered compaction +
    vacuum at the halfway mark, and a final wire-socket egress of the
    whole staging pool.  Records commit-latency DRIFT (p50/p95 of the
    first vs last 100 commits) and COLD snapshot-replay time at
    increasing commit depths: both must stay flat — replay is
    O(checkpoint-interval) by the txlog design (sources/txlog.py), not
    O(commit count), and this measures that claim at 50x the depth the
    per-round streaming bench reaches.

    Gated behind SPARK_GRAFT_SOAK=1 (several minutes of wall clock);
    the recorded block lives in BENCH_LOCAL.json.
    """
    import shutil as _shutil
    import statistics as _stats
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from zinger_spark.etl.config import Route, Rule, Transform
    from zinger_spark.etl.planner import EtlPipeline
    from zinger_spark.kafka_stub import StubBroker
    from zinger_spark.kafka_wire import KafkaWireClient
    from zinger_spark.sources.pool import Pool
    from zinger_spark.streaming import from_kafka as fk
    from zinger_spark.streaming import to_kafka as tk

    base = _tempfile.mkdtemp(prefix="bench_soak_")
    out: dict = {}
    try:
        raw = Pool.create(spark, f"{base}/Raw")
        staging = Pool.create(spark, f"{base}/Staging")
        pools = {"Raw": raw, "Staging": staging}
        transform = Transform(
            inputs=[Route("T", "Raw")],
            output=Route("OUT", "Staging"),
            etls=[
                Rule(
                    type="stateless",
                    where="value.v >= 0",
                    in_topic="T",
                    out="OUT",
                    zed="named_struct('key', `in`.key, 'value', `in`.value)",
                )
            ],
        )
        pipe = EtlPipeline(spark, transform, lambda n: pools[n])

        def batch(i: int):
            # one output file per micro-commit, like a real micro-batch
            return (
                spark.range(i * rows_per, (i + 1) * rows_per)
                .coalesce(1)
                .select(
                    F.struct(
                        F.lit("T").alias("topic"),
                        F.lit(0).cast("long").alias("partition"),
                        F.col("id").alias("offset"),
                    ).alias("kafka"),
                    F.struct((F.col("id") % 1000).alias("ID")).alias("key"),
                    F.struct(
                        (F.col("id") % 1000).alias("uid"),
                        (F.col("id") * 2).alias("v"),
                    ).alias("value"),
                    F.lit("data").alias("_type"),
                )
            )

        commit_sec: list[float] = []
        etl_sec: list[float] = []
        replay_sec: dict[str, float] = {}
        compaction: dict = {}

        def probe_replay(label: str) -> None:
            # COLD replay: a fresh Pool instance sees only the on-disk
            # log (no cached snapshot) — time to a ready scan plan
            t0 = time.time()
            fresh = Pool(spark, f"{base}/Raw")
            fresh.df()
            replay_sec[label] = round(time.time() - t0, 3)

        for i in range(n_commits):
            t0 = time.time()
            fk.commit_batch(raw, batch(i), batch_id=i, app_id="soak")
            commit_sec.append(time.time() - t0)
            if (i + 1) % 10 == 0:
                t0 = time.time()
                pipe.run()
                etl_sec.append(time.time() - t0)
            if i + 1 == 50 or i + 1 == n_commits // 2 or i + 1 == n_commits:
                probe_replay(f"depth_{i + 1}")
            if i + 1 == n_commits // 2:
                # mid-run maintenance, like a nightly job against a
                # live stream: size-tiered compaction + vacuum
                t0 = time.time()
                merged = raw.compact(small_bytes=512 * 1024 * 1024)
                t1 = time.time()
                removed = raw.vacuum(
                    grace_seconds=0.0, unpublished_grace_seconds=0.0
                )
                compaction = {
                    "at_commit": i + 1,
                    "merged": int(merged),  # files: the log's unit
                    "compact_sec": round(t1 - t0, 3),
                    "vacuum_dirs_removed": int(removed),
                    "vacuum_sec": round(time.time() - t1, 3),
                }
                probe_replay("post_compaction")

        total_rows = n_commits * rows_per
        assert raw.df().count() == total_rows
        assert staging.df().filter(F.col("_type") == "data").count() == total_rows

        # final egress: the whole staging pool out over the wire socket
        with StubBroker() as broker:
            with KafkaWireClient(broker.bootstrap) as c:
                c.create_topic("OUT")
                t0 = time.time()
                q = tk.continuous_sink(
                    spark,
                    staging,
                    staging.df().schema,
                    f"{base}/ck_egress",
                    lambda df: df.select(
                        F.to_json(F.col("key")).alias("key"),
                        F.to_json(F.col("value")).alias("value"),
                    ),
                    brokers=broker.bootstrap,
                    topic="OUT",
                    available_now=True,
                    transport="wire",
                    query_name="soak_egress",
                )
                q.awaitTermination()
                t_egress = time.time() - t0
                produced = c.list_offset("OUT", 0, -1)
        assert produced == total_rows

        def pct(xs: list[float], p: float) -> float:
            s = sorted(xs)
            return round(s[min(len(s) - 1, int(p * len(s)))], 3)

        first, last = commit_sec[:100], commit_sec[-100:]
        out.update(
            {
                "commits": n_commits,
                "rows_per_commit": rows_per,
                "total_rows": total_rows,
                "commit_p50_first100": pct(first, 0.5),
                "commit_p50_last100": pct(last, 0.5),
                "commit_p95_first100": pct(first, 0.95),
                "commit_p95_last100": pct(last, 0.95),
                "commit_drift_ratio": round(
                    pct(last, 0.5) / max(pct(first, 0.5), 1e-9), 3
                ),
                "etl_runs": len(etl_sec),
                "etl_p50_sec": round(_stats.median(etl_sec), 3),
                "etl_first_sec": round(etl_sec[0], 3),
                "etl_last_sec": round(etl_sec[-1], 3),
                "snapshot_replay_sec": replay_sec,
                "compaction": compaction,
                "egress_rows_per_sec": round(produced / t_egress),
            }
        )
        return out
    finally:
        _shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from zinger_spark.session import get_spark

    spark = get_spark("bench")
    qs = entrymod.queries()
    # Warm up the JVM/session (first action pays ~3-5s of startup that
    # has nothing to do with the measured query).
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    action = os.environ.get("SPARK_GRAFT_BENCH_ACTION", "count")
    # subset knobs for scale experiments (comma-separated query names);
    # the driver sets neither, so the recorded per-round bench always
    # covers the full headline list
    only = {q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q}
    skip = {q for q in os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",") if q}
    sf_name = sf_dir.rstrip("/").split("sf")[-1]
    sf_num = float(sf_name) if sf_name.replace(".", "").isdigit() else 0.0
    skipped_pinned: list[str] = []
    if sf_num >= 3 and not os.environ.get("SPARK_GRAFT_BENCH_PINNED"):
        skipped_pinned = sorted(PINNED_EXHAUSTIVE - only - skip)
        skip |= PINNED_EXHAUSTIVE - only
    headline = [
        q for q in HEADLINE if (not only or q in only) and q not in skip
    ]
    samples: dict[str, list[float]] = {name: [] for name in headline}
    n_rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    for rep in range(reps):
        for name in headline:
            if name in errors:
                continue  # a query that raised once stays excluded
            fn = qs[name]
            t0 = time.time()
            # Failure isolation: one raising query must never zero the
            # round's perf evidence — record the error and keep going.
            try:
                df = fn(spark, sf_dir)
                # count() is the historical (r1-comparable) action; note
                # Catalyst prunes computed columns a count doesn't need,
                # so per-row metric expressions are under-measured —
                # SPARK_GRAFT_BENCH_ACTION=collect materializes fully
                # (SCALE.md's collect-based tables use that mode).
                if action == "collect":
                    n_rows[name] = len(df.collect())
                else:
                    n_rows[name] = df.count()
                elapsed = time.time() - t0
                samples[name].append(elapsed)
                # Session hygiene OUTSIDE the timed window, so
                # measurements stay independent of suite order.
                _release_leaked_blocks(spark, heavy=elapsed > 5.0)
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
    timings: dict[str, float] = {}
    for name in headline:
        if not samples[name]:
            continue
        s = sorted(samples[name])
        timings[name] = round(s[len(s) // 2], 3)
        print(
            f"# {name}: {timings[name]}s median of {[round(x, 3) for x in s]} "
            f"min={s[0]:.3f} max={s[-1]:.3f} ({n_rows[name]} rows)",
            file=sys.stderr,
        )
    total = round(sum(timings.values()), 3)
    try:
        etl_inc = etl_incremental_bench(spark)
        print(f"# etl_incremental: {etl_inc}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001
        etl_inc = {"err": f"{type(exc).__name__}: {exc}"[:500]}
        print(f"# etl_incremental: ERROR {etl_inc['err']}", file=sys.stderr)
    try:
        streaming = streaming_bench(spark)
        print(f"# streaming: {streaming}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001
        streaming = {"err": f"{type(exc).__name__}: {exc}"[:500]}
        print(f"# streaming: ERROR {streaming['err']}", file=sys.stderr)
    soak: dict | None = None
    if os.environ.get("SPARK_GRAFT_SOAK"):
        try:
            soak = soak_bench(spark)
            print(f"# soak: {soak}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            soak = {"err": f"{type(exc).__name__}: {exc}"[:500]}
            print(f"# soak: ERROR {soak['err']}", file=sys.stderr)
    sf = sf_name
    payload = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "reps": reps,
            "agg": "per_query_median",
            "action": action,
            "skipped_pinned": skipped_pinned,
            "queries": timings,
            "query_min": {
                n: round(min(s), 3) for n, s in samples.items() if s
            },
            "query_max": {
                n: round(max(s), 3) for n, s in samples.items() if s
            },
            "errors": errors,
            "etl_incremental": etl_inc,
            "streaming": streaming,
            **({"soak": soak} if soak is not None else {}),
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
    )
    print(payload)
    # The driver records only a ~2000-char TAIL of stdout: when the full
    # payload above outgrew that (r7/r8), the tail caught its trailing
    # min/max dicts and the round's BENCH_r{N}.json landed with
    # parsed:null and phantom "regressions" read off query_max.  So the
    # LAST line printed is a compact medians-only record — 2-decimal
    # values, no min/max/errors — sized to always fit the tail whole.
    compact = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": round(total, 2),
            "unit": "sec",
            "reps": reps,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "queries": {n: round(t, 2) for n, t in timings.items()},
        },
        separators=(",", ":"),
    )
    if len(compact) > 1900:
        # Never let the safety line itself outgrow the tail — but never
        # shed ALL per-query detail either (r12 verdict #1: the empty
        # "queries" dict left the driver's PERF per_query/scaling blind
        # for two rounds).  The full dict can NEVER fit: the 103 key
        # names alone are ~1.6k chars before values/syntax, so emit the
        # HEAVIEST keys first (where regressions matter and noise is
        # smallest relative to the value) and summarize the omitted
        # sub-second tail as a count + sum so value stays auditable.
        # The complete record is on disk (BENCH_LOCAL.json) and in the
        # full payload line above.
        ranked = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))

        def _line(head: dict) -> str:
            return json.dumps(
                {
                    "metric": "headline_queries_total",
                    "value": round(total, 2),
                    "unit": "sec",
                    "reps": reps,
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                    **head,
                    "full_record": "BENCH_LOCAL.json",
                },
                separators=(",", ":"),
            )

        kept: dict[str, float] = {}
        for name, t in ranked:
            trial = dict(kept)
            trial[name] = round(t, 2)
            omitted = [v for k, v in ranked if k not in trial]
            cand = _line(
                {
                    "queries": trial,
                    "queries_omitted": len(omitted),
                    "omitted_sum": round(sum(omitted), 2),
                }
            )
            if len(cand) > 1870:
                break
            kept = trial
        omitted = [v for k, v in ranked if k not in kept]
        compact = _line(
            {
                "queries": kept,
                "queries_omitted": len(omitted),
                "omitted_sum": round(sum(omitted), 2),
            }
        )
    print(compact)
    # Always persist the complete JSON next to the repo so every
    # round's full numbers survive the stdout truncation.
    # Subset runs (ONLY/SKIP set) are scratch experiments: never let them
    # overwrite the canonical full-headline record.
    default_name = "BENCH_LOCAL.json" if not (only or skip) else "BENCH_SUBSET.json"
    out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), default_name),
    )
    try:
        with open(out, "w") as fh:
            fh.write(payload + "\n")
    except OSError as exc:
        print(f"# bench: could not write {out}: {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
