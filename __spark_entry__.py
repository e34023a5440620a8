"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus
the beyond-reference LLM-pipeline operators) to a (spark, sf_dir) ->
DataFrame callable; ``oracle_sql()`` gives the DuckDB-equivalent SQL.
Column names and rounding are aligned on both sides so the driver's
order-insensitive value-hash matches.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from zinger_spark import datamodel as dm
from zinger_spark.functions import text as ztext
from zinger_spark.operators import dedup as zdedup
from zinger_spark.operators import offsets as zoff
from zinger_spark.operators import packing as zpack
from zinger_spark.operators import relational as zrel
from zinger_spark.operators import similarity as zsim


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # DuckDB timestamps are tz-naive; pin the session to UTC so string
    # literal comparisons and date_format agree with the oracle even when
    # the driver's session was built with a non-UTC local timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; read nanos as long (runtime conf) and convert to a
    microsecond timestamp (the reference's own time resolution ladder —
    ns→µs division, zavro/microtime.go:15,42).

    Spark 4.x additionally reads parquet timestamp[us] without the
    UTC-adjust flag as TIMESTAMP_NTZ (inferTimestampNTZ default), which
    ``unix_micros``/window RANGE frames reject.  Disable the inference
    for reads we issue AND defensively cast NTZ→TIMESTAMP for sessions
    the driver built before we could set the conf — the session tz is
    pinned to UTC first, so the cast is value-preserving."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = dict(ev.dtypes).get("ts")
    if t == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif t == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev



def _dsum(expr, digits=2):
    """Order-independent exact sum for decimal-valued doubles: the data
    carries <=4 decimals, so summing as decimal(18,4) is exact in both
    Spark and DuckDB regardless of partial-aggregation order (a plain
    double sum can land either side of a .xx5 rounding boundary
    depending on accumulation order)."""
    return F.round(F.sum(expr.cast("decimal(18,4)")), digits).cast("double")


def _davg(expr, digits=4):
    return F.round(
        F.sum(expr.cast("decimal(18,4)")).cast("double") / F.count(F.lit(1)), digits
    )

# ---------------------------------------------------------------------------
# flagship: the zync ingest+ETL shape — envelope wrap -> anti-join dedup
# against done markers -> per-topic sequential offset assignment
# (SURVEY §2.A A2/A16/A17, etl/build.go:111-137, etl/pipeline.go:127-164)


def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    events = _events(spark, sf_dir)
    enveloped = dm.wrap_envelope(
        events,
        topic=F.col("event_type"),
        offset=F.col("event_id"),
        key=F.struct(F.col("user_id").alias("user_id")),
        value=F.struct(
            F.col("event_id"), F.col("ts"), F.col("user_id"), F.col("value"), F.col("props")
        ),
    )
    # Synthesize a done set (already-processed offsets) and dedup against it.
    done = dm.done_marker(enveloped.filter(F.col("kafka.offset") % 10 == 0))
    fresh = zrel.anti_join(enveloped, done)
    out = zoff.assign_offsets(
        fresh.withColumn("__in_offset", F.col("kafka.offset")), {}
    ).drop("__in_offset")
    return out.select(
        F.col("kafka.topic").alias("topic"),
        F.col("kafka.offset").alias("offset"),
        F.col("key.user_id").alias("user_id"),
        F.col("value.value").alias("value"),
    )


# ---------------------------------------------------------------------------
# queries: one entry per operator. Helper builders below.


def _q_envelope(spark, sf):
    events = _events(spark, sf)
    env = dm.wrap_envelope(
        events,
        topic=F.col("event_type"),
        offset=F.col("event_id"),
        key=F.struct(F.col("user_id").alias("user_id")),
        value=F.struct(F.col("value").alias("value")),
    )
    return env.select(
        F.col("kafka.topic").alias("kafka_topic"),
        F.col("kafka.partition").alias("kafka_partition"),
        F.col("kafka.offset").alias("kafka_offset"),
        F.col("key.user_id").alias("key_user_id"),
        F.round(F.col("value.value"), 2).alias("value_value"),
        F.col("_type").alias("rec_type"),
    )


def _q_avro_union_roundtrip(spark, sf):
    """General (multi-branch) Avro union round-trip — the exotic decode
    path of zavro/schema.go:234-244 (union -> Zed union type; here the
    SURVEY §1.2 tagged struct, since Spark has no union type).  Each
    event row picks a branch of ["null","long","string"] by
    event_id % 3, encodes through the binary codec (codecs/avro_py),
    decodes back, and emits the flattened tagged struct.  The oracle
    computes the expected post-round-trip values purely logically, so
    ANY wire-format divergence (branch index varint, zigzag long,
    UTF-8 length prefix) breaks the hash.  Arrow-batched pandas UDFs
    on a bounded slice; at scale this is the per-record decode map of
    the Kafka consumer path — embarrassingly parallel, no shuffle."""
    from zinger_spark.codecs import avro as zavro

    sch = {
        "type": "record",
        "name": "u",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "payload", "type": ["null", "long", "string"]},
        ],
    }
    ev = _events(spark, sf).filter(F.col("event_id") < 2000)
    tagged = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.struct(
            (F.col("event_id") % 3).cast("int").alias("tag"),
            F.when(F.col("event_id") % 3 == 1, F.col("user_id").cast("long")).alias("b1"),
            F.when(F.col("event_id") % 3 == 2, F.col("event_type")).alias("b2"),
        ).alias("payload"),
    )
    enc = tagged.select(
        zavro.to_avro_body_of_schema(F.struct("event_id", "payload"), sch).alias("body")
    )
    dec = enc.select(zavro.from_avro_body(F.col("body"), sch).alias("v"))
    return dec.select(
        F.col("v.event_id").alias("event_id"),
        F.col("v.payload.tag").alias("tag"),
        F.col("v.payload.b1").alias("as_long"),
        F.col("v.payload.b2").alias("as_str"),
    )


def _q_filter(spark, sf):
    ev = _events(spark, sf)
    return ev.filter(
        F.col("event_type").isin("click", "view")
        & (F.col("value") >= 10.0)
        & ~(F.col("user_id") == 0)
    ).select("event_id", "event_type", F.round("value", 2).alias("value"))


def _q_resume_offset(spark, sf):
    ev = _events(spark, sf)
    return (
        ev.filter(F.col("event_type") == "click")
        .agg((F.coalesce(F.max("event_id"), F.lit(-1)) + 1).alias("next_offset"))
    )


def _q_producer_offsets(spark, sf):
    ev = _events(spark, sf)
    return ev.groupBy(F.col("event_type").alias("topic")).agg(
        (F.max("event_id") + 1).alias("next_offset")
    )


def _q_read_batch(spark, sf):
    ev = _events(spark, sf).withColumn(
        "kafka", F.struct(F.col("event_type").alias("topic"), F.col("event_id").alias("offset"))
    )
    out = zrel.ordered_batch(ev, topic="click", offset=100, size=50)
    return out.select(
        F.col("kafka.offset").alias("offset"),
        F.col("user_id"),
        F.round("value", 2).alias("value"),
    )


def _q_tail1(spark, sf):
    ev = _events(spark, sf)
    return zrel.tail1(ev, "event_id").select("event_id", "event_type", "user_id")


def _q_anti_join(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    out = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return out.select("c_custkey", "c_name", "c_mktsegment")


def _q_denorm_join(spark, sf):
    """Denorm inner equi-join with right-record embed (etl/build.go:187-216):
    left/right packed as structs, flattened for the oracle compare."""
    orders = _t(spark, sf, "orders").select(F.struct("*").alias("left"))
    cust = _t(spark, sf, "customer").select(F.struct("*").alias("right"))
    joined = orders.join(
        cust, F.col("left.o_custkey") == F.col("right.c_custkey"), "inner"
    )
    return joined.select(
        F.col("left.o_orderkey").alias("o_orderkey"),
        F.round(F.col("left.o_totalprice"), 2).alias("o_totalprice"),
        F.col("right.c_name").alias("c_name"),
        F.col("right.c_mktsegment").alias("c_mktsegment"),
    )


def _q_switch(spark, sf):
    ev = _events(spark, sf)
    branches = zrel.switch_route(
        ev,
        [
            (
                F.col("event_type") == "purchase",
                lambda d: d.select(
                    "event_id",
                    F.lit("purchase").alias("branch"),
                    F.round(F.col("value") * 2, 2).alias("out_value"),
                ),
            ),
            (
                F.col("event_type") == "click",
                lambda d: d.select(
                    "event_id",
                    F.lit("click").alias("branch"),
                    F.round(F.col("value"), 2).alias("out_value"),
                ),
            ),
            (
                None,
                lambda d: d.select(
                    "event_id", F.lit("other").alias("branch"), F.lit(0.0).alias("out_value")
                ),
            ),
        ],
    )
    return dm.fuse(*branches)


def _q_fork_union(spark, sf):
    ev = _events(spark, sf)
    b1, b2 = zrel.fork(
        ev,
        [
            lambda d: d.filter(F.col("event_type") == "error").select(
                "event_id", F.lit("err").alias("tag")
            ),
            lambda d: d.filter(F.col("value") > 90).select(
                "event_id", F.lit("big").alias("tag")
            ),
        ],
    )
    return b1.unionByName(b2)


def _q_fuse(spark, sf):
    """Heterogeneous-schema union: {a}, {b}, {c} records in one stream
    survive with nulls (ztests/from-kafka.yaml)."""
    ev = _events(spark, sf)
    d1 = ev.filter(F.col("event_id") % 3 == 0).select(F.col("event_id"), F.col("user_id").alias("a"))
    d2 = ev.filter(F.col("event_id") % 3 == 1).select(F.col("event_id"), F.col("value").alias("b"))
    d3 = ev.filter(F.col("event_id") % 3 == 2).select(F.col("event_id"), F.col("event_type").alias("c"))
    return dm.fuse(d1, d2, d3).select(
        "event_id", "a", F.round("b", 2).alias("b"), "c"
    )


def _q_top1_per_group(spark, sf):
    orders = _t(spark, sf, "orders")
    out = zrel.top1_per_group(
        orders,
        group=["o_custkey"],
        order=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return out.select(
        "o_custkey", "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date")
    )


def _q_grouped_agg(spark, sf):
    ev = _events(spark, sf)
    return ev.groupBy(F.col("event_type").alias("topic")).agg(
        F.round(F.max("value"), 2).alias("max_value"),
        F.count(F.lit(1)).alias("n"),
        F.max(F.col("value") > 100).alias("any_big"),
        _dsum(F.col("value")).alias("sum_value"),
    )


def _q_collect_bundle(spark, sf):
    """Txn-bundle re-aggregation (design.md:262,279): collect(this) + or()
    grouped by txn — arrays rendered as sorted CSV for the hash compare."""
    ev = _events(spark, sf)
    return ev.groupBy((F.col("user_id") % 50).alias("txn")).agg(
        F.concat_ws(",", F.sort_array(F.collect_list(F.col("event_id")))).alias("bundle"),
        F.max(F.col("event_type") == "error").alias("has_error"),
    )


def _q_offset_assign(spark, sf):
    ev = _events(spark, sf)
    env = dm.wrap_envelope(
        ev,
        topic=F.col("event_type"),
        offset=F.col("event_id"),
        key=F.struct(F.col("user_id").alias("user_id")),
        value=F.struct(F.col("value").alias("value")),
    ).withColumn("__in_offset", F.col("kafka.offset"))
    out = zoff.assign_offsets(env, {"click": 1000, "view": 2000})
    return out.select(
        F.col("kafka.topic").alias("topic"),
        F.col("__in_offset").alias("in_offset"),
        F.col("kafka.offset").alias("out_offset"),
    )


_BM25_TERMS = ["hash", "join", "query"]


def _q_bm25_topk(spark, sf):
    """Okapi BM25 of a fixed 3-term query against every document, top
    20 by score (functions/text.bm25_scores): one corpus-stats 1-row
    broadcast + per-term JVM array filters, no explode, no joins.  The
    idf ln() is decimal(28,12)-truncated on both engines (the
    operators/lm idiom) so the hash compare is exact."""
    docs = _t(spark, sf, "documents")
    out = ztext.bm25_scores(docs, _BM25_TERMS)
    return (
        out.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", "n_tokens", "bm25")
    )


def _messy_url_col() -> "F.Column":
    """Deterministic messy-URL rendering of a documents row: 5 variants
    by doc_id % 5 exercising case, default ports, tracking params,
    unsorted query order, fragments, and trailing slashes — variants
    0-3 share one canonical https form, variant 4 canonicalizes to the
    http twin.  `_SQL_MESSY_URL` is the oracle-side mirror."""
    # site modulus 39 is COPRIME WITH 5: the url_frontier_dedup split
    # (batch = doc_id%5==0) then shares (site, page) coordinates with
    # corpus rows, so the anti-join genuinely rejects re-fetches — with
    # a multiple of 5 the batch could never collide and the key would
    # pass even with a broken anti-join
    g = (F.col("doc_id") % 39).cast("string")
    p = (F.col("doc_id") % 7).cast("string")
    v = F.col("doc_id") % 5
    return (
        F.when(v == 0, F.concat(F.lit("https://www.site"), g, F.lit(".com/page"), p, F.lit("?b=2&a=1")))
        .when(v == 1, F.concat(F.lit("HTTPS://WWW.SITE"), g, F.lit(".COM:443/page"), p, F.lit("?a=1&b=2&utm_source=feed")))
        .when(v == 2, F.concat(F.lit("https://www.site"), g, F.lit(".com/page"), p, F.lit("?a=1&utm_medium=email&b=2#section")))
        .when(v == 3, F.concat(F.lit("https://www.site"), g, F.lit(".com:443/page"), p, F.lit("/?b=2&a=1&gclid=XYZ")))
        .otherwise(F.concat(F.lit("http://www.site"), g, F.lit(".com:80/page"), p, F.lit("?fbclid=123&a=1&b=2")))
    )


_SQL_MESSY_URL = """CASE doc_id % 5
              WHEN 0 THEN 'https://www.site' || CAST(doc_id % 39 AS VARCHAR) || '.com/page' || CAST(doc_id % 7 AS VARCHAR) || '?b=2&a=1'
              WHEN 1 THEN 'HTTPS://WWW.SITE' || CAST(doc_id % 39 AS VARCHAR) || '.COM:443/page' || CAST(doc_id % 7 AS VARCHAR) || '?a=1&b=2&utm_source=feed'
              WHEN 2 THEN 'https://www.site' || CAST(doc_id % 39 AS VARCHAR) || '.com/page' || CAST(doc_id % 7 AS VARCHAR) || '?a=1&utm_medium=email&b=2#section'
              WHEN 3 THEN 'https://www.site' || CAST(doc_id % 39 AS VARCHAR) || '.com:443/page' || CAST(doc_id % 7 AS VARCHAR) || '/?b=2&a=1&gclid=XYZ'
              ELSE 'http://www.site' || CAST(doc_id % 39 AS VARCHAR) || '.com:80/page' || CAST(doc_id % 7 AS VARCHAR) || '?fbclid=123&a=1&b=2'
            END"""


def _q_url_frontier_dedup(spark, sf):
    """Recrawl frontier dedup — the incremental form of the canonical
    pass: a new batch of (messy) URLs is admitted only if its CANONICAL
    form is not already in the crawled corpus.  Batch = doc_id%5==0
    rows, corpus = the rest; both canonicalize scan-side, the decision
    is ONE left-anti join on the canonical key (shuffle-hash at corpus
    scale — the same shape as dedup_incremental_exact).  Whether a
    batch URL is new is data-dependent (it needs no corpus doc sharing
    its (site, page) coordinates), so the oracle genuinely re-derives
    the set.  At sf0.01 the 546-form canonical space is sparse (both
    admits and rejects occur — the discriminating gate); at sf >= 0.1
    the space saturates and the frontier is correctly empty (both
    engines agree on 0), which is the realistic recrawl-of-a-
    saturated-space outcome."""
    from zinger_spark.functions import net as znet

    docs = _t(spark, sf, "documents")
    urls = docs.select(
        "doc_id", znet.canonical_url(_messy_url_col()).alias("canon_url")
    )
    batch = urls.where(F.col("doc_id") % 5 == 0)
    corpus = urls.where(F.col("doc_id") % 5 != 0)
    new = batch.join(
        corpus.select("canon_url").distinct().hint("shuffle_hash"),
        "canon_url",
        "left_anti",
    )
    return new.groupBy("canon_url").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.min("doc_id").alias("first_doc"),
    )


def _sql_url_frontier_dedup() -> str:
    from zinger_spark.functions.net import sql_canonical_url

    return f"""
        WITH raws AS (
          SELECT doc_id, {_SQL_MESSY_URL} AS url FROM documents
        ),
        canon AS (
          SELECT doc_id, {sql_canonical_url('url')} AS canon_url FROM raws
        ),
        corpus AS (SELECT DISTINCT canon_url FROM canon WHERE doc_id % 5 <> 0)
        SELECT c.canon_url,
               CAST(count(*) AS BIGINT) AS n_batch,
               min(c.doc_id) AS first_doc
        FROM canon c
        WHERE c.doc_id % 5 = 0
          AND c.canon_url NOT IN (SELECT canon_url FROM corpus)
        GROUP BY c.canon_url
    """


def _q_url_dedup(spark, sf):
    """Canonical-URL exact dedup (the crawl-frontier normalization
    pass): a deterministic messy-URL rendering of the documents table
    (5 variants per doc_id — case, default ports, tracking params,
    unsorted query order, fragments, trailing slash) pushed through
    functions/net.canonical_url, then exact dedup by canonical form
    with min-doc_id keeper.  All regexp/array JVM expressions fused
    into the scan; ONE groupBy on the canonical key — the same shape
    at any crawl size.  The oracle renders identical raw URLs and
    mirrors the normalization via net.sql_canonical_url, so the
    canonicalization logic itself is what's cross-checked."""
    from zinger_spark.functions import net as znet

    docs = _t(spark, sf, "documents")
    return (
        docs.select(F.col("doc_id"), znet.canonical_url(_messy_url_col()).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.min("doc_id").alias("keeper_doc"),
        )
    )


def _sql_url_dedup() -> str:
    from zinger_spark.functions.net import sql_canonical_url

    return f"""
        WITH raws AS (
          SELECT doc_id, {_SQL_MESSY_URL} AS url
          FROM documents
        )
        SELECT {sql_canonical_url('url')} AS canon_url,
               count(*) AS n_raw,
               min(doc_id) AS keeper_doc
        FROM raws GROUP BY 1
    """


def _q_rrf_hybrid(spark, sf):
    """Hybrid retrieval: BM25 lexical run (documents) + brute-cosine
    dense run (embeddings, vec_id == doc_id) fused with reciprocal-rank
    fusion (operators/similarity.rrf_fuse).  Each run is reduced to a
    top-100 candidate list by TakeOrderedAndProject BEFORE fusion, so
    the fuse join touches ≤200 rows whatever the corpus size; missing
    ranks surface as 0.  The rank windows run over bounded frames (the
    ann_* keys' audited idiom)."""
    docs = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    bm_top = (
        ztext.bm25_scores(docs, _BM25_TERMS)
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(100)
    )
    wb = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    bm_run = bm_top.select("doc_id", F.row_number().over(wb).alias("rank"))
    cos_top = zsim.brute_force_topk(emb, _query_vec(), k=100)
    wc = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    cos_run = cos_top.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(wc).alias("rank")
    )
    out = zsim.rrf_fuse([bm_run, cos_run], id_col="doc_id", topk=20)
    return out.select(
        "doc_id",
        F.col("rank_0").alias("bm25_rank"),
        F.col("rank_1").alias("cos_rank"),
        "rrf_score",
        "rank",
    )


def _q_minhash_lsh_recall(spark, sf):
    """Candidate-recall AUDIT for banded MinHash LSH: the measurement a
    curation team runs before trusting an LSH config at scale.  Exact
    truth = recall-complete shared-shingle blocking (no df cap) at the
    same shingle/threshold; output one row of counts + recall.  Both
    sides are existing audited operators; the join/aggregate adds one
    broadcast of three 1-row aggregates."""
    docs = _t(spark, sf, "documents")
    # materialize BOTH pair lists: each feeds two legs of the final
    # crossJoin (its own count + the semi-join for n_hit), so without
    # the cut the full LSH banding pipeline and the full shared-shingle
    # blocking pipeline each run TWICE per action (r12 optimization,
    # same fix as dsir_affinity).  The cut holds only (doc_a, doc_b)
    # pair rows — tiny relative to the shingle explodes that produce
    # them.  localCheckpoint, not persist (r12 advice #1): persist's
    # CacheManager entry outlives the query and a re-built identical
    # plan would silently reuse it; checkpoint blocks are anonymous
    # and per-DataFrame, so every fresh action recomputes from parquet.
    lsh = zdedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_k=5, jaccard_threshold=0.4,
        parallelism=32,
    ).select("doc_a", "doc_b").localCheckpoint(eager=False)
    exact = zdedup.ngram_jaccard_pairs(
        docs, shingle_k=5, threshold=0.4, max_df=1_000_000_000, parallelism=32
    ).select("doc_a", "doc_b").localCheckpoint(eager=False)
    hit = exact.join(lsh, ["doc_a", "doc_b"], "left_semi")
    out = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(F.broadcast(lsh.agg(F.count(F.lit(1)).alias("n_lsh"))))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
    )
    return out.select(
        "n_exact", "n_lsh", "n_hit",
        F.round(F.lit(100.0) * F.col("n_hit") / F.col("n_exact"), 4).alias(
            "recall_pct"
        ),
    )


def _q_offset_assign_dist(spark, sf):
    """The backfill-scale strategy pinned on: dense per-topic output
    offsets via the two-level distributed prefix sum (what
    assign_offsets' "auto" switches to past PREFIX_SUM_CUTOVER_BYTES —
    no per-topic sort reducer, parallelism = #partitions).  Same
    semantics and oracle as offset_assign; registered separately so
    the distributed form is driver-hash-checked and bench-tracked in
    its own right."""
    ev = _events(spark, sf)
    env = dm.wrap_envelope(
        ev,
        topic=F.col("event_type"),
        offset=F.col("event_id"),
        key=F.struct(F.col("user_id").alias("user_id")),
        value=F.struct(F.col("value").alias("value")),
    ).withColumn("__in_offset", F.col("kafka.offset"))
    out = zoff.assign_offsets(env, {"click": 1000, "view": 2000}, via_prefix_sum=True)
    return out.select(
        F.col("kafka.topic").alias("topic"),
        F.col("__in_offset").alias("in_offset"),
        F.col("kafka.offset").alias("out_offset"),
    )


def _q_cut_yield(spark, sf):
    """Projection + field assignment + cast + scalar funcs + JSON path
    (cut/yield/:=/cast/to_upper/split, SURVEY §2.B)."""
    ev = _events(spark, sf)
    return ev.select(
        "event_id",
        F.upper("event_type").alias("topic_upper"),
        F.element_at(F.split("event_type", "r"), 1).alias("first_tok"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.col("value").cast("long").alias("value_int"),
    )


def _q_tpch_q1(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice")
                     * (1 - F.col("l_discount"))
                     * (1 + F.col("l_tax"))).cast("decimal(18,6)")
                ),
                2,
            ).cast("double").alias("sum_charge"),
            _davg(F.col("l_quantity")).alias("avg_qty"),
            _davg(F.col("l_extendedprice")).alias("avg_price"),
            _davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_tpch_q3(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def _q_tpch_q5(spark, sf):
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def _q_time_rollup(spark, sf):
    ev = _events(spark, sf)
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("event_type").alias("topic"),
    ).agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("value")).alias("sum_value"))


# --- LLM-pipeline operators -------------------------------------------------


def _q_dedup_exact(spark, sf):
    docs = _t(spark, sf, "documents")
    return zdedup.dedup_exact(docs)


def _q_minhash_lsh(spark, sf):
    docs = _t(spark, sf, "documents")
    return zdedup.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_k=5, jaccard_threshold=0.4,
        parallelism=32,
    ).select("doc_a", "doc_b")


def _q_ngram_jaccard(spark, sf):
    docs = _t(spark, sf, "documents")
    return zdedup.ngram_jaccard_pairs(
        docs, shingle_k=8, threshold=0.4, parallelism=32
    ).select("doc_a", "doc_b", "jaccard")


def _q_ngram_containment(spark, sf):
    """Directional containment near-dups (subset/quote detection): the
    Broder containment C(A->B)=|A∩B|/|A| over word-8-gram shingle sets,
    pair kept if either direction >= 0.5.  Same blocked candidate
    generation + shuffle-hash-pinned verify as dedup_ngram_jaccard."""
    docs = _t(spark, sf, "documents")
    return zdedup.ngram_containment_pairs(
        docs, shingle_k=8, threshold=0.5, parallelism=32
    ).select("doc_a", "doc_b", "containment_ab", "containment_ba")


def _q_simhash(spark, sf):
    docs = _t(spark, sf, "documents")
    return zdedup.simhash(docs, bits=16)


def _q_fingerprint(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", ztext.fingerprint(F.col("text")).alias("fp"))


def _q_token_counts(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        ztext.token_count(F.col("text")).alias("ws_tokens"),
        ztext.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


def _q_langid(spark, sf):
    docs = _t(spark, sf, "documents")
    scores = ztext.lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in ztext.LANG_ORDER],
        ztext.lang_id(F.col("text")).alias("lang_pred"),
    )


def _q_quality(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.round(ztext.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(ztext.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
        ztext.quality_score(F.col("text")).alias("quality"),
    )


# --- batch 2: map-literal lookup, explode, sessionize, as-of join,
# --- more TPC-H, pivot/rollup/window ---------------------------------------


def _q_const_map_lookup(spark, sf):
    """const |{...}| map literal + subscript lookup (demo/etl.zed's
    customerIDs/menuIDs) — compiled into the plan, no join."""
    ev = _events(spark, sf)
    codes = F.create_map(
        F.lit("click"), F.lit(1), F.lit("view"), F.lit(2), F.lit("purchase"), F.lit(3),
        F.lit("signup"), F.lit(4), F.lit("error"), F.lit(5),
    )
    return ev.select(
        "event_id", codes.getItem(F.col("event_type")).cast("int").alias("type_code")
    )


def _q_explode_tokens(spark, sf):
    """explode (design.md:176-177) over document tokens; top token counts."""
    docs = _t(spark, sf, "documents")
    return (
        docs.select(F.explode(ztext.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


def _q_sessionize(spark, sf):
    """Sessionization: new session when the per-user gap > 30 min
    (lag + cumulative sum windows)."""
    ev = _events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    with_flag = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    with_id = with_flag.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return with_id.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
    )


def _q_asof_join(spark, sf):
    """As-of join: each purchase joined to the user's most recent prior
    (or simultaneous) view event.

    Joins on the RAW nanosecond value (events.ts is TIMESTAMP(NANOS),
    read as bigint) so the `>=` comparison is bit-identical to DuckDB's
    native ns comparison — µs truncation would both flip boundary cases
    and manufacture ties the carry-forward window can't break."""
    ev = _events_ns(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    out = zrel.as_of_join(
        purchases, views, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["view_id"], tie_break=None,
    )
    return out.select("event_id", "user_id", F.col("right_view_id").alias("view_id"))


def _q_tpch_q6(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    ).agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


def _q_tpch_q10(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1995-07-01"))
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def _q_tpch_q14(spark, sf):
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    part = _t(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type").startswith("PROMO"), rev)
                    .otherwise(F.lit(0.0)).cast("decimal(18,4)")
                ).cast("double")
                / F.sum(rev.cast("decimal(18,4)")).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


def _q_tpch_q18(spark, sf):
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 212)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


def _q_tpch_q4(spark, sf):
    """Order-priority checking: EXISTS semi-join."""
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1995-04-01"))
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-01-01"))
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_tpch_q7(spark, sf):
    """Volume shipping: customer-nation x supplier-nation pairs."""
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(n2), supp.s_nationkey == F.col("s_nk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _q_tpch_q13(spark, sf):
    """Customer order-count distribution (left outer + double groupBy)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(~F.col("o_orderpriority").startswith("3"))
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def _q_tpch_q17(spark, sf):
    """Small-quantity-order revenue: per-part average join-back."""
    li = _t(spark, sf, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.8).alias("thresh")
    )
    return (
        li.join(avg_qty, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("thresh"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / 7.0, 2)
            .alias("avg_yearly")
        )
    )


def _q_tpch_q19(spark, sf):
    """Discounted revenue under disjunctive brand/size/qty predicates
    (constant folding + OR-pushdown showcase)."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 15) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 21))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size") <= 50) & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
    )
    return j.filter(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


def _q_tpch_q8(spark, sf):
    """Q8 national market share (adapted: p_type='ECONOMY', NATION_1's
    share of AMERICA-region consumption; testdata has no partsupp).
    Shape: 6-way join + year bucket + conditional-ratio aggregate."""
    part = _t(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31"))
    )
    li = _t(spark, sf, "lineitem")
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("s_nk"))
        .groupBy(F.date_format("o_orderdate", "yyyy").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", vol)
                    .otherwise(F.lit(0))
                    .cast("decimal(18,4)")
                ).cast("double")
                / F.sum(vol.cast("decimal(18,4)")).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


def _q_tpch_q12(spark, sf):
    """Q12 shipping-mode priority counts (adapted: testdata lineitem has
    no l_shipmode/l_commitdate/l_receiptdate — grouped by l_returnflag
    over a shipdate year instead). Shape: join + conditional counts."""
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            # exact complement of the oracle CASE: a NULL priority must
            # count as low (when(~high) would yield NULL-neither)
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def _q_tpch_q15(spark, sf):
    """Q15 top supplier: quarterly revenue per supplier, keep the
    supplier(s) matching the MAX revenue (scalar subquery shape)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = _t(spark, sf, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def _q_tpch_q21(spark, sf):
    """Q21 waiting-supplier shape (adapted: 'returned' via
    l_returnflag='R' instead of receipt-past-commit dates): suppliers in
    NATION_2 whose R-lines sit in finalized multi-supplier orders where
    NO other supplier also returned. Shape: semi-join EXISTS + anti-join
    NOT EXISTS with non-equi conditions."""
    nation = _t(spark, sf, "nation").filter(F.col("n_name") == "NATION_2")
    supp = _t(spark, sf, "supplier")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf, "lineitem")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey, "left_semi")
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(  # EXISTS: another supplier in the same order
            l2, (l1.l_orderkey == F.col("o2")) & (l1.l_suppkey != F.col("s2")), "left_semi"
        ).join(  # NOT EXISTS: no other supplier ALSO returned
            l3, (l1.l_orderkey == F.col("o3")) & (l1.l_suppkey != F.col("s3")), "left_anti"
        )
    )
    return (
        waiting.join(supp, waiting.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


def _q_tpch_q22(spark, sf):
    """Q22 global-sales-opportunity shape (adapted: nation-key buckets
    stand in for phone country codes, and 'inactive' means no URGENT
    orders — every synthetic customer has SOME order, so the original
    no-orders predicate would be vacuously empty): rich-but-inactive
    customers = acctbal above the positive-balance average of the
    nation group AND no urgent orders (scalar AVG subquery + anti
    join)."""
    nations = [1, 6, 11, 16, 21]
    cust = _t(spark, sf, "customer").filter(F.col("c_nationkey").isin(nations))
    orders = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


def _q_fuzzy_prefix_pairs(spark, sf):
    """Fuzzy near-key matching via edit distance: doc pairs from the
    same source whose normalized 16-char prefixes are within
    levenshtein <= 4 (the fuzzy-dedup primitive for noisy titles/keys —
    levenshtein on a short prefix, never on full text). Runs through
    the PassJoin segment-blocked join, which is recall-complete and
    precision-exact, so the output is identical to a naive per-source
    self-join (what the oracle computes) — but candidates come from an
    equi-join on segments, never a block-wide cross product, so a
    low-cardinality source column can't go quadratic."""
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.substring(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), 1, 16).alias("pfx"),
    )
    return zdedup.edit_distance_join(
        docs, key_col="pfx", id_col="doc_id", max_dist=4, block_col="source"
    )


def _q_percent_rank(spark, sf):
    """percent_rank + cume_dist over per-user event counts (rank-based
    normalization — the feature-scaling shape).

    Scale path: the order key (n, user_id) is a TOTAL order, so
    rank == row_number and percent_rank/cume_dist are closed-form in
    (rn, N).  rn comes from packing.global_row_number (two-level
    distributed prefix sum — parallelism = #partitions), never an
    unpartitioned Window.orderBy (one reducer sorts every user at
    100 TB).  N is a broadcast 1-row aggregate."""
    ev = _events(spark, sf)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    rn = zpack.global_row_number(counts, [F.col("n"), F.col("user_id")], out_col="_rn")
    # N == max rank == row count of the PRE-rank frame: aggregating
    # `counts` (one shuffle) rather than `rn` keeps the broadcast side
    # from re-running the whole prefix-sum pipeline for one scalar
    total = counts.agg(F.count(F.lit(1)).alias("_N"))
    return (
        rn.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n",
            F.round(
                F.when(F.col("_N") > 1, (F.col("_rn") - 1) / (F.col("_N") - 1))
                .otherwise(F.lit(0.0)),
                8,
            ).alias("pr"),
            F.round(F.col("_rn") / F.col("_N"), 8).alias("cd"),
        )
    )


def _q_knn_join(spark, sf):
    """Batched exact k-NN join: top-3 neighbors for every query row
    (vec_id % 97 == 0) — broadcast the query batch, score corpus rows
    in place, per-query top-k window. Rank-only output (no float
    column in the comparison)."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return zsim.knn_join(emb, queries, k=3)


def _q_sliding_window_counts(spark, sf):
    """Trailing-hour event count per user at every event (RANGE frame
    over event-time microseconds — the batch replica of a sliding
    streaming window; partitioned by user, so no global sort)."""
    ev = _events(spark, sf)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3599999999, 0)
    )
    return ev.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_hour")
    )


def _q_zscore_anomalies(spark, sf):
    """Per-event-type z-score outliers (|z| >= 2.5): broadcast the
    20-row per-type mean/stddev back onto the stream — the metric
    anomaly-detection shape."""
    ev = _events(spark, sf)
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4))
        .filter(F.abs(F.col("z")) >= 2.5)
        .select("event_id", "event_type", "z")
    )


def _q_quality_quantile_filter(spark, sf):
    """Keep the top-40% quality docs WITHIN each source (quantile
    filtering with per-source fairness — a flat global threshold would
    empty low-quality sources entirely). Rank-based: percent_rank over
    the deterministic quality score, so the keep/drop boundary is an
    exact rational, not a float comparison.

    Scale path (r7): a Window.partitionBy(source) caps parallelism at
    the number of SOURCES (one giant web crawl = one sort task at
    100 TB), so the per-source rank comes from the two-level prefix sum
    instead — (quality, doc_id) is a total order within each source, so
    rank == row_number and percent_rank is closed-form in (rn, n_src);
    per-source sizes join back as a broadcast.  The quantile-only
    alternative (when the exact rank itself is not needed) remains
    operators/quantiles.group_quantile_filter(mode="approx")."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", "source", ztext.quality_score(F.col("text")).alias("quality")
    )
    rn = zpack.prefix_sum(
        docs.withColumn("_one", F.lit(1)),
        "source",
        [F.col("quality"), F.col("doc_id")],
        "_one",
        out_col="_rn0",
    )
    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    return (
        rn.join(F.broadcast(sizes), "source")
        .withColumn(
            "pr",
            F.round(
                F.when(F.col("_n") > 1, F.col("_rn0") / (F.col("_n") - 1))
                .otherwise(F.lit(0.0)),
                8,
            ),
        )
        .filter(F.col("pr") >= 0.6)
        .select("doc_id", "source", "quality", "pr")
    )


def _q_dedup_clusters(spark, sf):
    """Transitive dedup clusters: connected components over the fuzzy
    prefix-pair graph (a~b, b~c collapse to one cluster even when a~c
    was never emitted). Alternating large-star/small-star (Kiveris et
    al., SoCC'14, operators/graph.py): O(log^2 n) rounds regardless of
    component diameter — min-label propagation (rounds = diameter)
    remains available via algorithm="propagation" for the dense-blob
    case. cluster_id = smallest reachable doc_id; the canonical-doc
    selection step of near-dup removal."""
    from zinger_spark.operators.graph import connected_components

    edges = _q_fuzzy_prefix_pairs(spark, sf).select("a", "b")
    verts = _t(spark, sf, "documents").select(F.col("doc_id").alias("id"))
    return connected_components(
        verts, edges, "id", "a", "b", algorithm="star"
    ).withColumnRenamed("id", "doc_id")


def _q_leakage_safe_split(spark, sf):
    """Leakage-guarded train/valid split: near-dup CLUSTERS (the fuzzy
    prefix-pair graph through connected components — the dedup_clusters
    plan) get ONE split each, assigned by hashing the cluster
    representative rather than the document — so near-duplicates can
    never straddle the boundary (the eval-contamination guard a
    benchmark-safe corpus split needs; splitting on doc hashes leaks a
    paraphrase of every valid doc into train).  80/20 by md5 bucket:
    deterministic, no RNG, reproducible across engines and runs.  Cost
    on top of clustering = one per-row hash expression; the split is
    assignable at 100 TB with zero additional shuffles."""
    clusters = _q_dedup_clusters(spark, sf)  # doc_id, cluster_id
    return _leakage_split_assign(clusters)


def _leakage_split_assign(clusters):
    """The 80/20 md5-bucket assignment keyed on the cluster
    representative (shared by leakage_safe_split and the audit, which
    builds its clusters from an already-materialized pair set)."""
    bucket = F.pmod(
        ztext.md5_hash60(
            F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))
        ),
        F.lit(10),
    )
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 8, F.lit("train")).otherwise(F.lit("valid")).alias("split"),
    )


def _q_split_leakage_audit(spark, sf):
    """The audit FOR leakage_safe_split (same pattern as
    minhash_lsh_recall: the guarantee is measured, not asserted): count
    near-dup pairs whose endpoints straddle the train/valid boundary
    under (a) the cluster-keyed split — zero BY CONSTRUCTION, and this
    key proves it on the data — and (b) the naive doc-hash split, the
    leak count a doc-keyed 80/20 would actually ship.  Both counts are
    1-row aggregates over the bounded pair set; the crossJoin is
    1-row x 1-row."""
    # ONE pair-graph computation for the whole audit (r12
    # optimization): before, `pairs` and the split's cluster edges each
    # re-ran the full PassJoin edit-distance join — the most expensive
    # leg of the query — because _q_leakage_safe_split rebuilds its own
    # pair set internally.  Materialize the (tiny: one row per near-dup
    # pair) edge list once and derive BOTH the clusters and the
    # straddle-count legs from it.
    from zinger_spark.operators.graph import connected_components

    pairs = (
        _q_fuzzy_prefix_pairs(spark, sf)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    verts = _t(spark, sf, "documents").select(F.col("doc_id").alias("id"))
    clusters = connected_components(
        verts, pairs, "id", "a", "b", algorithm="star"
    ).withColumnRenamed("id", "doc_id")
    split = _leakage_split_assign(clusters)
    sa = split.select(F.col("doc_id").alias("a"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("b"), F.col("split").alias("split_b"))
    cluster_leaks = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .agg(
            F.count(
                F.when(F.col("split_a") != F.col("split_b"), F.lit(1))
            ).alias("cluster_split_leaks")
        )
    )

    def naive(c):
        b = F.pmod(
            ztext.md5_hash60(F.concat(F.lit("split:"), c.cast("string"))),
            F.lit(10),
        )
        return F.when(b < 8, F.lit("train")).otherwise(F.lit("valid"))

    naive_leaks = pairs.agg(
        F.count(
            F.when(naive(F.col("a")) != naive(F.col("b")), F.lit(1))
        ).alias("naive_split_leaks")
    )
    return cluster_leaks.crossJoin(naive_leaks)


def _q_stratified_sample(spark, sf):
    """Deterministic proportional stratified sampling: downsample every
    source to ~15 docs by hashing the doc id — the source-rebalancing
    step of a training-data mix. Per-source sizes are a tiny broadcast
    join (20 rows at any corpus scale); the keep/drop decision is a
    pure per-row hash comparison, so the sample is reproducible across
    runs and engines (no RNG)."""
    docs = _t(spark, sf, "documents").select("doc_id", "source")
    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    h = ztext.md5_hash60(F.col("doc_id").cast("string"))
    return (
        docs.join(F.broadcast(sizes), "source")
        .filter((h % 10000).cast("double") < F.least(F.lit(1.0), F.lit(15.0) / F.col("n")) * 10000)
        .select("doc_id", "source")
    )


def _q_pack_sequences(spark, sf):
    """Token-offset sequence packing: concatenate docs per source in
    deterministic (doc_id) order and chop at a 2048-token context
    budget — the assignment step of pretraining sequence packing.
    Two-level distributed prefix sum (operators/packing.py): range
    partitions carry contiguous slices, local cumsums compose with
    broadcast per-partition offsets — parallelism scales with
    partitions, not with the 20 sources (a naive per-source window
    funnels each source's whole token stream through one task)."""
    from zinger_spark.operators.packing import pack_offsets

    docs = _t(spark, sf, "documents").select(
        "doc_id", "source", ztext.bpe_ish_token_count(F.col("text")).cast("long").alias("tok")
    )
    return pack_offsets(
        docs, group_col="source", order_col="doc_id", weight_col="tok", budget=2048
    ).select(
        "doc_id", "source", F.col("tok").alias("tok_count"), "start_off", "pack_id"
    )


def _q_contamination(spark, sf):
    """Benchmark-contamination check: word-3-gram overlap between a
    held-out 'benchmark' slice (doc_id % 40 == 0) and the training
    corpus. Shingle-explode both sides, equi-join on the shingle
    (hash it at scale), count shared n-grams per (corpus doc,
    benchmark doc); >= 3 shared trigrams flags a leak. The join is
    blocked by shingle text — never a doc-level cross product."""
    sh = (
        _t(spark, sf, "documents")
        .select("doc_id", F.explode(ztext.word_shingles(F.col("text"), 3)).alias("s"))
    )
    bench = sh.filter(F.col("doc_id") % 40 == 0).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    corpus = sh.filter(F.col("doc_id") % 40 != 0)
    return (
        corpus.join(bench, "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 3)
    )


def _q_token_rarity(spark, sf):
    """Document rarity score: mean document-frequency of a doc's
    distinct tokens (low = rare vocabulary, high = boilerplate) — the
    common/rare-token quality filter.  Two partial-aggregated shuffles
    (token DF, then per-doc mean over a token-keyed join); the mean is
    an exact long sum / long count so no float accumulation order can
    diverge between engines."""
    docs = _t(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(ztext.tokens(F.col("text")))).alias("t")
    )
    dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    return (
        tok.join(dfreq, "t")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum("df").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_df"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
        )
    )


def _q_session_window_stats(spark, sf):
    """Spark-native session windows (F.session_window — the engine
    primitive behind streaming sessionization) over events: per
    (user, session) span + count.  Boundary semantics verified: an
    event exactly gap-late still merges, so the oracle's
    gaps-and-islands split uses strictly-greater.  window end = last
    event + gap (probed)."""
    ev = _events(spark, sf)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("sess_start_us"),
            F.unix_micros("w.end").alias("sess_end_us"),
            "n_events",
        )
    )


def _q_contamination_exact(spark, sf):
    """Verbatim-substring contamination: flag corpus docs containing a
    benchmark doc's exact probe string (its first 6 tokens) anywhere in
    their text — the complementary leak mode to n-gram overlap (catches
    copy-paste with *different* surrounding text, which trigram-count
    thresholds can miss).  The probe set is tiny (one short string per
    benchmark doc), so it BROADCASTS and the scan stays a single pass
    over the corpus; the contains() filter runs inside codegen.  This
    is an intended broadcast nested loop — corpus x small-probe-set,
    never corpus x corpus.  The probe set is PINNED to a fixed-size
    benchmark sample (doc_id % 40 == 0 AND doc_id < 10240 → at most
    256 probes at ANY scale factor): production contamination checks
    probe a fixed benchmark suite, so cost is scan-bound, not
    corpus-squared.  The unpinned corpus-derived form is tracked
    separately as contamination_exact_fullprobe."""
    return _contamination_exact(spark, sf, probe_cap=10240)


def _q_contamination_exact_fullprobe(spark, sf):
    """Unpinned variant of contamination_exact: every 40th doc of the
    corpus is a probe, so the probe set grows with N and cost is
    O(N^2/40) — kept as a deliberate scaling-curve tracker, NOT a
    production shape (see SCALE.md)."""
    return _contamination_exact(spark, sf, probe_cap=None)


def _contamination_exact(spark, sf, probe_cap):
    docs = _t(spark, sf, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    bench = docs.filter(F.col("doc_id") % 40 == 0)
    if probe_cap is not None:
        bench = bench.filter(F.col("doc_id") < probe_cap)
    probes = (
        bench
        .select(
            F.col("doc_id").alias("bench_id"),
            F.concat_ws(" ", F.slice(F.split(norm, " "), 1, 6)).alias("probe"),
        )
        .filter(F.length("probe") > 0)
    )
    corpus = docs.filter(F.col("doc_id") % 40 != 0).select(
        "doc_id", norm.alias("norm")
    )
    return (
        corpus.join(
            F.broadcast(probes), F.expr("contains(norm, probe)"), "inner"
        )
        .select("doc_id", "bench_id")
    )


def _q_quantize_embeddings(spark, sf):
    """Symmetric int8 embedding quantization: per-vector scale =
    max|x| / 127, values mapped by floor(x/scale + 0.5) (explicit
    half-up on the shifted value — identical in Spark and DuckDB,
    unlike engine round()).  The storage-scale path: 4x smaller vectors
    for ANN candidate generation, with the fp32 originals kept for
    re-ranking.  Output checksums the quantized codes."""
    emb = _t(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.when(F.col("__scale") == 0, F.lit(0.0)).otherwise(
            F.floor(x / F.col("__scale") + F.lit(0.5))
        ).cast("long"),
    )
    out = (
        emb.withColumn("__scale", scale)
        .withColumn("__q", q)
        .select(
            "vec_id",
            F.round(F.col("__scale"), 8).alias("scale"),
            F.aggregate(
                F.col("__q"), F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("code_sum"),
            F.array_max(F.col("__q")).alias("code_max"),
            F.array_min(F.col("__q")).alias("code_min"),
        )
    )
    return out


def _q_tfidf_top_terms(spark, sf):
    """Top-3 tf-idf terms per source (corpus summarization / domain
    tagging). tf = term occurrences within the source; idf over the
    20 sources. Token explode -> one (source, token) shuffle ->
    broadcast of per-token source counts -> per-source top-k via the
    two-level prefix-sum rank (r7: a Window.partitionBy(source) sorts
    EVERY term of a source in one task — at 100 TB a single web-crawl
    source holds most of the vocabulary, so the rank must scale with
    partitions, not sources; (tfidf, t) is a total order per source so
    rank == row_number and the result is unchanged)."""
    toks = (
        _t(spark, sf, "documents")
        .select("source", F.explode(ztext.tokens(F.col("text"))).alias("t"))
        .filter(F.col("t") != "")
    )
    n_src = toks.select("source").distinct().count()
    tf = toks.groupBy("source", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("t").agg(F.countDistinct("source").alias("df"))
    scored = tf.join(F.broadcast(df_), "t").withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.lit(float(n_src)) / F.col("df")), 6)
    )
    ranked = zpack.prefix_sum(
        scored.withColumn("_one", F.lit(1)),
        "source",
        [F.col("tfidf").desc(), F.col("t")],
        "_one",
        out_col="_rk0",
    )
    return (
        ranked.withColumn("rk", (F.col("_rk0") + 1).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("source", F.col("t").alias("term"), "tf", "df", "tfidf", "rk")
    )


def _q_cube_counts(spark, sf):
    """CUBE aggregation: all grouping-set combinations of (event_type,
    user bucket) in one pass (map-side partial agg + single shuffle —
    Spark expands grouping sets without re-reading the input)."""
    # project the bucket FIRST: grouping() must reference the exact cube
    # expression, and an inline alias inside cube() is not resolvable
    # from agg() (GROUPING_COLUMN_MISMATCH)
    ev = _events(spark, sf).withColumn("bucket", F.col("user_id") % 5)
    return (
        ev.cube("event_type", "bucket")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("bucket").cast("int").alias("g_bucket"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("event_type", "bucket", "g_type", "g_bucket", "n")
    )


def _q_ntile_deciles(spark, sf):
    """NTILE decile assignment over a total order + per-decile stats
    (per-user spend ranking — rank then re-aggregate).

    Scale path: (spend desc, user_id) is a TOTAL order, so ntile(10) is
    closed-form in the global row number rn: with N rows, the first
    N%10 buckets hold ceil(N/10) rows and the rest floor(N/10)
    (SQL-standard NTILE).  rn comes from packing.global_row_number
    (two-level distributed prefix sum), not an unpartitioned
    Window.orderBy; N is a broadcast 1-row aggregate.  The exact-
    quantile alternative for when only bucket BOUNDARIES matter is
    operators/quantiles.bucket_by_quantiles (broadcast cut points,
    no rank at all)."""
    ev = _events(spark, sf)
    spend = ev.groupBy("user_id").agg(_dsum(F.col("value")).alias("spend"))
    rn = zpack.global_row_number(
        spend, [F.col("spend").desc(), F.col("user_id")], out_col="_rn"
    )
    total = spend.agg(F.count(F.lit(1)).alias("_N"))  # == max rank, cheaper side
    base = F.floor(F.col("_N") / 10)          # small-bucket size
    rem = F.col("_N") % 10                    # first `rem` buckets get base+1
    cut = rem * (base + 1)                    # rows covered by the big buckets
    decile = (
        F.when(F.col("_rn") <= cut, F.floor((F.col("_rn") - 1) / (base + 1)) + 1)
        .otherwise(rem + F.floor((F.col("_rn") - cut - 1) / F.greatest(base, F.lit(1))) + 1)
        .cast("int")
    )
    return (
        rn.crossJoin(F.broadcast(total))
        .withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            _dsum(F.col("spend")).alias("total_spend"),
        )
    )


def _events_ns(spark, sf):
    """events with ts kept as the RAW ns bigint (no µs truncation) so
    cross-engine comparisons are bit-exact (same trick as asof_join).
    NTZ handling mirrors ``_events`` (Spark 4.x reads timestamp[us]
    parquet as TIMESTAMP_NTZ, which unix_micros rejects)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    t = dict(ev.dtypes).get("ts")
    if t != "bigint":
        if t == "timestamp_ntz":
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        ev = ev.withColumn("ts", F.unix_micros("ts") * F.lit(1000))
    return ev


def _q_funnel_counts(spark, sf):
    """Conversion funnel view -> click -> purchase: per user, the first
    view, the first click AFTER that view, the first purchase after
    that click (classic product-analytics staged-min composition — two
    conditional-agg passes, one shuffle each on user_id)."""
    ev = _events_ns(spark, sf)
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    first_click = (
        clicks.join(first_view, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    first_purch = (
        purchases.join(first_click, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purch"))
    )
    return (
        first_view.agg(F.count(F.lit(1)).alias("n_view"))
        .join(first_click.agg(F.count(F.lit(1)).alias("n_click")))
        .join(first_purch.agg(F.count(F.lit(1)).alias("n_purchase")))
    )


def _q_retention_cohorts(spark, sf):
    """Daily retention cohorts: cohort = user's first active day,
    n_users = distinct users active k days later (the training-corpus
    freshness/engagement slice; two shuffles — user cohort, then
    (cohort, offset) count-distinct)."""
    ev = _events_ns(spark, sf)
    # integer division on the raw ns value — float division of an
    # ~1.6e18 ns epoch exceeds double's 53-bit mantissa and can flip a
    # day boundary by up to ~128 ns vs the oracle's exact // division
    days = ev.select("user_id", F.expr("ts div 86400000000000").alias("day"))
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_day"),
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


def _q_pivot_counts(spark, sf):
    ev = _events(spark, sf)
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


def _q_distinct_users(spark, sf):
    ev = _events(spark, sf)
    return ev.groupBy(F.col("event_type").alias("topic")).agg(
        F.countDistinct("user_id").alias("n_users")
    )


def _q_rollup_counts(spark, sf):
    ev = _events(spark, sf)
    return (
        ev.rollup(F.col("event_type").alias("topic"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_running_sum(spark, sf):
    ev = _events(spark, sf).filter(F.col("user_id") < 5)
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ev.select(
        "user_id", "event_id", F.round(F.sum("value").over(w), 2).alias("running_value")
    )


def _q_percentiles(spark, sf):
    """Exact interpolated percentiles (both engines: continuous
    quantile over sorted doubles)."""
    ev = _events(spark, sf)
    return ev.groupBy(F.col("event_type").alias("topic")).agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


def _q_unpivot(spark, sf):
    """Unpivot via stack: wide per-topic stats -> (topic, metric, v) rows."""
    ev = _events(spark, sf)
    wide = ev.groupBy(F.col("event_type").alias("topic")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.max("value"), 2).alias("mx"),
    )
    return wide.selectExpr(
        "topic", "stack(2, 'n', n, 'mx', mx) AS (metric, v)"
    )


_QUERY_VEC_DIM = 64


def _query_vec():
    # Deterministic synthetic query vector: alternating signs, unit-ish.
    return [((-1.0) ** i) * (0.5 + (i % 7) * 0.1) for i in range(_QUERY_VEC_DIM)]


def _q_ann_brute(spark, sf):
    # the unpartitioned rank windows in the ANN queries run over the
    # ALREADY-REDUCED top-k output (k=20 rows from a
    # TakeOrderedAndProject, plan-audited) — bounded input, so the
    # single-partition window is O(k), never a corpus sort
    emb = _t(spark, sf, "embeddings")
    out = zsim.brute_force_topk(emb, _query_vec(), k=20)
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    return out.select("vec_id", F.row_number().over(w).alias("rank"))


def _q_ann_lsh(spark, sf):
    emb = _t(spark, sf, "embeddings")
    out = zsim.lsh_topk(emb, _query_vec(), k=20, dims=(0, 1, 2, 3))
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    return out.select("vec_id", F.row_number().over(w).alias("rank"))


def _q_ann_lsh_multiprobe(spark, sf):
    """Multi-probe LSH: the query bucket + the 2 next-likeliest buckets
    (flip the dimension nearest its sign boundary first) — recovers
    recall lost to neighbors split across a sign boundary."""
    emb = _t(spark, sf, "embeddings")
    out = zsim.lsh_topk(emb, _query_vec(), k=20, dims=(0, 1, 2, 3), n_probe=3)
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    return out.select("vec_id", F.row_number().over(w).alias("rank"))


def _q_ann_ivf(spark, sf):
    """IVF ANN: centroids = embeddings of vec_id < 8 (deterministic
    stand-in for offline k-means), probe the 2 nearest cells."""
    emb = _t(spark, sf, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    out = zsim.ivf_topk(emb, cents, _query_vec(), k=20, n_probe=2)
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    return out.select("vec_id", F.row_number().over(w).alias("rank"))


def _q_embedding_dups(spark, sf):
    # 0.40 is calibrated to the synthetic corpus: random 64-dim vectors
    # top out near cosine 0.51, so 0.9 matches nothing (vacuous check);
    # 0.40 yields ~a dozen pairs at every SF with >5e-4 margin to the
    # nearest score, so the oracle comparison is boundary-stable.
    emb = _t(spark, sf, "embeddings")
    # max_bucket=None = the exhaustive oracle-parity form (the SQL
    # oracle enumerates every same-bucket pair); production callers get
    # the finite default with refine-then-drop (similarity.py).
    return zsim.embedding_dup_pairs(
        emb, threshold=0.40, dims=(0, 1, 2, 3), parallelism=32, max_bucket=None
    )


def _q_embedding_dups_multiprobe(spark, sf):
    """multiprobe=True additionally pairs vectors whose sign-LSH
    buckets differ in exactly one bit — recovering near-dups split
    across a single sign boundary; the oracle enumerates all pairs at
    bucket Hamming distance <= 1 (exactly the multi-probe candidate
    set) above the same calibrated threshold."""
    emb = _t(spark, sf, "embeddings")
    return zsim.embedding_dup_pairs(
        emb, threshold=0.40, dims=(0, 1, 2, 3), multiprobe=True, parallelism=32,
        max_bucket=None,
    )


def _q_embedding_dups_scaled(spark, sf):
    """The PRODUCTION form of embedding near-dup: finite ``max_bucket``
    with refine-then-drop (hot sign-buckets get 8 extra sign bits; a
    bucket still over the cap after refinement is dropped).  max_bucket
    is 30 here so the refine path actually ENGAGES on the 500-row
    sf0.01 corpus (natural 4-bit buckets top out at ~42) — at
    production scale the same knob is the n²-per-bucket guard.  The
    refinement is a deterministic function of (bucket counts, vector
    signs), so the DuckDB oracle enumerates the exact same refined
    buckets and the comparison stays hash-exact — unlike the
    `embedding_dup_pairs` key, nothing here is pinned exhaustive for
    oracle's sake."""
    emb = _t(spark, sf, "embeddings")
    return zsim.embedding_dup_pairs(
        emb, threshold=0.40, dims=(0, 1, 2, 3), parallelism=32,
        max_bucket=30, refine_bits=8,
    )


def _q_embedding_dups_multiprobe_scaled(spark, sf):
    """Production multiprobe near-dup: one-bit probe flips over the
    first 4 sign bits COMPOSED with max_bucket refine-then-drop.  A
    cross-boundary pair survives only if both sides carry the same
    refinement suffix (probes never flip refinement bits), which the
    oracle mirrors with a suffix-equality + first-4-Hamming<=1 join."""
    emb = _t(spark, sf, "embeddings")
    return zsim.embedding_dup_pairs(
        emb, threshold=0.40, dims=(0, 1, 2, 3), multiprobe=True, parallelism=32,
        max_bucket=30, refine_bits=8,
    )


def _q_deterministic_shuffle(spark, sf):
    """Deterministic global training shuffle: every doc gets a stable
    position in a pseudo-random total order (md5 of doc_id) — the
    epoch-shuffle step of a pretraining data loader, reproducible
    across runs and engines (no RNG). Computed WITHOUT the naive
    row_number() over an unpartitioned window (one reducer sorts the
    whole corpus): the two-level prefix sum (operators/packing.py)
    over weight=1 with a composite (hash, doc_id) order key yields
    rank = exclusive cumsum of ones with parallelism = #partitions."""
    from zinger_spark.operators.packing import prefix_sum

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        ztext.md5_hash60(F.col("doc_id").cast("string")).alias("h"),
        F.lit(1).cast("long").alias("one"),
        F.lit(1).alias("g"),
    )
    return prefix_sum(
        docs, "g", ["h", "doc_id"], "one", out_col="shuffle_pos"
    ).select("doc_id", "shuffle_pos")


def _q_dedup_keep_canonical(spark, sf):
    """End-to-end near-dup removal: connected components over the
    fuzzy-pair graph (star algorithm), then keep only each cluster's
    canonical (minimum-id) doc — the actual corpus a dedup pass ships
    to training. Cluster labels come back as (doc_id = cluster_id)
    rows; singletons are their own canonical doc."""
    clusters = _q_dedup_clusters(spark, sf)
    keep = clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return docs.join(keep, "doc_id")


def _q_embedding_centroids(spark, sf):
    """Per-label mean embedding (the centroid table an IVF index or a
    class-balance monitor needs), as (label, dim, centroid) rows.
    posexplode + groupBy(label, dim) is one partial-aggregated shuffle
    keyed by 640 (label, dim) pairs; sums run in decimal(30,15) so the
    result is order-independent and hash-exact across engines (double
    partial-agg order would flip low bits)."""
    emb = _t(spark, sf, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast("double").cast("decimal(30,15)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid")
        )
    )


def _q_doc_chunks(spark, sf):
    """Sliding-window document chunking (64-token windows, stride 48):
    the long-document training-prep step.  Explode sets downstream
    parallelism = chunks; the chunk fingerprint hash-verifies the
    actual chunk text against the oracle."""
    docs = _t(spark, sf, "documents")
    tokd = docs.select(
        "doc_id", F.col("text"), ztext.tokens(F.col("text")).alias("__toks")
    )
    ch = tokd.select(
        "doc_id",
        F.explode(
            ztext.chunk_spans(F.col("text"), 64, 48, toks=F.col("__toks"))
        ).alias("c"),
    )
    return ch.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_tok").alias("start_tok"),
        ztext.md5_hash60(F.col("c.chunk")).alias("chunk_fp"),
    )


def _q_pii_scrub(spark, sf):
    """PII scrubbing (emails -> <EMAIL>, URLs -> <URL>, phone-shaped
    digit runs -> <PHONE>) with per-type counts.  The synthetic corpus
    carries no PII, so deterministic patterns are injected per doc_id
    residue on BOTH engines before scrubbing — the oracle hash covers
    the scrubbed text via its fingerprint."""
    docs = _t(spark, sf, "documents")
    inject = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" reach user"), F.col("doc_id"), F.lit("@example.com")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(" see https://example.com/d/"), F.col("doc_id")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit(" call +1 (555) 010-"), F.col("doc_id") % 10000),
        )
        .otherwise(F.lit("")),
    )
    aug = docs.select("doc_id", inject.alias("aug"))
    return aug.select(
        "doc_id",
        ztext.count_matches(F.col("aug"), ztext.EMAIL_RE).alias("n_email"),
        ztext.count_matches(F.col("aug"), ztext.URL_RE).alias("n_url"),
        ztext.count_matches(F.col("aug"), ztext.PHONE_RE).alias("n_phone"),
        ztext.md5_hash60(ztext.scrub_pii(F.col("aug"))).alias("scrub_fp"),
    )


def _q_repetition_flags(spark, sf):
    """Repetition quality signals: 1 - distinct/total token ratio and
    the top token's frequency share (boilerplate/spam filters)."""
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        ztext.repetition_ratio(F.col("text")).alias("rep_ratio"),
        ztext.top_token_ratio(F.col("text")).alias("top_ratio"),
    )


def _top_ngram_frac(docs, n: int, name: str):
    """Per-doc character coverage of the most frequent word n-gram,
    computed LINEARLY: explode grams -> partial-agg count -> argmax by
    min(struct(-cnt, gram)) (ties to the lexicographically smallest
    gram, matching the oracle's ORDER BY cnt DESC, gram ASC).  The
    per-row array-fold alternative is O(grams^2) per document and
    inlines the gram expression into a codegen blowup — this shape is
    both the 100-TB path and the fast one."""
    # PROJECT the token array before the gram lambda references it: an
    # outer expression named inside a higher-order-function lambda is
    # inlined and re-evaluated per element, so the split would run once
    # per gram — O(tokens^2) per doc (measured 8.8 s vs 0.7 s at sf0.1)
    tokd = docs.select(
        "doc_id",
        F.length("text").alias("__len"),
        ztext.tokens(F.col("text")).alias("__toks"),
    )
    toks = F.col("__toks")
    m = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(m - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    g = tokd.where(m >= n).select(
        "doc_id", "__len", F.explode(grams).alias("gram")
    )
    c = g.groupBy("doc_id", "__len", "gram").agg(F.count("*").alias("cnt"))
    top = c.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("nc"),
                F.col("gram").alias("g"),
                F.col("__len").alias("len"),
            )
        ).alias("t")
    )
    return top.select(
        "doc_id",
        F.round(
            (-F.col("t.nc") * F.length("t.g")).cast("double")
            / F.col("t.len").cast("double"),
            6,
        ).alias(name),
    )


def _q_gopher_quality(spark, sf):
    """Gopher-style document-shape rule pack (Rae et al. 2021 table A1):
    word count, mean word length, alpha-word ratio, symbol-to-word
    ratio, duplicate/bullet/ellipsis line fractions, and top-2/3-gram
    character coverage, plus the composite keep/reject flag at the
    published thresholds.  Scalar metrics are shuffle-free JVM
    expressions (functions/text.py) pipelined into the documents scan;
    the n-gram coverages are linear explode+partial-agg passes joined
    back on doc_id."""
    return _gopher_metrics(_t(spark, sf, "documents"))


def _gopher_metrics(docs: DataFrame) -> DataFrame:
    """Gopher metric pack over any (doc_id, text) frame — shared by the
    documents-table key and the warc_curation crawl composite."""
    t = F.col("text")
    ls = ztext.line_shape_stats(t)
    base = docs.select(
        "doc_id",
        F.size(ztext.tokens(t)).alias("n_words"),
        ztext.mean_word_length(t).alias("mean_word_len"),
        ztext.alpha_word_ratio(t).alias("alpha_ratio"),
        ztext.symbol_word_ratio(t).alias("symbol_ratio"),
        ls.getField("dup_line_frac").alias("dup_line_frac"),
        ls.getField("bullet_frac").alias("bullet_frac"),
        ls.getField("ellipsis_frac").alias("ellipsis_frac"),
    )
    b2 = _top_ngram_frac(docs, 2, "top_bigram_frac")
    b3 = _top_ngram_frac(docs, 3, "top_trigram_frac")
    out = (
        base.join(b2, "doc_id", "left")
        .join(b3, "doc_id", "left")
        .fillna(0.0, ["top_bigram_frac", "top_trigram_frac"])
    )
    passes = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("alpha_ratio") > 0.8)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("dup_line_frac") < 0.3)
        & (F.col("bullet_frac") < 0.9)
        & (F.col("ellipsis_frac") < 0.3)
        & (F.col("top_bigram_frac") < 0.2)
        & (F.col("top_trigram_frac") < 0.18)
    )
    return out.withColumn("passes", passes)


def _q_line_dedup(spark, sf):
    """Corpus-wide line dedup (the C4/FineWeb boilerplate pass via
    operators/dedup.dedup_lines): each distinct non-blank line keeps
    its (min doc_id, min pos) occurrence only.  The synthetic corpus is
    single-line and duplicate-free, so boilerplate lines (one shared by
    every doc, one by every third doc) plus a blank line are injected
    per doc on BOTH engines — the kept set then proves keep-first,
    drop-later, and blank-line preservation."""
    docs = _t(spark, sf, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit("\n\nsubscribe to our newsletter"),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("\nall rights reserved")
        ).otherwise(F.lit("")),
    )
    out = zdedup.dedup_lines(docs.select("doc_id", aug.alias("text")))
    return out.select(
        "doc_id",
        "n_lines_before",
        "n_lines_after",
        ztext.md5_hash60(F.col("text_dedup")).alias("dedup_fp"),
    )


def _q_dedup_duplicate_spans(spark, sf):
    """EXACT duplicated token spans with positions (Lee et al. 2022's
    ExactSubstr at word granularity, operators/dedup.duplicate_spans):
    gram-hash matches consolidated into maximal runs at constant
    alignment diff via gaps-and-islands — each shared >=12-token span
    reported once with (start_a, start_b, span_len).  The corpus
    carries natural long spans (24 at sf0.01, up to 83 tokens), so no
    augmentation is needed.  Positions cast long for oracle parity
    (DuckDB generate_series is BIGINT)."""
    from zinger_spark.operators.dedup import duplicate_spans

    docs = _t(spark, sf, "documents")
    out = duplicate_spans(docs, k=8, min_len=12)
    return out.select(
        "doc_a",
        "doc_b",
        F.col("start_a").cast("long").alias("start_a"),
        F.col("start_b").cast("long").alias("start_b"),
        "span_len",
    )


def _q_dedup_span_removal(spark, sf):
    """The cut-the-span treatment (Lee et al. 2022) applied to the
    corpus's natural duplicate spans: merged b-side ranges removed,
    docs rebuilt from their original tokens.  Emits the AFFECTED docs
    as scalars — removed-token count + a 60-bit fingerprint of the
    rebuilt text (registry lint: no array columns) — against an oracle
    that re-derives the spans, re-merges the intervals, and rebuilds
    via position anti-semantics in pure SQL."""
    from zinger_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )
    from zinger_spark.functions.text import md5_hash60

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    spans = duplicate_spans(docs, k=8, min_len=12)
    out = remove_duplicate_spans(docs, spans)
    return (
        out.filter(F.col("removed_tokens") > 0)
        .select(
            "doc_id",
            "removed_tokens",
            md5_hash60(F.col("text")).alias("fp"),
        )
    )


def _q_decontaminate_spans(spark, sf):
    """Span-level benchmark decontamination (the FineWeb/Lee-et-al
    treatment for eval leakage: CUT the overlapping span instead of
    dropping the whole doc): duplicate_spans in cross-corpus mode —
    benchmark slice (doc_id % 40 == 0, the contamination key's
    convention) vs the training corpus — then remove_duplicate_spans
    cuts every benchmark-overlapping >=12-token span out of the corpus
    side only.  Emits the affected corpus docs as scalars."""
    from zinger_spark.functions.text import md5_hash60
    from zinger_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 40 == 0)
    corpus = docs.filter(F.col("doc_id") % 40 != 0)
    spans = duplicate_spans(corpus, k=8, min_len=12, against=bench)
    out = remove_duplicate_spans(corpus, spans)
    return out.filter(F.col("removed_tokens") > 0).select(
        "doc_id", "removed_tokens", md5_hash60(F.col("text")).alias("fp")
    )


def _q_substring_dups(spark, sf):
    """Substring-level duplicate pairs via winnowing fingerprints
    (Schleimer et al. 2003 / the repeated-span dedup of Lee et al.
    2022): docs sharing any verbatim span of >= w+k-1 = 8 tokens share
    a fingerprint regardless of offset.  The synthetic corpus shares no
    long spans, so a 12-token paragraph keyed by doc_id//2 is appended
    to both members of every third id-pair on BOTH engines; the oracle
    then checks the exact pair set AND shared-fingerprint counts."""
    from zinger_spark.operators.dedup import substring_dup_pairs

    docs = _t(spark, sf, "documents")
    group = F.floor(F.col("doc_id") / 2).cast("long").cast("string")
    para = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(12)),
            lambda j: F.concat(F.lit("p"), group, F.lit("x"), j.cast("string")),
        ),
    )
    aug = F.when(
        F.col("doc_id") % 6 < 2, F.concat(F.col("text"), F.lit(" "), para)
    ).otherwise(F.col("text"))
    return substring_dup_pairs(
        docs.select("doc_id", aug.alias("text")), k=5, w=4
    )


def _q_image_dup_pairs(spark, sf):
    """Image near-dup over REAL PNG payloads synthesized from the
    embeddings table (each 64-dim vector renders as an 8x8 grayscale
    PNG; every tenth image gets a one-pixel-perturbed twin 1e6 ids up).
    Decode + dHash run in the Arrow kernel; pairing is the banded
    Hamming join.  HASH-EXACT oracle: the comparison splits at the
    fingerprint boundary — oracle_sql() recomputes dHash from the
    pre-encode pixel arrays in pure Python (so the PNG encode->decode
    round trip here is inside the verified surface) and brute-forces
    the Hamming pair join in SQL (_materialize_media_fps)."""
    from zinger_spark.multimodal import image_dup_pairs

    emb = _t(spark, sf, "embeddings")

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        from zinger_spark.codecs import media  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for vid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.asarray(list(vec), dtype=np.float64)
                lo, hi = float(v.min()), float(v.max())
                px = (
                    ((v - lo) / (hi - lo + 1e-9) * 255.0)
                    .astype(np.uint8)
                    .reshape(8, 8)[:, :, None]
                )
                rows.append(
                    {"img_id": int(vid), "payload": media.encode_png(px)}
                )
                if vid % 10 == 0:
                    near = px.copy()
                    near[0, 0, 0] = 255 - near[0, 0, 0]
                    rows.append(
                        {
                            "img_id": int(vid) + 1_000_000,
                            "payload": media.encode_png(near),
                        }
                    )
            yield pd.DataFrame(rows, columns=["img_id", "payload"])

    imgs = emb.select("vec_id", "embedding").mapInPandas(
        gen, "img_id long, payload binary"
    )
    # max_bucket=None: the oracle brute-forces all pairs, so the
    # engine side must be recall-complete at any band density (r7
    # advice #2); production callers keep the default hot-band cap.
    return image_dup_pairs(imgs, max_hamming=3, max_bucket=None)


def _q_video_dup_pairs(spark, sf):
    """Video near-dup over REAL ZVID payloads synthesized from the
    embeddings table (4 rolled-plane PNG frames per clip at 4 fps;
    every tenth video gets a twin with frame 3 inverted — a wholesale
    re-edit that still leaves 3 of 4 frames identical).  Frame sampling
    + PNG decode + dHash run in the Arrow kernel; pairing is the banded
    Hamming join at the FRAME level, reduced to video pairs by a
    partial-agg groupBy.  HASH-EXACT oracle via the fingerprint-
    boundary split, like image/audio (_materialize_media_fps writes the
    pre-encode frame hashes; the frame join + video reduction is plain
    SQL on both sides)."""
    from zinger_spark.multimodal import video_dup_pairs

    emb = _t(spark, sf, "embeddings")

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        from zinger_spark.codecs import media  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for vid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.asarray(list(vec), dtype=np.float64)
                lo, hi = float(v.min()), float(v.max())
                px = (
                    ((v - lo) / (hi - lo + 1e-9) * 255.0)
                    .astype(np.uint8)
                    .reshape(8, 8)[:, :, None]
                )
                flat = px.reshape(-1)
                frames = [
                    np.roll(flat, 7 * k).reshape(8, 8, 1).copy()
                    for k in range(4)
                ]
                rows.append(
                    {
                        "video_id": int(vid),
                        "payload": media.encode_zvid(frames, fps=4),
                    }
                )
                if vid % 10 == 0:
                    twin = [f.copy() for f in frames]
                    twin[3] = 255 - twin[3]
                    rows.append(
                        {
                            "video_id": int(vid) + 1_000_000,
                            "payload": media.encode_zvid(twin, fps=4),
                        }
                    )
            yield pd.DataFrame(rows, columns=["video_id", "payload"])

    vids = emb.select("vec_id", "embedding").mapInPandas(
        gen, "video_id long, payload binary"
    )
    return video_dup_pairs(
        vids, every_ms=250, max_hamming=3, min_matching_frames=2, max_bucket=None
    )


def _q_audio_dup_pairs(spark, sf):
    """Audio near-dup over REAL PCM-WAV payloads synthesized from the
    embeddings table (each vector weights 64 harmonics of a 0.5 s tone;
    every tenth clip gets a gain-scaled twin).  Spectral-contour
    fingerprints + the banded Hamming join; hash-exact oracle via the
    fingerprint-boundary split, like image_dup_pairs (the oracle keeps
    the WAV round trip since 16-bit PCM quantization is the format's)."""
    from zinger_spark.multimodal import audio_dup_pairs

    emb = _t(spark, sf, "embeddings")

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        from zinger_spark.codecs import media  # noqa: PLC0415

        rate = 8000
        t = np.arange(int(rate * 0.5)) / rate
        for pdf in batches:
            rows = []
            for vid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                v = np.asarray(list(vec), dtype=np.float64)
                w = np.abs(v) / (np.abs(v).sum() + 1e-9)
                sig = np.zeros_like(t)
                for k, wk in enumerate(w):
                    if wk > 1e-4:
                        sig += wk * np.sin(2 * np.pi * (150.0 + 50.0 * k) * t)
                peak = np.abs(sig).max() + 1e-9
                sig = 0.8 * sig / peak
                rows.append(
                    {"clip_id": int(vid), "payload": media.encode_wav(sig, rate)}
                )
                if vid % 10 == 0:
                    rows.append(
                        {
                            "clip_id": int(vid) + 1_000_000,
                            "payload": media.encode_wav(0.5 * sig, rate),
                        }
                    )
            yield pd.DataFrame(rows, columns=["clip_id", "payload"])

    clips = emb.select("vec_id", "embedding").mapInPandas(
        gen, "clip_id long, payload binary"
    )
    # gain-scaled twins land at hamming ~0 (the contour is gain
    # invariant); a tight bound keeps coincidental spectral cousins out
    return audio_dup_pairs(clips, max_hamming=1, max_bucket=None)


def _q_simhash_dup_pairs(spark, sf):
    """Near-dup pairs under a Hamming bound over SimHash sketches —
    dedup.hamming_dup_pairs (Manku et al. 2007 pigeonhole banding:
    band equi-joins for candidates, bit_count(xor) verify).  The
    oracle brute-forces all pairs, proving the banded join loses
    nothing at this bound."""
    docs = _t(spark, sf, "documents")
    fps = zdedup.simhash(docs, bits=16)
    return zdedup.hamming_dup_pairs(
        fps, fp_col="simhash", bits=16, max_hamming=2, max_bucket=None
    ).withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")


def _q_simhash_incremental_dups(spark, sf):
    """Batch-vs-corpus Hamming dedup: pairs within the bound that have
    at least one NEW side (doc_id % 5 == 0 is the arriving batch), via
    dedup.incremental_hamming_dups — only the batch explodes into
    probe bands, the corpus is build-side, so per-batch cost is batch x
    matched buckets (the maintained-index shape for simhash/image/
    audio fingerprints).  Oracle brute-forces all pairs and filters to
    new-sided ones, proving the incremental banding loses nothing.
    bits=16 is the ORACLE-DENSITY pinning (thousands of pairs at
    hamming<=2, so the brute-force comparison is non-vacuous);
    production fingerprints are 64-bit, where collisions — and with
    them both sides' join cost — collapse by orders of magnitude."""
    docs = _t(spark, sf, "documents")
    fps = zdedup.simhash(docs, bits=16)
    new = fps.filter(F.col("doc_id") % 5 == 0)
    corpus = fps.filter(F.col("doc_id") % 5 != 0)
    return zdedup.incremental_hamming_dups(
        corpus, new, fp_col="simhash", bits=16, max_hamming=2, max_bucket=None
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


def _q_script_mix(spark, sf):
    """Per-document Unicode-script character mix (Han/Latin/Cyrillic/
    digit counts + Latin share) — the script-detection signal a
    multilingual curation pipeline routes on.  Pure per-row
    replace-length arithmetic; Java and RE2 script classes agree."""
    docs = _t(spark, sf, "documents")
    sc = ztext.script_counts(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        sc.getField("han").alias("han"),
        sc.getField("latin").alias("latin"),
        sc.getField("cyrillic").alias("cyrillic"),
        sc.getField("digit").alias("digit"),
        F.when(sc.getField("n_chars") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                sc.getField("latin").cast("double")
                / sc.getField("n_chars").cast("double"),
                6,
            )
        )
        .alias("latin_share"),
    )


def _q_source_quota_sample(spark, sf):
    """Per-source hard quota: the 5 longest docs per source (n_chars
    desc, doc_id asc tie-break) — the domain-balancing cap applied
    before mixing.  One window partitioned by source; deterministic
    pick, so the oracle matches row-for-row."""
    from zinger_spark.operators.sampling import quota_sample

    docs = _t(spark, sf, "documents")
    return quota_sample(docs, 5, order_col="n_chars").select(
        "doc_id", "source", "n_chars"
    )


def _q_token_budget_select(spark, sf):
    """Per-source TOKEN-budget selection — the step that turns mixture
    weights into an actual training set: within each source, take docs
    best-first (n_chars desc, doc_id tie-break) while the cumulative
    token count stays under the source's budget.  The cumulative sum
    rides the two-level distributed prefix sum (operators/packing.py)
    keyed by (_pid, source) — parallelism = #partitions, never a
    per-source single-reducer window — and the keep decision is a
    per-row filter on the exclusive prefix (greedy-include at the
    boundary), so the plan is one range exchange + one broadcast
    join-back whatever the corpus size."""
    from zinger_spark.operators.packing import prefix_sum

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        ztext.token_count(F.col("text")).alias("ntok"),
    )
    ps = prefix_sum(
        docs,
        "source",
        [F.col("n_chars").desc(), F.col("doc_id")],
        "ntok",
        out_col="tok_before",
    )
    return ps.where(F.col("tok_before") < 1000).select(
        "doc_id", "source", "ntok", "tok_before"
    )


_SQL_TOKEN_BUDGET = """
    WITH q AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ntok
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, ntok,
             CAST(coalesce(SUM(ntok) OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tok_before
      FROM q
    )
    SELECT doc_id, source, ntok, tok_before FROM c WHERE tok_before < 1000
"""


def _q_source_vocab_overlap(spark, sf):
    """Corpus-audit matrix: for every source pair, the shared distinct
    vocabulary and its Jaccard — the quick leakage/similarity screen
    run before mixing data sources.  Distinct (source, token) pairs
    (partial-agg), token-keyed self-join, then a 10-row matrix; the
    exact integer counts keep the oracle hash-stable."""
    docs = _t(spark, sf, "documents")
    tok = docs.select(
        "source", F.explode(F.array_distinct(ztext.tokens(F.col("text")))).alias("t")
    ).distinct()
    sizes = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        tok.select(F.col("source").alias("src_a"), "t")
        .join(tok.select(F.col("source").alias("src_b"), "t"), "t")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_vocab"))
    )
    return (
        shared.join(
            sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na")),
            "src_a",
        )
        .join(
            sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared_vocab",
            F.round(
                F.col("shared_vocab").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_vocab")).cast("double"),
                6,
            ).alias("vocab_jaccard"),
        )
    )


def _q_line_dedup_incremental(spark, sf):
    """Ingest-time line dedup: even doc_ids play the maintained corpus,
    odd doc_ids the arriving batch — batch lines already seen anywhere
    in the corpus (or earlier in the batch) drop, blank lines survive.
    Same boilerplate injection as line_dedup so the corpus provably
    contains the batch's boilerplate."""
    from zinger_spark.operators.dedup import incremental_line_dedup

    docs = _t(spark, sf, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit("\n\nsubscribe to our newsletter"),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("\nall rights reserved")
        ).otherwise(F.lit("")),
    )
    a = docs.select("doc_id", aug.alias("text"))
    corpus = a.where(F.col("doc_id") % 2 == 0)
    batch = a.where(F.col("doc_id") % 2 == 1)
    out = incremental_line_dedup(corpus, batch)
    return out.select(
        "doc_id",
        "n_lines_before",
        "n_lines_after",
        ztext.md5_hash60(F.col("text_dedup")).alias("dedup_fp"),
    )


def _q_substring_dups_incremental(spark, sf):
    """Ingest-time substring-dup screen: even doc_ids are the
    maintained corpus (fingerprint index), odd doc_ids the batch; same
    shared-paragraph injection as substring_dups so cross-parity pairs
    provably exist (each injected pair spans one even and one odd id)."""
    from zinger_spark.operators.dedup import incremental_substring_dups

    docs = _t(spark, sf, "documents")
    group = F.floor(F.col("doc_id") / 2).cast("long").cast("string")
    para = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(12)),
            lambda j: F.concat(F.lit("p"), group, F.lit("x"), j.cast("string")),
        ),
    )
    aug = F.when(
        F.col("doc_id") % 6 < 2, F.concat(F.col("text"), F.lit(" "), para)
    ).otherwise(F.col("text"))
    a = docs.select("doc_id", aug.alias("text"))
    corpus = a.where(F.col("doc_id") % 2 == 0)
    batch = a.where(F.col("doc_id") % 2 == 1)
    return incremental_substring_dups(corpus, batch, k=5, w=4)


def _q_dsir_affinity(spark, sf):
    """DSIR-style data selection signal (Xie et al. 2023: importance
    resampling via hashed n-gram features).  Tokens hash into 4096
    buckets; a bucket is 'target-leaning' when its relative frequency
    in the target slice (source = src0, standing in for the
    high-quality corpus) exceeds its relative frequency in the raw
    rest — compared exactly via the cross-multiplied integer
    inequality t_cnt * raw_total > r_cnt * tgt_total, so no float
    log-likelihood can diverge between engines.  Per doc: the count
    and share of its tokens that land in target-leaning buckets — the
    ranking signal DSIR thresholds to pick pretraining data.

    Scale shape: two partial-agg passes build the 4096-row bucket
    table (broadcast), then one narrow join per token — no shuffle
    grows with corpus size beyond the token explode."""
    docs = _t(spark, sf, "documents")
    # tokenize ONCE: tok feeds the bucket-stats build (twice, via the
    # nested totals broadcast) AND the per-doc probe side — without the
    # cut the explode+md5 pass runs 3x per action (r12 optimization,
    # same fix as operators/dsir.dsir_weights).  The token string
    # itself is projected away so the cut holds only (doc_id, is_tgt,
    # int bucket).  persist(), not localCheckpoint (r13, measured): the
    # advice-suggested checkpoint swap was tried and rejected — the tok
    # frame is token-occurrence-sized and the SQL cache's compressed
    # columnar batches beat row-serialized checkpoint blocks ~1.9x on
    # this key (same-session A/B: 0.47 s vs 0.89 s); see
    # operators/dsir.dsir_weights for the full numbers.  Dropped blocks
    # recompute (never stale), and the bench releases blocks between
    # timed actions.
    tok = (
        docs.select(
            "doc_id",
            (F.col("source") == "src0").alias("is_tgt"),
            F.explode(ztext.tokens(F.col("text"))).alias("t"),
        )
        .select(
            "doc_id",
            "is_tgt",
            F.pmod(ztext.md5_hash60(F.col("t")), F.lit(4096)).alias("bucket"),
        )
        .persist()
    )
    stats = tok.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("t_cnt"),
        F.sum(F.when(F.col("is_tgt"), 0).otherwise(1)).alias("r_cnt"),
    )
    totals = stats.agg(
        F.sum("t_cnt").alias("tgt_total"), F.sum("r_cnt").alias("raw_total")
    )
    lean = (
        stats.crossJoin(F.broadcast(totals))
        .withColumn(
            "leaning",
            F.col("t_cnt") * F.col("raw_total") > F.col("r_cnt") * F.col("tgt_total"),
        )
        .select("bucket", "leaning")
    )
    return (
        tok.join(F.broadcast(lean), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("leaning"), 1).otherwise(0)).alias("affinity"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .withColumn(
            "affinity_share",
            F.round(
                F.col("affinity").cast("double") / F.col("n_tokens").cast("double"), 6
            ),
        )
    )


def _q_curation_pipeline(spark, sf):
    """The composite training-data curation flow, one declarative plan:
    Gopher shape filter -> language filter (en) -> exact near-dup
    collapse (keep the min doc_id per content fingerprint) -> PII-scrub
    fingerprint + token count for the kept set.  Everything is
    partial-agg + equi-join on doc_id/fingerprint — no new shuffle
    shapes beyond its parts, so it composes at 100 TB exactly like the
    individual operators do."""
    docs = _t(spark, sf, "documents")
    # r12 optimization (guide §2.3 filter-before-the-work): the inner
    # join on doc_id drops every non-English row anyway, but Catalyst
    # cannot push the docs-side lang filter into the metrics subtree
    # (it does not know both derive from the same table) — so compute
    # the Gopher metric pack over the en-filtered scan only, and
    # materialize that filtered projection ONCE: it feeds 4 text
    # passes (scalar metrics, 2-gram + 3-gram coverage, and the
    # fingerprint/scrub enrichment below) that each re-decoded the
    # parquet text column otherwise.
    en = docs.filter(F.col("lang") == "en").select(
        "doc_id", "text", "source"
    ).localCheckpoint(eager=False)
    metrics = _gopher_metrics(en).select("doc_id", "passes")
    kept = en.join(metrics, "doc_id").where(F.col("passes"))
    enr = kept.select(
        "doc_id",
        "source",
        ztext.fingerprint(F.col("text")).alias("content_fp"),
        ztext.token_count(F.col("text")).alias("n_tokens"),
        ztext.md5_hash60(ztext.scrub_pii(F.col("text"))).alias("scrub_fp"),
    )
    # single-pass canonical pick: min-struct keeps the min-doc_id row per
    # fingerprint (doc_id leads the struct and is unique) WITHOUT a
    # self-join — a join back would recompute the whole upstream
    # (gopher metrics included) a second time
    canon = enr.groupBy("content_fp").agg(
        F.min(
            F.struct("doc_id", "source", "n_tokens", "scrub_fp")
        ).alias("k")
    )
    return canon.select(
        F.col("k.doc_id").alias("doc_id"),
        F.col("k.source").alias("source"),
        F.col("k.n_tokens").alias("n_tokens"),
        "content_fp",
        F.col("k.scrub_fp").alias("scrub_fp"),
    )


def _q_tpch_q2(spark, sf):
    """Q2 min-cost supplier (adapted: testdata has no partsupp, so the
    part-supplier cost relation derives from lineitem as the min unit
    price per (part, supplier)).  Keeps Q2's structural essence — a
    correlated-min join-back over a 4-table dimension chain, EUROPE
    region, one part type — with the dims broadcast."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region")
    eur = supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey).join(
        F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    # Pre-filter the 100 TB side BEFORE the (pk, sk) aggregation
    # exchange (guide §3.2): downstream, ps inner-joins the STANDARD
    # parts and EUROPE suppliers, so (pk, sk) groups outside those key
    # sets can never reach the output — broadcast-semi-join them away
    # while the rows are still map-side, shrinking the agg shuffle by
    # the part-type x region selectivity.  Both dim key sets are
    # broadcast-sized by construction (dimension tables).
    li = li.join(
        F.broadcast(part.filter(F.col("p_type") == "STANDARD").select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    ).join(
        F.broadcast(eur.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias("cost")
    )
    j = ps.join(eur, F.col("sk") == F.col("s_suppkey")).join(
        F.broadcast(part.filter(F.col("p_type") == "STANDARD")),
        F.col("pk") == F.col("p_partkey"),
    )
    # correlated min as a window over p_partkey: ONE pass over the join
    # graph and one shuffle, instead of a grouped-agg + join-back that
    # computes the join twice
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(10)
    )


def _q_tpch_q9(spark, sf):
    """Q9 product-type profit by nation and year (adapted: profit =
    revenue - 0.1 * p_retailprice * qty since there is no
    ps_supplycost).  Keeps the 5-way join with a LIKE part filter and
    the (nation, year) rollup."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    orders = _t(spark, sf, "orders")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.1) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").like("%widget%"))),
            li.l_partkey == part.p_partkey,
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_dsum(amount).alias("sum_profit"))
    )


def _q_tpch_q11(spark, sf):
    """Q11 important-stock parts (adapted: part value = sum(extprice *
    qty) over one nation's suppliers' lineitems, no partsupp).  Keeps
    the scalar-subquery HAVING shape: value > fraction of the grand
    total; the threshold compare runs on EXACT decimal sums (double
    sums are accumulation-order dependent across engines)."""
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    ns = supp.join(
        F.broadcast(nat.filter(F.col("n_name") == "NATION_2")),
        supp.s_nationkey == nat.n_nationkey,
    ).select("s_suppkey")
    vals = (
        li.join(F.broadcast(ns), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,4)")
            ).alias("vdec")
        )
    )
    total = vals.agg(F.sum("vdec").alias("tdec"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(
            F.col("vdec").cast("double") > F.col("tdec").cast("double") * 0.0001
        )
        .select(
            "ps_partkey", F.round(F.col("vdec"), 2).cast("double").alias("value")
        )
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


def _q_tpch_q16(spark, sf):
    """Q16 supplier counts per part attribute (adapted: the NOT IN
    'complaints' exclusion becomes s_acctbal < 1000 since testdata has
    no s_comment).  Keeps brand/type/size negative predicates, the
    anti-join exclusion, and count(distinct supplier)."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    supp = _t(spark, sf, "supplier")
    excl = supp.filter(F.col("s_acctbal") < 1000).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (~F.col("p_type").startswith("PROMO"))
            & (F.col("p_size") <= 25)
        )
        .join(F.broadcast(excl), li.l_suppkey == excl.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def _q_tpch_q20(spark, sf):
    """Q20 promotion-eligible suppliers (adapted: a supplier qualifies
    when its 1997 shipped quantity of '%bolt%' parts exceeds half the
    all-supplier average, replacing the partsupp availqty correlation).
    Keeps the IN-subquery-with-HAVING shape; threshold from exact
    decimal totals."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    bolts = part.filter(F.col("p_name").like("%bolt%")).select("p_partkey")
    qty = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(bolts), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qdec"))
    )
    thresh = qty.agg(
        F.sum("qdec").alias("tq"), F.count(F.lit(1)).alias("nq")
    )
    eligible = (
        qty.crossJoin(F.broadcast(thresh))
        .filter(
            F.col("qdec").cast("double")
            > 0.5 * F.col("tq").cast("double") / F.col("nq")
        )
        .select("l_suppkey")
    )
    return (
        supp.join(
            F.broadcast(nat.filter(F.col("n_name") == "NATION_3")),
            supp.s_nationkey == nat.n_nationkey,
        )
        .join(eligible, supp.s_suppkey == eligible.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


def _q_dedup_incremental_exact(spark, sf):
    """Exact dedup of a NEW batch against an existing corpus — the
    maintained-index workflow (you never re-dedup 100 TB per crawl).
    Anti-join on the content hash; Spark injects a runtime bloom filter
    on the corpus side (runtime.bloomFilter.enabled default-on)."""
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return zdedup.incremental_exact_dedup(corpus, new).select(
        "doc_id", "content_hash"
    )


def _q_containment_incremental(spark, sf):
    """Directional containment of a NEW batch against the corpus — the
    recrawl subset/quote check (operators/dedup.
    incremental_containment_dups): a wrapped excerpt has a fresh exact
    fingerprint and low symmetric Jaccard, but high containment from
    the new side.  Candidates via a batch×corpus shingle equi-join
    under the corpus-frequency cap; only the batch's shingle sets
    drive the denominator."""
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return zdedup.incremental_containment_dups(
        corpus, new, shingle_k=8, threshold=0.5
    )


def _sql_containment_incremental(shingle_k: int = 8, thr: float = 0.5, max_df: int = 1000) -> str:
    return f"""
    WITH {_sql_shingle_ctes(shingle_k)},
    newex AS (
      SELECT doc_id AS nid, unnest(shingles) AS s FROM sh WHERE doc_id % 5 = 0
    ),
    corpex AS (
      SELECT doc_id AS cid, unnest(shingles) AS s FROM sh WHERE doc_id % 5 <> 0
    ),
    blocked AS (
      SELECT cid, s FROM (
        SELECT cid, s, count(*) OVER (PARTITION BY s) AS w FROM corpex
      ) WHERE w <= {max_df}
    ),
    cand AS (SELECT DISTINCT n.nid, b.cid FROM newex n JOIN blocked b ON n.s = b.s),
    scored AS (
      SELECT c.nid, c.cid,
             len(list_intersect(sn.shingles, sc.shingles))::DOUBLE AS shared,
             len(sn.shingles)::DOUBLE AS nn
      FROM cand c
      JOIN sh sn ON sn.doc_id = c.nid
      JOIN sh sc ON sc.doc_id = c.cid
    )
    SELECT nid AS new_id, cid AS corpus_id, round(shared / nn, 6) AS containment
    FROM scored WHERE shared / nn >= {thr}
    """


def _q_dedup_incremental_minhash(spark, sf):
    """Near-dup pairs touching a NEW batch, via the persisted minhash
    index: candidates probe only the buckets the batch lands in, so
    per-batch cost is O(|batch| + matched buckets), not O(corpus).
    Oracle-parity form: cap high enough to never bind (the production
    default caps degenerate buckets over the COMBINED postings)."""
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    index = zdedup.build_minhash_index(corpus, parallelism=32)
    pairs, _new_index = zdedup.incremental_minhash_pairs(
        index, new, jaccard_threshold=0.4, max_bucket=1_000_000, parallelism=32
    )
    return pairs.select("doc_a", "doc_b")


def _q_embedding_incremental_dups(spark, sf):
    """Embedding near-dup pairs touching a NEW vector batch against the
    maintained corpus — probe-side-only bucketing (similarity.py
    incremental_embedding_dups); oracle-parity capless form."""
    emb = _t(spark, sf, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    return zsim.incremental_embedding_dups(
        corpus, new, threshold=0.40, dims=(0, 1, 2, 3), parallelism=32,
        max_bucket=None,
    )


def _q_dsir_select(spark, sf):
    """DSIR data selection (Xie et al. 2023): importance-weight every
    document toward the lang='en' target slice over hashed
    unigram+bigram buckets, take the top 50 by weight (the
    deterministic resample).  Feature space is FIXED (4096 buckets) so
    both models broadcast at any corpus size; per-gram log terms sum
    in exact decimals; the only doc-keyed shuffle is the final
    per-document groupBy — operators/dsir.py for the 100 TB shape."""
    from zinger_spark.operators.dsir import dsir_weights

    docs = _t(spark, sf, "documents")
    w = dsir_weights(docs, docs.filter(F.col("lang") == "en"))
    return w.orderBy(F.col("w").desc(), "doc_id").limit(50)


def _q_dsir_gumbel(spark, sf):
    """DSIR proper samples WITHOUT replacement via the Gumbel-top-k
    trick; the noise here derives from a seeded md5 hash of the doc id,
    so the draw is reproducible run-to-run and engine-to-engine (the
    oracle draws the identical noise)."""
    from zinger_spark.operators import dsir

    docs = _t(spark, sf, "documents")
    w = dsir.dsir_weights(docs, docs.filter(F.col("lang") == "en"))
    key = dsir.gumbel_key(F.col("w"), F.col("doc_id"), seed=7)
    return (
        w.select("doc_id", "w", F.round(key, 6).alias("gkey"))
        .orderBy(F.col("gkey").desc(), "doc_id")
        .limit(30)
    )


def _q_lm_quality_unigram(spark, sf):
    """CCNet-style LM quality scoring (Wenzek et al. 2020): train a
    unigram LM on the trusted slice (lang='en' stands in for Wikipedia),
    score EVERY document's cross-entropy under it.  Model is vocab-
    bounded and broadcast; the corpus is never shuffled on token —
    operators/lm.py for the 100 TB argument."""
    from zinger_spark.operators import lm as zlm

    docs = _t(spark, sf, "documents")
    model = zlm.train_unigram(docs.filter(F.col("lang") == "en"))
    return zlm.cross_entropy_unigram(docs, model)


def _q_lm_quality_bigram(spark, sf):
    """Interpolated-bigram form of the CCNet score: λ·MLE-bigram +
    (1-λ)·smoothed-unigram, exact decimal log-sums both engines."""
    from zinger_spark.operators import lm as zlm

    docs = _t(spark, sf, "documents")
    train = docs.filter(F.col("lang") == "en")
    return zlm.cross_entropy_bigram(
        docs, zlm.train_unigram(train), zlm.train_bigram(train)
    )


def _q_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.4): the
    corpus ranked by unigram cross-entropy under the trusted-slice LM
    splits into terciles — head = lowest perplexity — with ``kept``
    marking CCNet's default head+middle retention.  Rank-based, not
    sketch-based: the global rank rides the two-level distributed
    prefix sum over the (xent, doc_id) total order (the
    quality_quantile_filter scale path — parallelism scales with
    partitions, never one ntile reducer), and the tercile boundary is
    exact integer arithmetic ((rn*3) div N), hash-exact under DuckDB's
    row_number re-derivation."""
    from zinger_spark.operators import lm as zlm
    from zinger_spark.operators import packing as zpack

    docs = _t(spark, sf, "documents")
    scored = zlm.cross_entropy_unigram(
        docs, zlm.train_unigram(docs.filter(F.col("lang") == "en"))
    )
    n = scored.count()  # one scalar aggregate, bounded driver cost
    ranked = zpack.prefix_sum(
        scored.withColumn("_one", F.lit(1)).withColumn("_g", F.lit(1)),
        "_g",
        [F.col("xent"), F.col("doc_id")],
        "_one",
        out_col="_rn0",
    )
    bucket = F.expr(f"CAST((_rn0 * 3) DIV {n} AS INT) + 1")
    return ranked.select(
        "doc_id",
        "n_tokens",
        "xent",
        bucket.alias("bucket"),
        (bucket <= 2).alias("kept"),
    )


def _q_mixture_sample(spark, sf):
    """Temperature-weighted source mixture (T=0.5 upweights small
    sources — the multilingual rebalance): deterministic hash keep,
    per-source budgets ∝ n^T, one tiny broadcast of rates."""
    from zinger_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf, "documents").select("doc_id", "source")
    return mixture_sample(docs, target_total=120, temperature=0.5)


def _q_semantic_dedup(spark, sf):
    """SemDeDup composition: IVF-cell clustering (centroids = first 8
    embeddings, the same deterministic stand-in as ann_ivf_topk) ->
    within-cell cosine pairs -> connected components -> keep min id."""
    emb = _t(spark, sf, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    return zsim.semantic_dedup(emb, cents, threshold=0.40)


# ---------------------------------------------------------------------------
# zedql: queries written in the reference's own Zed dialect (the text
# form zync generates and users author — etl/build.go:86-109,
# demo/invoices.yaml), parsed and compiled by zinger_spark/zedql, and
# verified against the same DuckDB oracle as every native query.


def _zq(text: str) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from zinger_spark import zedql

        def tables(name: str) -> DataFrame:
            if name == "events":
                return _events(spark, sf_dir)
            return _t(spark, sf_dir, name)

        return zedql.compile_query(spark, text, tables=tables)

    return q


_q_zq_filter_cut = _zq(
    'from events | event_type in ["click", "view"] and value >= 250.0 '
    "| cut event_id, event_type, value"
)

_q_zq_agg_by = _zq(
    "from documents "
    "| n:=count(), total:=sum(n_chars), top:=max(n_chars) by lang"
)

_q_zq_agg_where = _zq(
    "from events "
    "| hot:=count() where value > 100.0, n:=count() by event_type"
)

_q_zq_switch_yield = _zq(
    "from documents | switch ( "
    'case lang=="en" => yield {doc_id: doc_id, bucket: "english", n: n_chars} '
    'case source=="web" => yield {doc_id: doc_id, bucket: "web", n: n_chars * 2} '
    "default => yield {doc_id: doc_id, bucket: lang, n: -n_chars} )"
)

_q_zq_join_denorm = _zq(
    "fork ( => from orders => from customer ) "
    "| join on o_custkey=c_custkey customer_name:=c_name "
    "| cut o_orderkey, o_totalprice, customer_name"
)

_q_zq_anti_join = _zq(
    'fork ( => from orders => from customer | c_mktsegment=="BUILDING" ) '
    "| anti join on o_custkey=c_custkey "
    "| cut o_orderkey, o_custkey"
)

_q_zq_sort_tail = _zq(
    "from events | sort -r event_id | tail 3 | cut event_id, event_type"
)

_q_zq_const_map = _zq(
    'const tiers = |{"click": 1, "view": 2, "purchase": 3}|\n'
    "from events "
    "| tier:=tiers[event_type] "
    "| n:=count() by tier"
)

_q_zq_put_funcs = _zq(
    "from documents "
    '| tok0:=split(text, " ")[0] '
    "| lang_u:=to_upper(lang) "
    '| flag:=n_chars > 500 ? "long" : "short" '
    "| cut doc_id, tok0, lang_u, flag"
)

# over: un-nest each document's token array into the sequence, then
# aggregate over the elements (the word-frequency shape)
_q_zq_over_unnest = _zq(
    "from documents "
    '| over split(text, " ") '
    "| n:=count() by value "
    "| sort -r n, value | head 20"
)

# regex literal in search position: shorthand for grep(/re/, this) —
# matches ANY string value in the record (text OR lang OR source here),
# with nulls coalesced out of the OR
_q_zq_regex_search = _zq(
    "from documents | /spark (join|agg)/ | cut doc_id, source, n_chars"
)

# nested rename (in place, sibling order kept) + nested drop, verified
# through has() since the struct itself stays internal
_q_zq_rename_drop = _zq(
    "from documents "
    "| wrapped:={meta:{src:source, l:lang}, nc:n_chars} "
    "| rename wrapped.meta.origin := wrapped.meta.src "
    "| drop wrapped.meta.l "
    "| had_l:=has(wrapped.meta.l), origin:=wrapped.meta.origin "
    "| cut doc_id, origin, had_l"
)

# left join spelling: unmatched left rows keep nulls in the embedded
# right-side fields (README.md-style user rules use this for optional
# denormalization)
_q_zq_left_join = _zq(
    'fork ( => from orders => from customer | c_mktsegment=="BUILDING" ) '
    "| left join on o_custkey=c_custkey cname:=c_name "
    "| cut o_orderkey, o_custkey, cname"
)

# top: bounded-memory best-N (TakeOrderedAndProject)
_q_zq_top = _zq(
    "from documents | top 5 n_chars, doc_id | cut doc_id, source, n_chars"
)


def _q_zq_interval_shift(spark, sf):
    """Timestamp-duration arithmetic (`ts + 90m`) under the oracle."""
    df = _zq("from events | t2:=ts + 90m | cut event_id, t2")(spark, sf)
    return df.select(
        "event_id", F.date_format("t2", "yyyy-MM-dd HH:mm:ss").alias("t2")
    )


def _q_zq_every_bucket(spark, sf):
    """`by every(1h)` — Zed's duration-bucketed time grouping over the
    implicit ts field; formatted for engine-neutral comparison."""
    df = _zq("from events | n:=count() by every(1h), event_type")(spark, sf)
    return df.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        "n",
    )


# r7 function-library depth: the string/regex/time functions a shaper
# over raw log topics reaches for first (Zed func docs; compiled to pure
# JVM expressions in zedql/compiler.py — regexp/grok are one rlike guard
# plus static regexp_extracts, zero Python in the executor path).

_q_zq_regexp_funcs = _zq(
    "from events "
    '| m := regexp(/"k": ([0-9]+)/, props) '
    "| kv := int64(m[1]) "
    '| lev := levenshtein(event_type, "click") '
    '| clean := regexp_replace(props, /[0-9]+/, "#") '
    "| cut event_id, kv, lev, clean"
)


def _q_zq_strftime_bucket(spark, sf):
    """strftime (C directives -> compile-time Java-pattern translation)
    + bucket(expr, dur) — the explicit-field sibling of every()."""
    df = _zq(
        "from events "
        '| day := strftime("%Y-%m-%d", ts) '
        "| b := bucket(ts, 15m) "
        "| n := count(), lo := min(event_id) by day, b"
    )(spark, sf)
    return df.select(
        "day",
        F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n",
        "lo",
    )


_q_zq_flatten = _zq(
    "from documents "
    "| over flatten({id: doc_id, meta: {lang: lang, n: n_chars}}) "
    # over spreads the {key, value} leaf records to top level
    '| k := join(key, ".") '
    "| v := value "
    "| cut k, v"
)

# lateral over-scope: per-document token stats with parent bindings in
# scope — one explode + one partial-agg groupBy keyed by parent, no
# per-parent task (compiler._over lateral form)
_q_zq_over_scope = _zq(
    "from documents "
    '| over split(text, " ") with d = doc_id, l = lang '
    '=> ( where value != "" | toks := count(), first := min(value) by d, l )'
)

# inner sort in a lateral scope (r11: the last over-scope gate closed):
# per-parent element order pinned by a pid-partitioned row_number —
# bounded by the array length, shuffled on the same parent key the
# lateral aggregate needs anyway — and preserved by collect() via an
# ordered array collect (sort_array of (rank, value) pairs, pure column
# algebra).  Zed `over ... => ( sort ... | collect ... )`.
_q_zq_over_sort_collect = _zq(
    "from documents "
    '| over split(text, " ") with d = doc_id '
    '=> ( where value != "" | sort -r value | toks := collect(value) by d ) '
    # serialize the collected array (space-joined; tokens were split on
    # space so the delimiter is unambiguous) — the driver's canonicalizer
    # hashes scalar columns only, the `collect_bundle` convention
    '| toks := join(toks, " ") '
    "| sort d | head 50"
)

# per-parent top-k inside the lateral scope (r11: sort | head N over
# the pid-ranked elements — the lateral form of `top`); collect
# preserves the ranked order via the ordered array collect
_q_zq_over_topk = _zq(
    "from documents "
    '| over split(text, " ") with d = doc_id '
    '=> ( where value != "" | sort -r value | head 3 '
    "| top3 := collect(value) by d ) "
    # serialize (driver canonicalizer: scalar columns only)
    '| top3 := join(top3, " ") '
    "| sort d | head 100"
)

# unflatten with a static key set (r11: the other declared zedql gate):
# the idiomatic dynamic-leaf rewrite — flatten a record, filter leaves
# in the lateral scope, unflatten the survivors.  The key set comes
# from the program's flatten() (compiler._FLATTEN_SRC), so the rebuild
# is map_from_entries + one map access per statically-known leaf; the
# filtered-out leaf (event_type='click') comes back null.
_q_zq_unflatten_filter = _zq(
    "from events "
    "| over flatten({id: event_id, et: event_type, u: user_id, v: value}) "
    "with k = event_id "
    '=> ( where value != "click" '
    "| lv := collect({key: key, value: value}) by k ) "
    "| u := unflatten(lv) "
    "| uid := u.id | et := u.et | uu := u.u | uv := u.v "
    "| cut k, uid, et, uu, uv"
)

_q_zq_sample = _zq(
    # sample/shapes: one deterministic representative per shape (struct-
    # min over the data columns; a single static shape here, so one row)
    "from events | cut event_id, user_id, event_type, value | sample"
)

_q_zq_grok = _zq(
    "from documents "
    '| g := grok("%{WORD:w1} %{WORD:w2} %{GREEDYDATA:rest}", text) '
    "| w1 := g.w1 | w2 := g.w2 "
    "| n := count() by w1, w2 "
    "| sort -r n, w1, w2 | head 25"
)


# ---------------------------------------------------------------------------
# round 7: distributed sketches (operators/sketches.py) + fixed-point
# PageRank (operators/graph.py) — the approximate-counting toolkit a
# 100 TB curation pipeline uses where exact answers would shuffle the
# full key set.  Every sketch is integer-exact, so the DuckDB oracle
# reproduces it bit-for-bit (see sketches.py module docstring).


def _q_hll_distinct(spark, sf):
    """HyperLogLog distinct-count over lineitem.l_partkey (p=12, 4096
    registers, ~1.6% expected error), with the exact count alongside so
    the error is visible in the checked result.  Build = one narrow
    projection + one partial-aggregated groupBy: the exchange carries at
    most 4096 rows per input partition no matter the corpus size —
    versus countDistinct's shuffle of every distinct key."""
    from zinger_spark.operators import sketches as zsk

    li = _t(spark, sf, "lineitem")
    est = zsk.hll_estimate(li, "l_partkey", p=12)
    exact = li.groupBy().agg(
        F.countDistinct("l_partkey").cast("long").alias("exact")
    )
    return est.crossJoin(exact).select(
        "estimate", "exact", "nonzero_registers", "s_stat"
    )


def _q_hll_by_group(spark, sf):
    """Per-group HLL: distinct users per event type (p=10).  Shuffle key
    is (group, bucket) — at most |groups| * 1024 rows survive the
    map-side combine, the pattern that replaces countDistinct(group,
    user) at 100 TB."""
    from zinger_spark.operators import sketches as zsk

    ev = _events(spark, sf)
    return zsk.hll_by_group(ev, "event_type", "user_id", p=10).orderBy(
        "event_type"
    )


def _q_hll_merge_rollup(spark, sf):
    """Sketch mergeability — the property that makes HLL the right
    cross-day / cross-datacenter rollup: per-source register sketches of
    the documents' content fingerprints, merged register-wise (max) into
    a global estimate.  One row per source plus an ALL row; the ALL
    estimate comes from the merged registers only, never re-reading the
    data."""
    from zinger_spark.operators import sketches as zsk
    from zinger_spark.operators.sketches import _estimate_from_registers

    P = 12
    docs = _t(spark, sf, "documents").select(
        "source", ztext.fingerprint(F.col("text")).alias("fp")
    )
    m = 1 << P
    rho_bits = zsk.HASH_BITS - P
    h = ztext.md5_hash60(F.col("fp").cast("string"))
    per_src = (
        docs.select(
            "source",
            (h % m).alias("bucket"),
            zsk._rho(F.shiftright(h, P), rho_bits).alias("r"),
        )
        .groupBy("source", "bucket")
        .agg(F.max("r").alias("register"))
    )
    merged = per_src.groupBy("bucket").agg(F.max("register").alias("register"))
    per_est = _estimate_from_registers(per_src, P, ["source"])
    all_est = _estimate_from_registers(merged, P, []).select(
        F.lit("ALL").alias("source"), "estimate", "nonzero_registers", "s_stat"
    )
    return per_est.unionByName(all_est).orderBy("source")


def _q_kmv_distinct(spark, sf):
    """K-minimum-values distinct estimate over orders.o_custkey (k=256).
    The k smallest hashes compile to TakeOrderedAndProject — per-
    partition heaps, no global sort (audited)."""
    from zinger_spark.operators import sketches as zsk

    return zsk.kmv_distinct(_t(spark, sf, "orders"), "o_custkey", k=256)


def _q_countmin_heavy_hitters(spark, sf):
    """Count-Min heavy hitters over document tokens: build the 4x1024
    counter grid (one groupBy over a 4-way posexplode; the grid is
    fixed-size whatever the corpus), then point-query the exact top-20
    tokens and report estimate vs truth — CM may overestimate (bucket
    collisions), never underestimate."""
    from zinger_spark.operators import sketches as zsk

    D, W = 4, 1024
    toks = (
        _t(spark, sf, "documents")
        .select(F.explode(ztext.tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
    )
    sketch = zsk.countmin_sketch(toks, "token", d=D, w=W)
    true_top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), "token")
        .limit(20)
        # r12 tried-and-rejected: localCheckpoint here (two consumers)
        # measured 1.28 -> 1.45 s interleaved at sf0.1 — the duplicate
        # TakeOrdered legs run in parallel on idle cores while the
        # checkpoint serializes the action behind a barrier.
    )
    return (
        zsk.countmin_estimates(sketch, true_top, "token", d=D, w=W)
        .join(true_top, "token")
        .select("token", "true_count", "cm_estimate")
    )


def _q_bloom_contamination(spark, sf):
    """Benchmark contamination via a Bloom filter (m=2^16 bits, k=3)
    instead of a raw n-gram join: the probe side collapses to <= 3 x
    |benchmark n-grams| distinct bit positions — bounded and
    broadcastable at any corpus size.  Flags corpus docs with >= 3
    maybe-contaminated trigrams; includes the deterministic false
    positives the (m, k) choice implies (Bloom guarantees no false
    NEGATIVES, which is the direction contamination screening needs)."""
    from zinger_spark.operators import sketches as zsk

    M, K = 1 << 16, 3
    docs = _t(spark, sf, "documents")
    # build side explodes ONLY the benchmark docs (1/40 of the corpus)
    # and collapses to <= M bit positions before the one bounded
    # driver collect; the corpus side never materializes, never joins:
    # bloom_maybe_member ships the 8 KiB bitmap inside the plan and the
    # probe is k JVM bit-tests per shingle, so the whole query is one
    # corpus scan + one doc_id agg shuffle (was: full-corpus
    # localCheckpoint + posexplode x3 + broadcast join + (doc_id, s)
    # shuffle — 5.1 s -> ~1 s at sf0.1)
    bench = docs.filter(F.col("doc_id") % 40 == 0).select(
        F.explode(ztext.word_shingles(F.col("text"), 3)).alias("s")
    )
    bitmap = zsk.bloom_bitmap(zsk.bloom_bits(bench, "s", m_bits=M, k=K), M)
    probe_docs = docs.filter(F.col("doc_id") % 40 != 0)
    # the sf parquet is one unsplittable row group, so the md5-heavy
    # shingle stage would run on one core; rebalance ONLY when the scan
    # is narrower than the session's parallelism (at production scale
    # the scan already has >= defaultParallelism splits and this branch
    # never fires — no gratuitous full-text shuffle at 100 TB)
    want = spark.sparkContext.defaultParallelism
    if probe_docs.rdd.getNumPartitions() < want:
        probe_docs = probe_docs.repartition(want, "doc_id")
    corpus = probe_docs.select(
        "doc_id", F.explode(ztext.word_shingles(F.col("text"), 3)).alias("s")
    )
    return (
        corpus.filter(zsk.bloom_maybe_member(F.col("s"), bitmap, M, K))
        # countDistinct(s): duplicate shingles within a doc count once,
        # matching the join form's distinct-(doc_id, s) grouping
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("flagged_ngrams"))
        .filter(F.col("flagged_ngrams") >= 3)
    )


def _q_weighted_sample(spark, sf):
    """Weight-proportional document sample (weight = n_chars, n = 50)
    via integer fixed-point priority sampling — Efraimidis-Spirakis
    shape with (h30 << 30) div weight priorities, so selection is exact
    and engine-identical (no float pow/ln whose last ulp could flip a
    near-tie).  Global form compiles to TakeOrderedAndProject."""
    from zinger_spark.operators import sketches as zsk

    docs = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return zsk.weighted_priority_sample(docs, "n_chars", n=50, seed="wps")


def _q_pagerank(spark, sf):
    """Fixed-point PageRank (integer ranks scaled 1e9, 4 iterations,
    d=0.85) over the symmetrized supplier-customer trade graph — the
    link-quality score a curation pipeline weights documents by.
    Integer sums are order-independent, so the result is bit-identical
    across engines and partitionings; per-iteration shape is one hash
    join + one partial-aggregated groupBy (graph.py docstring).  Top-20
    hubs by rank.

    Scale shape of the SETUP (measured to dominate the whole query at
    sf0.1): the loop runs on bigint node ids (supplier -> 2k, customer
    -> 2k+1) rather than 's123'/'c456' strings — hashing/compares in
    every shuffle touch 8 fixed bytes, and the 20-row tail is the only
    place labels exist.  The directed pair set is deduped ONCE (587k
    rows at sf0.1) and then symmetrized; the two directions can't
    collide (src parity differs), so the union stays distinct by
    construction and the operator's own edge dedup — a second full
    shuffle of the doubled edge list — is skipped via
    ``dedup_edges=False``."""
    from zinger_spark.operators.graph import pagerank_fixed_point

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    fwd = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey").cast("long") * 2).alias("src"),
            (F.col("o_custkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # symmetric=True: the union makes every node a src, so the node set
    # derives from one column; the operator's measured-node-count
    # broadcast path makes each iteration a map-side pass over the
    # cached edges (r12 optimization)
    pr = pagerank_fixed_point(
        edges, iterations=4, dedup_edges=False, symmetric=True
    )
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("s"), F.expr("node div 2")),
    ).otherwise(F.concat(F.lit("c"), F.expr("(node - 1) div 2")))
    return pr.select(label.alias("node"), "rank").orderBy(F.desc("rank"), "node").limit(20)


def _q_range_join_bands(spark, sf):
    """Interval/range join as a bucketized equi-join: classify every
    order into an irregular price tier ([lo, hi) bands) and aggregate
    per tier.  The naive `v >= lo AND v < hi` theta join plans
    BroadcastNestedLoopJoin (every fact probes every band — a
    scale-killer when the band table is 10^6 IP ranges instead of 7
    tiers); bucketed_range_join quantizes both sides onto a 25k grid so
    the join is a hash equi-join with a residual range filter
    (relational.py docstring; the Databricks range-join-hint / Flink
    interval-join optimization, hand-rolled).  Plan-audited: no BNLJ,
    no cartesian product."""
    from pyspark.sql import Row

    from zinger_spark.operators.relational import bucketed_range_join

    bands = spark.createDataFrame(
        [
            Row(lo=0.0, hi=1000.0, tier="T0"),
            Row(lo=1000.0, hi=5000.0, tier="T1"),
            Row(lo=5000.0, hi=20000.0, tier="T2"),
            Row(lo=20000.0, hi=50000.0, tier="T3"),
            Row(lo=50000.0, hi=100000.0, tier="T4"),
            Row(lo=100000.0, hi=200000.0, tier="T5"),
            Row(lo=200000.0, hi=600000.0, tier="T6"),
        ]
    )
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    joined = bucketed_range_join(
        orders, bands, "o_totalprice", "lo", "hi", bucket_width=25000
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


def _q_zq_network_of(spark, sf):
    """Zed network functions (`network_of`, `cidr_match` — the Zeek/
    flow-log workhorses of the reference's ecosystem) plus Zed string
    `+` concatenation, all through the zedql dialect.  IPs synthesized
    from event columns; both functions are pure JVM bit arithmetic
    (functions/net.py) so the filter pipelines into the scan."""
    from zinger_spark.zedql.compiler import zed_transform

    ev = _events(spark, sf)
    t = zed_transform(
        'ip := "10." + string(user_id % 200) + ".0." + string(event_id % 250) '
        '| keep := cidr_match("10.64.0.0/10", ip) '
        '| net := network_of(ip, 12) '
        '| cut event_id, ip, keep, net'
    )
    return t(ev)


def _q_zq_shape_funcs(spark, sf):
    """Zed shaping functions through the dialect: shape / fill / crop /
    order over a record built from event columns (Zed language docs,
    shaping section; datamodel.py shape_type et al — recursive JVM
    struct rebuilds, no UDFs).  The output flattens the shaped structs
    to scalars and pins each result's SCHEMA SIGNATURE as a checked
    column, so the oracle verifies field order and crop/fill membership,
    not just values."""
    from zinger_spark.zedql.compiler import zed_transform

    ev = _events(spark, sf)
    prog = (
        "type t = {t: string, v: float64, missing: int64}\n"
        "rec := {v: user_id, t: event_type, extra: value}\n"
        "| s := shape(rec, <t>) | c := crop(rec, <t>) | o := order(rec, <t>)"
        " | cut event_id, s, c, o"
    )
    out = zed_transform(prog)(ev)
    sig = {name: dict(out.dtypes)[name] for name in ("s", "c", "o")}
    return out.select(
        "event_id",
        F.col("s.t").alias("s_t"),
        F.col("s.v").alias("s_v"),
        F.col("s.missing").alias("s_missing"),
        F.col("s.extra").alias("s_extra"),
        F.col("c.v").alias("c_v"),
        F.col("o.t").alias("o_t"),
        F.lit(sig["s"]).alias("shape_sig"),
        F.lit(sig["c"]).alias("crop_sig"),
        F.lit(sig["o"]).alias("order_sig"),
    )


def _q_zq_parse_uri(spark, sf):
    """Zed `parse_uri` through the dialect: synthesize a URL per
    document, parse it back into its record parts, flatten for the
    check.  The parser is the shared RFC 3986 appendix-B regex
    (functions/net.py) the oracle reproduces verbatim in DuckDB."""
    from zinger_spark.zedql.compiler import zed_transform

    docs = _t(spark, sf, "documents")
    prog = (
        'url := "https://" + source + ".example.com:8443/docs/"'
        ' + string(doc_id) + "?lang=" + lang + "#top"\n'
        "| p := parse_uri(url)\n"
        "| cut doc_id, url, p"
    )
    out = zed_transform(prog)(docs)
    return out.select(
        "doc_id", "url",
        F.col("p.scheme").alias("scheme"), F.col("p.host").alias("host"),
        F.col("p.port").alias("port"), F.col("p.path").alias("path"),
        F.col("p.query").alias("query"), F.col("p.fragment").alias("fragment"),
    )


def _q_ann_ivf_index(spark, sf):
    """ANN over a PERSISTED IVF index (similarity.build_ivf_index):
    assignments parquet partitioned by cell + centroid table, built once
    per sf (rebuilt only if absent) and probed with a partition filter —
    a query opens only its n_probe cells' files, ~n_probe/k of the
    corpus, the serving layout that amortizes assignment across queries
    instead of recomputing it per query like ann_ivf_topk.  The oracle
    recomputes the same deterministic assignment from the base table,
    proving index CONTENT; the plan audit proves the PRUNED read."""
    import os as _os

    from zinger_spark.operators.similarity import build_ivf_index, ivf_index_topk

    emb = _t(spark, sf, "embeddings")
    idx = f"/tmp/zinger_ivf_idx_{_os.path.basename(_os.path.normpath(sf))}"
    if not _os.path.exists(f"{idx}/assignments/_SUCCESS"):
        cents = [
            [float(x) for x in r["embedding"]]
            for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
        ]
        build_ivf_index(emb, cents, idx)
    out = ivf_index_topk(spark, idx, _query_vec(), k=20, n_probe=2)
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    return out.select("vec_id", F.row_number().over(w).alias("rank"))


def _q_hdr_quantiles(spark, sf):
    """Percentiles WITHOUT a sort: HDR-style log-linear histogram
    (sketches.hdr_histogram, ~64*2^mb buckets, one partial-aggregated
    groupBy) + exact-integer interpolation (hdr_quantiles).  Unlike the
    exact `percentiles` key this sketch MERGES across slices/days by
    adding counts, and its shuffle is bounded-rows like HLL — the shape
    that answers p99 over 100 TB of latencies.  mb=4 bounds relative
    error at ~6%; measured ~0.1-0.6% on this distribution."""
    from zinger_spark.operators import sketches as zsk

    cents = _t(spark, sf, "lineitem").select(
        (F.col("l_extendedprice").cast("decimal(18,4)") * 100)
        .cast("long")
        .alias("cents")
    )
    hist = zsk.hdr_histogram(cents, "cents", mantissa_bits=4)
    return zsk.hdr_quantiles(hist, [0.5, 0.9, 0.99, 0.999])


def _q_source_overlap_sketch(spark, sf):
    """Cross-source vocabulary overlap in SKETCH SPACE (KMV Jaccard,
    Beyer et al. 2007): per-source signatures = 256 smallest distinct
    token hashes (one pass, fixed-size per source), pairwise overlap =
    array ops over the signatures — #sources² sketch-sized work instead
    of the token-keyed self-join the exact source_vocab_overlap key
    pays.  common/denom are exact ints; the ratio is one division, so
    the estimate is engine-exact."""
    from zinger_spark.operators import sketches as zsk

    toks = (
        _t(spark, sf, "documents")
        .select("source", F.explode(ztext.tokens(F.col("text"))).alias("t"))
        .filter(F.col("t") != "")
    )
    sigs = zsk.kmv_group_signatures(toks, "source", "t", k=256)
    return zsk.kmv_pairwise_jaccard(sigs, "source", k=256)


def _q_kmeans_centroids(spark, sf):
    """Distributed Lloyd's k-means in fixed-point integer arithmetic
    (similarity.kmeans_fixed_point, k=8, 2 iterations) — the offline
    step that produces REAL IVF centroids, deterministic across engines
    and partitionings (float k-means converges to partition-order-
    dependent centroids; a lake index must be reproducible).  Long-
    format points, broadcast centroid joins, keyed partial-agg shuffles
    per round; oracle = unrolled CTE chain, integer div parity verified
    (both engines truncate toward zero).  The quantize step casts to
    DOUBLE on BOTH sides: DuckDB's FLOAT * INT stays float32, and at
    sf1 six elements floor differently under float32 than double (the
    r9 scale sweep caught exactly this divergence class)."""
    from zinger_spark.operators.similarity import kmeans_fixed_point

    emb = _t(spark, sf, "embeddings")
    return kmeans_fixed_point(emb, k=8, iterations=2)


def _sql_kmeans(iterations: int = 2, k: int = 8, quant: int = 1000, cscale: int = 1024, dims: int = 64) -> str:
    """Unrolled fixed-point k-means mirroring kmeans_fixed_point."""
    ctes = [f"""
    pts AS (
      SELECT vec_id AS id, CAST(r AS INT) AS d,
             CAST(floor(CAST(embedding[CAST(r AS INT) + 1] AS DOUBLE) * {quant}) AS BIGINT) AS x
      FROM embeddings, (SELECT unnest(range({dims})) AS r)
    ),
    seed AS (
      SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cluster
      FROM (SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT {k})
    ),
    c0 AS (
      SELECT s.cluster, p.d, p.x * {cscale} AS c
      FROM pts p JOIN seed s USING (id)
    )"""]
    for i in range(iterations):
        ctes.append(f"""
    d{i + 1} AS (
      SELECT p.id, c.cluster,
             SUM((p.x * {cscale} - c.c) * (p.x * {cscale} - c.c)) AS dist
      FROM pts p JOIN c{i} c USING (d)
      GROUP BY p.id, c.cluster
    ),
    a{i + 1} AS (
      SELECT id, cluster FROM (
        SELECT id, cluster,
               row_number() OVER (PARTITION BY id ORDER BY dist, cluster) AS rn
        FROM d{i + 1}
      ) WHERE rn = 1
    ),
    c{i + 1} AS (
      SELECT a.cluster, p.d, CAST(SUM(p.x) * {cscale} // COUNT(*) AS BIGINT) AS c
      FROM pts p JOIN a{i + 1} a USING (id)
      GROUP BY a.cluster, p.d
    )""")
    return (
        "WITH " + ",".join(ctes)
        + f"\n    SELECT cluster, d, c FROM c{iterations}"
    )


# ---------------------------------------------------------------------------
# round 10: IVF-PQ (Jégou, Douze & Schmid, TPAMI 2011) — the persisted
# ANN index compressed with product quantization: M=8 sub-codebooks of
# ksub=16 centroids over 8-dim subvectors (32 bits/vector), codes
# instead of vectors in
# the cells (serving memory M small ints vs D floats per vector), query
# answered by integer ADC over only the probed cells' files.  All
# training/encoding/ADC arithmetic is fixed-point int64 (the
# kmeans_fixed_point discipline), so codes and distances are
# bit-identical across engines — the oracle retrains the codebooks,
# re-encodes, and recomputes ADC in pure SQL.

_PQ_M = 8
_PQ_KSUB = 16
_IVFPQ_VERSION = "v1"  # bump when pq_train / build_ivfpq_index change
_PQ_ITER = 2
_PQ_DIMS = 64
_PQ_QUANT = 1000
_PQ_CSCALE = 1024


def _ivfpq_index(spark, sf: str) -> str:
    """Deterministic IVF-PQ index fixture, cached under /tmp.

    Keyed on md5(absolute sf path + version tag) — not the SF dir's
    basename — so two SF dirs sharing a basename, or a pq_train code
    change (bump _IVFPQ_VERSION), never serve a stale index; built in
    a tmp dir and atomically renamed (same pattern as
    _etl_multi_fixture) so concurrent builders can't expose a
    partially-written index.
    """
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil

    from zinger_spark.operators.similarity import build_ivfpq_index, pq_train

    emb = _t(spark, sf, "embeddings")
    slug = _hashlib.md5(
        (_os.path.abspath(sf) + ":" + _IVFPQ_VERSION).encode()
    ).hexdigest()[:10]
    idx = f"/tmp/zinger_ivfpq_idx_{slug}"
    if _os.path.exists(f"{idx}/_DONE"):
        return idx
    tmp = f"{idx}.tmp.{_os.getpid()}"
    if _os.path.exists(tmp):
        _shutil.rmtree(tmp)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    books = pq_train(
        emb, m=_PQ_M, ksub=_PQ_KSUB, iterations=_PQ_ITER, dims=_PQ_DIMS,
        quant=_PQ_QUANT, cscale=_PQ_CSCALE,
    )
    build_ivfpq_index(
        emb, cents, books, tmp, m=_PQ_M, dims=_PQ_DIMS, quant=_PQ_QUANT
    )
    open(_os.path.join(tmp, "_DONE"), "w").close()
    try:
        _os.rename(tmp, idx)
    except OSError:
        _shutil.rmtree(tmp, ignore_errors=True)  # lost the race: reuse winner
    return idx


def _q_ann_ivfpq(spark, sf):
    """ANN over the persisted IVF-PQ index: coarse probe (2 of 8 cells,
    partition-pruned scan of the CODE files — M ints per vector, never
    the vectors), broadcast ADC table (m*ksub rows), one partial-agg
    groupBy(id), TakeOrdered 20 by exact integer ADC distance."""
    from zinger_spark.operators.similarity import ivfpq_index_topk

    idx = _ivfpq_index(spark, sf)
    return ivfpq_index_topk(
        spark, idx, _query_vec(), k=20, n_probe=2,
        m=_PQ_M, dims=_PQ_DIMS, quant=_PQ_QUANT,
    )


def _q_ivfpq_recall(spark, sf):
    """The quantization-audit key (minhash_lsh_recall's analog for PQ):
    recall@20 of the IVF-PQ answer against the exact brute-force cosine
    top-20 over the SAME corpus, both computed in-engine.  One bounded
    row out — k, hit count, recall — so the compression's accuracy cost
    is measured, not asserted."""
    from zinger_spark.operators.similarity import brute_force_topk, ivfpq_index_topk

    emb = _t(spark, sf, "embeddings")
    idx = _ivfpq_index(spark, sf)
    approx = ivfpq_index_topk(
        spark, idx, _query_vec(), k=20, n_probe=2,
        m=_PQ_M, dims=_PQ_DIMS, quant=_PQ_QUANT,
    )
    truth = brute_force_topk(emb, _query_vec(), k=20)
    hits = approx.select("vec_id").join(truth.select("vec_id"), "vec_id")
    return hits.agg(
        F.lit(20).alias("k"),
        F.count(F.lit(1)).alias("hits"),
        F.round(F.count(F.lit(1)) / 20.0, 4).alias("recall"),
    )


def _q_ann_ivfpq_rerank(spark, sf):
    """The production IVF-PQ serving shape: integer-ADC candidates
    (top-100 from the probed cells' CODE files) re-ranked exactly on
    the full vectors of just those 100 — a broadcast semi-join fetch,
    never a corpus shuffle.  Recovers the quantization recall
    (ivfpq_recall measures the no-rerank floor)."""
    from zinger_spark.operators.similarity import ivfpq_rerank_topk

    emb = _t(spark, sf, "embeddings")
    idx = _ivfpq_index(spark, sf)
    out = ivfpq_rerank_topk(
        spark, idx, emb, _query_vec(), k=20, n_candidates=100, n_probe=2,
        m=_PQ_M, dims=_PQ_DIMS, quant=_PQ_QUANT,
    )
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    return out.select("vec_id", F.row_number().over(w).alias("rank"))


def _sql_pq_ctes() -> str:
    """Codebook-training + encoding CTE chain mirroring pq_train /
    pq_encode: the _sql_kmeans unroll with a subspace key m."""
    sub = _PQ_DIMS // _PQ_M
    q, cs = _PQ_QUANT, _PQ_CSCALE
    ctes = [f"""
    ppts AS (
      SELECT vec_id AS id,
             CAST(r // {sub} AS INT) AS m,
             CAST(r % {sub} AS INT) AS d,
             CAST(floor(CAST(embedding[CAST(r AS INT) + 1] AS DOUBLE) * {q}) AS BIGINT) AS x
      FROM embeddings, (SELECT unnest(range({_PQ_DIMS})) AS r)
    ),
    pseed AS (
      SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cluster
      FROM (SELECT vec_id AS id FROM embeddings ORDER BY vec_id LIMIT {_PQ_KSUB})
    ),
    cb0 AS (
      SELECT p.m, s.cluster, p.d, p.x * {cs} AS c
      FROM ppts p JOIN pseed s USING (id)
    )"""]
    for i in range(_PQ_ITER):
        ctes.append(f"""
    pd{i + 1} AS (
      SELECT p.id, p.m, c.cluster,
             SUM((p.x * {cs} - c.c) * (p.x * {cs} - c.c)) AS dist
      FROM ppts p JOIN cb{i} c ON p.m = c.m AND p.d = c.d
      GROUP BY p.id, p.m, c.cluster
    ),
    pa{i + 1} AS (
      SELECT id, m, cluster FROM (
        SELECT id, m, cluster,
               row_number() OVER (PARTITION BY id, m ORDER BY dist, cluster) AS rn
        FROM pd{i + 1}
      ) WHERE rn = 1
    ),
    cb{i + 1} AS (
      SELECT a.m, a.cluster, p.d,
             CAST(SUM(p.x) * {cs} // COUNT(*) AS BIGINT) AS c
      FROM ppts p JOIN pa{i + 1} a ON p.id = a.id AND p.m = a.m
      GROUP BY a.m, a.cluster, p.d
    )""")
    # final encode against the trained codebooks + the query-side table
    ctes.append(f"""
    cdist AS (
      SELECT p.id, p.m, c.cluster,
             SUM((p.x * {cs} - c.c) * (p.x * {cs} - c.c)) AS dist
      FROM ppts p JOIN cb{_PQ_ITER} c ON p.m = c.m AND p.d = c.d
      GROUP BY p.id, p.m, c.cluster
    ),
    codes AS (
      SELECT id, m, cluster AS code FROM (
        SELECT id, m, cluster,
               row_number() OVER (PARTITION BY id, m ORDER BY dist, cluster) AS rn
        FROM cdist
      ) WHERE rn = 1
    ),
    qpts AS (
      SELECT CAST(r // {sub} AS INT) AS m, CAST(r % {sub} AS INT) AS d,
             CAST(floor(CAST(qv.q[CAST(r AS INT) + 1] AS DOUBLE) * {q}) AS BIGINT) AS qx
      FROM (SELECT {_sql_query_vec()} AS q) qv, (SELECT unnest(range({_PQ_DIMS})) AS r)
    ),
    adc AS (
      SELECT c.m, c.cluster AS code,
             SUM((s.qx * {cs} - c.c) * (s.qx * {cs} - c.c)) AS t
      FROM cb{_PQ_ITER} c JOIN qpts s ON c.m = s.m AND c.d = s.d
      GROUP BY c.m, c.cluster
    ),
    adcdist AS (
      SELECT id, CAST(SUM(t) AS BIGINT) AS adc_dist
      FROM codes JOIN adc USING (m, code)
      GROUP BY id
    )""")
    return ",".join(ctes)


def _sql_ivfpq_coarse() -> str:
    """Coarse IVF legs (same construction as the ann_ivf_topk oracle):
    cells = embeddings of vec_id < 8, probe the 2 nearest by cosine,
    assign every vector to its argmax-cosine cell."""
    qvec = _sql_query_vec()
    return f"""
    cents AS (
      SELECT vec_id AS cell, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < 8
    ),
    probe AS (
      SELECT cell FROM (
        SELECT cell, {_sql_cosine("c", f"({qvec})")} AS s FROM cents
      ) ORDER BY s DESC, cell LIMIT 2
    ),
    cpairs AS (
      SELECT e.vec_id, c.cell,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_sql_cosine("c.c", "(e.embedding::DOUBLE[])")} DESC, c.cell) AS rn
      FROM embeddings e CROSS JOIN cents c
    ),
    cassigned AS (SELECT vec_id, cell AS ivf_cell FROM cpairs WHERE rn = 1)"""


def _sql_ann_ivfpq() -> str:
    return f"""
        WITH {_sql_ivfpq_coarse()},
        {_sql_pq_ctes()}
        SELECT d.id AS vec_id, d.adc_dist
        FROM adcdist d
        JOIN cassigned a ON a.vec_id = d.id
        WHERE a.ivf_cell IN (SELECT cell FROM probe)
        ORDER BY d.adc_dist, d.id LIMIT 20"""


def _sql_ann_ivfpq_rerank() -> str:
    qvec = _sql_query_vec()
    cos = _sql_cosine("(e.embedding::DOUBLE[])", f"({qvec})")
    return f"""
        WITH {_sql_ivfpq_coarse()},
        {_sql_pq_ctes()},
        cand AS (
          SELECT d.id
          FROM adcdist d
          JOIN cassigned a ON a.vec_id = d.id
          WHERE a.ivf_cell IN (SELECT cell FROM probe)
          ORDER BY d.adc_dist, d.id LIMIT 100
        ),
        rer AS (
          SELECT e.vec_id, round({cos}, 8) AS score
          FROM embeddings e JOIN cand c ON c.id = e.vec_id
          ORDER BY score DESC, e.vec_id LIMIT 20
        )
        SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
        FROM rer"""


def _sql_ivfpq_recall() -> str:
    qvec = _sql_query_vec()
    cos = _sql_cosine("(embedding::DOUBLE[])", f"({qvec})")
    return f"""
        WITH {_sql_ivfpq_coarse()},
        {_sql_pq_ctes()},
        approx AS (
          SELECT d.id AS vec_id
          FROM adcdist d
          JOIN cassigned a ON a.vec_id = d.id
          WHERE a.ivf_cell IN (SELECT cell FROM probe)
          ORDER BY d.adc_dist, d.id LIMIT 20
        ),
        truth AS (
          SELECT vec_id FROM (
            SELECT vec_id, round({cos}, 8) AS score FROM embeddings
          ) ORDER BY score DESC, vec_id LIMIT 20
        )
        SELECT CAST(20 AS INTEGER) AS k,
               CAST(count(*) AS BIGINT) AS hits,
               round(CAST(count(*) AS DOUBLE) / 20, 4) AS recall
        FROM approx JOIN truth USING (vec_id)"""


# ---------------------------------------------------------------------------
# round 7 (late): fixed-point perceptron — a TRAINABLE quality
# classifier (operators/classifier.py), demonstrated as the canonical
# linear probe over document embeddings (y = "is cluster 0").  The
# curation suite so far *applies* filters; real pipelines also FIT
# them.  All features, weights, and updates are bigints (embeddings
# quantized by floor(x * 2^10) — exact in IEEE-754, see
# classifier.quantized_embedding_features), so training is
# bit-identical across engines; the oracle unrolls the identical
# arithmetic as one CTE group per round in long (j, x) format.

_PERC_DIMS = 64
_PERC_D = _PERC_DIMS + 1  # + bias
_PERC_ROUNDS = 8
_PERC_SCALE = 1024
_PERC_BIAS = 32
_PERC_FCOLS = [f"f{j}" for j in range(_PERC_D)]


def _perc_feats(spark, sf, with_id: bool = False):
    from zinger_spark.operators.classifier import quantized_embedding_features

    e = _t(spark, sf, "embeddings")
    cols = [F.expr("CAST(vec_id AS BIGINT)").alias("vec_id")] if with_id else []
    cols += [
        F.expr("CAST(CASE WHEN label = 0 THEN 1 ELSE -1 END AS BIGINT)").alias("y")
    ]
    cols += quantized_embedding_features(
        dims=_PERC_DIMS, scale=_PERC_SCALE, bias=_PERC_BIAS
    )
    return e.select(*cols)


def _q_perceptron_train(spark, sf):
    """Batch-perceptron training of a linear probe over the embeddings
    table (65 integer features = bias + floor(2^10 * x_j), y = "is
    cluster 0", 8 rounds with the 1/k integer step schedule).  Per
    round: the weight vector folds into the plan as literals, ONE scan
    of the persisted narrow feature frame computes margins JVM-side,
    and a global 66-column bigint agg (partial-agg — the only exchange
    carries one pre-aggregated row per partition) returns the
    misclassified-gradient; 66 scalars to the driver.  Bit-identical
    on any engine or partitioning because every update is a bigint sum
    (classifier.py module docstring).  Output: (rnd, errors, w_l1) per
    round — errors descends 500 -> 74 at sf0.01, i.e. the model
    genuinely learns the cluster."""
    from zinger_spark.operators.classifier import perceptron_train_df

    feats = _perc_feats(spark, sf)
    return perceptron_train_df(
        spark, feats, "y", _PERC_FCOLS, rounds=_PERC_ROUNDS
    ).orderBy("rnd")


def _q_perceptron_topk(spark, sf):
    """Apply the trained probe corpus-wide: margin = w . x as a pure
    JVM projection (zero shuffles beyond the 20-row TakeOrdered),
    top-20 vectors by decision value.  The train step's driver traffic
    is rounds * 66 integers; scoring never leaves whole-stage
    codegen."""
    from zinger_spark.operators.classifier import (
        perceptron_margin,
        perceptron_train,
    )

    feats = _perc_feats(spark, sf, with_id=True)
    recs = perceptron_train(
        feats.select("y", *_PERC_FCOLS), "y", _PERC_FCOLS, rounds=_PERC_ROUNDS
    )
    m = perceptron_margin(recs[-1]["weights"], _PERC_FCOLS)
    return (
        feats.select("vec_id", "y", m.alias("margin"))
        .orderBy(F.desc("margin"), "vec_id")
        .limit(20)
    )


def _q_perceptron_eval(spark, sf):
    """Confusion matrix of the trained probe: counts by (true label,
    predicted sign) — the accuracy readout a pipeline gates a
    classifier deploy on.  One scan + a 4-group partial agg."""
    from zinger_spark.operators.classifier import (
        perceptron_margin,
        perceptron_train,
    )

    feats = _perc_feats(spark, sf)
    recs = perceptron_train(feats, "y", _PERC_FCOLS, rounds=_PERC_ROUNDS)
    m = perceptron_margin(recs[-1]["weights"], _PERC_FCOLS)
    pred = F.when(m > 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
    return (
        feats.select("y", pred.alias("pred"))
        .groupBy("y", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("y", "pred")
    )


def _q_perceptron_sweep(spark, sf):
    """Threshold calibration for the trained probe: the
    precision/recall operating table a pipeline uses to pick its
    filter cutoff.  Nine integer thresholds evenly spaced over the
    margin range (from a broadcast 1-row min/max agg — trunc-div
    arithmetic, engine-exact), then ONE pass over the scored corpus
    computes the 4-cell confusion at every threshold via a broadcast
    cross join + conditional partial agg: K x 4 cells cross the
    exchange, corpus size never does."""
    from zinger_spark.operators.classifier import (
        perceptron_margin,
        perceptron_train,
    )

    feats = _perc_feats(spark, sf)
    recs = perceptron_train(feats, "y", _PERC_FCOLS, rounds=_PERC_ROUNDS)
    m = perceptron_margin(recs[-1]["weights"], _PERC_FCOLS)
    scored = feats.select("y", m.alias("margin"))
    bounds = scored.agg(
        F.min("margin").alias("_mn"), F.max("margin").alias("_mx")
    )
    ks = spark.range(1, 10).select(F.col("id").cast("long").alias("k"))
    thr = ks.crossJoin(F.broadcast(bounds)).select(
        "k", F.expr("_mn + ((_mx - _mn) * k) div 10").alias("thr")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("k", "thr")
        .agg(
            F.sum(F.expr("CAST(y = 1 AND margin > thr AS BIGINT)")).cast("long").alias("tp"),
            F.sum(F.expr("CAST(y = -1 AND margin > thr AS BIGINT)")).cast("long").alias("fp"),
            F.sum(F.expr("CAST(y = 1 AND margin <= thr AS BIGINT)")).cast("long").alias("fn"),
            F.sum(F.expr("CAST(y = -1 AND margin <= thr AS BIGINT)")).cast("long").alias("tn"),
        )
        .orderBy("k")
    )


def _sql_perceptron_sweep(rounds: int = _PERC_ROUNDS) -> str:
    return (
        "WITH " + ",".join(_sql_perceptron_ctes(rounds))
        + f""",
    mfin AS MATERIALIZED (
      SELECT f.id, f.y, CAST(SUM(r.w * f.x) AS BIGINT) AS margin
      FROM feats f JOIN r{rounds} r USING (j)
      GROUP BY f.id, f.y),
    bounds AS (SELECT MIN(margin) AS mn, MAX(margin) AS mx FROM mfin),
    thr AS (SELECT CAST(k.k AS BIGINT) AS k,
                   CAST(mn + ((mx - mn) * k.k) // 10 AS BIGINT) AS thr
            FROM (SELECT unnest(range(1, 10)) AS k) k CROSS JOIN bounds)
    SELECT t.k, t.thr,
           CAST(SUM(CASE WHEN y = 1  AND margin >  t.thr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN y = -1 AND margin >  t.thr THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN y = 1  AND margin <= t.thr THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN y = -1 AND margin <= t.thr THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM mfin CROSS JOIN thr t
    GROUP BY 1, 2 ORDER BY k"""
    )


# Oracle: the same chain in long (id, y, j, x) format — constant SQL
# size in d, and the j-keyed join/group replays the identical bigint
# sums.  DuckDB arrays are 1-based; j=0 is the bias feature.
_SQL_PERC_FEATS = f"""feats AS MATERIALIZED (
      SELECT CAST(vec_id AS BIGINT) AS id,
             CAST(CASE WHEN label = 0 THEN 1 ELSE -1 END AS BIGINT) AS y,
             CAST(j.j AS BIGINT) AS j,
             CASE WHEN j.j = 0 THEN CAST({_PERC_BIAS} AS BIGINT)
                  ELSE CAST(floor(CAST(embedding[j.j] AS DOUBLE) * {_PERC_SCALE}) AS BIGINT)
             END AS x
      FROM embeddings, (SELECT unnest(range(0, {_PERC_D})) AS j) j)"""


def _sql_perceptron_ctes(rounds: int = _PERC_ROUNDS) -> list[str]:
    """Unrolled batch-perceptron CTE chain (margins m{k}, gradient u{k},
    weights r{k}, errors e{k} per round) mirroring
    operators/classifier.perceptron_train bit-for-bit: integer margins,
    integer misclassified-gradient sums, trunc-div 1/k steps (DuckDB
    ``//`` truncates toward zero, as does the driver-side update)."""
    ctes = [
        _SQL_PERC_FEATS,
        f"r0 AS MATERIALIZED (SELECT CAST(j AS BIGINT) AS j, CAST(0 AS BIGINT) AS w"
        f" FROM (SELECT unnest(range(0, {_PERC_D})) AS j))",
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""m{k} AS MATERIALIZED (
      SELECT f.id, f.y, CAST(SUM(r.w * f.x) AS BIGINT) AS dot
      FROM feats f JOIN r{k - 1} r USING (j)
      GROUP BY f.id, f.y),
    u{k} AS MATERIALIZED (
      SELECT f.j, CAST(SUM(f.y * f.x) AS BIGINT) AS g
      FROM feats f JOIN m{k} m ON f.id = m.id
      WHERE m.y * m.dot <= 0
      GROUP BY f.j),
    e{k} AS MATERIALIZED (
      SELECT CAST(COALESCE(SUM(CASE WHEN y * dot <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS errors
      FROM m{k}),
    r{k} AS MATERIALIZED (
      SELECT r.j, CAST(r.w + COALESCE(u.g // {k}, 0) AS BIGINT) AS w
      FROM r{k - 1} r LEFT JOIN u{k} u USING (j))""")
    return ctes


def _sql_perceptron_train(rounds: int = _PERC_ROUNDS) -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS rnd, e{k}.errors,"
        f" (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM r{k}) AS w_l1 FROM e{k}"
        for k in range(1, rounds + 1)
    )
    return "WITH " + ",".join(_sql_perceptron_ctes(rounds)) + "\n" + sel + "\nORDER BY rnd"


def _sql_perceptron_topk(rounds: int = _PERC_ROUNDS) -> str:
    return (
        "WITH " + ",".join(_sql_perceptron_ctes(rounds))
        + f"""
    SELECT f.id AS vec_id, f.y, CAST(SUM(r.w * f.x) AS BIGINT) AS margin
    FROM feats f JOIN r{rounds} r USING (j)
    GROUP BY f.id, f.y
    ORDER BY margin DESC, vec_id LIMIT 20"""
    )


def _sql_perceptron_eval(rounds: int = _PERC_ROUNDS) -> str:
    return (
        "WITH " + ",".join(_sql_perceptron_ctes(rounds))
        + f""",
    mfin AS (
      SELECT f.id, f.y, SUM(r.w * f.x) AS margin
      FROM feats f JOIN r{rounds} r USING (j)
      GROUP BY f.id, f.y)
    SELECT y, CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM mfin GROUP BY 1, 2 ORDER BY y, pred"""
    )


# ---------------------------------------------------------------------------
# round 7 (late): distributed BPE merge learning (operators/bpe.py) —
# the pipeline LEARNS the tokenizer, not just counts tokens.  One
# corpus pass builds word frequencies; every merge round is
# vocab-bounded (pair-count agg + 1-row argmax + a pure-projection
# greedy re-tokenization fold).  The fold is the exact reference
# algorithm (runs `a a a a` -> `aa aa`), expressible identically as
# Spark `aggregate` and DuckDB `list_reduce` — hence hash-exact.

_BPE_MERGES = 8


def _q_bpe_learn(spark, sf):
    """Learn 8 BPE merges from the documents corpus.  Corpus touched
    once (word-frequency groupBy); each round's shuffle is bounded by
    |vocab| x max word length; driver traffic = 8 (pair, count) rows.
    Output: the merge table in rank order — deterministic tie-break
    (cnt DESC, p1, p2) makes it engine- and partitioning-exact."""
    from zinger_spark.operators.bpe import bpe_learn, word_frequencies

    docs = _t(spark, sf, "documents")
    merges, _ = bpe_learn(word_frequencies(docs), merges=_BPE_MERGES)
    df = spark.createDataFrame(
        [(m["rank"], m["p1"], m["p2"], m["cnt"]) for m in merges],
        ["rnk", "p1", "p2", "cnt"],
    )
    return df.select(
        F.col("rnk").cast("long").alias("rnk"), "p1", "p2",
        F.col("cnt").cast("long").alias("cnt"),
    ).orderBy("rnk")


def _q_bpe_vocab_tokens(spark, sf):
    """Apply the learned merge table: the final vocabulary's symbol
    inventory, weighted by word frequency — the top-20 subword tokens
    the 8-merge BPE produces.  Re-tokenization is a chained JVM fold
    over the vocab frame (never the corpus: corpus token counts derive
    from the word-frequency join, the same trick real trainers use)."""
    from zinger_spark.operators.bpe import bpe_learn, word_frequencies

    docs = _t(spark, sf, "documents")
    _, vocab = bpe_learn(word_frequencies(docs), merges=_BPE_MERGES)
    return (
        vocab.select(F.explode(F.split("s", " ")).alias("token"), "n")
        .groupBy("token")
        .agg(F.sum("n").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(20)
    )


def _sql_bpe_ctes(merges: int = _BPE_MERGES) -> list[str]:
    """Unrolled BPE trainer mirroring operators/bpe.bpe_learn: per round
    a MATERIALIZED pair count, 1-row argmax, and the identical greedy
    left-to-right list_reduce fold (prepended-sentinel init)."""
    ctes = [f"""v0 AS MATERIALIZED (
      SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS s, n FROM (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
          SELECT unnest({_sql_tokens("text")}) AS word FROM documents)
        WHERE word <> '' GROUP BY word))"""]
    for k in range(1, merges + 1):
        ctes.append(f"""pr{k} AS MATERIALIZED (
      SELECT pr[1] AS p1, pr[2] AS p2, CAST(SUM(n) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                                     i -> [syms[i], syms[i + 1]])) AS pr, n
        FROM (SELECT split(s, ' ') AS syms, n FROM v{k - 1}))
      GROUP BY 1, 2),
    t{k} AS MATERIALIZED (
      SELECT p1, p2, cnt FROM pr{k} ORDER BY cnt DESC, p1, p2 LIMIT 1),
    v{k} AS MATERIALIZED (
      -- LEFT JOIN ON TRUE, not CROSS JOIN: when pairs are exhausted
      -- before round {k}, t{k} is EMPTY and a cross join would wipe
      -- the vocabulary; the null-pair guard passes v through intact,
      -- matching bpe_learn's early break
      SELECT CASE WHEN t.p1 IS NULL THEN v.s
                  ELSE trim(list_reduce(list_prepend('', split(v.s, ' ')),
          (acc, x) -> CASE
            WHEN right(acc, length(t.p1) + 1) = ' ' || t.p1 AND x = t.p2
            THEN substring(acc, 1, length(acc) - length(t.p1) - 1) || ' ' || t.p1 || t.p2
            ELSE acc || ' ' || x END)) END AS s, v.n
      FROM v{k - 1} v LEFT JOIN t{k} t ON TRUE)""")
    return ctes


def _sql_bpe_learn(merges: int = _BPE_MERGES) -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS rnk, p1, p2, cnt FROM t{k}"
        for k in range(1, merges + 1)
    )
    return "WITH " + ",".join(_sql_bpe_ctes(merges)) + "\n" + sel + "\nORDER BY rnk"


def _sql_bpe_vocab_tokens(merges: int = _BPE_MERGES) -> str:
    return (
        "WITH " + ",".join(_sql_bpe_ctes(merges))
        + f"""
    SELECT tok AS token, CAST(SUM(n) AS BIGINT) AS cnt FROM (
      SELECT unnest(split(s, ' ')) AS tok, n FROM v{merges})
    GROUP BY 1 ORDER BY cnt DESC, token LIMIT 20"""
    )


def _q_bpe_doc_tokens(spark, sf):
    """Per-document token counts under the LEARNED tokenizer — the
    number a packing/budget pass actually needs (context-window quota
    is in subword tokens, not words).  The corpus is never re-folded:
    the merge fold runs once over the vocab frame (distinct words),
    then per-word token lengths broadcast-join back onto one exploded
    corpus pass — the word-level factorization real trainers use.
    Top 50 docs by BPE token count (ties by doc_id) keeps the output
    bounded for the hash gate."""
    from zinger_spark.operators.bpe import bpe_learn, word_frequencies

    docs = _t(spark, sf, "documents")
    _, vocab = bpe_learn(word_frequencies(docs), merges=_BPE_MERGES)
    wlen = vocab.select("word", F.size(F.split("s", " ")).alias("wtoks"))
    words = docs.select(
        "doc_id", F.explode(ztext.tokens(F.col("text"))).alias("word")
    ).where(F.col("word") != "")
    return (
        words.join(F.broadcast(wlen), "word")
        .groupBy("doc_id")
        .agg(F.sum("wtoks").cast("long").alias("n_bpe_tokens"))
        .orderBy(F.desc("n_bpe_tokens"), "doc_id")
        .limit(50)
    )


def _sql_bpe_doc_tokens(merges: int = _BPE_MERGES) -> str:
    # the vocab's word column is reconstructible from the spaced form
    # (word = s minus the separator spaces), so the mapping join needs
    # no extra carried column through the merge rounds
    return (
        "WITH " + ",".join(_sql_bpe_ctes(merges))
        + f""",
    wl AS (SELECT replace(s, ' ', '') AS word,
                  len(split(s, ' ')) AS wtoks FROM v{merges}),
    dw AS (SELECT doc_id, unnest({_sql_tokens("text")}) AS word FROM documents)
    SELECT doc_id, CAST(SUM(w.wtoks) AS BIGINT) AS n_bpe_tokens
    FROM dw JOIN wl w ON dw.word = w.word
    WHERE dw.word <> ''
    GROUP BY doc_id
    ORDER BY n_bpe_tokens DESC, doc_id LIMIT 50"""
    )


def _q_salted_skew(spark, sf):
    """The skew toolkit under the hash gate (operators/skew.py): a
    90/10-hot key distribution is the norm at 100 TB, and AQE's skew
    split only fires on sort-merge stages — these are the manual
    levers.  salted_join spreads the big side over 16 salt shards
    (small side replicated per shard — never a single melting reducer),
    then salted_agg two-phases the group-by (partials on (key, salt),
    merge on key).  Results must be IDENTICAL to the plain plan —
    that's what the oracle checks; only min/max/count legs are used so
    there is no float-sum order dependence."""
    from zinger_spark.operators.skew import salted_agg, salted_join

    ev = _events(spark, sf).select("event_type", "value")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_type"))
    joined = salted_join(ev, dim, ["event_type"], how="left", salt=16)
    out = salted_agg(
        joined,
        ["event_type"],
        {
            "n_rows": ("count", "value"),
            "min_v": ("min", "value"),
            "max_v": ("max", "value"),
            "n_type": ("max", "n_type"),
        },
        salt=16,
    )
    return out.select("event_type", "n_rows", "min_v", "max_v", "n_type")


_SQL_SALTED_SKEW = """
    WITH dim AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_type
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(e.value) AS min_v,
           max(e.value) AS max_v,
           max(d.n_type) AS n_type
    FROM events e LEFT JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
"""


def _q_rollup_cascade(spark, sf):
    """Hypertable-style cascaded rollup (operators/rollup.py): hourly
    partials from ONE pass over events, daily merged from the hourly
    PARTIALS, monthly from the daily — the raw table is never
    re-scanned per tier (at 100 TB each coarser tier aggregates a
    frame 24x / ~30x smaller than the one below).  Values are
    fixed-point cents so the cascade is bit-identical to a direct
    monthly aggregation — which is exactly what the oracle computes,
    proving mergeability end-to-end."""
    from zinger_spark.operators.rollup import cents, rollup_cascade

    ev = _events(spark, sf)
    tiers = rollup_cascade(
        ev, "ts", cents(F.col("value")), ("hour", "day", "month"),
        keys=["event_type"],
    )
    # the day tier exercises the partial-merge step (hour -> day) over
    # 30 distinct days x event types; the month tier collapses to one
    # bucket on this dataset, so check the richer tier -- both come
    # from the same cascade (month is derived from this day frame)
    day = tiers["day"]
    return day.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type", "cnt", "sum_v", "min_v", "max_v",
    ).orderBy("day", "event_type")


def _q_profile_orders(spark, sf):
    """Table profile (operators/profile.py): per-column row/null/
    distinct counts + typed min/max over orders, as one union of
    column-pruned aggregate legs — each leg's scan reads exactly its
    column (total IO = one full-width pass), runs in parallel, and
    partial-aggregates; exact countDistinct is the declared per-column
    cost (sketch path: hll_distinct)."""
    from zinger_spark.operators.profile import profile

    return profile(_t(spark, sf, "orders")).orderBy("column_name")


_SQL_PROFILE_ORDERS = """
    WITH legs AS (
      SELECT 'o_orderkey' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
             CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
             CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
             CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
             NULL, NULL
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             MIN(o_orderstatus), MAX(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
             CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
             NULL, NULL
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
             strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             MIN(o_orderpriority), MAX(o_orderpriority)
      FROM orders)
    SELECT * FROM legs ORDER BY column_name"""


def _q_embedding_gram(spark, sf):
    """Quantized Gram matrix G = X^T X over the embeddings table
    (operators/linalg.py) — the PCA/whitening prep step.  Per
    partition ONE vectorized int64 numpy matmul (the legitimate
    Arrow-kernel case: BLAS shape, not per-row Python); only 2080
    upper-triangle cells per partition cross the exchange, corpus size
    never in the shuffle.  Quantization floor(2^10 x) is IEEE-exact,
    accumulation int64 — hash-exact vs the oracle's long-format
    self-join."""
    from zinger_spark.operators.linalg import gram_matrix

    e = _t(spark, sf, "embeddings")
    return gram_matrix(e, "embedding", dims=_PERC_DIMS, scale=_PERC_SCALE).orderBy(
        "i", "j"
    )


_SQL_EMBEDDING_GRAM = f"""
    WITH xs AS MATERIALIZED (
      SELECT vec_id, j.j AS j,
             CAST(floor(CAST(embedding[j.j + 1] AS DOUBLE) * {_PERC_SCALE}) AS BIGINT) AS x
      FROM embeddings, (SELECT unnest(range(0, {_PERC_DIMS})) AS j) j)
    SELECT CAST(a.j AS INTEGER) AS i, CAST(b.j AS INTEGER) AS j,
           CAST(SUM(a.x * b.x) AS BIGINT) AS s
    FROM xs a JOIN xs b ON a.vec_id = b.vec_id AND a.j <= b.j
    GROUP BY 1, 2 ORDER BY i, j"""


def _q_zorder_key(spark, sf):
    """Morton/Z-order interleaved clustering key over (user_id, value
    cents) — the multi-dimensional file-clustering key `compact
    --zorder` sorts on (functions/zorder.py; Delta's OPTIMIZE ZORDER
    BY).  Pure JVM shift/mask integer expression with bounds from one
    broadcast 1-row agg — no Python, no driver collect; deterministic,
    so the oracle replays the key bit-for-bit."""
    from zinger_spark.functions.zorder import with_zorder_key
    from zinger_spark.operators.rollup import cents

    ev = _events(spark, sf).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        cents(F.col("value")).alias("vc"),
    )
    return (
        with_zorder_key(ev, ["user_id", "vc"], bits=8, key_col="zkey")
        .orderBy("zkey", "event_id")
        .limit(20)
    )


def _sql_zorder_key() -> str:
    # mirror with_zorder_key's two-step shape: project the scaled
    # buckets ONCE, then interleave the small references — inlining
    # per-column bounds subqueries into every bit term would repeat
    # them bits * n times
    from zinger_spark.functions.zorder import interleave_sql

    z = interleave_sql(["zs0", "zs1"], 8, "duckdb")
    return f"""
    WITH ev2 AS MATERIALIZED (
      SELECT CAST(event_id AS BIGINT) AS event_id,
             CAST(user_id AS BIGINT) AS user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
      FROM events),
    b AS (SELECT MIN(user_id) AS mn0, MAX(user_id) AS mx0,
                 MIN(vc) AS mn1, MAX(vc) AS mx1 FROM ev2),
    sc AS (
      SELECT event_id, user_id, vc,
             CASE WHEN mx0 = mn0 THEN CAST(0 AS BIGINT)
                  ELSE CAST((user_id - mn0) * 255 AS BIGINT) // CAST(mx0 - mn0 AS BIGINT) END AS zs0,
             CASE WHEN mx1 = mn1 THEN CAST(0 AS BIGINT)
                  ELSE CAST((vc - mn1) * 255 AS BIGINT) // CAST(mx1 - mn1 AS BIGINT) END AS zs1
      FROM ev2 CROSS JOIN b)
    SELECT event_id, user_id, vc, CAST({z} AS BIGINT) AS zkey
    FROM sc ORDER BY zkey, event_id LIMIT 20"""


_PCA_ITERS = 6


def _q_gram_power(spark, sf):
    """Top PCA component by fixed-point power iteration over the
    distributed Gram matrix (linalg.power_iteration) — the full
    pipeline: Arrow-kernel partial X^T X (corpus pass, bounded d^2
    exchange), then d^2-frame matvec rounds with integer trunc-div
    rescaling, bit-identical on any engine like pagerank.  The
    normalize-G-once step bounds every product by dims * scale^2 so
    int64 never overflows whatever the corpus size."""
    from zinger_spark.operators.linalg import gram_matrix, power_iteration

    e = _t(spark, sf, "embeddings")
    g = gram_matrix(e, "embedding", dims=_PERC_DIMS, scale=_PERC_SCALE)
    return power_iteration(
        g, dims=_PERC_DIMS, iterations=_PCA_ITERS, scale=_PERC_SCALE
    ).orderBy("i")


def _sql_gram_power(iterations: int = _PCA_ITERS) -> str:
    s = _PERC_SCALE
    ctes = [f"""xs AS MATERIALIZED (
      SELECT vec_id, j.j AS j,
             CAST(floor(CAST(embedding[j.j + 1] AS DOUBLE) * {s}) AS BIGINT) AS x
      FROM embeddings, (SELECT unnest(range(0, {_PERC_DIMS})) AS j) j),
    gm AS MATERIALIZED (
      SELECT a.j AS i, b.j AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS s
      FROM xs a JOIN xs b ON a.vec_id = b.vec_id AND a.j <= b.j
      GROUP BY 1, 2),
    gfull AS MATERIALIZED (
      SELECT i, j, s FROM gm
      UNION ALL SELECT j, i, s FROM gm WHERE i <> j),
    gmax AS (SELECT greatest(MAX(ABS(s)), 1) AS gmax FROM gfull),
    gn AS MATERIALIZED (
      SELECT i, j, CAST((s * {s}) // gmax AS BIGINT) AS g
      FROM gfull CROSS JOIN gmax),
    v0 AS (SELECT j.j AS j, CAST({s} AS BIGINT) AS v
           FROM (SELECT unnest(range(0, {_PERC_DIMS})) AS j) j)"""]
    for k in range(1, iterations + 1):
        ctes.append(f"""w{k} AS MATERIALIZED (
      SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS w
      FROM gn g JOIN v{k - 1} v ON g.j = v.j GROUP BY 1),
    m{k} AS (SELECT greatest(MAX(ABS(w)), 1) AS wmax FROM w{k}),
    v{k} AS MATERIALIZED (
      SELECT i AS j, CAST((w * {s}) // wmax AS BIGINT) AS v
      FROM w{k} CROSS JOIN m{k})""")
    return (
        "WITH " + ",".join(ctes)
        + f"\n    SELECT CAST(j AS INTEGER) AS i, v FROM v{iterations} ORDER BY i"
    )


def _q_centroid_drift(spark, sf):
    """Embedding drift monitor: per-label fixed-point centroid and its
    squared distance to the global centroid — the cheap corpus-health
    readout that flags a source/cluster drifting away from the mix.
    Shape: ONE posexplode + groupBy(label, dim) partial agg (exchange
    bounded by |labels| x d, never corpus), then a broadcast of the
    d-row global centroid.  Centroids are (sum * 2^10) trunc-div n, so
    the distances are integers — engine- and partitioning-exact."""
    e = _t(spark, sf, "embeddings")
    xq = e.select(
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "xv"),
    ).select(
        "label",
        "pos",
        F.expr(f"CAST(floor(CAST(xv AS DOUBLE) * {_PERC_SCALE}) AS BIGINT)").alias("x"),
    )
    per = xq.groupBy("label", "pos").agg(
        F.sum("x").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    # fixed-point means: (s * 2^10) trunc-div n (both engines truncate;
    # s may be negative, and Spark's integral `div` truncates like
    # DuckDB's `//`)
    #
    # r12 tried-and-rejected: (a) checkpointing `per` and (b) deriving
    # glob as a rollup of per's sums — both measured SLOWER at sf0.1
    # (0.52 -> 0.81 / 0.87 s interleaved A/B): the two explode legs run
    # in parallel inside one job on idle cores, while a checkpoint
    # serializes them behind a barrier and the rollup form duplicates
    # the heavier (label, pos) agg into both consumers.  On a saturated
    # cluster the 1-pass form wins; see OPTIMIZATION_r12.md.
    mean_l = per.select(
        "label", "pos", F.expr(f"(s * {_PERC_SCALE}) div n").alias("m")
    )
    glob = xq.groupBy("pos").agg(
        F.expr(f"(CAST(SUM(x) AS BIGINT) * {_PERC_SCALE}) div COUNT(*)").alias("g")
    )
    return (
        mean_l.join(F.broadcast(glob), "pos")
        .groupBy("label")
        .agg(
            F.expr("CAST(SUM((m - g) * (m - g)) AS BIGINT)").alias("dist2"),
            F.max(F.expr("m * m")).cast("long").alias("max_dim_sq"),
        )
        .join(
            _t(spark, sf, "embeddings").groupBy("label").agg(
                F.count(F.lit(1)).cast("long").alias("n")
            ),
            "label",
        )
        .select(F.col("label").cast("long").alias("label"), "n", "dist2", "max_dim_sq")
        .orderBy("label")
    )


_SQL_CENTROID_DRIFT = f"""
    WITH xq AS MATERIALIZED (
      SELECT label, j.j AS pos,
             CAST(floor(CAST(embedding[j.j + 1] AS DOUBLE) * {_PERC_SCALE}) AS BIGINT) AS x
      FROM embeddings, (SELECT unnest(range(0, {_PERC_DIMS})) AS j) j),
    per AS (
      SELECT label, pos, CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM xq GROUP BY 1, 2),
    mean_l AS (
      SELECT label, pos, (s * {_PERC_SCALE}) // n AS m FROM per),
    gmean AS (
      SELECT pos, (CAST(SUM(x) AS BIGINT) * {_PERC_SCALE}) // COUNT(*) AS g
      FROM xq GROUP BY 1),
    counts AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY 1)
    SELECT CAST(l.label AS BIGINT) AS label, c.n,
           CAST(SUM((l.m - g.g) * (l.m - g.g)) AS BIGINT) AS dist2,
           CAST(MAX(l.m * l.m) AS BIGINT) AS max_dim_sq
    FROM mean_l l JOIN gmean g USING (pos) JOIN counts c ON l.label = c.label
    GROUP BY 1, 2 ORDER BY label"""


def _q_gap_fill(spark, sf):
    """Calendar gap-filling (rollup.calendar_fill): every hour on the
    [min, max] range for every event type, counts zero-filled and the
    hourly cents sum forward-filled (last non-null per type).  The
    calendar is sequence()-exploded from a 1-row agg — bounded by the
    TIME RANGE, never the corpus — and the forward-fill window
    partitions by key, so no global sort exists anywhere."""
    from zinger_spark.operators.rollup import calendar_fill, cents, rollup_base

    ev = _events(spark, sf)
    hourly = rollup_base(ev, "ts", cents(F.col("value")), "hour", ["event_type"])
    filled = calendar_fill(hourly, "hour", ["event_type"])
    return filled.select(
        F.date_format("bucket", "yyyy-MM-dd HH").alias("hour"),
        "event_type", "cnt", "sum_v", "filled",
    ).orderBy("hour", "event_type")


_SQL_GAP_FILL = """
    WITH hourly AS MATERIALIZED (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_v
      FROM events GROUP BY 1, 2),
    cal AS (
      SELECT unnest(generate_series((SELECT MIN(bucket) FROM hourly),
                                    (SELECT MAX(bucket) FROM hourly),
                                    INTERVAL 1 HOUR)) AS bucket),
    grid AS (SELECT c.bucket, k.event_type
             FROM cal c CROSS JOIN (SELECT DISTINCT event_type FROM hourly) k),
    j AS (
      SELECT g.bucket, g.event_type,
             COALESCE(h.cnt, 0) AS cnt, COALESCE(h.sum_v, 0) AS sum_v,
             h.sum_v AS raw
      FROM grid g LEFT JOIN hourly h
        ON g.bucket = h.bucket AND g.event_type = h.event_type)
    SELECT strftime(bucket, '%Y-%m-%d %H') AS hour, event_type,
           CAST(cnt AS BIGINT) AS cnt, CAST(sum_v AS BIGINT) AS sum_v,
           CAST(COALESCE(last_value(raw IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS filled
    FROM j ORDER BY hour, event_type"""


def _q_inverted_index(spark, sf):
    """Inverted-index build (token -> document-frequency + capped
    posting sample): the serving-side artifact of a text corpus.  One
    explode + distinct gives the (doc, token) pair set; df is a
    partial-agged count per token; the posting sample ranks per token
    (window partitioned BY TOKEN — partition-local sort, AQE splits a
    hot stopword partition) and keeps the 10 smallest doc ids.  Full
    posting lists at 100 TB are the same plan minus the rank cap —
    writing them partitioned by token bucket."""
    import zinger_spark.functions.text as ztext

    docs = _t(spark, sf, "documents")
    pairs = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(ztext.tokens(F.col("text"))).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    # pairs feeds BOTH the df aggregate and the posting-sample window —
    # cut the plan so the explode + distinct runs once, not twice (r12,
    # guide §5); the cut holds narrow (doc_id, token) rows
    pairs = pairs.localCheckpoint(eager=False)
    dfreq = pairs.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("token").orderBy("doc_id"))
    posts = (
        pairs.withColumn("rn", rn)
        .where(F.col("rn") <= 10)
        .groupBy("token")
        .agg(
            # String-joined (not array-valued) so downstream tabular
            # consumers — and the driver's canonicalizer — can sort and
            # hash the column; the array form lives in
            # operators/profile.py for engine use.
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return (
        dfreq.join(posts, "token")
        .orderBy(F.desc("df"), "token")
        .limit(20)
        .select("token", "df", "postings")
    )


def _sql_inverted_index() -> str:
    # a def (not a module constant): _sql_tokens is defined further down
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id, token FROM (
        SELECT doc_id, unnest({_sql_tokens("text")}) AS token FROM documents)
      WHERE token <> ''),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM pairs GROUP BY 1),
    ranked AS (SELECT token, doc_id,
                      row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
               FROM pairs),
    posts AS (SELECT token, string_agg(doc_id, ',' ORDER BY doc_id) AS postings
              FROM ranked WHERE rn <= 10 GROUP BY 1)
    SELECT d.token, d.df, p.postings
    FROM dfreq d JOIN posts p USING (token)
    ORDER BY df DESC, token LIMIT 20"""


def _q_scd2_history(spark, sf):
    """SCD2 materialization of a change stream (operators/cdc.py —
    the downstream of the Debezium decode path): treat events as
    per-user updates, build validity intervals with ONE lead window
    partitioned by the business key (per-key sort, no global window),
    then slice the versions live at the stream midpoint.  Total order
    = (ts, event_id), so the history is engine-exact."""
    from zinger_spark.operators.cdc import scd2_history
    from zinger_spark.operators.rollup import cents

    # raw-ns bigint timestamps (the asof_join trick): interval bounds,
    # the midpoint div, and the slice comparisons are all integer ops,
    # immune to the ns-vs-us precision gap between the two engines
    ev = _events_ns(spark, sf).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").alias("tsn"),
        cents(F.col("value")).alias("vc"),
    )
    hist = scd2_history(ev, ["user_id"], "tsn", tiebreak_cols=["event_id"])
    mid = ev.agg(F.expr("(MIN(tsn) + MAX(tsn)) div 2").alias("m"))
    live = hist.crossJoin(F.broadcast(mid)).where(
        (F.col("valid_from") <= F.col("m"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("m")))
    )
    return live.select(
        "user_id",
        "event_id",
        "vc",
        F.col("valid_from").cast("long").alias("vfrom_ns"),
        F.coalesce(F.col("valid_to"), F.lit(-1)).cast("long").alias("vto_ns"),
        F.col("is_current").cast("boolean").alias("is_current"),
    ).orderBy("user_id", "event_id")


_SQL_SCD2_HISTORY = """
    WITH ev AS MATERIALIZED (
      SELECT CAST(user_id AS BIGINT) AS user_id,
             CAST(event_id AS BIGINT) AS event_id,
             CAST(epoch_ns(ts) AS BIGINT) AS tsn,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
      FROM events),
    hist AS (
      SELECT *, tsn AS valid_from,
             lead(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS valid_to
      FROM ev),
    mid AS (SELECT (MIN(tsn) + MAX(tsn)) // 2 AS m FROM ev)
    SELECT user_id, event_id, vc,
           CAST(valid_from AS BIGINT) AS vfrom_ns,
           CAST(COALESCE(valid_to, -1) AS BIGINT) AS vto_ns,
           (valid_to IS NULL) AS is_current
    FROM hist CROSS JOIN mid
    WHERE valid_from <= m AND (valid_to IS NULL OR valid_to > m)
    ORDER BY user_id, event_id"""


def _q_cohort_retention(spark, sf):
    """Cohort retention matrix — the product-analytics staple: users
    cohorted by first-seen day, activity counted per (cohort, day
    offset).  Two keyed partial-agg shuffles (first-seen per user;
    then (cohort, offset) cells) and one broadcast-sized join back;
    the matrix is days x days cells whatever the corpus size.  First
    20 cells by cohort/offset."""
    ev = _events(spark, sf).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
    cells = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort",
            F.datediff(F.col("day"), F.col("cohort")).cast("long").alias("offset_days"),
        )
        .distinct()
        .groupBy("cohort", "offset_days")
        .agg(F.count(F.lit(1)).cast("long").alias("active_users"))
    )
    return (
        cells.select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "offset_days",
            "active_users",
        )
        .orderBy("cohort", "offset_days")
        .limit(20)
    )


_SQL_COHORT_RETENTION = """
    WITH ev AS MATERIALIZED (
      SELECT CAST(user_id AS BIGINT) AS user_id, date_trunc('day', ts) AS day
      FROM events),
    first AS (SELECT user_id, MIN(day) AS cohort FROM ev GROUP BY 1),
    cells AS (
      SELECT cohort, offset_days, CAST(COUNT(*) AS BIGINT) AS active_users
      FROM (
        SELECT DISTINCT e.user_id, f.cohort,
               CAST(date_diff('day', f.cohort, e.day) AS BIGINT) AS offset_days
        FROM ev e JOIN first f USING (user_id))
      GROUP BY 1, 2)
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort, offset_days, active_users
    FROM cells ORDER BY cohort, offset_days LIMIT 20"""


def _q_event_transitions(spark, sf):
    """Per-user event-type transition matrix (the Sankey/flow query):
    lead() window PER USER pairs each event with its successor, then a
    partial-agged count per (from, to) — at most |types|^2 cells cross
    the exchange.  Top-15 transitions."""
    from pyspark.sql import Window

    ev = _events_ns(spark, sf).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").alias("tsn"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("tsn", "event_id")
    nxt = F.lead("event_type").over(w)
    return (
        ev.withColumn("next_type", nxt)
        .where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "from_type", "to_type")
        .limit(15)
    )


_SQL_EVENT_TRANSITIONS = """
    WITH ev AS MATERIALIZED (
      SELECT CAST(user_id AS BIGINT) AS user_id,
             CAST(event_id AS BIGINT) AS event_id,
             CAST(epoch_ns(ts) AS BIGINT) AS tsn, event_type
      FROM events),
    seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS to_type
      FROM ev)
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type LIMIT 15"""


def _q_join_size_estimate(spark, sf):
    """KMV join-cardinality estimate (sketches.kmv_join_size): predict
    |orders JOIN lineitem| from a k=256 key sample + two broadcast
    probe counts, with the exact size alongside so the error is
    visible in the checked result.  The probes are the only passes
    over data; the estimator itself is sketch-sized."""
    from zinger_spark.operators import sketches as zsk

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    est = zsk.kmv_join_size(orders, "o_orderkey", li, "l_orderkey", k=256)
    exact = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy()
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
    )
    return est.crossJoin(exact).select(
        "estimate", "exact", "sampled_pairs", "union_est", "sample_k"
    )


def _sql_join_size_estimate() -> str:
    space = float(1 << 60)
    return f"""
    WITH uk AS MATERIALIZED (
      SELECT key, {_sql_md5h("key")} AS h FROM (
        SELECT CAST(o_orderkey AS VARCHAR) AS key FROM orders
        UNION
        SELECT CAST(l_orderkey AS VARCHAR) FROM lineitem)),
    sample AS MATERIALIZED (SELECT key, h FROM uk ORDER BY h LIMIT 256),
    kth AS (SELECT MAX(h) AS kth, CAST(COUNT(*) AS BIGINT) AS got FROM sample),
    u AS (SELECT CASE WHEN got < 256 THEN got
                 ELSE CAST(round({255.0 * space!r} / CAST(kth AS DOUBLE)) AS BIGINT)
                 END AS union_est, got FROM kth),
    ca AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS ca
           FROM (SELECT CAST(o_orderkey AS VARCHAR) AS key FROM orders)
           WHERE key IN (SELECT key FROM sample) GROUP BY 1),
    cb AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS cb
           FROM (SELECT CAST(l_orderkey AS VARCHAR) AS key FROM lineitem)
           WHERE key IN (SELECT key FROM sample) GROUP BY 1),
    s AS (SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS s
          FROM ca JOIN cb USING (key)),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact
           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
    SELECT CAST((s.s * u.union_est) // u.got AS BIGINT) AS estimate,
           ex.exact, s.s AS sampled_pairs, u.union_est,
           CAST(u.got AS BIGINT) AS sample_k
    FROM s CROSS JOIN u CROSS JOIN ex"""


def _q_quality_blend(spark, sf):
    """Rank-normalized multi-signal quality ensemble — the standard fix
    for combining heterogeneous quality scores (length, lexical
    diversity, word length) whose raw scales don't compare: each
    signal maps to an integer milli-percentile of its own global rank,
    then the blend is their mean.  All three ranks come from the
    distributed prefix sum (operators/packing.global_row_number — no
    single-reducer Window.orderBy anywhere), and the percentile/blend
    arithmetic is integer trunc-div, so the ensemble is engine-exact.
    Top-15 docs by blended score."""
    from zinger_spark.operators import packing as zpack

    docs = _t(spark, sf, "documents")
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("s1"),
        F.expr(
            "CAST(1000 * size(array_distinct(split(trim(lower(text)), '\\\\s+')))"
            " AS BIGINT) div size(split(trim(lower(text)), '\\\\s+'))"
        ).alias("s2"),
        F.expr(
            "CAST(1000 * length(replace(text, ' ', '')) AS BIGINT)"
            " div size(split(trim(lower(text)), '\\\\s+'))"
        ).alias("s3"),
    )
    # r12: materialize the narrow (doc_id, s1, s2, s3) projection ONCE
    # (lazy localCheckpoint) — the three chained global_row_number
    # calls each range-SAMPLE their input before shuffling it, so the
    # text-splitting signal expressions were otherwise evaluated twice
    # by the first rank pass (guide §5: cache a reused intermediate;
    # the cut holds 4 longs/row).
    base = base.localCheckpoint(eager=False)
    # n stays IN the plan (1-row agg broadcast-cross-joined) instead of
    # a base.count() driver action: the blend is one job, and the base
    # projection is not computed twice (r7 advice #6).
    n_df = base.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    out = base.crossJoin(F.broadcast(n_df))
    for s in ("s1", "s2", "s3"):
        out = zpack.global_row_number(
            out, [F.col(s), F.col("doc_id")], out_col=f"_r{s}"
        ).withColumn(
            f"p{s}", F.expr(f"((_r{s} - 1) * 1000) div greatest(__n - 1, 1)")
        ).drop(f"_r{s}")
    return (
        out.select(
            "doc_id",
            F.expr("CAST((ps1 + ps2 + ps3) div 3 AS BIGINT)").alias("blend"),
            F.col("ps1").alias("p_len"),
            F.col("ps2").alias("p_lex"),
            F.col("ps3").alias("p_wlen"),
        )
        .orderBy(F.desc("blend"), "doc_id")
        .limit(15)
    )


def _sql_quality_blend() -> str:
    return f"""
    WITH base AS MATERIALIZED (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(n_chars AS BIGINT) AS s1,
             CAST(1000 * len(list_distinct({_sql_tokens("text")})) AS BIGINT)
               // len({_sql_tokens("text")}) AS s2,
             CAST(1000 * length(replace(text, ' ', '')) AS BIGINT)
               // len({_sql_tokens("text")}) AS s3
      FROM documents),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY s1, doc_id) AS r1,
             row_number() OVER (ORDER BY s2, doc_id) AS r2,
             row_number() OVER (ORDER BY s3, doc_id) AS r3
      FROM base),
    pct AS (
      SELECT doc_id,
             ((r1 - 1) * 1000) // greatest(n.n - 1, 1) AS ps1,
             ((r2 - 1) * 1000) // greatest(n.n - 1, 1) AS ps2,
             ((r3 - 1) * 1000) // greatest(n.n - 1, 1) AS ps3
      FROM ranked CROSS JOIN n)
    SELECT doc_id, CAST((ps1 + ps2 + ps3) // 3 AS BIGINT) AS blend,
           CAST(ps1 AS BIGINT) AS p_len, CAST(ps2 AS BIGINT) AS p_lex,
           CAST(ps3 AS BIGINT) AS p_wlen
    FROM pct ORDER BY blend DESC, doc_id LIMIT 15"""


def _q_token_cooccurrence(spark, sf):
    """Within-document token co-occurrence with integer lift (the
    PMI-style association miner): distinct (doc, token) pairs
    self-join PER DOCUMENT (doc-keyed equi-join — each doc contributes
    tokens²/2 pairs, the declared cost), then
    lift = 1000 * n_ab * n_docs / (n_a * n_b) in trunc-div millis.
    In production the join runs behind a document-frequency cap that
    drops stopword-grade tokens before pairing (the ngram-blocking
    guard); this corpus's 31-token synthetic vocab sits entirely above
    any useful cap, so the cap is documented rather than applied —
    465 candidate pairs total.  Top-15 by (lift, pair)."""
    import zinger_spark.functions.text as ztext

    docs = _t(spark, sf, "documents")
    pairs_src = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(ztext.tokens(F.col("text"))).alias("t"),
        )
        .where(F.col("t") != "")
        .distinct()
        # r12: three consumers (dfreq, both self-join sides) otherwise
        # each re-run the explode + distinct exchange; the cut holds
        # narrow (doc_id, token) rows (guide §5)
        .localCheckpoint(eager=False)
    )
    ndocs = docs.groupBy().agg(F.count(F.lit(1)).cast("long").alias("nd"))
    dfreq = pairs_src.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = pairs_src.select("doc_id", F.col("t").alias("ta"))
    b = pairs_src.select("doc_id", F.col("t").alias("tb"))
    ab = (
        a.join(b, "doc_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    return (
        ab.join(dfreq.select(F.col("t").alias("ta"), F.col("n").alias("n_a")), "ta")
        .join(dfreq.select(F.col("t").alias("tb"), F.col("n").alias("n_b")), "tb")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "ta", "tb", "n_ab",
            F.expr("(1000 * n_ab * nd) div (n_a * n_b)").alias("lift_milli"),
        )
        .orderBy(F.desc("lift_milli"), "ta", "tb")
        .limit(15)
    )


def _sql_token_cooccurrence() -> str:
    return f"""
    WITH p AS MATERIALIZED (
      SELECT DISTINCT doc_id, t FROM (
        SELECT doc_id, unnest({_sql_tokens("text")}) AS t FROM documents)
      WHERE t <> ''),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1),
    ab AS (
      SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.t < b.t
      GROUP BY 1, 2)
    SELECT ab.ta, ab.tb, ab.n_ab,
           CAST((1000 * ab.n_ab * nd.nd) // (fa.n * fb.n) AS BIGINT) AS lift_milli
    FROM ab
    JOIN dfreq fa ON ab.ta = fa.t
    JOIN dfreq fb ON ab.tb = fb.t
    CROSS JOIN nd
    ORDER BY lift_milli DESC, ta, tb LIMIT 15"""


_SQL_ROLLUP_CASCADE = """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_v,
           CAST(MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_v,
           CAST(MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_v
    FROM events GROUP BY 1, 2 ORDER BY day, event_type"""


# ---------------------------------------------------------------------------
# WARC ingestion (r9, beyond-reference: the Common Crawl entry point of
# the 100-TB pipeline — sources/warc.py; the reference ingests Kafka
# only, fifo/consumer.go).  The fixture is a deterministic 8-shard
# .warc.gz rendering of the documents table, built once per SF
# driver-side (DuckDB read, ordered by doc_id, byte-stable writer), so
# the Spark side exercises the REAL streaming reader (per-record gzip
# members, one task per shard) + the JVM HTML→text chain, while the
# oracle recomputes the extraction directly from documents with the
# RE2 mirror of the same regex chain.

_WARC_FIX_DIR = "/tmp/zinger_spark_warc"

#: deterministic host mix for the fixture: plain TLDs, two-level public
#: suffixes, and three blocklisted sites — indexed by doc_id % 10 so
#: the oracle can re-derive every URI from the documents table alone
_WARC_DOMAINS = (
    "texthub.com", "archive.org", "spamfarm.biz", "blog.co.uk",
    "docs.io", "adsite.com", "paper.ac.uk", "wiki.net",
    "track.co.uk", "mirror.com",
)

_WARC_BLOCKLIST = ("spamfarm.biz", "adsite.com", "track.co.uk")


def _warc_fixture(sf_dir: str) -> list[str]:
    import hashlib

    import duckdb

    from zinger_spark.sources import warc as W

    # v2: URIs carry deterministic host structure (subdomain +
    # registered domain incl. two-level suffixes + blocklisted sites)
    # so URL-curation operators have something real to cut on; the
    # path still ends /<doc_id> for the ingest keys' id extraction
    # v3: each page also carries doc_id % 3 EMPTY-ANCHOR outlinks
    # (<a href="..."></a>) for the link-graph key — empty anchors are
    # invariant under the tag-strip extraction (tags become spaces and
    # collapse), so every text-extraction oracle is unchanged
    slug = hashlib.md5((os.path.abspath(sf_dir) + ":v3").encode()).hexdigest()[:10]
    outdir = os.path.join(_WARC_FIX_DIR, slug)
    paths = [os.path.join(outdir, f"shard{j}.warc.gz") for j in range(8)]
    marker = os.path.join(outdir, "_DONE")
    if os.path.exists(marker):
        return paths
    os.makedirs(outdir, exist_ok=True)
    con = duckdb.connect()
    src = f"{sf_dir}/documents.parquet"
    if os.path.isdir(src):
        # Spark-written tables (tools/make_scale_data.py) are a
        # directory of part files; driver testdata is a single file
        src = f"{src}/*.parquet"
    rows = con.execute(
        f"SELECT doc_id, coalesce(text, '') FROM '{src}' ORDER BY doc_id"
    ).fetchall()
    shards: list[list[dict]] = [[] for _ in range(8)]
    for doc_id, text in rows:
        esc = (
            text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )
        links = "".join(
            f'<a href="https://{("www", "cdn", "m")[(doc_id + j) % 3]}.'
            f'{_WARC_DOMAINS[(doc_id + j + 1) % len(_WARC_DOMAINS)]}'
            f'/ref/{doc_id}-{j}"></a>'
            for j in range(doc_id % 3)
        )
        html = (
            f"<html><head><title>doc {doc_id}</title>"
            f"<style>p{{margin:0}}</style></head>"
            f"<body><!-- id {doc_id} --><p>{esc}</p>{links}"
            f"<script>var n={doc_id};</script></body></html>"
        )
        dom = _WARC_DOMAINS[doc_id % len(_WARC_DOMAINS)]
        sub = ("www", "cdn", "m")[doc_id % 3]
        shards[doc_id % 8].append(
            {
                "uri": f"https://{sub}.{dom}/p{doc_id % 5}/{doc_id}",
                "body": html.encode(),
            }
        )
    for j, p in enumerate(paths):
        W.write_warc_gz(p, shards[j])
    with open(marker, "w") as f:
        f.write(str(len(rows)))
    return paths


def _q_warc_ingest(spark: SparkSession, sf: str) -> DataFrame:
    from zinger_spark.sources import warc as W

    paths = _warc_fixture(sf)
    df = W.read_warc(spark, paths)
    return df.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("bigint").alias("doc_id"),
        F.col("http_status"),
        W.html_to_text(F.col("body").cast("string")).alias("text_extract"),
    )


def _sql_warc_extract_expr() -> str:
    """The oracle's re-derivation of what the Spark side reads back out
    of the WARC fixture: the same HTML template rendered from documents
    and pushed through the RE2 mirror of html_to_text."""
    from zinger_spark.sources.warc import sql_html_to_text

    esc = "replace(replace(replace(coalesce(text,''),'&','&amp;'),'<','&lt;'),'>','&gt;')"
    doms = ", ".join(f"'{d}'" for d in _WARC_DOMAINS)

    def link(j: int) -> str:
        # mirrors the fixture writer's v3 empty-anchor outlink for slot j
        return (
            f"'<a href=\"https://' || (['www','cdn','m'])[((doc_id + {j}) % 3) + 1]"
            f" || '.' || ([{doms}])[((doc_id + {j} + 1) % {len(_WARC_DOMAINS)}) + 1]"
            f" || '/ref/' || CAST(doc_id AS VARCHAR) || '-{j}\"></a>'"
        )

    links = (
        f"(CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN {link(0)} "
        f"ELSE {link(0)} || {link(1)} END)"
    )
    tpl = (
        "'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || '</title>"
        "<style>p{margin:0}</style></head>"
        "<body><!-- id ' || CAST(doc_id AS VARCHAR) || ' --><p>' || " + esc + " || '</p>' || "
        + links
        + " || '<script>var n=' || CAST(doc_id AS VARCHAR) || ';</script></body></html>'"
    )
    return sql_html_to_text(tpl)


def _sql_warc_ingest() -> str:
    return f"""
        SELECT doc_id,
               CAST(200 AS INTEGER) AS http_status,
               {_sql_warc_extract_expr()} AS text_extract
        FROM documents"""


def _q_warc_curation(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl→corpus end-to-end, the Common Crawl curation recipe as ONE
    declarative plan: WARC streaming read → JVM HTML→text → Gopher
    shape filter → stopword language id (en) → exact-dup collapse
    (min doc_id per content fingerprint).  Composes the warc reader
    with the documents-table operators unchanged — each stage keeps its
    own 100-TB shape (per-file parallel read, shuffle-free metrics,
    partial-agg n-gram passes, one groupBy on the fingerprint)."""
    from zinger_spark.sources import warc as W

    paths = _warc_fixture(sf)
    raw = W.read_warc(spark, paths)
    docs = raw.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("bigint").alias("doc_id"),
        W.html_to_text(F.col("body").cast("string")).alias("text"),
    )
    # materialize the parse+extraction ONCE: the metric pack's three
    # consumers (scalar stats, 2-gram, 3-gram) plus the kept branch
    # would otherwise re-run the Arrow record reader 4x over the crawl
    # (fine for parquet scans, wrong for byte parsing) — same
    # localCheckpoint cut the lateral-scope compiler uses
    docs = docs.localCheckpoint(eager=True)
    metrics = _gopher_metrics(docs).select("doc_id", "passes")
    kept = (
        docs.join(metrics, "doc_id")
        .where(F.col("passes") & (ztext.lang_id(F.col("text")) == "en"))
    )
    enr = kept.select(
        "doc_id",
        ztext.fingerprint(F.col("text")).alias("content_fp"),
        ztext.token_count(F.col("text")).alias("n_tokens"),
    )
    canon = enr.groupBy("content_fp").agg(
        F.min(F.struct("doc_id", "n_tokens")).alias("k")
    )
    return canon.select(
        F.col("k.doc_id").alias("doc_id"),
        "content_fp",
        F.col("k.n_tokens").alias("n_tokens"),
    )


def _sql_warc_curation() -> str:
    return f"""
        WITH extracted AS (
          SELECT doc_id, {_sql_warc_extract_expr()} AS text FROM documents
        ),
        {_sql_gopher_ctes(src="extracted")},
        {_sql_lang_pred_ctes("extracted")},
        kept AS (
          SELECT e.doc_id, e.text
          FROM extracted e
          JOIN gq ON gq.doc_id = e.doc_id
          JOIN langp lp ON lp.doc_id = e.doc_id
          WHERE gq.passes AND lp.lang_pred = 'en'
        ),
        enr AS (
          SELECT doc_id,
                 {_SQL_CONTENT_FP} AS content_fp,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
          FROM kept
        ),
        canon AS (SELECT content_fp, min(doc_id) AS doc_id FROM enr GROUP BY 1)
        SELECT e.doc_id, e.content_fp, e.n_tokens
        FROM enr e JOIN canon c ON c.content_fp = e.content_fp AND c.doc_id = e.doc_id"""


def _q_warc_url_filter(spark: SparkSession, sf: str) -> DataFrame:
    """URL/domain curation over the crawl (the C4/RefinedWeb/FineWeb
    blocklist stage): parse_uri on every record's target URI ->
    registered domain (suffix-aware eTLD+1) -> per-domain doc counts +
    blocklist flag.  All JVM expressions over the streaming reader's
    output; the exchange is bounded by #domains whatever the crawl
    size."""
    from zinger_spark.functions import net as znet
    from zinger_spark.sources import warc as W

    paths = _warc_fixture(sf)
    raw = W.read_warc(spark, paths)
    host = znet.parse_uri(F.col("target_uri")).getField("host")
    dom = znet.registered_domain(host)
    return (
        raw.select(dom.alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("blocked", F.col("domain").isin(*_WARC_BLOCKLIST))
    )


def _sql_warc_url_filter() -> str:
    # the oracle re-derives each record's registered domain from the
    # documents table via the same doc_id -> domain construction the
    # fixture writer uses (the Spark side must recover it from the
    # URI STRING through parse_uri + the suffix-aware label slice)
    doms = ", ".join(f"'{d}'" for d in _WARC_DOMAINS)
    blocked = ", ".join(f"'{d}'" for d in _WARC_BLOCKLIST)
    return f"""
        WITH dommap AS (
          SELECT doc_id, ([{doms}])[(doc_id % {len(_WARC_DOMAINS)}) + 1] AS domain
          FROM documents
        )
        SELECT domain,
               count(*) AS n_docs,
               domain IN ({blocked}) AS blocked
        FROM dommap GROUP BY domain"""


def _q_warc_link_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl link graph at the registered-domain level (the substrate
    for domain PageRank / spam-neighborhood scoring in web curation):
    extract every <a href> from each page body with ONE JVM
    regexp_extract_all, explode, cut both endpoints to eTLD+1, count
    edges.  Per-record byte parsing stays in the streaming reader's
    single Arrow stage; everything after is JVM expressions and one
    groupBy keyed by (src, dst) — bounded by #domain-pairs whatever
    the crawl size."""
    from zinger_spark.functions import net as znet
    from zinger_spark.sources import warc as W

    paths = _warc_fixture(sf)
    raw = W.read_warc(spark, paths)
    hrefs = F.regexp_extract_all(
        F.col("body").cast("string"), F.lit(r'(?is)<a\s+href="([^"]*)"'), F.lit(1)
    )
    src = znet.registered_domain(
        znet.parse_uri(F.col("target_uri")).getField("host")
    )
    exploded = raw.select(
        src.alias("src_domain"), F.explode(hrefs).alias("href")
    )
    dst = znet.registered_domain(
        znet.parse_uri(F.col("href")).getField("host")
    )
    return (
        exploded.select("src_domain", dst.alias("dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def _sql_warc_link_graph() -> str:
    # the oracle re-derives each page's outlinks from the fixture
    # writer's doc_id construction (doc_id % 3 links; link j points at
    # domain (doc_id + j + 1) % 10) — the Spark side must recover them
    # from the raw HTML bytes via regexp_extract_all + parse_uri +
    # the suffix-aware registered-domain cut
    doms = ", ".join(f"'{d}'" for d in _WARC_DOMAINS)
    return f"""
        WITH j AS (SELECT 0 AS j UNION ALL SELECT 1),
        edges AS (
          SELECT ([{doms}])[(doc_id % {len(_WARC_DOMAINS)}) + 1] AS src_domain,
                 ([{doms}])[((doc_id + j + 1) % {len(_WARC_DOMAINS)}) + 1] AS dst_domain
          FROM documents JOIN j ON j.j < doc_id % 3
        )
        SELECT src_domain, dst_domain, count(*) AS n_links
        FROM edges GROUP BY 1, 2"""


def _q_warc_domain_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-level PageRank over the crawl link graph — the link
    quality prior web curation weights documents by (spam
    neighborhoods score low, heavily-referenced archives score high).
    Composes warc_link_graph's eTLD+1 edges (recovered from raw HTML
    bytes) into operators/graph.pagerank_fixed_point: all-integer
    fixed-point arithmetic, so ranks are bit-identical across engines
    and partitionings; per round one hash join + one partial-agg
    groupBy, lineage cut per round.  The graph is bounded by #domains
    (tiny at any crawl size) while the edge DERIVATION scans the full
    crawl once — the realistic cost split."""
    from zinger_spark.operators.graph import pagerank_fixed_point

    # link_graph's groupBy already emits one row per (src, dst) —
    # distinct BY CONSTRUCTION, so skip pagerank's internal edge dedup
    # (an extra full exchange of the biggest frame) too
    edges = _q_warc_link_graph(spark, sf).select(
        F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst")
    )
    pr = pagerank_fixed_point(edges, iterations=4, dedup_edges=False)
    return pr.select(F.col("node").alias("domain"), "rank")


def _sql_warc_domain_rank(iterations: int = 4) -> str:
    # the same iteration chain as pagerank_trade_graph (_sql_pagerank
    # owns the integer arithmetic — single source), over the
    # doc_id-math re-derivation of the fixture's outlinks (directed,
    # distinct) — the Spark side recovers the edges from page bytes
    doms = ", ".join(f"'{d}'" for d in _WARC_DOMAINS)
    nd = len(_WARC_DOMAINS)
    edges = f"""
    j AS (SELECT 0 AS j UNION ALL SELECT 1),
    edges AS (
      SELECT DISTINCT ([{doms}])[(doc_id % {nd}) + 1] AS src,
                      ([{doms}])[((doc_id + j + 1) % {nd}) + 1] AS dst
      FROM documents JOIN j ON j.j < doc_id % 3
    )"""
    return _sql_pagerank(
        iterations=iterations,
        edges_ctes=edges,
        final_select=f"SELECT node AS domain, rank FROM r{iterations}",
    )


# ---------------------------------------------------------------------------
# Multi-output-topic ETL (r10 lift of the reference's single-output
# limitation, etl/pipeline.go:66-68 panics on >1 output topic): one
# cursor-bounded incremental window + one anti-join prelude fans out to
# TWO output topics, each with its own dense offset sequence, all
# committed in ONE atomic load.  The fixture runs the real pool +
# EtlPipeline machinery once per SF under /tmp (idempotent: re-running
# the pipeline over the same pool ETLs nothing), and the oracle
# re-derives the expected pool contents from the events table with
# per-topic ROW_NUMBER() offsets.

_ETL_MULTI_DIR = "/tmp/zinger_spark_etl_multi"


def _etl_multi_fixture(spark: SparkSession, sf: str) -> str:
    """Build (once per SF) a lake under /tmp with a Raw pool holding
    the events table as Kafka envelopes and a Staging pool produced by
    a two-output-topic EtlPipeline run; returns the Staging path.

    Concurrency-safe via build-in-tmp + atomic rename: a racing second
    builder loses the rename and reuses the winner's directory.
    """
    import hashlib
    import shutil

    from zinger_spark.etl.config import Route, Rule, Transform
    from zinger_spark.etl.planner import EtlPipeline
    from zinger_spark.sources.pool import Pool

    # the suffix versions the cached layout: v1 caches hold commit-dir
    # pools, which no longer open
    slug = hashlib.md5((os.path.abspath(sf) + ":v2").encode()).hexdigest()[:10]
    outdir = os.path.join(_ETL_MULTI_DIR, slug)
    staging = os.path.join(outdir, "Staging")
    if os.path.exists(os.path.join(outdir, "_DONE")):
        return staging
    os.makedirs(_ETL_MULTI_DIR, exist_ok=True)
    tmp = f"{outdir}.tmp.{os.getpid()}"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    pools = {
        "Raw": Pool.create(spark, os.path.join(tmp, "Raw")),
        "Staging": Pool.create(spark, os.path.join(tmp, "Staging")),
    }
    ev = _events(spark, sf)
    env = ev.select(
        F.struct(
            F.lit("events").alias("topic"),
            F.lit(0).cast("long").alias("partition"),
            F.col("event_id").alias("offset"),
        ).alias("kafka"),
        F.struct(F.col("user_id").alias("user_id")).alias("key"),
        F.struct(
            F.col("event_type").alias("event_type"),
            F.col("user_id").alias("user_id"),
            F.col("value").alias("value"),
        ).alias("value"),
        F.lit("data").alias("_type"),
    )
    pools["Raw"].load_batch(env)
    transform = Transform(
        inputs=[Route("events", "Raw")],
        output=None,
        outputs=[Route("ClickFeed", "Staging"), Route("AccountFeed", "Staging")],
        etls=[
            Rule(
                type="stateless",
                where="value.event_type = 'click'",
                in_topic="events",
                out="ClickFeed",
                zed="""named_struct('key', `in`.key, 'value', named_struct(
                    'user_id', `in`.value.user_id,
                    'amount', round(`in`.value.value, 2)))""",
            ),
            Rule(
                type="stateless",
                where="value.event_type IN ('signup', 'purchase')",
                in_topic="events",
                out="AccountFeed",
                zed="""named_struct('key', `in`.key, 'value', named_struct(
                    'user_id', `in`.value.user_id,
                    'kind', `in`.value.event_type,
                    'amount', round(`in`.value.value * 2, 2)))""",
            ),
        ],
    )
    EtlPipeline(spark, transform, lambda name: pools[name]).run()
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok")
    try:
        os.rename(tmp, outdir)
    except OSError:
        shutil.rmtree(tmp)  # lost the race: the winner's build is live
    return staging


def _q_etl_multi_output(spark: SparkSession, sf: str) -> DataFrame:
    from zinger_spark.sources.pool import Pool

    pool = Pool(spark, _etl_multi_fixture(spark, sf))
    return pool.df().select(
        F.col("kafka.topic").alias("topic"),
        F.col("kafka.offset").alias("kafka_offset"),
        F.col("_type"),
        F.col("value.user_id").alias("user_id"),
        F.col("value.kind").alias("kind"),
        F.round(F.col("value.amount"), 2).alias("amount"),
    )


def _sql_etl_multi_output() -> str:
    return """
        WITH matched AS (
            SELECT event_id, user_id, event_type, value,
                   CASE WHEN event_type = 'click' THEN 'ClickFeed'
                        ELSE 'AccountFeed' END AS topic
            FROM events
            WHERE event_type IN ('click', 'signup', 'purchase')
        ),
        data AS (
            SELECT topic,
                   ROW_NUMBER() OVER (PARTITION BY topic ORDER BY event_id) - 1
                       AS kafka_offset,
                   'data' AS _type,
                   user_id,
                   CASE WHEN topic = 'AccountFeed' THEN event_type END AS kind,
                   ROUND(CASE WHEN topic = 'ClickFeed' THEN value
                              ELSE value * 2 END, 2) AS amount
            FROM matched
        ),
        done AS (
            SELECT 'events' AS topic, event_id AS kafka_offset,
                   'done' AS _type, CAST(NULL AS BIGINT) AS user_id,
                   CAST(NULL AS VARCHAR) AS kind,
                   CAST(NULL AS DOUBLE) AS amount
            FROM matched
        )
        SELECT * FROM data UNION ALL SELECT * FROM done"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on dict order: the driver hash-verifies only the FIRST 50 keys
    # per round.  Keys that are new or were rewritten since their last
    # green check MUST sit inside that window; previously-green keys
    # rotate to the tail.  The literal below keeps its historical order;
    # _R9_FRONT (after the literal) is the rotation applied on top: the
    # chain of per-round front lists, newest first.  Keys pushed past 50
    # were all verified by full local sweeps (tools/compare.py).
    reg = {
        # -- round 10: multi-output-topic ETL (reference-limitation lift)
        "etl_multi_output": _q_etl_multi_output,
        # -- round 10: IVF-PQ quantized ANN serving + recall audit ----
        "ann_ivfpq_topk": _q_ann_ivfpq,
        "ann_ivfpq_rerank": _q_ann_ivfpq_rerank,
        "ivfpq_recall": _q_ivfpq_recall,
        # -- round 7 (late): trainable fixed-point classifier --------
        "perceptron_train": _q_perceptron_train,
        "perceptron_score_topk": _q_perceptron_topk,
        "perceptron_eval": _q_perceptron_eval,
        "perceptron_threshold_sweep": _q_perceptron_sweep,
        "bpe_learn_merges": _q_bpe_learn,
        "bpe_vocab_tokens": _q_bpe_vocab_tokens,
        "bpe_doc_token_counts": _q_bpe_doc_tokens,
        "salted_skew_agg": _q_salted_skew,
        "url_frontier_dedup": _q_url_frontier_dedup,
        "token_budget_select": _q_token_budget_select,
        "rollup_cascade_daily": _q_rollup_cascade,
        "gap_fill_hourly": _q_gap_fill,
        "inverted_index_top": _q_inverted_index,
        "cdc_scd2_history": _q_scd2_history,
        "cohort_retention": _q_cohort_retention,
        "event_transitions": _q_event_transitions,
        "join_size_estimate": _q_join_size_estimate,
        "quality_blend": _q_quality_blend,
        "token_cooccurrence": _q_token_cooccurrence,
        "profile_orders": _q_profile_orders,
        "embedding_gram": _q_embedding_gram,
        "label_centroid_drift": _q_centroid_drift,
        "gram_power_iteration": _q_gram_power,
        "zorder_key_head": _q_zorder_key,
        # -- round 7: sketches + fixed-point PageRank ----------------
        "kmeans_centroids": _q_kmeans_centroids,
        "source_overlap_sketch": _q_source_overlap_sketch,
        "hdr_quantiles": _q_hdr_quantiles,
        "ann_ivf_index_topk": _q_ann_ivf_index,
        "zq_parse_uri": _q_zq_parse_uri,
        "zq_shape_funcs": _q_zq_shape_funcs,
        "zq_network_of": _q_zq_network_of,
        "range_join_bands": _q_range_join_bands,
        "hll_distinct": _q_hll_distinct,
        "hll_distinct_by_group": _q_hll_by_group,
        "hll_merge_rollup": _q_hll_merge_rollup,
        "kmv_distinct": _q_kmv_distinct,
        "countmin_heavy_hitters": _q_countmin_heavy_hitters,
        "bloom_contamination": _q_bloom_contamination,
        "weighted_sample": _q_weighted_sample,
        "pagerank_trade_graph": _q_pagerank,
        # -- never driver-checked before r7 ------------------------
        "line_dedup": _q_line_dedup,
        "dsir_affinity": _q_dsir_affinity,
        "substring_dups": _q_substring_dups,
        "dedup_duplicate_spans": _q_dedup_duplicate_spans,
        "dedup_span_removal": _q_dedup_span_removal,
        "decontaminate_spans": _q_decontaminate_spans,
        "substring_dups_incremental": _q_substring_dups_incremental,
        "line_dedup_incremental": _q_line_dedup_incremental,
        "source_vocab_overlap": _q_source_vocab_overlap,
        "source_quota_sample": _q_source_quota_sample,
        "simhash_incremental_dups": _q_simhash_incremental_dups,
        "image_dup_pairs": _q_image_dup_pairs,
        "audio_dup_pairs": _q_audio_dup_pairs,
        "video_dup_pairs": _q_video_dup_pairs,
        "contamination_exact": _q_contamination_exact,
        "contamination_exact_fullprobe": _q_contamination_exact_fullprobe,
        "token_rarity": _q_token_rarity,
        "embedding_dup_pairs_scaled": _q_embedding_dups_scaled,
        "embedding_dup_pairs_multiprobe_scaled": _q_embedding_dups_multiprobe_scaled,
        # -- new-in-r7 zedql constructs ----------------------------
        "zq_regex_search": _q_zq_regex_search,
        "zq_rename_drop": _q_zq_rename_drop,
        "zq_left_join": _q_zq_left_join,
        # -- rewritten in r7 (distributed prefix-sum ranking) ------
        "percent_rank_dist": _q_percent_rank,
        "ntile_deciles": _q_ntile_deciles,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "offset_assign": _q_offset_assign,
        "offset_assign_dist": _q_offset_assign_dist,
        "bm25_topk": _q_bm25_topk,
        "rrf_hybrid_topk": _q_rrf_hybrid,
        "url_dedup_canonical": _q_url_dedup,
        "minhash_lsh_recall": _q_minhash_lsh_recall,
        "warc_ingest": _q_warc_ingest,
        "warc_curation": _q_warc_curation,
        "warc_url_filter": _q_warc_url_filter,
        "warc_link_graph": _q_warc_link_graph,
        "warc_domain_rank": _q_warc_domain_rank,
        "deterministic_shuffle": _q_deterministic_shuffle,
        "pack_sequences": _q_pack_sequences,
        # -- previously green (churn insurance, prior order) -------
        "dedup_incremental_exact": _q_dedup_incremental_exact,
        "dedup_incremental_minhash": _q_dedup_incremental_minhash,
        "containment_incremental_dups": _q_containment_incremental,
        "embedding_incremental_dups": _q_embedding_incremental_dups,
        "semantic_dedup": _q_semantic_dedup,
        "mixture_sample": _q_mixture_sample,
        "zq_filter_cut": _q_zq_filter_cut,
        "zq_over_unnest": _q_zq_over_unnest,
        "zq_top": _q_zq_top,
        "zq_every_bucket": _q_zq_every_bucket,
        "zq_interval_shift": _q_zq_interval_shift,
        "zq_agg_by": _q_zq_agg_by,
        "zq_agg_where": _q_zq_agg_where,
        "zq_switch_yield": _q_zq_switch_yield,
        "zq_join_denorm": _q_zq_join_denorm,
        "zq_anti_join": _q_zq_anti_join,
        "zq_sort_tail": _q_zq_sort_tail,
        "zq_put_funcs": _q_zq_put_funcs,
        "zq_const_map": _q_zq_const_map,
        "zq_regexp_funcs": _q_zq_regexp_funcs,
        "zq_strftime_bucket": _q_zq_strftime_bucket,
        "zq_flatten": _q_zq_flatten,
        "zq_grok": _q_zq_grok,
        "zq_sample": _q_zq_sample,
        "zq_over_scope": _q_zq_over_scope,
        "zq_over_sort_collect": _q_zq_over_sort_collect,
        "zq_over_topk": _q_zq_over_topk,
        "zq_unflatten_filter": _q_zq_unflatten_filter,
        "dsir_select": _q_dsir_select,
        "dsir_gumbel_sample": _q_dsir_gumbel,
        "lm_quality_unigram": _q_lm_quality_unigram,
        "ccnet_buckets": _q_ccnet_buckets,
        "lm_quality_bigram": _q_lm_quality_bigram,
        "sessionize": _q_sessionize,
        "asof_join": _q_asof_join,
        "sliding_window_counts": _q_sliding_window_counts,
        "funnel_counts": _q_funnel_counts,
        "retention_cohorts": _q_retention_cohorts,
        "envelope_wrap": _q_envelope,
        "avro_union_roundtrip": _q_avro_union_roundtrip,
        "filter_predicates": _q_filter,
        "resume_offset": _q_resume_offset,
        "producer_offsets": _q_producer_offsets,
        "read_batch": _q_read_batch,
        "tail1": _q_tail1,
        "switch_route": _q_switch,
        "fork_union": _q_fork_union,
        "fuse_hetero": _q_fuse,
        "grouped_agg": _q_grouped_agg,
        "collect_bundle": _q_collect_bundle,
        "cut_yield_cast": _q_cut_yield,
        "pivot_counts": _q_pivot_counts,
        "distinct_users": _q_distinct_users,
        "rollup_counts": _q_rollup_counts,
        "running_sum": _q_running_sum,
        "percentiles": _q_percentiles,
        "unpivot_stack": _q_unpivot,
        "cube_counts": _q_cube_counts,
        "zscore_anomalies": _q_zscore_anomalies,
        "time_rollup": _q_time_rollup,
        "const_map_lookup": _q_const_map_lookup,
        "fuzzy_prefix_pairs": _q_fuzzy_prefix_pairs,
        "stratified_sample": _q_stratified_sample,
        "dedup_clusters": _q_dedup_clusters,
        "leakage_safe_split": _q_leakage_safe_split,
        "split_leakage_audit": _q_split_leakage_audit,
        "knn_join": _q_knn_join,
        "embedding_dup_pairs_multiprobe": _q_embedding_dups_multiprobe,
        "doc_chunks": _q_doc_chunks,
        "pii_scrub": _q_pii_scrub,
        "repetition_flags": _q_repetition_flags,
        "gopher_quality": _q_gopher_quality,
        "curation_pipeline": _q_curation_pipeline,
        "script_mix": _q_script_mix,
        "simhash_dup_pairs": _q_simhash_dup_pairs,
        "quantize_embeddings": _q_quantize_embeddings,
        "session_window_stats": _q_session_window_stats,
        "embedding_dup_pairs": _q_embedding_dups,
        "dedup_minhash_lsh": _q_minhash_lsh,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_ngram_containment": _q_ngram_containment,
        "tpch_q2": _q_tpch_q2,
        "tpch_q9": _q_tpch_q9,
        "tpch_q11": _q_tpch_q11,
        "tpch_q16": _q_tpch_q16,
        "tpch_q20": _q_tpch_q20,
        "tpch_q8": _q_tpch_q8,
        "tpch_q15": _q_tpch_q15,
        "tpch_q21": _q_tpch_q21,
        "tpch_q22": _q_tpch_q22,
        "tpch_q13": _q_tpch_q13,
        "tpch_q17": _q_tpch_q17,
        "tpch_q19": _q_tpch_q19,
        "tpch_q14": _q_tpch_q14,
        "tpch_q18": _q_tpch_q18,
        "dedup_keep_canonical": _q_dedup_keep_canonical,
        "embedding_centroids": _q_embedding_centroids,
        "ann_lsh_multiprobe": _q_ann_lsh_multiprobe,
        "explode_tokens": _q_explode_tokens,
        "dedup_exact": _q_dedup_exact,
        "simhash": _q_simhash,
        "contamination": _q_contamination,
        "quality_quantile_filter": _q_quality_quantile_filter,
        "doc_fingerprint": _q_fingerprint,
        "token_counts": _q_token_counts,
        "lang_id": _q_langid,
        "quality_score": _q_quality,
        "ann_brute_topk": _q_ann_brute,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "tpch_q12": _q_tpch_q12,
        "anti_join_done": _q_anti_join,
        "denorm_join": _q_denorm_join,
        "top1_per_group": _q_top1_per_group,
        "tpch_q1": _q_tpch_q1,
        "tpch_q3": _q_tpch_q3,
        "tpch_q5": _q_tpch_q5,
        "tpch_q4": _q_tpch_q4,
        "tpch_q6": _q_tpch_q6,
        "tpch_q7": _q_tpch_q7,
        "tpch_q10": _q_tpch_q10,
    }
    front = [k for k in _R9_FRONT if k in reg]
    tail = {k: v for k, v in reg.items() if k not in set(front)}
    return {**{k: reg[k] for k in front}, **tail}


# Driver-window rotations (see the dict-order note in queries()); the
# window's slots left after the front list fall through to the head of
# the historical order.
# Round-9 driver-window rotation: the one key whose engine path changed
# this round (offset_assign now ranks on the two-level distributed
# prefix sum by default), then the longest-unsampled keys — everything
# whose most recent driver-green row is from rounds 2/4/5 — so the
# sampled-coverage union keeps cycling (all 172 keys re-verified locally
# by the r9 full tools/compare.py sweep before this rotation).
# Round-11 driver-window rotation: the keys added/changed this round
# first (the zedql gates closed this session), then the r10 additions.
# Round-12 driver-window rotation: the two r11 keys whose OUTPUT SHAPE
# changed this round (collected arrays now serialized with join(...) so
# the driver canonicalizer can hash them — the only r11 reds), then the
# three media keys whose ORACLE changed (fixtures un-pinned from
# sf0.01, now derived per-SF), then the longest-unsampled keys — the
# whole registry is hash-exact under the local r12 full sweep; these
# are the ones whose most recent DRIVER-green row is from rounds 4/5/6
# (dup entries later in the chain are harmless: first position wins).
_R12_FRONT = [
    # added in round 12
    "dedup_duplicate_spans",
    "dedup_span_removal",
    "decontaminate_spans",
    "ccnet_buckets",
    "zq_over_sort_collect",
    "zq_over_topk",
    "image_dup_pairs",
    "audio_dup_pairs",
    "video_dup_pairs",
    # rotation: last driver-green r4
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q10",
    # rotation: last driver-green r5
    "dedup_clusters",
    "dedup_minhash_lsh",
    "doc_chunks",
    "embedding_dup_pairs",
    "embedding_dup_pairs_multiprobe",
    "knn_join",
    "pii_scrub",
    "quantize_embeddings",
    "repetition_flags",
    "session_window_stats",
    "tpch_q11",
    "tpch_q16",
    "tpch_q2",
    "tpch_q20",
    "tpch_q9",
    # rotation: last driver-green r6
    "asof_join",
    "collect_bundle",
    "const_map_lookup",
]

_R11_FRONT = _R12_FRONT + [
    # added in round 11: keep in the driver's first-50
    "zq_unflatten_filter",
    "dsir_select",
    "dsir_gumbel_sample",
    "leakage_safe_split",
    "split_leakage_audit",
]

_R10_FRONT = _R11_FRONT + [
    # added in round 10: keep in the driver's first-50
    "etl_multi_output",
    "ann_ivfpq_topk",
    "ann_ivfpq_rerank",
    "ivfpq_recall",
]

_R9_FRONT = _R10_FRONT + [
    # added in round 9 (this session): must sit in the driver's first-50
    "containment_incremental_dups",
    "dedup_ngram_containment",
    "rrf_hybrid_topk",
    "url_dedup_canonical",
    "warc_link_graph",
    "warc_domain_rank",
    "bpe_doc_token_counts",
    "salted_skew_agg",
    "url_frontier_dedup",
    "token_budget_select",
    # oracle text refactored late-r9 (shared PageRank CTE helper) —
    # keep it in the checked window the round the text changed
    "pagerank_trade_graph",
    "offset_assign",
    "offset_assign_dist",
    "bm25_topk",
    "minhash_lsh_recall",
    "warc_ingest",
    "warc_curation",
    "warc_url_filter",
    "tfidf_top_terms",
    "tpch_q8",
    "tpch_q15",
    "tpch_q21",
    "tpch_q22",
    "tpch_q13",
    "tpch_q17",
    "tpch_q19",
    "tpch_q14",
    "tpch_q18",
    "contamination",
    "quality_quantile_filter",
    "deterministic_shuffle",
    "pack_sequences",
    "dedup_keep_canonical",
    "embedding_centroids",
    "ann_lsh_multiprobe",
    "explode_tokens",
    "dedup_exact",
    "simhash",
    "doc_fingerprint",
    "token_counts",
    "lang_id",
    "quality_score",
    "ann_brute_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "tpch_q12",
    "anti_join_done",
    "denorm_join",
    "top1_per_group",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q4",
    "tpch_q6",
    "tpch_q7",
    "tpch_q10",
    "dedup_clusters",
    "knn_join",
    "embedding_dup_pairs_multiprobe",
    "doc_chunks",
    "pii_scrub",
    "repetition_flags",
    "quantize_embeddings",
    "session_window_stats",
    "embedding_dup_pairs",
    "dedup_minhash_lsh",
    "tpch_q2",
]


# ---------------------------------------------------------------------------
# DuckDB oracles. Hash-function parity: Spark's
#   conv(substr(md5(x),1,15),16,10)::bigint
# == DuckDB's CAST('0x'||substr(md5(x),1,15) AS BIGINT).


def _sql_md5h(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"



def _sql_minhash_recall() -> str:
    """Oracle for minhash_lsh_recall: exact truth = recall-complete
    all-shared-shingle pairs at (k=5, thr=0.4); LSH side = the same
    banded-signature query the dedup_minhash_lsh oracle uses."""
    lsh_q = _sql_minhash_lsh(16, 4, 5, 0.4)
    return f"""
    WITH tokd AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents
    ),
    shx AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 5 THEN list_distinct([array_to_string(toks, ' ')])
                  ELSE list_distinct(list_transform(
                         generate_series(1, greatest(len(toks)-4,1)),
                         i -> array_to_string(toks[i:i+4], ' ')))
             END AS shingles
      FROM tokd),
    ex AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) > 0
        AND len(list_intersect(a.shingles, b.shingles))::DOUBLE
            / len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE >= 0.4
    ),
    lsh AS (SELECT * FROM ({lsh_q})),
    hit AS (SELECT e.doc_a FROM ex e JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
    SELECT (SELECT count(*) FROM ex) AS n_exact,
           (SELECT count(*) FROM lsh) AS n_lsh,
           (SELECT count(*) FROM hit) AS n_hit,
           round(100.0 * (SELECT count(*) FROM hit) / (SELECT count(*) FROM ex), 4) AS recall_pct
    """


def _sql_tokens(expr: str) -> str:
    return f"regexp_split_to_array(trim(lower({expr})), '\\s+')"


def _sql_dup_spans_ctes() -> str:
    """CTE chain re-deriving operators/dedup.duplicate_spans (k=8,
    min_len=12, max_df=1000) over ``documents``, ending in ``spansq``
    (doc_a, doc_b, start_a, start_b, span_len).  Shared by the
    detection key and the span-removal treatment key."""
    gram_h = _sql_md5h("array_to_string(list_slice(toks, i, i + 7), ' ')")
    return f"""tokd AS (
              SELECT doc_id, {_sql_tokens("text")} AS toks FROM documents
            ),
            gram0 AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 7),
                            i -> struct_pack(pos := i - 1, h := {gram_h})))
                       AS u
              FROM tokd WHERE len(toks) >= 8
            ),
            grams AS (SELECT doc_id AS id, u.pos AS pos, u.h AS h FROM gram0),
            hot AS (
              SELECT h FROM (SELECT h, count(DISTINCT id) AS df
                             FROM grams GROUP BY h) WHERE df > 1000
            ),
            cold AS (SELECT * FROM grams WHERE h NOT IN (SELECT h FROM hot)),
            mm AS (
              SELECT a.id AS doc_a, b.id AS doc_b, a.pos AS pa, b.pos AS pb,
                     a.pos - b.pos AS diff
              FROM cold a JOIN cold b ON a.h = b.h AND a.id < b.id
            ),
            runs AS (
              SELECT doc_a, doc_b, diff, pa, pb,
                     pa - row_number() OVER (PARTITION BY doc_a, doc_b, diff
                                             ORDER BY pa) AS isl
              FROM mm
            ),
            spansq AS (
              SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
                     count(*) + 7 AS span_len
              FROM runs GROUP BY doc_a, doc_b, diff, isl
              HAVING count(*) + 7 >= 12
            )"""


_SQL_DUP_SPANS_CTES = _sql_dup_spans_ctes()


def _sql_decon_spans_ctes() -> str:
    """Cross-corpus variant of the span CTEs: doc_a grams from the
    benchmark slice (doc_id % 40 = 0), doc_b grams from the corpus,
    df cap on the corpus side, no ordering filter — mirrors
    duplicate_spans(corpus, against=bench)."""
    gram_h = _sql_md5h("array_to_string(list_slice(toks, i, i + 7), ' ')")
    return f"""tokd AS (
              SELECT doc_id, {_sql_tokens("text")} AS toks FROM documents
            ),
            gram0 AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 7),
                            i -> struct_pack(pos := i - 1, h := {gram_h})))
                       AS u
              FROM tokd WHERE len(toks) >= 8
            ),
            gramsall AS (SELECT doc_id AS id, u.pos AS pos, u.h AS h FROM gram0),
            gcorp AS (SELECT * FROM gramsall WHERE id % 40 <> 0),
            gbench AS (SELECT * FROM gramsall WHERE id % 40 = 0),
            hot AS (
              SELECT h FROM (SELECT h, count(DISTINCT id) AS df
                             FROM gcorp GROUP BY h) WHERE df > 1000
            ),
            coldc AS (SELECT * FROM gcorp WHERE h NOT IN (SELECT h FROM hot)),
            coldb AS (SELECT * FROM gbench WHERE h NOT IN (SELECT h FROM hot)),
            mm AS (
              SELECT a.id AS doc_a, b.id AS doc_b, a.pos AS pa, b.pos AS pb,
                     a.pos - b.pos AS diff
              FROM coldb a JOIN coldc b ON a.h = b.h
            ),
            runs AS (
              SELECT doc_a, doc_b, diff, pa, pb,
                     pa - row_number() OVER (PARTITION BY doc_a, doc_b, diff
                                             ORDER BY pa) AS isl
              FROM mm
            ),
            spansq AS (
              SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
                     count(*) + 7 AS span_len
              FROM runs GROUP BY doc_a, doc_b, diff, isl
              HAVING count(*) + 7 >= 12
            )"""


_SQL_DECON_SPANS_CTES = _sql_decon_spans_ctes()


def _sql_span_removal_tail() -> str:
    """CTE tail + final SELECT applying the span-removal treatment to
    a preceding ``spansq`` CTE: b-side ranges merged with the intervals
    window, rebuild via position anti-join, LEFT JOIN so a WHOLLY
    removed doc still appears (empty rebuilt text) — mirrors
    operators/dedup.remove_duplicate_spans over the affected docs."""
    return f"""ranges AS (
              SELECT doc_b AS id, start_b AS s, start_b + span_len AS e
              FROM spansq
            ),
            marked AS (
              SELECT id, s, e,
                     CASE WHEN max(e) OVER (PARTITION BY id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            IS NULL
                          OR s > max(e) OVER (PARTITION BY id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          THEN 1 ELSE 0 END AS newgrp
              FROM ranges
            ),
            grp AS (
              SELECT id, s, e,
                     sum(newgrp) OVER (PARTITION BY id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM marked
            ),
            mergedr AS (
              SELECT id, min(s) AS s, max(e) AS e FROM grp GROUP BY id, g
            ),
            otoks AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents WHERE doc_id IN (SELECT id FROM mergedr)
            ),
            posx AS (
              SELECT doc_id, i - 1 AS pos, toks[i] AS tok, len(toks) AS n
              FROM otoks, LATERAL unnest(generate_series(1, len(toks))) t(i)
            ),
            kept AS (
              SELECT p.* FROM posx p
              WHERE NOT EXISTS (SELECT 1 FROM mergedr m
                                WHERE m.id = p.doc_id
                                  AND p.pos >= m.s AND p.pos < m.e)
            ),
            rebuilt AS (
              SELECT doc_id,
                     array_to_string(array_agg(tok ORDER BY pos), ' ') AS t2,
                     count(*) AS keptn
              FROM kept GROUP BY doc_id
            )
            SELECT o.doc_id,
                   len(o.toks) - coalesce(r.keptn, 0) AS removed_tokens,
                   {_sql_md5h("coalesce(r.t2, '')")} AS fp
            FROM otoks o LEFT JOIN rebuilt r ON r.doc_id = o.doc_id"""


_SQL_SPAN_REMOVAL_TAIL = _sql_span_removal_tail()


# Pre-built SQL fragments for the curation composite (hoisted: f-string
# expression parts cannot contain backslashes on this Python).
_SQL_CONTENT_FP = _sql_md5h(
    "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
)
_SQL_SCRUB_FP = _sql_md5h(
    "regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{ztext.EMAIL_RE}', '<EMAIL>', 'g'), "
    f"'{ztext.URL_RE}', '<URL>', 'g'), "
    f"'{ztext.PHONE_RE}', '<PHONE>', 'g')"
)


def _sql_gopher_ctes(src: str = "documents") -> str:
    """CTE chain computing the Gopher document-shape metrics, ending in
    ``gq`` (doc_id + all metrics + passes).  Shared by the
    gopher_quality oracle, the curation_pipeline composite, and (with
    ``src`` pointing at the extracted-text CTE) the warc_curation
    crawl pipeline."""
    return f"""tokd AS (
              SELECT doc_id, text, {_sql_tokens("text")} AS toks FROM {src}
            ),
            wstats AS (
              SELECT doc_id,
                     len(toks) AS n_words,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE round(list_sum(list_transform(toks, w -> length(w)))
                                     / CAST(len(toks) AS DOUBLE), 6) END AS mean_word_len,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE round(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
                                     / CAST(len(toks) AS DOUBLE), 6) END AS alpha_ratio,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE round(((length(text) - length(replace(text, '#', '')))
                                      + (length(text) - length(replace(text, '...', ''))) / 3)
                                     / CAST(len(toks) AS DOUBLE), 6) END AS symbol_ratio
              FROM tokd
            ),
            lins AS (
              SELECT doc_id,
                     list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                                 l -> l <> '') AS ls
              FROM {src}
            ),
            lstats AS (
              SELECT doc_id,
                     CASE WHEN len(ls) = 0 THEN 0.0
                          ELSE round((len(ls) - len(list_distinct(ls)))
                                     / CAST(len(ls) AS DOUBLE), 6) END AS dup_line_frac,
                     CASE WHEN len(ls) = 0 THEN 0.0
                          ELSE round(len(list_filter(ls, l -> regexp_matches(l, '^[-*•]')))
                                     / CAST(len(ls) AS DOUBLE), 6) END AS bullet_frac,
                     CASE WHEN len(ls) = 0 THEN 0.0
                          ELSE round(len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…'))
                                     / CAST(len(ls) AS DOUBLE), 6) END AS ellipsis_frac
              FROM lins
            ),
            g2 AS (
              SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
              FROM tokd WHERE len(toks) >= 2
            ),
            c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
            r2 AS (SELECT doc_id, gram, cnt,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY cnt DESC, gram ASC) AS rn
                   FROM c2),
            b2 AS (SELECT r2.doc_id,
                          round(cnt * length(gram)
                                / CAST(length(d.text) AS DOUBLE), 6) AS top_bigram_frac
                   FROM r2 JOIN {src} d ON d.doc_id = r2.doc_id WHERE rn = 1),
            g3 AS (
              SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                                                   i -> toks[i] || ' ' || toks[i + 1]
                                                        || ' ' || toks[i + 2])) AS gram
              FROM tokd WHERE len(toks) >= 3
            ),
            c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY 1, 2),
            r3 AS (SELECT doc_id, gram, cnt,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY cnt DESC, gram ASC) AS rn
                   FROM c3),
            b3 AS (SELECT r3.doc_id,
                          round(cnt * length(gram)
                                / CAST(length(d.text) AS DOUBLE), 6) AS top_trigram_frac
                   FROM r3 JOIN {src} d ON d.doc_id = r3.doc_id WHERE rn = 1),
            gq AS (
              SELECT w.doc_id, w.n_words, w.mean_word_len, w.alpha_ratio, w.symbol_ratio,
                     l.dup_line_frac, l.bullet_frac, l.ellipsis_frac,
                     coalesce(b2.top_bigram_frac, 0.0) AS top_bigram_frac,
                     coalesce(b3.top_trigram_frac, 0.0) AS top_trigram_frac,
                     (w.n_words BETWEEN 50 AND 100000
                      AND w.mean_word_len BETWEEN 3.0 AND 10.0
                      AND w.alpha_ratio > 0.8
                      AND w.symbol_ratio < 0.1
                      AND l.dup_line_frac < 0.3
                      AND l.bullet_frac < 0.9
                      AND l.ellipsis_frac < 0.3
                      AND coalesce(b2.top_bigram_frac, 0.0) < 0.2
                      AND coalesce(b3.top_trigram_frac, 0.0) < 0.18) AS passes
              FROM wstats w
              JOIN lstats l USING (doc_id)
              LEFT JOIN b2 ON b2.doc_id = w.doc_id
              LEFT JOIN b3 ON b3.doc_id = w.doc_id
            )"""


def _sql_shingle_ctes(k: int) -> str:
    """CTE prefix computing distinct word-k-gram shingles per doc (DuckDB
    forbids subqueries inside lambdas, so shingles must be a real column)."""
    return f"""
    tokd AS (SELECT doc_id, {_sql_tokens("text")} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) < {k} THEN list_distinct([array_to_string(toks, ' ')])
                  ELSE list_distinct(list_transform(
                         generate_series(1, greatest(len(toks)-{k - 1},1)),
                         i -> array_to_string(toks[i:i+{k - 1}], ' ')))
             END AS shingles
      FROM tokd)"""


def _sql_lang_scores() -> dict[str, str]:
    from zinger_spark.functions.text import LANG_STOPWORDS

    out = {}
    for lang, words in LANG_STOPWORDS.items():
        lst = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
        out[lang] = (
            f"len(list_filter({_sql_tokens('text')}, t -> list_contains([{lst}], t)))"
        )
    return out


def _sql_lang_pred_parts() -> tuple[str, str, str]:
    """(score column SQL, total expr, winner CASE) for the stopword
    language id — shared by the langid oracle and warc_curation."""
    from zinger_spark.functions.text import LANG_ORDER

    scores = _sql_lang_scores()
    score_cols = ",\n      ".join(f"{scores[lang]} AS score_{lang}" for lang in LANG_ORDER)
    # Deterministic first-wins argmax over LANG_ORDER.
    conds = []
    for i, lang in enumerate(LANG_ORDER):
        cs = []
        for j, other in enumerate(LANG_ORDER):
            if i == j:
                continue
            op = ">" if j < i else ">="
            cs.append(f"score_{lang} {op} score_{other}")
        conds.append(f"WHEN {' AND '.join(cs)} THEN '{lang}'")
    total = " + ".join(f"score_{lang}" for lang in LANG_ORDER)
    case = "CASE " + " ".join(conds) + " ELSE 'und' END"
    return score_cols, total, case


def _sql_lang_pred_ctes(src: str) -> str:
    """CTE pair ending in ``langp`` (doc_id, lang_pred) over ``src``."""
    score_cols, total, case = _sql_lang_pred_parts()
    return f"""lsc AS (
      SELECT doc_id, {score_cols}
      FROM {src}
    ),
    langp AS (
      SELECT doc_id,
             CASE WHEN ({total}) = 0 THEN 'und' ELSE {case} END AS lang_pred
      FROM lsc
    )"""


def _sql_langid_query() -> str:
    from zinger_spark.functions.text import LANG_ORDER

    score_cols, total, case = _sql_lang_pred_parts()
    return f"""
    WITH scored AS (
      SELECT doc_id,
      {score_cols}
      FROM documents
    )
    SELECT doc_id, {', '.join('score_' + lang for lang in LANG_ORDER)},
           CASE WHEN ({total}) = 0 THEN 'und' ELSE {case} END AS lang_pred
    FROM scored
    """


def _sql_minhash_lsh(
    num_hashes: int, bands: int, shingle_k: int, thr: float, extra: str = ""
) -> str:
    from zinger_spark.operators.dedup import MINHASH_P30, MINHASH_P31, minhash_coeffs

    rpb = num_hashes // bands
    perms = ", ".join(
        f"list_min(list_transform(bases, h -> ({a}*h + {b}) % {MINHASH_P31}))"
        for a, b in minhash_coeffs(num_hashes)
    )
    return f"""
    WITH {_sql_shingle_ctes(shingle_k)},
    based AS (
      SELECT doc_id, shingles,
             list_transform(shingles, s -> {_sql_md5h("s")} % {MINHASH_P30}) AS bases
      FROM sh),
    sigs AS (SELECT doc_id, shingles, [{perms}] AS sig FROM based),
    banded AS (
      SELECT doc_id, b.band AS band,
             array_to_string(sig[b.band*{rpb}+1 : b.band*{rpb}+{rpb}], ',') AS band_key
      FROM sigs, (SELECT unnest(generate_series(0, {bands - 1})) AS band) b
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
    )
    SELECT c.a AS doc_a, c.b AS doc_b
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.a
    JOIN sigs sb ON sb.doc_id = c.b
    WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
          / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE >= {thr}
          {extra}
    """


def _sql_ngram_jaccard(shingle_k: int, thr: float, max_df: int = 1000) -> str:
    # `blocked` mirrors the Spark side's max_df hot-shingle cap: shingles
    # shared by more than max_df docs are excluded from candidate
    # generation (only); jaccard is still computed on full shingle sets.
    return f"""
    WITH {_sql_shingle_ctes(shingle_k)},
    exploded AS (SELECT doc_id AS id, unnest(shingles) AS s FROM sh),
    blocked AS (
      SELECT id, s FROM (
        SELECT id, s, count(*) OVER (PARTITION BY s) AS w FROM exploded
      ) WHERE w <= {max_df}
    ),
    cand AS (
      SELECT DISTINCT l.id AS a, r.id AS b
      FROM blocked l JOIN blocked r ON l.s = r.s AND l.id < r.id
    )
    SELECT c.a AS doc_a, c.b AS doc_b,
           round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE, 6) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.a
    JOIN sh sb ON sb.doc_id = c.b
    WHERE len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
          / len(list_distinct(list_concat(sa.shingles, sb.shingles)))::DOUBLE >= {thr}
    """


def _sql_bm25_scored_ctes() -> str:
    """The decimal-truncated-idf BM25 mirror as a CTE chain ending in
    ``scored`` (doc_id, n_tokens, c0..c2) — the SINGLE source for both
    bm25_topk and rrf_hybrid_topk oracles, so a retuning of the mirror
    (k1/b, the truncation idiom, the term list) cannot drift between
    them.  Terms are pinned to _BM25_TERMS (hash, join, query)."""
    term_df = ",\n                 ".join(
        f"sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    contribs = ",\n            ".join(
        f"""CAST(CAST(ln((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0) AS DECIMAL(28,12)) AS DOUBLE)
              * (CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) * 2.2
                 / (CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(dl_sum AS DOUBLE) / n_docs)))) AS c{i}"""
        for i, t in enumerate(_BM25_TERMS)
    )
    return f"""tokd AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
          FROM documents
        ),
        base AS (SELECT doc_id, toks, len(toks) AS dl FROM tokd),
        stats AS (
          SELECT count(*) AS n_docs, sum(dl) AS dl_sum,
                 {term_df}
          FROM base
        ),
        scored AS (
          SELECT doc_id, dl AS n_tokens,
            {contribs}
          FROM base, stats
        )"""


def _sql_rrf_hybrid(k_const: int = 60, run_k: int = 100, topk: int = 20) -> str:
    """Oracle for rrf_hybrid_topk: the shared bm25 scored CTEs (same
    decimal-truncated idf) cut to a top-``run_k`` lexical run, the
    ann_brute cosine expression cut to a top-``run_k`` dense run, full
    outer join, 1/(k+rank) contributions summed in fixed run order,
    rank over the rounded score with id tie-break."""
    qvec = _sql_query_vec()
    cos = _sql_cosine("v", "q")
    return f"""
        WITH {_sql_bm25_scored_ctes()},
        bm AS (
          SELECT doc_id,
                 round(CAST(CAST(c0 AS DECIMAL(28,12)) + CAST(c1 AS DECIMAL(28,12)) + CAST(c2 AS DECIMAL(28,12)) AS DOUBLE), 6) AS bm25
          FROM scored
          ORDER BY bm25 DESC, doc_id ASC
          LIMIT {run_k}
        ),
        bm_run AS (
          SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
          FROM bm
        ),
        cosd AS (
          SELECT vec_id, embedding::DOUBLE[] AS v, {qvec} AS q FROM embeddings
        ),
        cos_top AS (
          SELECT vec_id, round({cos}, 8) AS score FROM cosd
          ORDER BY score DESC, vec_id LIMIT {run_k}
        ),
        cos_run AS (
          SELECT vec_id AS doc_id,
                 row_number() OVER (ORDER BY score DESC, vec_id) AS cos_rank
          FROM cos_top
        ),
        fused AS (
          SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
                 coalesce(b.bm25_rank, 0) AS bm25_rank,
                 coalesce(c.cos_rank, 0) AS cos_rank,
                 round((CASE WHEN b.bm25_rank IS NULL THEN 0.0
                             ELSE 1.0 / ({k_const}.0 + CAST(b.bm25_rank AS DOUBLE)) END)
                     + (CASE WHEN c.cos_rank IS NULL THEN 0.0
                             ELSE 1.0 / ({k_const}.0 + CAST(c.cos_rank AS DOUBLE)) END), 8)
                   AS rrf_score
          FROM bm_run b FULL OUTER JOIN cos_run c ON b.doc_id = c.doc_id
        ),
        top AS (
          SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {topk}
        )
        SELECT doc_id, bm25_rank, cos_rank, rrf_score,
               row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
        FROM top
    """


def _sql_ngram_containment(shingle_k: int, thr: float, max_df: int = 1000) -> str:
    # mirrors _sql_ngram_jaccard's blocking (max_df cap applies to
    # candidate generation only); both directional ratios are computed
    # on the full shingle sets and the pair survives on EITHER direction
    return f"""
    WITH {_sql_shingle_ctes(shingle_k)},
    exploded AS (SELECT doc_id AS id, unnest(shingles) AS s FROM sh),
    blocked AS (
      SELECT id, s FROM (
        SELECT id, s, count(*) OVER (PARTITION BY s) AS w FROM exploded
      ) WHERE w <= {max_df}
    ),
    cand AS (
      SELECT DISTINCT l.id AS a, r.id AS b
      FROM blocked l JOIN blocked r ON l.s = r.s AND l.id < r.id
    ),
    scored AS (
      SELECT c.a, c.b,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE AS shared,
             len(sa.shingles)::DOUBLE AS na,
             len(sb.shingles)::DOUBLE AS nb
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.a
      JOIN sh sb ON sb.doc_id = c.b
    )
    SELECT a AS doc_a, b AS doc_b,
           round(shared / na, 6) AS containment_ab,
           round(shared / nb, 6) AS containment_ba
    FROM scored
    WHERE greatest(shared / na, shared / nb) >= {thr}
    """


def _sql_simhash(bits: int) -> str:
    tok_hash = _sql_md5h("t")
    bit_terms = " + ".join(
        f"CASE WHEN count_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    count_cols = ",\n      ".join(
        f"list_sum(list_transform(toks, t -> CASE WHEN ({tok_hash} >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) AS count_{j}"
        for j in range(bits)
    )
    return f"""
    WITH tokd AS (SELECT doc_id, {_sql_tokens('text')} AS toks FROM documents),
    counts AS (
      SELECT doc_id,
      {count_cols}
      FROM tokd
    )
    SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM counts
    """


def _sql_query_vec() -> str:
    vals = ", ".join(f"{v!r}" for v in _query_vec())
    return f"[{vals}]::DOUBLE[]"


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"(list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x*x)))))"
    )


def _sql_sign_bucket(vec: str, ndims: int, start: int = 0) -> str:
    """Sign-bit bucket over vector dims [start, start+ndims) — 0-based
    dims, matching functions/vector.sign_bucket (SQL arrays are
    1-based, hence the +1)."""
    bits = " || ".join(
        f"CASE WHEN {vec}[{d + 1}] >= 0 THEN '1' ELSE '0' END"
        for d in range(start, start + ndims)
    )
    return f"({bits})"


def _sql_refined_buckets(max_bucket: int) -> str:
    """CTE chain replicating similarity.embedding_dup_pairs'
    refine-then-drop: 4-bit sign buckets counted over the corpus; a
    bucket over ``max_bucket`` gets 8 extra sign bits (dims 4..11)
    appended; rows whose REFINED bucket is still over the cap drop.
    Ends with view ``b2(id, v, bucket)``."""
    return f"""
            b0 AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                     {_sql_sign_bucket("(embedding::DOUBLE[])", 4)} AS bk0,
                     {_sql_sign_bucket("(embedding::DOUBLE[])", 8, start=4)} AS rfx
              FROM embeddings
            ),
            c0 AS (SELECT bk0, count(*) AS n FROM b0 GROUP BY bk0),
            b1 AS (
              SELECT id, v,
                     CASE WHEN c0.n <= {max_bucket} THEN bk0
                          ELSE bk0 || rfx END AS bucket
              FROM b0 JOIN c0 USING (bk0)
            ),
            c1 AS (SELECT bucket, count(*) AS n FROM b1 GROUP BY bucket),
            b2 AS (
              SELECT b1.id, b1.v, b1.bucket
              FROM b1 JOIN c1 USING (bucket) WHERE c1.n <= {max_bucket}
            )"""


_SQL_NORM_TEXT = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


_MEDIA_FP_DIR = "/tmp/zinger_spark_oracle_fps"

#: Oracle keys whose SQL is pinned to one scale factor: the media
#: fingerprints are derived (in pure Python) from the sf0.01 corpus —
#: the DRIVER's correctness SF.  Comparison harnesses running at a
#: different SF must SKIP these instead of reporting a guaranteed
#: mismatch (tools/compare.py consults this).
# r12: the media keys are no longer SF-pinned — _materialize_media_fps
# derives the oracle fingerprints from the comparison's own sf_dir
# ($SPARK_GRAFT_ORACLE_SF_DIR, set by tools/compare.py; the driver sets
# nothing and gets its correctness SF by default).
ORACLE_SF_PINNED: dict[str, str] = {}


def _materialize_media_fps() -> tuple[str, str, str] | None:
    """Oracle-side fingerprints for image/audio/video_dup_pairs,
    written as (id, fp) parquet the DuckDB oracle reads — this is what
    promotes both keys from the rows-only gate to hash-exact: the
    queries split at the fingerprint boundary, the banded Hamming join
    is then plain SQL on both sides.

    Pure Python (pyarrow + numpy + codecs/media), NO Spark: the
    synthesis replicates the queries' mapInPandas generators over the
    embeddings table of ``$SPARK_GRAFT_ORACLE_SF_DIR`` (default the
    driver's correctness SF, /root/testdata/sf0.01 — tools/compare.py
    points it at the sweep's corpus, which un-pins the media keys from
    sf0.01).  The image side fingerprints the PRE-ENCODE pixel array,
    so the Spark side's PNG encode->decode round trip is inside the
    verified surface; the audio side keeps the WAV round trip on both
    sides because 16-bit PCM quantization is inherent to the format.
    Cached per-SF under /tmp with the repo's fixture convention
    (md5(abs sf_dir + version) slug, _DONE marker, atomic renames);
    returns None when the testdata is unavailable so the other oracle
    keys never break."""
    import hashlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    try:
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        from zinger_spark.codecs import media  # noqa: PLC0415

        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
        slug = hashlib.md5(
            (os.path.abspath(sf_dir) + ":media-v1").encode()
        ).hexdigest()[:10]
        outdir = os.path.join(_MEDIA_FP_DIR, slug)
        img_path = os.path.join(outdir, "image_fps.parquet")
        aud_path = os.path.join(outdir, "audio_fps.parquet")
        vid_path = os.path.join(outdir, "video_fps.parquet")
        marker = os.path.join(outdir, "_DONE")
        if os.path.exists(marker):
            return img_path, aud_path, vid_path

        src = f"{sf_dir}/embeddings.parquet"
        tbl = pq.read_table(src, columns=["vec_id", "embedding"])
        vec_ids = tbl.column("vec_id").to_pylist()
        vecs = tbl.column("embedding").to_pylist()

        img_ids, dhashes, clip_ids, afps = [], [], [], []
        vid_ids, vid_fidx, vid_fhash = [], [], []

        def _vid_frames(px8):
            # 4 frames: the 8x8 luma plane rolled by k pixels — distinct
            # but deterministic; mirrors _q_video_dup_pairs' generator
            flat = px8.reshape(-1)
            return [
                np.roll(flat, 7 * k).reshape(8, 8, 1).copy() for k in range(4)
            ]
        rate = 8000
        t = np.arange(int(rate * 0.5)) / rate
        for vid, vec in zip(vec_ids, vecs):
            v = np.asarray(list(vec), dtype=np.float64)
            lo, hi = float(v.min()), float(v.max())
            px = (
                ((v - lo) / (hi - lo + 1e-9) * 255.0)
                .astype(np.uint8)
                .reshape(8, 8)[:, :, None]
            )
            img_ids.append(int(vid))
            dhashes.append(media.dhash(px))
            if vid % 10 == 0:
                near = px.copy()
                near[0, 0, 0] = 255 - near[0, 0, 0]
                img_ids.append(int(vid) + 1_000_000)
                dhashes.append(media.dhash(near))

            frames = _vid_frames(px)
            for k, f in enumerate(frames):
                vid_ids.append(int(vid))
                vid_fidx.append(k)
                vid_fhash.append(media.dhash(f))
            if vid % 10 == 0:
                twin = [f.copy() for f in frames]
                twin[3] = 255 - twin[3]
                for k, f in enumerate(twin):
                    vid_ids.append(int(vid) + 1_000_000)
                    vid_fidx.append(k)
                    vid_fhash.append(media.dhash(f))

            w = np.abs(v) / (np.abs(v).sum() + 1e-9)
            sig = np.zeros_like(t)
            for k, wk in enumerate(w):
                if wk > 1e-4:
                    sig += wk * np.sin(2 * np.pi * (150.0 + 50.0 * k) * t)
            peak = np.abs(sig).max() + 1e-9
            sig = 0.8 * sig / peak

            def _afp(s):
                d = media.decode_wav(media.encode_wav(s, rate))
                return media.audio_fingerprint(d["samples"], d["sample_rate"])

            clip_ids.append(int(vid))
            afps.append(_afp(sig))
            if vid % 10 == 0:
                clip_ids.append(int(vid) + 1_000_000)
                afps.append(_afp(0.5 * sig))

        os.makedirs(outdir, exist_ok=True)
        # write-tmp + atomic replace: concurrent compare/pytest runs
        # share this path, and a reader must never see a torn file
        pid = os.getpid()
        for path, tbl in (
            (img_path, pa.table({"img_id": pa.array(img_ids, pa.int64()),
                                 "dhash": pa.array(dhashes, pa.int64())})),
            (aud_path, pa.table({"clip_id": pa.array(clip_ids, pa.int64()),
                                 "afp": pa.array(afps, pa.int64())})),
            (vid_path, pa.table({"video_id": pa.array(vid_ids, pa.int64()),
                                 "frame_idx": pa.array(vid_fidx, pa.int32()),
                                 "fhash": pa.array(vid_fhash, pa.int64())})),
        ):
            tmp = f"{path}.{pid}.tmp"
            pq.write_table(tbl, tmp)
            os.replace(tmp, path)
        with open(marker, "w") as f:
            f.write(str(len(vec_ids)))
        return img_path, aud_path, vid_path
    except Exception as e:  # pragma: no cover - environment-dependent
        # surface the reason: a silent None here quietly downgrades
        # image/audio dedup from hash-exact to no-oracle, and the
        # coverage guard would then fail with a misleading message
        import sys  # noqa: PLC0415

        print(f"_materialize_media_fps failed ({e!r}); image/audio "
              "oracle keys will be absent", file=sys.stderr)
        return None


def _sql_hll_fold_ctes(p: int, group_cols: str = "") -> str:
    """``stats``/``folded`` CTEs reducing a ``regs(bucket, register
    [, groups])`` CTE to integer sufficient statistics — mirrors
    operators/sketches._estimate_from_registers exactly."""
    m = 1 << p
    rmax = 60 - p + 1
    gsel = f"{group_cols}, " if group_cols else ""
    gby = f"GROUP BY {group_cols}" if group_cols else ""
    return f"""
    stats AS (
      SELECT {gsel}CAST(SUM((CAST(1 AS BIGINT) << ({rmax} - register))) AS BIGINT) AS s_present,
             CAST(COUNT(*) AS BIGINT) AS nonzero
      FROM regs {gby}
    ), folded AS (
      SELECT {gsel}nonzero,
             s_present + ({m} - nonzero) * (CAST(1 AS BIGINT) << {rmax}) AS s_stat
      FROM stats
    )"""


def _sql_hll_est_expr(p: int) -> str:
    """The estimate expression over ``folded``'s columns.  The raw-
    estimate constant is precomputed as one Python float so neither
    engine does decimal-literal arithmetic (DuckDB DECIMAL overflows)."""
    m = 1 << p
    rmax = 60 - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    c = repr(alpha * m * m * float(1 << rmax))
    return f"""CAST(round(CASE
        WHEN {c} / CAST(s_stat AS DOUBLE) <= {2.5 * m} AND nonzero < {m}
        THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - nonzero AS DOUBLE))
        ELSE {c} / CAST(s_stat AS DOUBLE) END) AS BIGINT)"""


def _sql_hll_regs(hash_expr: str, p: int, from_clause: str, group_cols: str = "") -> str:
    """``h`` + ``regs`` CTEs: 60-bit md5 hash -> (bucket, register)."""
    m = 1 << p
    rmax = 60 - p + 1
    gsel = f"{group_cols}, " if group_cols else ""
    return f"""
    h AS (SELECT {gsel}{_sql_md5h(hash_expr)} AS h FROM {from_clause}),
    regs AS (
      SELECT {gsel}h % {m} AS bucket,
             MAX(CASE WHEN (h >> {p}) = 0 THEN {rmax}
                      ELSE {rmax} - length(bin(h >> {p})) END) AS register
      FROM h GROUP BY {gsel}bucket
    )"""


def _sql_pagerank(
    iterations: int = 4,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
    edges_ctes: str | None = None,
    final_select: str | None = None,
) -> str:
    """Unrolled fixed-point PageRank CTE chain mirroring
    operators/graph.pagerank_fixed_point — all-integer per-iteration
    arithmetic, so the chain is hash-exact against the Spark loop.

    ``edges_ctes`` supplies the CTE text ending in an ``edges``
    (src, dst) relation (default: the symmetrized trade graph);
    ``final_select`` overrides the output projection.  The iteration
    arithmetic lives HERE ONLY — warc_domain_rank reuses it with its
    own edges, so the two oracles cannot drift."""
    base = scale * (100 - damping_pct) // 100
    if edges_ctes is None:
        edges_ctes = """
    e0 AS (
      SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
             'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS MATERIALIZED (SELECT DISTINCT * FROM
      (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0))"""
    if final_select is None:
        final_select = (
            f"SELECT node, rank FROM r{iterations} ORDER BY rank DESC, node LIMIT 20"
        )
    # MATERIALIZED: DuckDB inlines plain CTEs, so without it the edge
    # derivation re-executes inside every iteration's join — at sf3
    # that recomputation spilled >79 GB of temp and died; materialized,
    # each relation is built once and the chain is disk-feasible
    ctes = [f"""{edges_ctes},
    outdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
    nodes AS MATERIALIZED (SELECT DISTINCT node FROM
      (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)"""]
    for i in range(iterations):
        ctes.append(f"""
    c{i + 1} AS (
      SELECT e.dst AS node,
             SUM((r.rank * {damping_pct}) // (100 * o.outdeg)) AS in_sum
      FROM r{i} r JOIN edges e ON r.node = e.src JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r{i + 1} AS MATERIALIZED (
      SELECT n.node, CAST({base} + COALESCE(c.in_sum, 0) AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c{i + 1} c ON n.node = c.node
    )""")
    return "WITH " + ",".join(ctes) + "\n    " + final_select


# DSIR weights (operators/dsir.py mirror): hashed unigram+bigram
# buckets (md5-based, 4096), add-one-smoothed target (lang='en') and
# raw bucket models, per-gram log-ratio summed in exact decimals.
_SQL_DSIR_W = """
            WITH tok AS (
              SELECT doc_id, lang,
                     list_filter(string_split(text, ' '), t -> t <> '') AS toks
              FROM documents
            ), grams AS (
              SELECT doc_id, lang,
                     list_concat(
                       toks,
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(
                                   generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])
                            ELSE [] END
                     ) AS gs
              FROM tok
            ), feat AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS b
              FROM (SELECT doc_id, lang, unnest(gs) AS g FROM grams)
            ), tmodel AS (
              SELECT b, count(*) AS ct FROM feat WHERE lang = 'en' GROUP BY b
            ), rmodel AS (
              SELECT b, count(*) AS cr FROM feat GROUP BY b
            ), ts AS (SELECT sum(ct) + 4096 AS nt FROM tmodel),
               rs AS (SELECT sum(cr) + 4096 AS nr FROM rmodel),
            wtab AS (
              SELECT f.doc_id, count(*) AS n_grams,
                     round(CAST(sum(CAST(
                       ln((coalesce(t.ct, 0) + 1)::DOUBLE / ts.nt)
                       - ln((coalesce(r.cr, 0) + 1)::DOUBLE / rs.nr)
                     AS DECIMAL(28,12))) AS DOUBLE), 6) AS w
              FROM feat f
              LEFT JOIN tmodel t USING (b)
              LEFT JOIN rmodel r USING (b), ts, rs
              GROUP BY f.doc_id
            )
"""


def oracle_sql() -> dict[str, str]:
    qvec = _sql_query_vec()
    cos = _sql_cosine("v", "q")
    norm_hash = _sql_md5h(_SQL_NORM_TEXT)
    media_fps = _materialize_media_fps()
    media_oracles = {}
    if media_fps is not None:
        img_path, aud_path, vid_path = media_fps
        media_oracles = {
            # brute-force Hamming pair joins over the oracle-side
            # fingerprints; the Spark queries run decode + banded join
            "image_dup_pairs": f"""
                SELECT l.img_id AS id_a, r.img_id AS id_b,
                       CAST(bit_count(xor(l.dhash, r.dhash)) AS INTEGER) AS hamming
                FROM read_parquet('{img_path}') l
                JOIN read_parquet('{img_path}') r ON l.img_id < r.img_id
                WHERE bit_count(xor(l.dhash, r.dhash)) <= 3
            """,
            "audio_dup_pairs": f"""
                SELECT l.clip_id AS id_a, r.clip_id AS id_b,
                       CAST(bit_count(xor(l.afp, r.afp)) AS INTEGER) AS hamming
                FROM read_parquet('{aud_path}') l
                JOIN read_parquet('{aud_path}') r ON l.clip_id < r.clip_id
                WHERE bit_count(xor(l.afp, r.afp)) <= 1
            """,
            "video_dup_pairs": f"""
                WITH m AS (
                    SELECT l.video_id AS id_a, r.video_id AS id_b
                    FROM read_parquet('{vid_path}') l
                    JOIN read_parquet('{vid_path}') r
                      ON l.video_id < r.video_id
                     AND bit_count(xor(l.fhash, r.fhash)) <= 3
                )
                SELECT id_a, id_b, count(*) AS n_matching_frames
                FROM m GROUP BY 1, 2 HAVING count(*) >= 2
            """,
        }
    return media_oracles | {
        # -- round 10: multi-output-topic ETL ---------------------------
        "etl_multi_output": _sql_etl_multi_output(),
        # -- round 10: IVF-PQ ------------------------------------------
        "ann_ivfpq_topk": _sql_ann_ivfpq(),
        "ann_ivfpq_rerank": _sql_ann_ivfpq_rerank(),
        "ivfpq_recall": _sql_ivfpq_recall(),
        # -- round 7 (late): trainable fixed-point classifier ----------
        "perceptron_train": _sql_perceptron_train(),
        "perceptron_score_topk": _sql_perceptron_topk(),
        "perceptron_eval": _sql_perceptron_eval(),
        "perceptron_threshold_sweep": _sql_perceptron_sweep(),
        "bpe_learn_merges": _sql_bpe_learn(),
        "bpe_vocab_tokens": _sql_bpe_vocab_tokens(),
        "bpe_doc_token_counts": _sql_bpe_doc_tokens(),
        "salted_skew_agg": _SQL_SALTED_SKEW,
        "url_frontier_dedup": _sql_url_frontier_dedup(),
        "token_budget_select": _SQL_TOKEN_BUDGET,
        "rollup_cascade_daily": _SQL_ROLLUP_CASCADE,
        "gap_fill_hourly": _SQL_GAP_FILL,
        "inverted_index_top": _sql_inverted_index(),
        "cdc_scd2_history": _SQL_SCD2_HISTORY,
        "cohort_retention": _SQL_COHORT_RETENTION,
        "event_transitions": _SQL_EVENT_TRANSITIONS,
        "join_size_estimate": _sql_join_size_estimate(),
        "quality_blend": _sql_quality_blend(),
        "token_cooccurrence": _sql_token_cooccurrence(),
        "profile_orders": _SQL_PROFILE_ORDERS,
        "embedding_gram": _SQL_EMBEDDING_GRAM,
        "label_centroid_drift": _SQL_CENTROID_DRIFT,
        "gram_power_iteration": _sql_gram_power(),
        "zorder_key_head": _sql_zorder_key(),
        # -- round 7: sketches + fixed-point PageRank ------------------
        "kmeans_centroids": _sql_kmeans(2),
        "source_overlap_sketch": f"""
            WITH tok AS (
              SELECT source, unnest({_sql_tokens("text")}) AS t FROM documents
            ),
            h AS (
              SELECT DISTINCT source AS g, {_sql_md5h("t")} AS h
              FROM tok WHERE t != ''
            ),
            sig AS (
              SELECT g, h FROM (
                SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
                FROM h
              ) WHERE rk <= 256
            ),
            pairs AS (
              SELECT DISTINCT a.g AS ga, b.g AS gb
              FROM (SELECT DISTINCT g FROM sig) a,
                   (SELECT DISTINCT g FROM sig) b
              WHERE a.g < b.g
            ),
            uni AS (
              SELECT DISTINCT p.ga, p.gb, s.h
              FROM pairs p JOIN sig s ON s.g = p.ga OR s.g = p.gb
            ),
            ukmin AS (
              SELECT ga, gb, h FROM (
                SELECT ga, gb, h,
                       row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
                FROM uni
              ) WHERE rk <= 256
            ),
            com AS (
              SELECT u.ga, u.gb, CAST(COUNT(*) AS BIGINT) AS common
              FROM ukmin u
              JOIN sig x ON x.g = u.ga AND x.h = u.h
              JOIN sig y ON y.g = u.gb AND y.h = u.h
              GROUP BY u.ga, u.gb
            ),
            den AS (
              SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS denom
              FROM ukmin GROUP BY ga, gb
            )
            SELECT d.ga AS a, d.gb AS b,
                   COALESCE(c.common, 0) AS common, d.denom,
                   round(CAST(COALESCE(c.common, 0) AS DOUBLE) / d.denom, 6) AS jaccard_est
            FROM den d LEFT JOIN com c ON d.ga = c.ga AND d.gb = c.gb
        """,
        "hdr_quantiles": """
            WITH base AS (
              SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS v
              FROM lineitem
            ), b AS (
              SELECT CASE WHEN v = 0 THEN 0
                     ELSE v - v % (CAST(1 AS BIGINT) << greatest(length(bin(v)) - 1 - 4, 0)) END AS bucket_lo,
                     CASE WHEN v = 0 THEN 1
                     ELSE v - v % (CAST(1 AS BIGINT) << greatest(length(bin(v)) - 1 - 4, 0))
                          + (CAST(1 AS BIGINT) << greatest(length(bin(v)) - 1 - 4, 0)) END AS bucket_hi
              FROM base
            ),
            hist AS (SELECT bucket_lo, bucket_hi, CAST(COUNT(*) AS BIGINT) AS n
                     FROM b GROUP BY 1, 2),
            tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_n FROM hist),
            cum AS (SELECT *, CAST(COALESCE(SUM(n) OVER (ORDER BY bucket_lo
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
                    FROM hist),
            qs(q) AS (SELECT CAST(unnest([0.5, 0.9, 0.99, 0.999]) AS DOUBLE)),
            ranked AS (SELECT q, CAST(ceil(q * total_n) AS BIGINT) AS rank
                       FROM qs CROSS JOIN tot)
            SELECT q, bucket_lo + ((rank - cum_before - 1) * (bucket_hi - bucket_lo)) // n AS estimate
            FROM ranked JOIN cum ON rank > cum_before AND rank <= cum_before + n
        """,
        "ann_ivf_index_topk": f"""
            WITH cents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS c
              FROM embeddings WHERE vec_id < 8
            ),
            probe AS (
              SELECT cell FROM (
                SELECT cell, {_sql_cosine("c", f"({qvec})")} AS s FROM cents
              ) ORDER BY s DESC, cell LIMIT 2
            ),
            pairs AS (
              SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cell,
                     {_sql_cosine("c.c", "(e.embedding::DOUBLE[])")} AS s,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY {_sql_cosine("c.c", "(e.embedding::DOUBLE[])")} DESC, c.cell) AS rn
              FROM embeddings e CROSS JOIN cents c
            ),
            assigned AS (
              SELECT vec_id, v, cell AS ivf_cell FROM pairs WHERE rn = 1
            ),
            ranked AS (
              SELECT vec_id, round({_sql_cosine("v", f"({qvec})")}, 8) AS score
              FROM assigned WHERE ivf_cell IN (SELECT cell FROM probe)
              ORDER BY score DESC, vec_id LIMIT 20
            )
            SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
            FROM ranked
        """,
        "zq_parse_uri": """
            SELECT doc_id,
                   'https://' || source || '.example.com:8443/docs/' ||
                     CAST(doc_id AS VARCHAR) || '?lang=' || lang || '#top' AS url,
                   'https' AS scheme,
                   source || '.example.com' AS host,
                   CAST(8443 AS BIGINT) AS port,
                   '/docs/' || CAST(doc_id AS VARCHAR) AS path,
                   'lang=' || lang AS query,
                   'top' AS fragment
            FROM documents
        """,
        "zq_shape_funcs": """
            SELECT event_id,
                   event_type AS s_t,
                   CAST(user_id AS DOUBLE) AS s_v,
                   CAST(NULL AS BIGINT) AS s_missing,
                   value AS s_extra,
                   user_id AS c_v,
                   event_type AS o_t,
                   'struct<t:string,v:double,missing:bigint,extra:double>' AS shape_sig,
                   'struct<v:bigint,t:string>' AS crop_sig,
                   'struct<t:string,v:bigint,extra:double>' AS order_sig
            FROM events
        """,
        "zq_network_of": """
            WITH base AS (
              SELECT event_id,
                     10 * 16777216 + (user_id % 200) * 65536 + (event_id % 250) AS ipn,
                     '10.' || CAST(user_id % 200 AS VARCHAR) || '.0.' ||
                       CAST(event_id % 250 AS VARCHAR) AS ip
              FROM events
            )
            SELECT event_id, ip,
                   (ipn & (4294967295 - 4194303)) = (10 * 16777216 + 64 * 65536) AS keep,
                   CAST((ipn & (4294967295 - 1048575)) // 16777216 AS VARCHAR) || '.' ||
                   CAST(((ipn & (4294967295 - 1048575)) // 65536) % 256 AS VARCHAR) ||
                   '.0.0/12' AS net
            FROM base
        """,
        "range_join_bands": """
            WITH bands(lo, hi, tier) AS (VALUES
              (0.0, 1000.0, 'T0'), (1000.0, 5000.0, 'T1'),
              (5000.0, 20000.0, 'T2'), (20000.0, 50000.0, 'T3'),
              (50000.0, 100000.0, 'T4'), (100000.0, 200000.0, 'T5'),
              (200000.0, 600000.0, 'T6'))
            SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
            FROM orders JOIN bands
              ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY tier
        """,
        "hll_distinct": f"""
            WITH {_sql_hll_regs("CAST(l_partkey AS VARCHAR)", 12, "lineitem")},
            {_sql_hll_fold_ctes(12)},
            exact AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact FROM lineitem)
            SELECT {_sql_hll_est_expr(12)} AS estimate, exact.exact,
                   folded.nonzero AS nonzero_registers, folded.s_stat
            FROM folded CROSS JOIN exact
        """,
        "hll_distinct_by_group": f"""
            WITH {_sql_hll_regs("CAST(user_id AS VARCHAR)", 10, "events", "event_type")},
            {_sql_hll_fold_ctes(10, "event_type")}
            SELECT event_type, {_sql_hll_est_expr(10)} AS estimate,
                   nonzero AS nonzero_registers, s_stat
            FROM folded ORDER BY event_type
        """,
        "hll_merge_rollup": f"""
            WITH fp AS (SELECT source, {_SQL_CONTENT_FP} AS fp FROM documents),
            h AS (SELECT source, {_sql_md5h("CAST(fp AS VARCHAR)")} AS h FROM fp),
            per_src AS (
              SELECT source, h % 4096 AS bucket,
                     MAX(CASE WHEN (h >> 12) = 0 THEN 49
                              ELSE 49 - length(bin(h >> 12)) END) AS register
              FROM h GROUP BY source, bucket
            ),
            regs AS (
              SELECT source, bucket, register FROM per_src
              UNION ALL
              SELECT 'ALL' AS source, bucket, MAX(register) AS register
              FROM per_src GROUP BY bucket
            ),
            {_sql_hll_fold_ctes(12, "source")}
            SELECT source, {_sql_hll_est_expr(12)} AS estimate,
                   nonzero AS nonzero_registers, s_stat
            FROM folded ORDER BY source
        """,
        "kmv_distinct": f"""
            WITH h AS (
              SELECT DISTINCT {_sql_md5h("CAST(o_custkey AS VARCHAR)")} AS h FROM orders
            ), mins AS (SELECT h FROM h ORDER BY h LIMIT 256),
            kth AS (SELECT MAX(h) AS kth, CAST(COUNT(*) AS BIGINT) AS got FROM mins)
            SELECT CASE WHEN got < 256 THEN got
                   ELSE CAST(round({255.0 * float(1 << 60)!r} / CAST(kth AS DOUBLE)) AS BIGINT)
                   END AS estimate,
                   kth AS kth_min
            FROM kth
        """,
        "countmin_heavy_hitters": f"""
            WITH toks AS (
              SELECT unnest({_sql_tokens("text")}) AS token FROM documents
            ), tk AS (SELECT token FROM toks WHERE token != ''),
            cells AS (
              SELECT i.r AS row,
                     {_sql_md5h("CAST(i.r AS VARCHAR) || ':' || token")} % 1024 AS bucket
              FROM tk, (SELECT unnest(range(4)) AS r) i
            ),
            grid AS (SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS counter
                     FROM cells GROUP BY row, bucket),
            true_top AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
              FROM tk GROUP BY token
              ORDER BY true_count DESC, token LIMIT 20
            ),
            probes AS (
              SELECT token, i.r AS row,
                     {_sql_md5h("CAST(i.r AS VARCHAR) || ':' || token")} % 1024 AS bucket
              FROM true_top, (SELECT unnest(range(4)) AS r) i
            )
            SELECT t.token, t.true_count, MIN(g.counter) AS cm_estimate
            FROM probes p
            JOIN grid g USING (row, bucket)
            JOIN true_top t ON p.token = t.token
            GROUP BY t.token, t.true_count
        """,
        "bloom_contamination": f"""
            WITH {_sql_shingle_ctes(3)},
            ex AS (SELECT DISTINCT doc_id, unnest(shingles) AS s FROM sh),
            bench AS (SELECT DISTINCT s FROM ex WHERE doc_id % 40 = 0),
            -- Kirsch-Mitzenmacher double hashing, mirroring
            -- sketches.bloom_positions: pos_i = (h%m + i*((h>>20)%m|1)) % m
            bh AS (SELECT s, {_sql_md5h("'b:' || s")} AS h FROM bench),
            bits AS (
              SELECT DISTINCT
                (h % 65536 + i.k * ((h >> 20) % 65536 | 1)) % 65536 AS pos
              FROM bh, (SELECT unnest(range(3)) AS k) i
            ),
            ch AS (SELECT doc_id, s, {_sql_md5h("'b:' || s")} AS h
                   FROM ex WHERE doc_id % 40 != 0),
            probes AS (
              SELECT doc_id, s,
                (h % 65536 + i.k * ((h >> 20) % 65536 | 1)) % 65536 AS pos
              FROM ch, (SELECT unnest(range(3)) AS k) i
            ),
            flagged AS (
              SELECT doc_id, s FROM probes JOIN bits USING (pos)
              GROUP BY doc_id, s HAVING COUNT(*) = 3
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS flagged_ngrams
            FROM flagged GROUP BY doc_id HAVING COUNT(*) >= 3
        """,
        "weighted_sample": f"""
            WITH pri AS (
              SELECT doc_id, source, n_chars,
                     (({_sql_md5h("'wps:' || CAST(doc_id AS VARCHAR)")} % 1073741824) << 30)
                       // greatest(CAST(n_chars AS BIGINT), 1) AS _prio
              FROM documents
            )
            SELECT doc_id, source, n_chars FROM pri ORDER BY _prio, doc_id LIMIT 50
        """,
        "pagerank_trade_graph": _sql_pagerank(4),
        "dedup_incremental_exact": """
            WITH fp AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS content_hash
              FROM documents)
            SELECT doc_id, content_hash FROM fp n
            WHERE doc_id % 5 = 0
              AND NOT EXISTS (SELECT 1 FROM fp c
                              WHERE c.doc_id % 5 != 0
                                AND c.content_hash = n.content_hash)
              AND NOT EXISTS (SELECT 1 FROM fp e
                              WHERE e.doc_id % 5 = 0
                                AND e.content_hash = n.content_hash
                                AND e.doc_id < n.doc_id)
        """,
        "dedup_incremental_minhash": _sql_minhash_lsh(
            16, 4, 5, 0.4, extra="AND (c.a % 5 = 0 OR c.b % 5 = 0)"
        ),
        "zq_filter_cut": """
            SELECT event_id, event_type, value FROM events
            WHERE event_type IN ('click','view') AND value >= 250.0
        """,
        "zq_agg_by": """
            SELECT lang, COUNT(*) AS n,
                   CAST(SUM(n_chars) AS BIGINT) AS total,
                   MAX(n_chars) AS top
            FROM documents GROUP BY lang
        """,
        "zq_over_unnest": """
            SELECT value, COUNT(*) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS value FROM documents)
            GROUP BY value
            ORDER BY n DESC, value DESC
            LIMIT 20
        """,
        "zq_regex_search": """
            SELECT doc_id, source, n_chars
            FROM documents
            WHERE coalesce(regexp_matches(text,   'spark (join|agg)'), false)
               OR coalesce(regexp_matches(lang,   'spark (join|agg)'), false)
               OR coalesce(regexp_matches(source, 'spark (join|agg)'), false)
        """,
        "zq_rename_drop": """
            SELECT doc_id, source AS origin, false AS had_l
            FROM documents
        """,
        "zq_left_join": """
            SELECT o.o_orderkey, o.o_custkey, c.c_name AS cname
            FROM orders o
            LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
              ON o.o_custkey = c.c_custkey
        """,
        "zq_top": """
            SELECT doc_id, source, n_chars
            FROM documents
            ORDER BY n_chars DESC, doc_id DESC
            LIMIT 5
        """,
        "zq_interval_shift": """
            SELECT event_id,
                   strftime(ts + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS t2
            FROM events
        """,
        "zq_every_bucket": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "zq_agg_where": """
            SELECT event_type,
                   COUNT(CASE WHEN value > 100.0 THEN 1 END) AS hot,
                   COUNT(*) AS n
            FROM events GROUP BY event_type
        """,
        "zq_switch_yield": """
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 'english'
                        WHEN source = 'web' THEN 'web'
                        ELSE lang END AS bucket,
                   CASE WHEN lang = 'en' THEN n_chars
                        WHEN source = 'web' THEN n_chars * 2
                        ELSE -n_chars END AS n
            FROM documents
        """,
        "zq_join_denorm": """
            SELECT o_orderkey, o_totalprice, c_name AS customer_name
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "zq_anti_join": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE NOT EXISTS (
                SELECT 1 FROM customer
                WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
        """,
        "zq_sort_tail": """
            SELECT event_id, event_type FROM events
            ORDER BY event_id ASC LIMIT 3
        """,
        "zq_const_map": """
            SELECT CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                                   WHEN 'purchase' THEN 3 END AS tier,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        """,
        "zq_put_funcs": """
            SELECT doc_id, split_part(text, ' ', 1) AS tok0,
                   upper(lang) AS lang_u,
                   CASE WHEN n_chars > 500 THEN 'long' ELSE 'short' END AS flag
            FROM documents
        """,
        "zq_regexp_funcs": """
            SELECT event_id,
                   CASE WHEN regexp_matches(props, '"k": ([0-9]+)')
                        THEN CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
                                  AS BIGINT) END AS kv,
                   levenshtein(event_type, 'click') AS lev,
                   regexp_replace(props, '[0-9]+', '#', 'g') AS clean
            FROM events
        """,
        "zq_strftime_bucket": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   strftime(make_timestamp(
                       (CAST(floor(epoch(ts) / 900) AS BIGINT) * 900)
                       * 1000000),
                       '%Y-%m-%d %H:%M:%S') AS bucket,
                   count(*) AS n, min(event_id) AS lo
            FROM events GROUP BY 1, 2
        """,
        "zq_over_scope": """
            SELECT doc_id AS d, lang AS l, count(*) AS toks, min(w) AS first
            FROM (
                SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> '' GROUP BY 1, 2
        """,
        "zq_over_sort_collect": """
            SELECT doc_id AS d,
                   array_to_string(list(w ORDER BY w DESC), ' ') AS toks
            FROM (
                SELECT doc_id, unnest(str_split(text, ' ')) AS w
                FROM documents
            ) WHERE w <> '' GROUP BY doc_id ORDER BY d LIMIT 50
        """,
        "zq_over_topk": """
            SELECT doc_id AS d,
                   array_to_string(
                       list_sort(
                           list_filter(string_split(text, ' '), t -> t <> ''),
                           'DESC')[1:3], ' ') AS top3
            FROM documents ORDER BY d LIMIT 100
        """,
        "zq_unflatten_filter": """
            SELECT event_id AS k, event_id AS uid,
                   CASE WHEN event_type <> 'click' THEN event_type END AS et,
                   user_id AS uu, value AS uv
            FROM events
        """,
        "dsir_select": f"""
            {_SQL_DSIR_W}
            SELECT doc_id, n_grams, w FROM wtab
            ORDER BY w DESC, doc_id LIMIT 50
        """,
        "dsir_gumbel_sample": f"""
            {_SQL_DSIR_W}
            SELECT doc_id, w,
                   round(w + -ln(-ln(greatest(
                       CAST(('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 15))
                            AS BIGINT)::DOUBLE / 1152921504606846976.0,
                       1e-18))), 6) AS gkey
            FROM wtab ORDER BY gkey DESC, doc_id LIMIT 30
        """,
        "ccnet_buckets": """
            WITH tok AS (
                SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w
                FROM documents
            ), tok2 AS (
                SELECT * FROM tok WHERE w <> ''
            ), model AS (
                SELECT w, count(*) AS c FROM tok2 WHERE lang = 'en' GROUP BY w
            ), stats AS (
                SELECT sum(c) AS n, count(*) AS v FROM model
            ), scored AS (
                SELECT t.doc_id, count(*) AS n_tokens,
                       round(
                           CAST(-sum(CAST(ln((coalesce(m.c, 0) + 1)
                                             / (s.n + s.v))
                                          AS DECIMAL(28,12))) AS DOUBLE)
                           / count(*), 6) AS xent
                FROM tok2 t LEFT JOIN model m USING (w), stats s
                GROUP BY t.doc_id
            ), r AS (
                SELECT *, row_number() OVER (ORDER BY xent, doc_id) - 1 AS rn0,
                       count(*) OVER () AS nn
                FROM scored
            )
            SELECT doc_id, n_tokens, xent,
                   CAST((rn0 * 3) // nn + 1 AS INT) AS bucket,
                   (rn0 * 3) // nn + 1 <= 2 AS kept
            FROM r
        """,
        "lm_quality_unigram": """
            WITH tok AS (
                SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w
                FROM documents
            ), tok2 AS (
                SELECT * FROM tok WHERE w <> ''
            ), model AS (
                SELECT w, count(*) AS c FROM tok2 WHERE lang = 'en' GROUP BY w
            ), stats AS (
                SELECT sum(c) AS n, count(*) AS v FROM model
            )
            SELECT t.doc_id, count(*) AS n_tokens,
                   round(
                       CAST(-sum(CAST(ln((coalesce(m.c, 0) + 1)
                                         / (s.n + s.v))
                                      AS DECIMAL(28,12))) AS DOUBLE)
                       / count(*), 6) AS xent
            FROM tok2 t LEFT JOIN model m USING (w), stats s
            GROUP BY t.doc_id
        """,
        "lm_quality_bigram": """
            WITH arr AS (
                SELECT doc_id, lang, str_split(text, ' ') AS a FROM documents
            ), pairs0 AS (
                SELECT doc_id, lang,
                       unnest(a[1:greatest(len(a)-1, 0)]) AS w1,
                       unnest(a[2:len(a)]) AS w2
                FROM arr
            ), pairs AS (
                SELECT * FROM pairs0 WHERE w1 <> '' AND w2 <> ''
            ), uni AS (
                SELECT w, count(*) AS c FROM (
                    SELECT unnest(str_split(text, ' ')) AS w
                    FROM documents WHERE lang = 'en'
                ) WHERE w <> '' GROUP BY w
            ), big AS (
                SELECT w1, w2, count(*) AS c12 FROM pairs
                WHERE lang = 'en' GROUP BY w1, w2
            ), stats AS (
                SELECT sum(c) AS n, count(*) AS v FROM uni
            )
            SELECT p.doc_id, count(*) AS n_bigrams,
                   round(
                       CAST(-sum(CAST(ln(
                           0.9 * (CASE WHEN u1.c IS NOT NULL
                                        AND b.c12 IS NOT NULL
                                  THEN CAST(b.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE)
                                  ELSE 0.0 END)
                           + 0.1 * ((coalesce(u2.c, 0) + 1) / (s.n + s.v))
                       ) AS DECIMAL(28,12))) AS DOUBLE)
                       / count(*), 6) AS xent
            FROM pairs p
            LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
            LEFT JOIN uni u1 ON p.w1 = u1.w
            LEFT JOIN uni u2 ON p.w2 = u2.w
            , stats s
            GROUP BY p.doc_id
        """,
        "zq_sample": """
            SELECT event_id, user_id, event_type, value FROM events
            WHERE event_id = (SELECT min(event_id) FROM events)
        """,
        "zq_flatten": """
            SELECT k, v FROM (
                SELECT 'id' AS k, CAST(doc_id AS VARCHAR) AS v FROM documents
                UNION ALL
                SELECT 'meta.lang', lang FROM documents
                UNION ALL
                SELECT 'meta.n', CAST(n_chars AS VARCHAR) FROM documents
            ) t
        """,
        "zq_grok": """
            WITH g AS (
                SELECT
                    CASE WHEN regexp_matches(text,
                        '((?:\\b\\w+\\b)) ((?:\\b\\w+\\b)) ((?:.*))')
                    THEN regexp_extract(text,
                        '((?:\\b\\w+\\b)) ((?:\\b\\w+\\b)) ((?:.*))', 1)
                    END AS w1,
                    CASE WHEN regexp_matches(text,
                        '((?:\\b\\w+\\b)) ((?:\\b\\w+\\b)) ((?:.*))')
                    THEN regexp_extract(text,
                        '((?:\\b\\w+\\b)) ((?:\\b\\w+\\b)) ((?:.*))', 2)
                    END AS w2
                FROM documents
            )
            SELECT w1, w2, count(*) AS n FROM g GROUP BY 1, 2
            ORDER BY n DESC, w1 DESC, w2 DESC LIMIT 25
        """,
        "envelope_wrap": """
            SELECT event_type AS kafka_topic, 0::BIGINT AS kafka_partition,
                   event_id AS kafka_offset, user_id AS key_user_id,
                   round(value, 2) AS value_value, 'data' AS rec_type
            FROM events
        """,
        "filter_predicates": """
            SELECT event_id, event_type, round(value, 2) AS value
            FROM events
            WHERE event_type IN ('click','view') AND value >= 10.0 AND NOT (user_id = 0)
        """,
        "avro_union_roundtrip": """
            SELECT event_id,
                   CAST(event_id % 3 AS INTEGER) AS tag,
                   CASE WHEN event_id % 3 = 1 THEN user_id END AS as_long,
                   CASE WHEN event_id % 3 = 2 THEN event_type END AS as_str
            FROM events WHERE event_id < 2000
        """,
        "resume_offset": """
            SELECT (coalesce(max(event_id), -1) + 1) AS next_offset
            FROM events WHERE event_type = 'click'
        """,
        "producer_offsets": """
            SELECT event_type AS topic, (max(event_id) + 1) AS next_offset
            FROM events GROUP BY event_type
        """,
        "read_batch": """
            SELECT event_id AS offset, user_id, round(value, 2) AS value
            FROM events
            WHERE event_type = 'click' AND event_id >= 100
            ORDER BY event_id LIMIT 50
        """,
        "tail1": """
            SELECT event_id, event_type, user_id
            FROM events ORDER BY event_id DESC LIMIT 1
        """,
        "anti_join_done": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "denorm_join": """
            SELECT o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice,
                   c.c_name, c.c_mktsegment
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "switch_route": """
            SELECT event_id, 'purchase' AS branch, round(value * 2, 2) AS out_value
            FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT event_id, 'click' AS branch, round(value, 2) AS out_value
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT event_id, 'other' AS branch, 0.0::DOUBLE AS out_value
            FROM events WHERE event_type NOT IN ('purchase','click')
        """,
        "fork_union": """
            SELECT event_id, 'err' AS tag FROM events WHERE event_type = 'error'
            UNION ALL
            SELECT event_id, 'big' AS tag FROM events WHERE value > 90
        """,
        "fuse_hetero": """
            SELECT event_id, user_id AS a, NULL::DOUBLE AS b, NULL::VARCHAR AS c
            FROM events WHERE event_id % 3 = 0
            UNION ALL
            SELECT event_id, NULL, round(value, 2), NULL FROM events WHERE event_id % 3 = 1
            UNION ALL
            SELECT event_id, NULL, NULL, event_type FROM events WHERE event_id % 3 = 2
        """,
        "top1_per_group": """
            SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders
            ) WHERE rn = 1
        """,
        "grouped_agg": """
            SELECT event_type AS topic, round(max(value), 2) AS max_value,
                   count(*) AS n, bool_or(value > 100) AS any_big,
                   CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
            FROM events GROUP BY event_type
        """,
        "collect_bundle": """
            SELECT (user_id % 50) AS txn,
                   string_agg(event_id::VARCHAR, ',' ORDER BY event_id) AS bundle,
                   bool_or(event_type = 'error') AS has_error
            FROM events GROUP BY (user_id % 50)
        """,
        "offset_assign": """
            SELECT event_type AS topic, event_id AS in_offset,
                   (CASE event_type WHEN 'click' THEN 1000 WHEN 'view' THEN 2000 ELSE 0 END
                    + row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1)
                   AS out_offset
            FROM events
        """,
        "minhash_lsh_recall": _sql_minhash_recall(),
        "warc_ingest": _sql_warc_ingest(),
        "warc_curation": _sql_warc_curation(),
        "warc_url_filter": _sql_warc_url_filter(),
        "warc_link_graph": _sql_warc_link_graph(),
        "warc_domain_rank": _sql_warc_domain_rank(),
        "bm25_topk": f"""
            WITH {_sql_bm25_scored_ctes()}
            SELECT doc_id, n_tokens,
                   round(CAST(CAST(c0 AS DECIMAL(28,12)) + CAST(c1 AS DECIMAL(28,12)) + CAST(c2 AS DECIMAL(28,12)) AS DOUBLE), 6) AS bm25
            FROM scored
            ORDER BY bm25 DESC, doc_id ASC
            LIMIT 20
        """,
        "offset_assign_dist": """
            SELECT event_type AS topic, event_id AS in_offset,
                   (CASE event_type WHEN 'click' THEN 1000 WHEN 'view' THEN 2000 ELSE 0 END
                    + row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1)
                   AS out_offset
            FROM events
        """,
        "cut_yield_cast": """
            SELECT event_id, upper(event_type) AS topic_upper,
                   str_split(event_type, 'r')[1] AS first_tok,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   CAST(trunc(value) AS BIGINT) AS value_int -- Spark cast truncates; DuckDB rounds
            FROM events
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_price,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "tpch_q5": """
            SELECT n_name,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "time_rollup": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type AS topic, count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "tpch_q6": """
            SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
              AND l_discount BETWEEN 0.02 AND 0.04
              AND l_quantity < 24
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1995-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > TIMESTAMP '1995-01-01')
            GROUP BY o_orderpriority
        """,
        "tpch_q7": """
            SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE n1.n_name <> n2.n_name
            GROUP BY 1, 2
        """,
        "tpch_q13": """
            SELECT c_count, count(*) AS custdist
            FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '3%'
              GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "tpch_q17": """
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 2) AS avg_yearly
            FROM lineitem l
            JOIN (SELECT l_partkey AS pk, 0.8 * avg(l_quantity) AS thresh
                  FROM lineitem GROUP BY l_partkey) t
              ON l.l_partkey = t.pk
            WHERE l.l_quantity < t.thresh
        """,
        "tpch_q10": """
            SELECT c_custkey, c_name, n_name,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1995-07-01'
              AND l_returnflag = 'R' AND c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "tpch_q14": """
            SELECT round(100.0::DOUBLE
                   * CAST(sum(CAST(CASE WHEN p_type LIKE 'PROMO%'
                         THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))  AS DOUBLE), 4) AS promo_revenue
            FROM lineitem, part
            WHERE l_partkey = p_partkey
              AND l_shipdate >= TIMESTAMP '1995-09-01'
              AND l_shipdate < TIMESTAMP '1995-10-01'
        """,
        "tpch_q18": """
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_date,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(big.sum_qty, 2) AS sum_qty
            FROM orders
            JOIN (SELECT l_orderkey,
                         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 212) big
              ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "tpch_q19": """
            SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size <= 15 AND l_quantity BETWEEN 1 AND 21)
               OR (p_brand = 'Brand#23' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#34' AND p_size <= 50 AND l_quantity BETWEEN 20 AND 40)
        """,
        "fuzzy_prefix_pairs": r"""
            WITH d AS (
              SELECT doc_id, source,
                     substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 16) AS pfx
              FROM documents
            )
            SELECT l.doc_id AS a, r.doc_id AS b,
                   levenshtein(l.pfx, r.pfx) AS dist
            FROM d l JOIN d r ON l.source = r.source AND l.doc_id < r.doc_id
            WHERE levenshtein(l.pfx, r.pfx) <= 4
        """,
        "percent_rank_dist": """
            SELECT user_id, count(*) AS n,
                   round(percent_rank() OVER (ORDER BY count(*), user_id), 8) AS pr,
                   round(cume_dist() OVER (ORDER BY count(*), user_id), 8) AS cd
            FROM events GROUP BY user_id
        """,
        "quality_quantile_filter": f"""
            WITH base AS (
              SELECT doc_id, source, length(text) AS n,
                     CASE WHEN len(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tc,
                     (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE AS np,
                     len(list_filter({_sql_tokens('text')},
                         t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t)))::DOUBLE AS sw
              FROM documents
            ),
            q AS (
              SELECT doc_id, source,
                   round(0.4::DOUBLE * (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                                     WHEN n >= 20 THEN 0.5 ELSE 0.0 END)::DOUBLE
                       + 0.3::DOUBLE * (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE np / n END) <= 0.1
                                     THEN 1.0 ELSE 0.0 END)::DOUBLE
                       + 0.3::DOUBLE * (CASE WHEN tc > 0
                                      AND ((n - tc + 1)::DOUBLE / tc) >= 2.0
                                      AND ((n - tc + 1)::DOUBLE / tc) <= 12.0
                                     THEN 1.0 ELSE 0.0 END)::DOUBLE, 4) AS quality
              FROM base
            )
            SELECT doc_id, source, quality, pr FROM (
              SELECT doc_id, source, quality,
                     round(percent_rank() OVER (PARTITION BY source ORDER BY quality, doc_id), 8) AS pr
              FROM q
            ) WHERE pr >= 0.6
        """,
        "knn_join": f"""
            WITH q AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 97 = 0
            ),
            s AS (
              SELECT q.qid, e.vec_id,
                     round({_sql_cosine("(e.embedding::DOUBLE[])", "q.qv")}, 8) AS score
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id != q.qid
            )
            SELECT qid, vec_id, rk FROM (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rk
              FROM s
            ) WHERE rk <= 3
        """,
        "sliding_window_counts": """
            SELECT event_id, user_id,
                   count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                                  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS n_hour
            FROM events
        """,
        "zscore_anomalies": """
            WITH stats AS (
              SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
              FROM events GROUP BY event_type
            )
            SELECT event_id, e.event_type, round((value - mu) / sigma, 4) AS z
            FROM events e JOIN stats USING (event_type)
            WHERE abs(round((value - mu) / sigma, 4)) >= 2.5
        """,
        "dedup_clusters": r"""
            WITH RECURSIVE
            d AS (
              SELECT doc_id, source,
                     substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 16) AS pfx
              FROM documents
            ),
            pairs AS (
              SELECT l.doc_id AS a, r.doc_id AS b
              FROM d l JOIN d r ON l.source = r.source AND l.doc_id < r.doc_id
              WHERE levenshtein(l.pfx, r.pfx) <= 4
            ),
            edges AS (SELECT a AS s, b AS t FROM pairs UNION SELECT b, a FROM pairs),
            reach AS (
              SELECT doc_id AS v, doc_id AS l FROM documents
              UNION
              SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v
            )
            SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v
        """,
        "leakage_safe_split": r"""
            WITH RECURSIVE
            d AS (
              SELECT doc_id, source,
                     substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 16) AS pfx
              FROM documents
            ),
            pairs AS (
              SELECT l.doc_id AS a, r.doc_id AS b
              FROM d l JOIN d r ON l.source = r.source AND l.doc_id < r.doc_id
              WHERE levenshtein(l.pfx, r.pfx) <= 4
            ),
            edges AS (SELECT a AS s, b AS t FROM pairs UNION SELECT b, a FROM pairs),
            reach AS (
              SELECT doc_id AS v, doc_id AS l FROM documents
              UNION
              SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v
            ),
            lab AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v)
            SELECT doc_id, cluster_id,
                   CASE WHEN CAST(('0x' || substr(md5('split:' || cluster_id::VARCHAR), 1, 15)) AS BIGINT) % 10 < 8
                        THEN 'train' ELSE 'valid' END AS split
            FROM lab
        """,
        "split_leakage_audit": r"""
            WITH RECURSIVE
            d AS (
              SELECT doc_id, source,
                     substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 16) AS pfx
              FROM documents
            ),
            pairs AS (
              SELECT l.doc_id AS a, r.doc_id AS b
              FROM d l JOIN d r ON l.source = r.source AND l.doc_id < r.doc_id
              WHERE levenshtein(l.pfx, r.pfx) <= 4
            ),
            edges AS (SELECT a AS s, b AS t FROM pairs UNION SELECT b, a FROM pairs),
            reach AS (
              SELECT doc_id AS v, doc_id AS l FROM documents
              UNION
              SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v
            ),
            lab AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v),
            sp AS (
              SELECT doc_id,
                     CASE WHEN CAST(('0x' || substr(md5('split:' || cluster_id::VARCHAR), 1, 15)) AS BIGINT) % 10 < 8
                          THEN 'train' ELSE 'valid' END AS split
              FROM lab
            ),
            nv AS (
              SELECT doc_id,
                     CASE WHEN CAST(('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 15)) AS BIGINT) % 10 < 8
                          THEN 'train' ELSE 'valid' END AS split
              FROM documents
            )
            SELECT
              (SELECT count(*) FROM pairs p JOIN sp l ON l.doc_id = p.a
               JOIN sp r ON r.doc_id = p.b WHERE l.split <> r.split)
              AS cluster_split_leaks,
              (SELECT count(*) FROM pairs p JOIN nv l ON l.doc_id = p.a
               JOIN nv r ON r.doc_id = p.b WHERE l.split <> r.split)
              AS naive_split_leaks
        """,
        "deterministic_shuffle": f"""
            WITH h AS (
              SELECT doc_id, {_sql_md5h("CAST(doc_id AS VARCHAR)")} AS h FROM documents
            )
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS shuffle_pos
            FROM h
        """,
        "dedup_keep_canonical": r"""
            WITH RECURSIVE
            d AS (
              SELECT doc_id, source,
                     substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 16) AS pfx
              FROM documents
            ),
            pairs AS (
              SELECT l.doc_id AS a, r.doc_id AS b
              FROM d l JOIN d r ON l.source = r.source AND l.doc_id < r.doc_id
              WHERE levenshtein(l.pfx, r.pfx) <= 4
            ),
            edges AS (SELECT a AS s, b AS t FROM pairs UNION SELECT b, a FROM pairs),
            reach AS (
              SELECT doc_id AS v, doc_id AS l FROM documents
              UNION
              SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v
            ),
            lab AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v)
            SELECT doc.doc_id, doc.source, doc.n_chars
            FROM documents doc JOIN lab USING (doc_id)
            WHERE lab.cluster_id = lab.doc_id
        """,
        "embedding_centroids": """
            SELECT label, CAST(g.dim AS INT) AS dim,
                   round(CAST(sum(CAST(CAST(embedding[g.dim + 1] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
                         / count(*), 6) AS centroid
            FROM embeddings CROSS JOIN generate_series(0, 63) AS g(dim)
            GROUP BY label, g.dim
        """,
        "stratified_sample": f"""
            WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY source)
            SELECT d.doc_id, d.source
            FROM documents d JOIN sizes USING (source)
            WHERE ({_sql_md5h("CAST(d.doc_id AS VARCHAR)")} % 10000)::DOUBLE
                  < least(1.0, 15.0 / n) * 10000
        """,
        "pack_sequences": r"""
            WITH t AS (
              SELECT doc_id, source,
                     len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1))::BIGINT AS tok
              FROM documents
            )
            SELECT doc_id, source, tok AS tok_count,
                   CAST(sum(tok) OVER w - tok AS BIGINT) AS start_off,
                   CAST((sum(tok) OVER w - tok) // 2048 AS BIGINT) AS pack_id
            FROM t
            WINDOW w AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        """,
        "contamination": f"""
            WITH {_sql_shingle_ctes(3)},
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
            SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared
            FROM ex c JOIN ex b ON c.s = b.s
            WHERE b.doc_id % 40 = 0 AND c.doc_id % 40 != 0
            GROUP BY c.doc_id, b.doc_id
            HAVING count(*) >= 3
        """,
        "tfidf_top_terms": f"""
            WITH toks AS (
              SELECT source, unnest({_sql_tokens("text")}) AS t FROM documents
            ), tk AS (SELECT * FROM toks WHERE t != ''),
            tf AS (SELECT source, t, count(*) AS tf FROM tk GROUP BY source, t),
            dfreq AS (SELECT t, count(DISTINCT source) AS df FROM tk GROUP BY t),
            nsrc AS (SELECT count(DISTINCT source) AS n FROM tk),
            scored AS (
              SELECT tf.source, tf.t, tf.tf, dfreq.df,
                     round(tf.tf * ln(nsrc.n::DOUBLE / dfreq.df), 6) AS tfidf
              FROM tf JOIN dfreq USING (t) CROSS JOIN nsrc
            )
            SELECT source, t AS term, tf, df, tfidf, rk FROM (
              SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, t) AS rk
              FROM scored
            ) WHERE rk <= 3
        """,
        "cube_counts": """
            SELECT event_type, user_id % 5 AS bucket,
                   CASE WHEN GROUPING(event_type) THEN 1 ELSE 0 END AS g_type,
                   CASE WHEN GROUPING(user_id % 5) THEN 1 ELSE 0 END AS g_bucket,
                   count(*) AS n
            FROM events
            GROUP BY CUBE (event_type, user_id % 5)
        """,
        "ntile_deciles": """
            WITH spend AS (
              SELECT user_id,
                     CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS spend
              FROM events GROUP BY user_id
            ),
            ranked AS (
              SELECT user_id, spend,
                     ntile(10) OVER (ORDER BY spend DESC, user_id) AS decile
              FROM spend
            )
            SELECT decile, count(*) AS n_users,
                   CAST(round(sum(CAST(spend AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_spend
            FROM ranked GROUP BY decile
        """,
        "funnel_counts": """
            WITH fv AS (
              SELECT user_id, min(ts) AS t_view FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ),
            fc AS (
              SELECT e.user_id, min(e.ts) AS t_click
              FROM events e JOIN fv ON e.user_id = fv.user_id
              WHERE e.event_type = 'click' AND e.ts >= fv.t_view
              GROUP BY e.user_id
            ),
            fp AS (
              SELECT e.user_id, min(e.ts) AS t_purch
              FROM events e JOIN fc ON e.user_id = fc.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= fc.t_click
              GROUP BY e.user_id
            )
            SELECT (SELECT count(*) FROM fv) AS n_view,
                   (SELECT count(*) FROM fc) AS n_click,
                   (SELECT count(*) FROM fp) AS n_purchase
        """,
        "retention_cohorts": """
            WITH days AS (
              SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
            ),
            cohort AS (
              SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
            )
            SELECT cohort_day, d.day - c.cohort_day AS day_offset,
                   count(DISTINCT d.user_id) AS n_users
            FROM days d JOIN cohort c ON d.user_id = c.user_id
            GROUP BY 1, 2
        """,
        "tpch_q8": """
            SELECT strftime(o_orderdate, '%Y') AS o_year,
                   round(CAST(sum(CAST(CASE WHEN n2.n_name = 'NATION_1'
                             THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                             AS DECIMAL(18,4))) AS DOUBLE)
                         / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
              AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
            GROUP BY 1
        """,
        "tpch_q12": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_returnflag
        """,
        "tpch_q15": """
            WITH revenue AS (
              SELECT l_suppkey AS supplier_no,
                     CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM supplier JOIN revenue ON s_suppkey = supplier_no
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        """,
        "tpch_q21": """
            SELECT s_name, count(*) AS numwait
            FROM lineitem l1
            JOIN orders ON l1.l_orderkey = o_orderkey
            JOIN supplier ON l1.l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
              AND n_name = 'NATION_2'
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_returnflag = 'R')
            GROUP BY s_name
            ORDER BY numwait DESC, s_name LIMIT 20
        """,
        "tpch_q22": """
            WITH pool AS (
              SELECT * FROM customer WHERE c_nationkey IN (1, 6, 11, 16, 21)
            ),
            avg_bal AS (
              SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                     / count(*) AS avg_bal
              FROM pool WHERE c_acctbal > 0
            )
            SELECT c_nationkey AS cntry, count(*) AS numcust,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS totacctbal
            FROM pool, avg_bal
            WHERE c_acctbal > avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey
        """,
        "const_map_lookup": """
            SELECT event_id,
                   CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                        WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4
                        WHEN 'error' THEN 5 END::INT AS type_code
            FROM events
        """,
        "explode_tokens": r"""
            SELECT token, count(*) AS n
            FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
                  FROM documents)
            GROUP BY token ORDER BY n DESC, token LIMIT 20
        """,
        "sessionize": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              -- order by the µs-truncated instant (+ unique event_id) so the
              -- window order is bit-identical to Spark's, which reads the
              -- TIMESTAMP(NANOS) column as ns-long and truncates to µs;
              -- ordering by the raw ns ts can permute rows that tie at µs.
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
            ),
            sess AS (
              SELECT user_id, event_id,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   min(event_id) AS first_event
            FROM sess GROUP BY user_id, session_id
        """,
        "asof_join": """
            SELECT p.event_id, p.user_id, v.view_id
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT event_id AS view_id, user_id, ts FROM events
                            WHERE event_type = 'view') v
              ON p.user_id = v.user_id AND p.ts >= v.ts
        """,
        "pivot_counts": """
            SELECT (user_id % 10) AS user_bucket,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'view') AS view,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'error') AS error
            FROM events GROUP BY 1
        """,
        "distinct_users": """
            SELECT event_type AS topic, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "rollup_counts": """
            SELECT event_type AS topic, count(*) AS n
            FROM events GROUP BY ROLLUP (event_type)
        """,
        "percentiles": """
            SELECT event_type AS topic,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95
            FROM events GROUP BY event_type
        """,
        "unpivot_stack": """
            WITH wide AS (
              SELECT event_type AS topic, count(*)::DOUBLE AS n,
                     round(max(value), 2) AS mx
              FROM events GROUP BY event_type
            )
            SELECT topic, 'n' AS metric, n AS v FROM wide
            UNION ALL
            SELECT topic, 'mx' AS metric, mx AS v FROM wide
        """,
        "running_sum": """
            SELECT user_id, event_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_value
            FROM events WHERE user_id < 5
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
                   {norm_hash} AS content_hash
            FROM documents
            GROUP BY {norm_hash}
        """,
        "dedup_minhash_lsh": _sql_minhash_lsh(16, 4, 5, 0.4),
        "dedup_ngram_jaccard": _sql_ngram_jaccard(8, 0.4),
        "dedup_ngram_containment": _sql_ngram_containment(8, 0.5),
        "containment_incremental_dups": _sql_containment_incremental(),
        "rrf_hybrid_topk": _sql_rrf_hybrid(),
        "url_dedup_canonical": _sql_url_dedup(),
        "simhash": _sql_simhash(16),
        "doc_fingerprint": f"""
            SELECT doc_id, {norm_hash} AS fp
            FROM documents
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens,
                   len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS bpe_tokens
            FROM documents
        """,
        "lang_id": _sql_langid_query(),
        "quality_score": f"""
            WITH base AS (
              SELECT doc_id, text, length(text) AS n,
                     CASE WHEN len(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tc,
                     (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE AS np,
                     len(list_filter({_sql_tokens('text')},
                         t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t)))::DOUBLE AS sw
              FROM documents
            )
            SELECT doc_id,
                   round(CASE WHEN n = 0 THEN 0.0 ELSE np / n END, 6) AS punct_ratio,
                   round(CASE WHEN tc = 0 THEN 0.0 ELSE sw / tc END, 6) AS stopword_ratio,
                   round(0.4::DOUBLE * (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                                     WHEN n >= 20 THEN 0.5 ELSE 0.0 END)::DOUBLE
                       + 0.3::DOUBLE * (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE np / n END) <= 0.1
                                     THEN 1.0 ELSE 0.0 END)::DOUBLE
                       + 0.3::DOUBLE * (CASE WHEN tc > 0
                                      AND ((n - tc + 1)::DOUBLE / tc) >= 2.0
                                      AND ((n - tc + 1)::DOUBLE / tc) <= 12.0
                                     THEN 1.0 ELSE 0.0 END)::DOUBLE, 4) AS quality
            FROM base
        """,
        "ann_brute_topk": f"""
            WITH scored AS (
              SELECT vec_id, embedding::DOUBLE[] AS v, {qvec} AS q FROM embeddings
            ),
            ranked AS (
              SELECT vec_id, round({cos}, 8) AS score FROM scored
              ORDER BY score DESC, vec_id LIMIT 20
            )
            SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
            FROM ranked
        """,
        "ann_lsh_topk": f"""
            WITH scored AS (
              SELECT vec_id, embedding::DOUBLE[] AS v, {qvec} AS q FROM embeddings
              WHERE {_sql_sign_bucket("(embedding::DOUBLE[])", 4)} =
                    {_sql_sign_bucket(f"({qvec})", 4)}
            ),
            ranked AS (
              SELECT vec_id, round({cos}, 8) AS score FROM scored
              ORDER BY score DESC, vec_id LIMIT 20
            )
            SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
            FROM ranked
        """,
        "ann_lsh_multiprobe": f"""
            WITH scored AS (
              SELECT vec_id, embedding::DOUBLE[] AS v, {qvec} AS q FROM embeddings
              WHERE {_sql_sign_bucket("(embedding::DOUBLE[])", 4)} IN (
                {", ".join(f"'{b}'" for b in zsim.probe_buckets(_query_vec(), (0, 1, 2, 3), 3))}
              )
            ),
            ranked AS (
              SELECT vec_id, round({cos}, 8) AS score FROM scored
              ORDER BY score DESC, vec_id LIMIT 20
            )
            SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
            FROM ranked
        """,
        "ann_ivf_topk": f"""
            WITH cents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS c
              FROM embeddings WHERE vec_id < 8
            ),
            probe AS (
              SELECT cell FROM (
                SELECT cell, {_sql_cosine("c", f"({qvec})")} AS s FROM cents
              ) ORDER BY s DESC, cell LIMIT 2
            ),
            pairs AS (
              SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cell,
                     {_sql_cosine("c.c", "(e.embedding::DOUBLE[])")} AS s,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY {_sql_cosine("c.c", "(e.embedding::DOUBLE[])")} DESC, c.cell) AS rn
              FROM embeddings e CROSS JOIN cents c
            ),
            assigned AS (
              SELECT vec_id, v, cell AS ivf_cell FROM pairs WHERE rn = 1
            ),
            ranked AS (
              SELECT vec_id, round({_sql_cosine("v", f"({qvec})")}, 8) AS score
              FROM assigned WHERE ivf_cell IN (SELECT cell FROM probe)
              ORDER BY score DESC, vec_id LIMIT 20
            )
            SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS rank
            FROM ranked
        """,
        "embedding_dup_pairs": f"""
            WITH b AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                     {_sql_sign_bucket("(embedding::DOUBLE[])", 4)} AS bucket
              FROM embeddings
            )
            SELECT l.id AS a, r.id AS b
            FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
            WHERE {_sql_cosine("l.v", "r.v")} >= 0.40
        """,
        "embedding_dup_pairs_scaled": f"""
            WITH {_sql_refined_buckets(30)}
            SELECT l.id AS a, r.id AS b
            FROM b2 l JOIN b2 r ON l.bucket = r.bucket AND l.id < r.id
            WHERE {_sql_cosine("l.v", "r.v")} >= 0.40
        """,
        "embedding_dup_pairs_multiprobe_scaled": f"""
            WITH {_sql_refined_buckets(30)}
            SELECT l.id AS a, r.id AS b
            FROM b2 l JOIN b2 r ON l.id < r.id
            WHERE substr(l.bucket, 5) = substr(r.bucket, 5)
              AND ({" + ".join(
                f"(CASE WHEN substr(l.bucket,{i},1) = substr(r.bucket,{i},1)"
                " THEN 0 ELSE 1 END)"
                for i in range(1, 5)
            )}) <= 1
              AND {_sql_cosine("l.v", "r.v")} >= 0.40
        """,
        "mixture_sample": """
            -- integer fixed-point thresholds (r9 sf3 finding: the
            -- double rate*10000 form lands exactly ON integers at
            -- round corpus sizes and the engines' association order
            -- puts them on opposite sides — a whole hash bucket flips)
            WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
            w AS (SELECT source, n,
                         CAST(floor(sqrt(n::DOUBLE) * 1048576) AS BIGINT) AS wt
                  FROM sizes),
            r AS (SELECT source,
                         least(10000, ((120 * wt * 10000) // (SELECT sum(wt) FROM w)) // n) AS thr
                  FROM w)
            SELECT d.doc_id, d.source
            FROM documents d JOIN r USING(source)
            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
                  < thr
        """,
        "semantic_dedup": f"""
            WITH RECURSIVE cents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS c
              FROM embeddings WHERE vec_id < 8
            ),
            scored AS (
              SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.cell,
                     row_number() OVER (PARTITION BY e.vec_id
                                        ORDER BY {_sql_cosine("c.c", "(e.embedding::DOUBLE[])")} DESC, c.cell) AS rn
              FROM embeddings e CROSS JOIN cents c
            ),
            assigned AS (SELECT vec_id, v, cell FROM scored WHERE rn = 1),
            pairs AS (
              SELECT l.vec_id AS a, r.vec_id AS b
              FROM assigned l JOIN assigned r
                ON l.cell = r.cell AND l.vec_id < r.vec_id
              WHERE {_sql_cosine("l.v", "r.v")} >= 0.40
            ),
            edges AS (SELECT a AS s, b AS t FROM pairs UNION SELECT b, a FROM pairs),
            reach AS (
              SELECT vec_id AS x, vec_id AS l FROM embeddings
              UNION
              SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.x
            )
            SELECT x AS vec_id, min(l) AS rep_id, (x = min(l)) AS keep
            FROM reach GROUP BY x
        """,
        "embedding_incremental_dups": f"""
            WITH b AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                     {_sql_sign_bucket("(embedding::DOUBLE[])", 4)} AS bucket
              FROM embeddings
            )
            SELECT l.id AS a, r.id AS b
            FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
            WHERE {_sql_cosine("l.v", "r.v")} >= 0.40
              AND (l.id % 5 = 0 OR r.id % 5 = 0)
        """,
        "embedding_dup_pairs_multiprobe": f"""
            WITH b AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                     {_sql_sign_bucket("(embedding::DOUBLE[])", 4)} AS bucket
              FROM embeddings
            )
            SELECT l.id AS a, r.id AS b
            FROM b l JOIN b r ON l.id < r.id
            WHERE ({" + ".join(
                f"(CASE WHEN substr(l.bucket,{i},1) = substr(r.bucket,{i},1)"
                " THEN 0 ELSE 1 END)"
                for i in range(1, 5)
            )}) <= 1
              AND {_sql_cosine("l.v", "r.v")} >= 0.40
        """,
        "doc_chunks": f"""
            WITH tokd AS (
              SELECT doc_id, {_sql_tokens("text")} AS toks FROM documents
            ),
            n AS (SELECT doc_id, toks, len(toks) AS n FROM tokd),
            idx AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0,
                       CASE WHEN n <= 64 THEN 0
                            ELSE CAST(ceil((n - 64) / 48.0) AS INTEGER) END
                     )) AS ci
              FROM n
            )
            SELECT doc_id,
                   CAST(ci AS INTEGER) AS chunk_idx,
                   CAST(ci * 48 AS INTEGER) AS start_tok,
                   {_sql_md5h(
                       "array_to_string(list_slice(toks, ci*48 + 1, ci*48 + 64), ' ')"
                   )} AS chunk_fp
            FROM idx
        """,
        "pii_scrub": f"""
            WITH aug AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 4 = 0
                         THEN ' reach user' || doc_id || '@example.com'
                       WHEN doc_id % 4 = 1
                         THEN ' see https://example.com/d/' || doc_id
                       WHEN doc_id % 4 = 2
                         THEN ' call +1 (555) 010-' || (doc_id % 10000)
                       ELSE '' END AS aug
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(aug, '{ztext.EMAIL_RE}')) AS INTEGER)
                     AS n_email,
                   CAST(len(regexp_extract_all(aug, '{ztext.URL_RE}')) AS INTEGER)
                     AS n_url,
                   CAST(len(regexp_extract_all(aug, '{ztext.PHONE_RE}')) AS INTEGER)
                     AS n_phone,
                   {_sql_md5h(
                       "regexp_replace(regexp_replace(regexp_replace(aug, "
                       f"'{ztext.EMAIL_RE}', '<EMAIL>', 'g'), "
                       f"'{ztext.URL_RE}', '<URL>', 'g'), "
                       f"'{ztext.PHONE_RE}', '<PHONE>', 'g')"
                   )} AS scrub_fp
            FROM aug
        """,
        "repetition_flags": f"""
            WITH tokd AS (
              SELECT doc_id, {_sql_tokens("text")} AS toks FROM documents
            ),
            t AS (SELECT doc_id, unnest(toks) AS tok FROM tokd),
            c AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
            m AS (SELECT doc_id, max(cnt) AS mx, sum(cnt) AS tot,
                         count(*) AS nd
                  FROM c GROUP BY 1)
            SELECT doc_id,
                   round(1.0 - nd / CAST(tot AS DOUBLE), 6) AS rep_ratio,
                   round(mx / CAST(tot AS DOUBLE), 6) AS top_ratio
            FROM m
        """,
        "gopher_quality": f"""
            WITH {_sql_gopher_ctes()}
            SELECT doc_id, n_words, mean_word_len, alpha_ratio, symbol_ratio,
                   dup_line_frac, bullet_frac, ellipsis_frac,
                   top_bigram_frac, top_trigram_frac, passes
            FROM gq
        """,
        "line_dedup": f"""
            WITH aug AS (
              SELECT doc_id,
                     text || chr(10) || chr(10) || 'subscribe to our newsletter'
                          || CASE WHEN doc_id % 3 = 0
                                  THEN chr(10) || 'all rights reserved'
                                  ELSE '' END AS text
              FROM documents
            ),
            lraw AS (SELECT doc_id, string_split(text, chr(10)) AS ln FROM aug),
            lines0 AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(ln)),
                            i -> struct_pack(pos := i, line := ln[i]))) AS u
              FROM lraw
            ),
            lines AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM lines0),
            content AS (SELECT * FROM lines WHERE trim(line) <> ''),
            ranked AS (
              SELECT doc_id, pos, line,
                     row_number() OVER (PARTITION BY trim(line)
                                        ORDER BY doc_id, pos) AS rn
              FROM content
            ),
            survivors AS (
              SELECT doc_id, pos, line FROM ranked WHERE rn = 1
              UNION ALL
              SELECT doc_id, pos, line FROM lines WHERE trim(line) = ''
            ),
            rebuilt AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
                     count(*) AS n_lines_after
              FROM survivors GROUP BY doc_id
            )
            SELECT a.doc_id,
                   len(string_split(a.text, chr(10))) AS n_lines_before,
                   coalesce(r.n_lines_after, 0) AS n_lines_after,
                   {_sql_md5h("coalesce(r.text_dedup, '')")} AS dedup_fp
            FROM aug a LEFT JOIN rebuilt r ON r.doc_id = a.doc_id
        """,
        "simhash_dup_pairs": f"""
            WITH sh AS ({_sql_simhash(16)})
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        """,
        "simhash_incremental_dups": f"""
            WITH sh AS ({_sql_simhash(16)})
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
              AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
        """,
        "script_mix": """
            SELECT doc_id, lang,
                   length(text) - length(regexp_replace(text, '\\p{Han}', '', 'g')) AS han,
                   length(text) - length(regexp_replace(text, '\\p{Latin}', '', 'g')) AS latin,
                   length(text) - length(regexp_replace(text, '\\p{Cyrillic}', '', 'g')) AS cyrillic,
                   length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE round((length(text) - length(regexp_replace(text, '\\p{Latin}', '', 'g')))
                                   / CAST(length(text) AS DOUBLE), 6) END AS latin_share
            FROM documents
        """,
        "source_quota_sample": """
            SELECT doc_id, source, n_chars
            FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id ASC) AS rk
              FROM documents
            )
            WHERE rk <= 5
        """,
        "source_vocab_overlap": f"""
            WITH tok AS (
              SELECT DISTINCT source, t
              FROM (SELECT source, unnest(list_distinct({_sql_tokens("text")})) AS t
                    FROM documents)
            ),
            sizes AS (SELECT source, count(*) AS n FROM tok GROUP BY 1),
            shared AS (
              SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_vocab
              FROM tok a JOIN tok b ON a.t = b.t AND a.source < b.source
              GROUP BY 1, 2
            )
            SELECT src_a, src_b, shared_vocab,
                   round(shared_vocab /
                         CAST(na.n + nb.n - shared_vocab AS DOUBLE), 6)
                     AS vocab_jaccard
            FROM shared
            JOIN sizes na ON na.source = shared.src_a
            JOIN sizes nb ON nb.source = shared.src_b
        """,
        "line_dedup_incremental": f"""
            WITH aug AS (
              SELECT doc_id,
                     text || chr(10) || chr(10) || 'subscribe to our newsletter'
                          || CASE WHEN doc_id % 3 = 0
                                  THEN chr(10) || 'all rights reserved'
                                  ELSE '' END AS text
              FROM documents
            ),
            corpus AS (SELECT * FROM aug WHERE doc_id % 2 = 0),
            batch AS (SELECT * FROM aug WHERE doc_id % 2 = 1),
            seen AS (
              SELECT DISTINCT trim(line) AS n
              FROM (SELECT unnest(string_split(text, chr(10))) AS line FROM corpus)
              WHERE trim(line) <> ''
            ),
            lraw AS (SELECT doc_id, string_split(text, chr(10)) AS ln FROM batch),
            lines0 AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(ln)),
                            i -> struct_pack(pos := i, line := ln[i]))) AS u
              FROM lraw
            ),
            lines AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM lines0),
            content AS (SELECT * FROM lines WHERE trim(line) <> ''),
            fresh AS (
              SELECT c.* FROM content c
              LEFT JOIN seen s ON s.n = trim(c.line)
              WHERE s.n IS NULL
            ),
            ranked AS (
              SELECT doc_id, pos, line,
                     row_number() OVER (PARTITION BY trim(line)
                                        ORDER BY doc_id, pos) AS rn
              FROM fresh
            ),
            survivors AS (
              SELECT doc_id, pos, line FROM ranked WHERE rn = 1
              UNION ALL
              SELECT doc_id, pos, line FROM lines WHERE trim(line) = ''
            ),
            rebuilt AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
                     count(*) AS n_lines_after
              FROM survivors GROUP BY doc_id
            )
            SELECT b.doc_id,
                   len(string_split(b.text, chr(10))) AS n_lines_before,
                   coalesce(r.n_lines_after, 0) AS n_lines_after,
                   {_sql_md5h("coalesce(r.text_dedup, '')")} AS dedup_fp
            FROM batch b LEFT JOIN rebuilt r ON r.doc_id = b.doc_id
        """,
        "substring_dups": f"""
            WITH aug AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 6 < 2
                          THEN text || ' ' || array_to_string(
                               list_transform(generate_series(1, 12),
                                 j -> 'p' || CAST(doc_id // 2 AS VARCHAR)
                                          || 'x' || CAST(j AS VARCHAR)), ' ')
                          ELSE text END AS text
              FROM documents
            ),
            tokd AS (SELECT doc_id, {_sql_tokens("text")} AS toks FROM aug),
            gram0 AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 4),
                            i -> struct_pack(pos := i,
                                 h := {_sql_md5h("array_to_string(list_slice(toks, i, i + 4), ' ')")}
                                      % 1073741789))) AS u
              FROM tokd WHERE len(toks) >= 5
            ),
            grams AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM gram0),
            ng AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
            fps0 AS (
              SELECT doc_id, pos,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
              FROM grams
            ),
            fps AS (
              SELECT DISTINCT f.doc_id, f.fp
              FROM fps0 f JOIN ng ON ng.doc_id = f.doc_id
              WHERE f.pos <= ng.n - 3
            ),
            hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1000),
            cold AS (SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS shared_fps
            FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        "dedup_duplicate_spans": f"""
            WITH {_SQL_DUP_SPANS_CTES}
            SELECT doc_a, doc_b, start_a, start_b, span_len FROM spansq
        """,
        "dedup_span_removal": f"""
            WITH {_SQL_DUP_SPANS_CTES},
            {_SQL_SPAN_REMOVAL_TAIL}
        """,
        "decontaminate_spans": f"""
            WITH {_SQL_DECON_SPANS_CTES},
            {_SQL_SPAN_REMOVAL_TAIL}
        """,
        "substring_dups_incremental": f"""
            WITH aug AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 6 < 2
                          THEN text || ' ' || array_to_string(
                               list_transform(generate_series(1, 12),
                                 j -> 'p' || CAST(doc_id // 2 AS VARCHAR)
                                          || 'x' || CAST(j AS VARCHAR)), ' ')
                          ELSE text END AS text
              FROM documents
            ),
            tokd AS (SELECT doc_id, {_sql_tokens("text")} AS toks FROM aug),
            gram0 AS (
              SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
                     i -> struct_pack(pos := i,
                          h := {_sql_md5h("array_to_string(list_slice(toks, i, i + 4), ' ')")}
                               % 1073741789))) AS u
              FROM tokd WHERE len(toks) >= 5
            ),
            grams AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM gram0),
            ng AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
            fps0 AS (
              SELECT doc_id, pos,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
              FROM grams
            ),
            -- the max_df hot caps are unreachable at this scale (no fp
            -- spans > 1000 docs), so the oracle omits them
            fps AS (
              SELECT DISTINCT f.doc_id, f.fp
              FROM fps0 f JOIN ng ON ng.doc_id = f.doc_id
              WHERE f.pos <= ng.n - 3
            ),
            vs_corpus AS (
              SELECT n.doc_id AS new_id, c.doc_id AS matched_id,
                     count(*) AS shared_fps
              FROM fps n JOIN fps c ON n.fp = c.fp
              WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
              GROUP BY 1, 2
            ),
            within AS (
              SELECT b.doc_id AS new_id, a.doc_id AS matched_id,
                     count(*) AS shared_fps
              FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
              WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
              GROUP BY 1, 2
            )
            SELECT * FROM vs_corpus
            UNION ALL
            SELECT * FROM within
        """,
        "dsir_affinity": f"""
            WITH tok AS (
              SELECT doc_id,
                     source = 'src0' AS is_tgt,
                     {_sql_md5h("t")} % 4096 AS bucket
              FROM (SELECT doc_id, source, unnest({_sql_tokens("text")}) AS t
                    FROM documents)
            ),
            stats AS (
              SELECT bucket,
                     sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS t_cnt,
                     sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS r_cnt
              FROM tok GROUP BY 1
            ),
            totals AS (SELECT sum(t_cnt) AS tgt_total, sum(r_cnt) AS raw_total
                       FROM stats),
            lean AS (
              SELECT bucket,
                     t_cnt * raw_total > r_cnt * tgt_total AS leaning
              FROM stats, totals
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN leaning THEN 1 ELSE 0 END) AS BIGINT) AS affinity,
                   count(*) AS n_tokens,
                   round(CAST(sum(CASE WHEN leaning THEN 1 ELSE 0 END) AS BIGINT)
                         / CAST(count(*) AS DOUBLE), 6) AS affinity_share
            FROM tok JOIN lean USING (bucket)
            GROUP BY doc_id
        """,
        "curation_pipeline": f"""
            WITH {_sql_gopher_ctes()},
            kept AS (
              SELECT d.doc_id, d.source, d.text
              FROM documents d JOIN gq ON gq.doc_id = d.doc_id
              WHERE gq.passes AND d.lang = 'en'
            ),
            enr AS (
              SELECT doc_id, source,
                     {_SQL_CONTENT_FP} AS content_fp,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                     {_SQL_SCRUB_FP} AS scrub_fp
              FROM kept
            ),
            canon AS (SELECT content_fp, min(doc_id) AS doc_id FROM enr GROUP BY 1)
            SELECT e.doc_id, e.source, e.n_tokens, e.content_fp, e.scrub_fp
            FROM enr e JOIN canon c ON c.content_fp = e.content_fp AND c.doc_id = e.doc_id
        """,
        "token_rarity": f"""
            WITH tok AS (
              SELECT doc_id, unnest(list_distinct({_sql_tokens("text")})) AS t
              FROM documents
            ),
            dfreq AS (SELECT t, count(*) AS df FROM tok GROUP BY 1)
            SELECT doc_id,
                   round(sum(df) / CAST(count(*) AS DOUBLE), 6) AS mean_df,
                   count(*) AS n_distinct_tokens
            FROM tok JOIN dfreq USING (t)
            GROUP BY doc_id
        """,
        "session_window_stats": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
            ),
            sess AS (
              SELECT user_id, ts,
                     sum(new_sess) OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged
            )
            SELECT user_id,
                   min(epoch_us(ts)) AS sess_start_us,
                   max(epoch_us(ts)) + 30*60*1000000 AS sess_end_us,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, sid
        """,
        "contamination_exact": f"""
            WITH normd AS (
              SELECT doc_id, {_SQL_NORM_TEXT} AS norm FROM documents
            ),
            probes AS (
              SELECT doc_id AS bench_id,
                     array_to_string(
                       list_slice(regexp_split_to_array(norm, ' '), 1, 6), ' '
                     ) AS probe
              FROM normd WHERE doc_id % 40 = 0 AND doc_id < 10240
            )
            SELECT c.doc_id, p.bench_id
            FROM normd c
            JOIN probes p
              ON contains(c.norm, p.probe)
            WHERE c.doc_id % 40 <> 0 AND length(p.probe) > 0
        """,
        "contamination_exact_fullprobe": f"""
            WITH normd AS (
              SELECT doc_id, {_SQL_NORM_TEXT} AS norm FROM documents
            ),
            probes AS (
              SELECT doc_id AS bench_id,
                     array_to_string(
                       list_slice(regexp_split_to_array(norm, ' '), 1, 6), ' '
                     ) AS probe
              FROM normd WHERE doc_id % 40 = 0
            )
            SELECT c.doc_id, p.bench_id
            FROM normd c
            JOIN probes p
              ON contains(c.norm, p.probe)
            WHERE c.doc_id % 40 <> 0 AND length(p.probe) > 0
        """,
        "quantize_embeddings": """
            WITH s AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     list_max(list_transform(embedding::DOUBLE[],
                                             x -> abs(x))) / 127.0 AS scale
              FROM embeddings
            ),
            q AS (
              SELECT vec_id, scale,
                     list_transform(v, x -> CAST(
                       CASE WHEN scale = 0 THEN 0.0
                            ELSE floor(x / scale + 0.5) END AS BIGINT)) AS qv
              FROM s
            )
            SELECT vec_id,
                   CAST(round(scale, 8) AS DOUBLE) AS scale,
                   CAST(list_aggregate(qv, 'sum') AS BIGINT) AS code_sum,
                   CAST(list_max(qv) AS BIGINT) AS code_max,
                   CAST(list_min(qv) AS BIGINT) AS code_min
            FROM q
        """,
        "tpch_q2": """
            WITH ps AS (
              SELECT l_partkey AS pk, l_suppkey AS sk,
                     round(min(l_extendedprice / l_quantity), 4) AS cost
              FROM lineitem GROUP BY 1, 2
            ), j AS (
              SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, cost
              FROM ps
              JOIN supplier ON sk = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
              JOIN part ON pk = p_partkey AND p_type = 'STANDARD'
            )
            SELECT CAST(round(s_acctbal, 2) AS DOUBLE) AS s_acctbal,
                   s_name, n_name, p_partkey, p_brand
            FROM j
            WHERE cost = (SELECT min(cost) FROM j j2
                          WHERE j2.p_partkey = j.p_partkey)
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 10
        """,
        "tpch_q9": """
            SELECT n_name AS nation,
                   EXTRACT(year FROM o_orderdate) AS o_year,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                       - 0.1 * p_retailprice * l_quantity
                       AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        """,
        "tpch_q11": """
            WITH vals AS (
              SELECT l_partkey AS ps_partkey,
                     sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS vdec
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_2'
              GROUP BY 1
            )
            SELECT ps_partkey, CAST(round(vdec, 2) AS DOUBLE) AS value
            FROM vals
            WHERE CAST(vdec AS DOUBLE) >
                  (SELECT CAST(sum(vdec) AS DOUBLE) * 0.0001 FROM vals)
            ORDER BY value DESC, ps_partkey
        """,
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_type NOT LIKE 'PROMO%'
              AND p_size <= 25
              AND l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "tpch_q20": """
            WITH qty AS (
              SELECT l_suppkey,
                     sum(CAST(l_quantity AS DECIMAL(18,4))) AS qdec
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY 1
            )
            SELECT s_name, CAST(round(s_acctbal, 2) AS DOUBLE) AS s_acctbal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM qty
              WHERE CAST(qdec AS DOUBLE) >
                    0.5 * (SELECT CAST(sum(qdec) AS DOUBLE) / count(*) FROM qty)
            )
            ORDER BY s_name
        """,
    }
