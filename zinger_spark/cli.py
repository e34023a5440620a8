"""CLI parity with the reference's zync subcommands (cmd/zync/*):

  consume     Kafka -> stdout            (cmd/zync/consume/command.go)
  produce     files -> Kafka             (cmd/zync/produce/command.go)
  from-kafka  Kafka -> pool sync         (cmd/zync/from-kafka/command.go)
  to-kafka    pool -> Kafka sync         (cmd/zync/to-kafka/command.go)
  etl         pool -> pool transform     (cmd/zync/etl/command.go)
  ls          registry subjects          (cmd/zync/ls/command.go)
  info        topic low/high watermarks  (cmd/zync/info/command.go)
  create-pool pool init (zed create analog)

Broker/registry-facing commands need -b/--brokers (and fail with a
clear error when unreachable); pool-facing commands run fully local.

Usage: python -m zinger_spark.cli <subcommand> [...]
"""

from __future__ import annotations

import argparse
import json
import sys

from .session import get_spark

__version__ = "0.2.0"


def _wire_security() -> dict:
    """kafka.json security settings for the --transport wire paths
    (reference parity: cli/flags.go LoadKafkaConfig maps
    security_protocol/sasl_* onto its franz-go dialer).  No config file
    = plaintext; an unknown protocol/mechanism value errors loudly,
    same as the reference."""
    from .config import ConfigMissing, kafka_config, wire_security

    try:
        cfg = kafka_config()
    except ConfigMissing:
        return {}
    return wire_security(cfg)


def _registry(args):
    """SchemaRegistry from --registry plus schema_registry.json
    credentials (reference parity: cli/flags.go:34-46 — the URL and
    basic-auth user/password live in $ZYNC_CONFIG_DIR/
    schema_registry.json; srclient gets SetCredentials).  The flag
    overrides the config URL; the config supplies the URL when the
    flag is omitted."""
    from .codecs.avro import SchemaRegistry
    from .config import ConfigMissing, schema_registry_config

    try:
        cfg = schema_registry_config()
    except ConfigMissing:
        cfg = {}
    url = getattr(args, "registry", None) or cfg.get("url")
    if not url:
        raise SystemExit(
            "no schema registry: pass --registry or create "
            "schema_registry.json (see the reference template)"
        )
    return SchemaRegistry(url, user=cfg.get("user"),
                          password=cfg.get("password"))


def _spark(args):
    return get_spark(f"zync-{args.cmd}")


def cmd_etl(args) -> int:
    from .etl.config import load_transform
    from .etl.planner import EtlPipeline, explain
    from .sources.pool import Pool

    transform = load_transform(args.config)
    if getattr(args, "emit_zed", False):
        # `zync etl -zed` exact output (cmd/zync/etl/command.go:64-71,
        # golden ztests/etl-zed.yaml): the generated Zed programs,
        # '\n===\n'-joined
        from .etl import zedgen

        print("\n===\n".join(zedgen.build(transform)))
        return 0
    if args.explain:
        # this engine's plan text (explain golden)
        print(explain(transform))
        return 0
    spark = _spark(args)
    pipeline = EtlPipeline(
        spark, transform, lambda name: Pool(spark, f"{args.lake}/{name}")
    )
    if getattr(args, "cursor_lag", False):
        # operational metric: width of the pinned rescan per input topic
        for topic, lag in sorted(pipeline.cursor_lag().items()):
            print(f"{topic}\t{lag}")
        return 0
    if getattr(args, "continuous", False):
        q = pipeline.run_stream(
            args.checkpoint
            or f"{args.lake}/.etl_ck_{'+'.join(sorted(pipeline.output_topics))}",
            on_batch=lambda n: print(f"ETL'd {n} record{'s' if n != 1 else ''}"),
        )
        q.awaitTermination()
        return 0
    n = pipeline.run()
    if n == 0:
        print("nothing new found to ETL")  # cmd/zync/etl/command.go:88-90
    else:
        print(f"ETL'd {n} record{'s' if n != 1 else ''}")
    return 0


def cmd_query(args) -> int:
    """Run a Zed program against the lake's pools (the `zed query -z`
    step of the reference workflow, ztests/etl-demo.yaml:12) and print
    the result as JSON lines.  `from X` resolves X to a pool directory
    under --lake, or to a bare parquet file `X.parquet` there."""
    import os

    from . import zedql
    from .sources.pool import Pool

    if args.zed:
        text = args.zed
    elif args.file:
        with open(args.file) as f:
            text = f.read()
    else:
        print("query: provide -z <program> or -f <file>", file=sys.stderr)
        return 1
    spark = _spark(args)

    def tables(name: str):
        if name.endswith(".zson"):
            from .codecs.zson import read_zson

            for cand in (os.path.join(args.lake, name), name):
                if os.path.exists(cand):
                    return read_zson(spark, cand, type_field="_type")
        pq = os.path.join(args.lake, f"{name}.parquet")
        if os.path.exists(pq):
            return spark.read.parquet(pq)
        return None

    def pools(name: str):
        path = os.path.join(args.lake, _pool_name(name))
        if os.path.isdir(path):
            pool = Pool(spark, path)
            if getattr(args, "at", None):
                # time travel: pin every pool read to a commit id
                # (the `zed query -use pool@commit` analog)
                class _AsOf:
                    def df(self):
                        return pool.df(as_of=args.at)

                return _AsOf()
            return pool
        raise zedql.ZedCompileError(f"no pool or table {name!r} in {args.lake}")

    try:
        df = zedql.compile_query(spark, text, tables=tables, pools=pools)
    except (zedql.ZedSyntaxError, zedql.ZedCompileError) as e:
        print(f"query: {e}", file=sys.stderr)
        return 1
    if getattr(args, "explain", False):
        # the PHYSICAL plan Catalyst chose for this Zed program — the
        # scan-pruning / join-strategy / codegen truth, same surface
        # the repo's plan audit reads (`zed query -Z` has no analog;
        # this is the Spark-native upgrade)
        print(df._jdf.queryExecution().executedPlan().toString())
        return 0
    n = 0
    if getattr(args, "zson", False):
        # compact-ZSON output (`zed query -z`): rendered JVM-side by
        # codecs.zson.zson_line, streamed one partition at a time
        from .codecs.zson import zson_line

        for r in df.select(zson_line(df).alias("__z")).toLocalIterator():
            print(r["__z"])
            n += 1
    else:
        for r in df.toLocalIterator():
            print(json.dumps(r.asDict(recursive=True), default=str))
            n += 1
    print(f"{n} record{'s' if n != 1 else ''}", file=sys.stderr)
    return 0


def cmd_create_pool(args) -> int:
    from .sources.pool import Pool

    Pool.create(_spark(args), f"{args.lake}/{args.name}")
    print(f"pool: {args.name} created")
    return 0


def _read_files(spark, files: list[str], type_field: str | None = None):
    """Shared file reader for load/produce: parquet, ZSON (the
    reference's native text format), CSV (header + type inference, the
    other `zed load`-able text format) or JSON-lines, chosen by
    extension.  Mixed text formats are fine (each reads through its own
    parser and the frames fuse); mixing parquet with text is refused by
    the callers."""
    from .codecs.zson import read_zson
    from .datamodel import fuse

    zs = [f for f in files if f.endswith(".zson")]
    cs = [f for f in files if f.endswith(".csv")]
    js = [f for f in files if not f.endswith((".zson", ".csv"))]
    frames = []
    if zs:
        frames.append(read_zson(spark, zs, type_field=type_field))
    if cs:
        frames.append(spark.read.csv(cs, header=True, inferSchema=True))
    if js:
        frames.append(spark.read.json(js))
    return frames[0] if len(frames) == 1 else fuse(*frames)


def _pool_name(name: str) -> str:
    """Accept the reference's `pool@branch` spelling (`zed load -use
    Raw@main`, ztests/etl-demo.yaml:8).  Only `main` exists here —
    this lake has no branching — so other branches are an error."""
    if "@" in name:
        base, branch = name.split("@", 1)
        if branch != "main":
            raise SystemExit(f"pool {name!r}: only the main branch exists")
        return base
    return name


def cmd_load(args) -> int:
    """Load files straight into a pool — the `zed load -use POOL`
    step of the reference workflow (ztests/etl-demo.yaml:8 loads
    demo/batch-N.zson into Raw between ETL runs).  Accepts .zson
    (parsed by codecs.zson), .json/.jsonl lines, or .parquet; commits
    one atomic pool commit and prints its id."""
    from .sources.pool import Pool

    if not args.files:
        print("no inputs provided", file=sys.stderr)
        return 1
    spark = _spark(args)
    parquet = [f for f in args.files if f.endswith(".parquet")]
    if parquet and len(parquet) != len(args.files):
        print("cannot mix parquet and text inputs in one load", file=sys.stderr)
        return 1
    if parquet:
        df = spark.read.parquet(*args.files)
    else:
        # top-level (=name) decorators carry the reference's record
        # tags (done/cursor markers) into the engine's _type column
        df = _read_files(spark, args.files, type_field="_type")
    pool = Pool(spark, f"{args.lake}/{_pool_name(args.pool)}")
    commit = pool.load_batch(df)
    print(f"commit {commit} {df.count()} records")
    return 0


def cmd_warc_load(args) -> int:
    """Crawl->pool ingest (beyond-reference front door): WARC files ->
    streaming per-record reader -> JVM HTML->text -> envelope rows
    continuing the pool's per-topic producer watermark -> ONE atomic
    commit.  The Common Crawl mirror of cmd_load, feeding the same
    pool the Kafka paths feed, so every downstream operator (dedup,
    quality, ETL) runs unchanged on crawl data."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from .operators import offsets as zoff
    from .sources import warc as W
    from .sources.pool import Pool

    if not args.files:
        print("no inputs provided", file=sys.stderr)
        return 1
    spark = _spark(args)
    pool = Pool(spark, f"{args.lake}/{_pool_name(args.pool)}")
    raw = W.read_warc(spark, args.files)
    body_text = F.col("body").cast("string")
    if args.extract_text:
        body_text = W.html_to_text(body_text)
    base = pool.next_producer_offsets().get(args.topic, 0)
    env = raw.select(
        F.struct(
            F.lit(args.topic).alias("topic"),
            F.lit(0).cast("long").alias("partition"),
            F.lit(None).cast("long").alias("offset"),
        ).alias("kafka"),
        F.col("target_uri").alias("key"),
        F.struct(
            F.col("target_uri").alias("uri"),
            F.col("warc_date").alias("date"),
            F.col("http_status").alias("status"),
            F.col("http_content_type").alias("content_type"),
            body_text.alias("text"),
        ).alias("value"),
        F.lit("data").alias("_type"),
        F.col("path").alias("__p"),
        F.col("record_index").alias("__i"),
    )
    # dense offsets in (file, record) order from the producer watermark:
    # a re-run of the same files lands at NEW offsets (a new commit), it
    # never silently overlays the old one — dedup is a downstream stage
    env = zoff.assign_offsets(
        env, {args.topic: base}, order_col=["__p", "__i"]
    ).drop("__p", "__i")
    commit = pool.load_batch(env)
    # count THIS load only: scope to the topic as well as the offset
    # floor (another topic's rows past `base` must not be counted)
    n = pool.df().filter(
        (F.col("kafka.topic") == args.topic) & (F.col("kafka.offset") >= base)
    ).count()
    print(f"commit {commit} {n} records topic {args.topic} from offset {base}")
    return 0


def cmd_select_dsir(args) -> int:
    """DSIR data selection as a pipeline verb (operators/dsir.py — Xie
    et al. 2023): weight every raw document toward the --target-where
    slice over hashed n-gram bucket models, keep the top-k (or a
    Gumbel-top-k sample with --gumbel-seed), write the selected rows
    as parquet.  Both models broadcast at any corpus size; the only
    doc-keyed shuffle is the per-doc weight groupBy."""
    from pyspark.sql import functions as F

    from .operators import dsir

    spark = _spark(args)
    raw = spark.read.parquet(args.parquet)
    target = raw.filter(args.target_where)
    if target.isEmpty():
        print(f"--target-where {args.target_where!r} selects nothing",
              file=sys.stderr)
        return 1
    w = dsir.dsir_weights(
        raw, target, text_col=args.text_col, id_col=args.id_col,
        n_buckets=args.buckets,
    )
    key = (
        dsir.gumbel_key(F.col("w"), F.col(args.id_col), seed=args.gumbel_seed)
        if args.gumbel_seed is not None
        else F.col("w")
    )
    picked = (
        w.select(args.id_col, "w", key.alias("__k"))
        .orderBy(F.col("__k").desc(), args.id_col)
        .limit(args.top_k)
        .drop("__k")
    )
    out = raw.join(F.broadcast(picked), args.id_col)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    mode = f"gumbel seed {args.gumbel_seed}" if args.gumbel_seed is not None else "top-k by weight"
    print(f"selected {n} of {raw.count()} docs ({mode}) -> {args.out}")
    return 0


def cmd_train_quality(args) -> int:
    """Train the fixed-point embedding probe (operators/classifier.py)
    and persist the integer-weight artifact; later jobs rebuild the
    scoring expression with load_model + perceptron_margin — no
    retraining, zero-shuffle application."""
    from pyspark.sql import functions as F

    from .operators.classifier import (
        perceptron_train,
        quantized_embedding_features,
        save_model,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.parquet)
    fcols = [f"f{j}" for j in range(args.dims + 1)]
    feats = df.select(
        F.expr(
            f"CAST(CASE WHEN label = {args.positive_label} THEN 1 ELSE -1 END AS BIGINT)"
        ).alias("y"),
        *quantized_embedding_features(dims=args.dims),
    )
    recs = perceptron_train(feats, "y", fcols, rounds=args.rounds)
    save_model(
        args.out,
        recs[-1]["weights"],
        {
            "rounds": args.rounds,
            "dims": args.dims,
            "positive_label": args.positive_label,
            "errors_per_round": [r["errors"] for r in recs],
            "features": "bias=32 then floor(2^10 * embedding[j])",
        },
    )
    print(
        f"model: {args.out} (errors {recs[0]['errors']} -> {recs[-1]['errors']} "
        f"over {args.rounds} rounds)"
    )
    return 0


def cmd_train_bpe(args) -> int:
    """Learn a BPE merge table (operators/bpe.py) and persist it;
    load_merges + bpe_segment rebuild the tokenizer exactly."""
    from .operators.bpe import bpe_learn, save_merges, word_frequencies

    spark = _spark(args)
    docs = spark.read.parquet(args.parquet)
    merges, _ = bpe_learn(
        word_frequencies(docs, args.text_col), merges=args.merges
    )
    save_merges(args.out, merges)
    print(f"merges: {args.out} ({len(merges)} learned)")
    return 0


def cmd_compact_pool(args) -> int:
    """Merge a pool's live files into one sorted commit (the OPTIMIZE
    analog); the merged files stay for in-flight readers until vacuum."""
    from .sources.pool import Pool

    pool = Pool(_spark(args), f"{args.lake}/{args.name}")
    n = pool.compact(
        small_bytes=args.small_bytes,
        sort_by=args.sort_by.split(",") if args.sort_by else None,
        zorder=bool(getattr(args, "zorder", False)),
    )
    print(f"pool: {args.name} compacted {n} file{'s' if n != 1 else ''}")
    return 0


def cmd_vacuum_pool(args) -> int:
    """Reclaim data files removed from the log (by compaction or a
    retraction) after the grace window, and never-logged ones (the
    VACUUM analog; bounds time travel)."""
    from .sources.pool import Pool

    pool = Pool(_spark(args), f"{args.lake}/{args.name}")
    n = pool.vacuum(
        grace_seconds=args.grace_seconds,
        unpublished_grace_seconds=args.unpublished_grace_seconds,
    )
    print(f"pool: {args.name} removed {n} file{'s' if n != 1 else ''}")
    return 0


def cmd_info(args) -> int:
    """Watermarks. With --pool: offset range stored per topic (local).
    With --brokers: Kafka low/high via the admin client (A4,
    fifo/consumer.go:184-196)."""
    if args.brokers:
        from .kafka_admin import TopicAdminError, open_admin

        if not args.topic:
            print("--brokers mode requires --topic", file=sys.stderr)
            return 1
        admin = open_admin(args.brokers)
        if admin is None:
            print(f"broker unreachable at {args.brokers}", file=sys.stderr)
            return 1
        try:
            low, high = admin.watermarks(args.topic)
        except TopicAdminError as e:
            print(str(e), file=sys.stderr)
            return 1
        print(json.dumps({"topic": args.topic, "low": low, "high": high}))
        return 0
    if args.pool:
        from pyspark.sql import functions as F

        from .sources.pool import Pool

        pool = Pool(_spark(args), f"{args.lake}/{args.pool}")
        if getattr(args, "files", False):
            # storage-layout observability: per-file bytes, records and
            # the offset zone map - what compact --sort-by clustering is
            # FOR (file skipping) - straight from the log, no footer IO
            for f in pool._log.snapshot()["files"].values():
                off = f.get("stats", {}).get("kafka.offset")
                print(json.dumps({
                    "file": f["path"],
                    "bytes": f.get("size"),
                    "records": f.get("records"),
                    "offset_min": off[0] if off else None,
                    "offset_max": off[1] if off else None,
                }))
            return 0
        if pool.is_empty():
            print("{}")
            return 0
        rows = (
            pool.df()
            .groupBy(F.col("kafka.topic").alias("topic"))
            .agg(
                F.min("kafka.offset").alias("low"),
                F.max("kafka.offset").alias("high"),
                F.count(F.lit(1)).alias("rows"),
            )
            .orderBy("topic")
            .collect()
        )
        for r in rows:
            print(json.dumps({"topic": r["topic"], "low": r["low"], "high": r["high"], "rows": r["rows"]}))
        return 0
    print("kafka watermarks require --brokers and a reachable broker", file=sys.stderr)
    return 1


def cmd_ls(args) -> int:
    """--registry: schema-registry subjects (cmd/zync/ls/command.go).
    --lake: pools in the lake with commit counts (the `zed ls` step of
    the reference workflow)."""
    if not getattr(args, "lake_dir", None) and not getattr(args, "registry", None):
        print("ls: provide --registry or --lake", file=sys.stderr)
        return 1
    if getattr(args, "lake_dir", None):
        import os

        from .sources.pool import Pool, PoolError

        spark = _spark(args)
        found = False
        for name in sorted(os.listdir(args.lake_dir)):
            path = os.path.join(args.lake_dir, name)
            if not os.path.isdir(path):
                continue
            try:
                pool = Pool(spark, path)
            except (PoolError, FileNotFoundError, KeyError, ValueError):
                continue
            found = True
            print(f"{name} key {pool.meta.get('key', '?')} "
                  f"order asc {len(pool._commit_names())} commits")
        if not found:
            print(f"no pools in {args.lake_dir}", file=sys.stderr)
        return 0
    try:
        for s in _registry(args).subjects():
            print(s)
        return 0
    except Exception as e:  # noqa: BLE001
        print(f"registry unreachable at {args.registry}: {e}", file=sys.stderr)
        return 1


def cmd_from_kafka(args) -> int:
    from .codecs import connect_json as cj
    from .sources.pool import Pool
    from .streaming import from_kafka as fk

    spark = _spark(args)
    pool = Pool(spark, f"{args.lake}/{_pool_name(args.pool)}")
    topics = args.topics.split(",")
    from .kafka_admin import open_admin

    admin = open_admin(args.brokers)
    if args.kafka_replicas > 0 and admin is not None:
        # cmd/zync/from-kafka/command.go:187-191: auto-create the
        # consumed topics when -kafkareplicas > 0
        admin.create_missing_topics(topics, replication=args.kafka_replicas)
    # per-(topic, partition) resume: with a reachable admin, cover every
    # broker partition (never-stored ones start earliest); without one,
    # partitions already in the pool still resume individually
    parts_by_topic = {}
    if admin is not None:
        for t in topics:
            try:
                parts_by_topic[t] = admin.partitions(t)
            except Exception:  # noqa: BLE001 - topic not created yet
                pass
    offsets = fk.starting_offsets_from_pool(
        pool, topics, partitions_by_topic=parts_by_topic or None
    )
    src = None
    if getattr(args, "transport", "spark") != "wire":
        src = fk.kafka_source(spark, args.brokers, topics, offsets, args.thresh)
    transform = None
    if args.format == "avro":
        # Mixed-schema Avro topic: keep the framed bytes through the
        # envelope, then decode per wire schema ID inside each
        # micro-batch (zavro/decoder.go:54-72 semantics).
        from .codecs.avro import decode_by_schema_id

        registry = _registry(args)  # --registry or schema_registry.json
        decoder = lambda c: c  # noqa: E731 - binary passthrough
        transform = lambda batch: decode_by_schema_id(batch, "value", registry)  # noqa: E731
    else:
        schema = json.load(open(args.value_schema)) if args.value_schema else None
        decoder = (
            (lambda c: cj.decode(c.cast("string"), schema))
            if schema
            else (lambda c: c.cast("string"))
        )
    if getattr(args, "shaper", None):
        # -shaper: a Zed script applied per micro-batch before the pool
        # commit (cli/shaper.go:12-14, from-kafka/command.go:276-285)
        from . import zedql

        with open(args.shaper) as fh:
            shape = zedql.zed_transform(fh.read())
        decode = transform
        transform = (lambda b: shape(decode(b))) if decode else shape
    if getattr(args, "transport", "spark") == "wire":
        # bounded one-shot ingest over the wire client (no JVM Kafka
        # source): resume per (topic, partition) from
        # the pool, fetch [start, min(head, start + thresh)), envelope,
        # decode, ONE atomic commit.  Idempotent across runs because
        # the next run resumes past the stored max — the exactly-once
        # contract the streaming path gets from its txn sidecar.
        from .datamodel import fuse
        from .kafka_wire import EARLIEST, wire_read_topic

        frames = []
        security = _wire_security()
        for topic, parts in offsets.items():
            for part, start in parts.items():
                raw = wire_read_topic(
                    spark,
                    args.brokers,
                    topic,
                    starting_offset=EARLIEST if start < 0 else int(start),
                    partitions=[int(part)],
                    security=security,
                )
                if args.thresh:
                    raw = raw.orderBy("offset").limit(args.thresh)
                frames.append(raw)
        batch = frames[0] if len(frames) == 1 else fuse(*frames)
        env = fk.envelope_stream(batch, value_decoder=decoder)
        if transform is not None:
            env = transform(env)
        env = env.localCheckpoint(eager=True)
        n = env.count()
        if n == 0:
            print("nothing new to ingest")
            return 0
        fk.monotonic_guard(
            env,
            {
                f"{t}:{p}": int(s)
                for t, ps in offsets.items()
                for p, s in ps.items()
                if int(s) >= 0
            },
        )
        # --dedup-values / --track-distinct: the streaming path's
        # locked commit section, shared
        dedup = getattr(args, "dedup_values", False)
        with pool.writer_lock():
            commit_id, env = fk.load_under_lock(
                pool, env, dedup_values=dedup,
                track_distinct=getattr(args, "track_distinct", None),
            )
            if commit_id is None:
                print("nothing new to ingest")
                return 0
            if dedup:
                n = env.count()
        print(f"pool {args.pool} commit {commit_id} {n} record{'s' if n != 1 else ''}")
        return 0
    env = fk.envelope_stream(src, value_decoder=decoder)
    q = fk.run_ingest(
        env,
        pool,
        checkpoint=f"{args.lake}/.checkpoints/{args.pool}",
        interval=args.interval,
        available_now=args.exitafter,
        transform=transform,
        dedup_values=getattr(args, "dedup_values", False),
        track_distinct=getattr(args, "track_distinct", None),
    )
    q.awaitTermination()
    return 0


def resolve_start_offset(resume: bool, start_offset: int | None, topic: str, admin) -> int:
    """To.Sync's resume point (fifo/to.go:31-33): the DESTINATION
    topic's head offset, not anything pool-side — pool offsets equal
    destination-topic offsets by the sync contract (fifo/to.go:11-13),
    so producing resumes exactly where the topic ends.  An explicit
    --start-offset overrides; without --resume we start from 0 (full
    re-produce, the reference's behavior for a fresh topic)."""
    if start_offset is not None:
        return start_offset
    if not resume:
        return 0
    if admin is None:
        raise SystemExit(
            "--resume needs the destination topic's head offset: provide "
            "--start-offset or run with a reachable broker"
        )
    return admin.head_offset(topic)


def cmd_to_kafka(args) -> int:
    from pyspark.sql import functions as F

    from .codecs import connect_json as cj
    from .kafka_admin import open_admin
    from .sources.pool import Pool
    from .streaming import to_kafka as tk

    spark = _spark(args)
    pool = Pool(spark, f"{args.lake}/{_pool_name(args.pool)}")
    shaper = None
    if getattr(args, "shaper", None):
        # -shaper on egress batches (fifo/lake.go:84-92 applies it
        # inside ReadBatch, between the offset scan and the sort)
        from . import zedql

        with open(args.shaper) as fh:
            shaper = zedql.zed_transform(fh.read())
    admin = open_admin(args.brokers)
    if args.topic_partitions > 0 and admin is not None:
        # cmd/zync/to-kafka/command.go:90-94
        admin.create_missing_topics(
            [args.topic], partitions=args.topic_partitions, replication=args.replication
        )

    if getattr(args, "format", "json") == "avro":
        # fifo.NewProducer(format) parity (to-kafka/command.go:98)
        from .codecs.avro import avro_encoder

        encode = avro_encoder(_registry(args))
    else:
        encode = cj.encode

    transport = getattr(args, "transport", "spark")

    def produce(df):
        value_dt = df.schema["value"].dataType
        out = tk.kafka_sink_projection(
            df, value_encoder=lambda d: encode(F.col("value"), value_dt)
        )
        if transport == "wire":
            # dependency-free bounded produce (kafka_wire): no JVM
            # spark-sql-kafka jar needed
            from .kafka_wire import wire_produce_df

            wire_produce_df(out, args.brokers, args.topic,
                            batch_size=args.batch_size,
                            compression=getattr(args, "compression", "none"),
                            security=_wire_security())
            return
        (
            out.write.format("kafka")
            .option("kafka.bootstrap.servers", args.brokers)
            .option("topic", args.topic)
            .save()
        )

    start = resolve_start_offset(args.resume, args.start_offset, args.topic, admin)
    if transport == "wire" and getattr(args, "continuous", False):
        print(
            "--transport wire supports bounded sync only (continuous "
            "needs the JVM Kafka sink)",
            file=sys.stderr,
        )
        return 1
    if getattr(args, "continuous", False):
        # Continuous mode (reference's stated future direction,
        # README.md:175-177): file-source stream over the pool's commit
        # dirs -> Kafka sink, resume carried by the checkpoint.
        schema = pool.df().schema
        q = tk.continuous_sink(
            spark,
            pool,
            schema,
            args.checkpoint or f"{args.lake}/.to_kafka_ck_{args.topic}",
            lambda df: tk.kafka_sink_projection(
                shaper(df) if shaper is not None else df,
                value_encoder=lambda d: encode(
                    F.col("value"), schema["value"].dataType
                ),
            ),
            brokers=args.brokers,
            topic=args.topic,
            start_offset=start,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()
        return 0
    n = tk.sync_batches(
        pool, args.topic, start, produce, batch_size=args.batch_size,
        transform=shaper,
    )
    print(f"produced {n} records")
    return 0


def cmd_index(args) -> int:
    """Dedup-index lifecycle (`index build|update|merge --kind
    minhash|winnow|url`): the maintained-index near-dup operators
    (operators/dedup.build/save/load/merge_minhash_index,
    winnow_fingerprints, canonical-URL frontier) as CLI verbs — the
    daily-batch workflow an operator runs at scale.

      build   corpus parquet -> fresh index directory
      update  probe a NEW batch against the index (emit/count the dup
              pairs touching the batch), then APPEND the batch's index
              rows — each step costs O(batch), never a corpus rescan
      merge   fold another index directory in (append union — all
              three kinds' indexes are running unions)

    Index layouts (plain parquet, engine-readable anywhere):
      minhash  {bands,shingles,sizes}/  (build_minhash_index frames)
      winnow   fps/        (id, fp) winnowing fingerprints
      url      urls/       (canon_url) distinct crawled canonical URLs
    """
    import os

    from pyspark.sql import functions as F

    from .functions import net as znet
    from .operators import dedup as zdd

    spark = _spark(args)
    kind, verb = args.kind, args.verb

    def read_input():
        if not args.input:
            raise SystemExit(f"index {verb}: --input required")
        return spark.read.parquet(args.input)

    def url_col(df):
        return F.col(args.url_col or args.text_col)

    mh_params = dict(
        text_col=args.text_col,
        id_col=args.id_col,
        num_hashes=args.num_hashes,
        bands=args.bands,
        shingle_k=args.shingle_k,
    )

    if verb == "build":
        df = read_input()
        if kind == "minhash":
            zdd.save_minhash_index(zdd.build_minhash_index(df, **mh_params), args.index)
        elif kind == "winnow":
            zdd.winnow_fingerprints(
                df, args.text_col, args.id_col, args.winnow_k, args.winnow_w
            ).write.mode("overwrite").parquet(f"{args.index}/fps")
        elif kind == "url":
            df.select(
                znet.canonical_url(url_col(df)).alias("canon_url")
            ).distinct().write.mode("overwrite").parquet(f"{args.index}/urls")
        else:  # embedding: (id, v, nv, bucket) partitioned by bucket so
            # batch probes prune to the matched buckets' files
            from .operators.similarity import embedding_index_frame

            embedding_index_frame(
                df, args.vec_col, args.id_col
            ).write.mode("overwrite").partitionBy("bucket").parquet(
                f"{args.index}/vectors"
            )
        print(f"index built: {args.index} ({kind})")
        return 0

    if verb == "merge":
        if not args.other:
            raise SystemExit("index merge: --other required")
        parts = {
            "minhash": ("bands", "shingles", "sizes"),
            "winnow": ("fps",),
            "url": ("urls",),
            "embedding": ("vectors",),
        }[kind]
        for name in parts:
            src = spark.read.parquet(f"{args.other}/{name}")
            w = src.write.mode("append")
            if kind == "embedding":
                # keep the bucket-partitioned layout (probe pruning)
                w = w.partitionBy("bucket")
            w.parquet(f"{args.index}/{name}")
        if kind == "url":
            # re-distinct the running union (idempotent admission set)
            merged = spark.read.parquet(f"{args.index}/urls").distinct()
            merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
                f"{args.index}/urls"
            )
        print(f"index merged: {args.other} -> {args.index}")
        return 0

    # update: probe the batch, report pairs, append the batch's rows
    batch = read_input()
    if kind == "minhash":
        index = zdd.load_minhash_index(spark, args.index)
        pairs, new_index = zdd.incremental_minhash_pairs(
            index, batch, jaccard_threshold=args.jaccard, **mh_params
        )
        _pairs, n = _emit_pairs(pairs, args.pairs_out)
        for name, df in new_index.items():
            df.write.mode("append").parquet(f"{args.index}/{name}")
    elif kind == "winnow":
        fps = spark.read.parquet(f"{args.index}/fps")
        pairs = zdd.incremental_substring_dups_indexed(
            fps, batch, args.text_col, args.id_col,
            args.winnow_k, args.winnow_w, args.min_shared,
        )
        _pairs, n = _emit_pairs(pairs, args.pairs_out)
        zdd.winnow_fingerprints(
            batch, args.text_col, args.id_col, args.winnow_k, args.winnow_w
        ).write.mode("append").parquet(f"{args.index}/fps")
    elif kind == "embedding":
        from .operators.similarity import (
            embedding_index_frame,
            incremental_embedding_dups_indexed,
        )

        idx = spark.read.parquet(f"{args.index}/vectors")
        pairs = incremental_embedding_dups_indexed(
            idx, batch, threshold=args.cosine,
            vec_col=args.vec_col, id_col=args.id_col,
        )
        _pairs, n = _emit_pairs(pairs, args.pairs_out)
        embedding_index_frame(
            batch, args.vec_col, args.id_col
        ).write.mode("append").partitionBy("bucket").parquet(
            f"{args.index}/vectors"
        )
    else:  # url: admitted = batch urls NOT in the index (frontier dedup)
        urls = spark.read.parquet(f"{args.index}/urls")
        canon = batch.select(
            F.col(args.id_col),
            znet.canonical_url(url_col(batch)).alias("canon_url"),
        )
        admitted = canon.join(
            urls.hint("shuffle_hash"), "canon_url", "left_anti"
        ).groupBy("canon_url").agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.min(args.id_col).alias("first_doc"),
        )
        admitted, n = _emit_pairs(admitted, args.pairs_out)
        # append from the CHECKPOINTED frame: the lineage is cut, so
        # this write cannot re-run the anti-join against the very
        # directory it is appending to
        admitted.select("canon_url").write.mode("append").parquet(
            f"{args.index}/urls"
        )
    print(f"index updated: {n} row{'s' if n != 1 else ''} emitted")
    return 0


def _emit_pairs(pairs, out: str | None):
    """Checkpoint the probe result, optionally write it, return
    (checkpointed frame, count).  The checkpoint cuts lineage so the
    caller's index-append can't recompute the probe AFTER its own rows
    landed in the index (self-read hazard)."""
    pairs = pairs.localCheckpoint(eager=True)
    if out:
        pairs.write.mode("overwrite").parquet(out)
    return pairs, pairs.count()


def cmd_produce(args) -> int:
    """files -> Kafka (cmd/zync/produce/command.go:20-81): plain copy,
    no sync bookkeeping ("no effort is made to provide synchronization",
    command.go:25-28).  Input files are parquet or JSON-lines; each
    record's key/value are codec-encoded per the producer contract
    (fifo/producer.go:82-99) and written with the Kafka batch sink
    (auto-topic-creation enabled, command.go:68)."""
    from .codecs import connect_json as cj
    from .streaming.to_kafka import produce_projection

    if not args.files:
        print("no inputs provided", file=sys.stderr)  # command.go:52-54
        return 1
    parquet = [f for f in args.files if f.endswith(".parquet")]
    if parquet and len(parquet) != len(args.files):
        # a mixed list silently read as all-JSON would push parquet
        # bytes to the topic as _corrupt_record garbage — refuse
        print("cannot mix parquet and JSON inputs in one produce", file=sys.stderr)
        return 1
    spark = _spark(args)
    if parquet:
        df = spark.read.parquet(*args.files)
    else:
        # .zson inputs parse through codecs.zson (the reference's
        # produce reads any zed-readable format, command.go:55-60)
        df = _read_files(spark, args.files)
    if args.format == "avro":
        # Confluent-framed Avro, schemas registered per
        # RecordNameStrategy (fifo/producer.go:23-45)
        from .codecs.avro import avro_encoder

        encode = avro_encoder(_registry(args))
    else:
        encode = cj.encode
    out = produce_projection(df, encode)
    if getattr(args, "transport", "spark") == "wire":
        from .kafka_admin import WireTopicAdmin
        from .kafka_wire import wire_produce_df

        # parity with the JVM sink's allow.auto.create.topics
        security = _wire_security()
        WireTopicAdmin(args.brokers, security=security).create_missing_topics(
            [args.topic]
        )
        wire_produce_df(out, args.brokers, args.topic,
                        compression=getattr(args, "compression", "none"),
                        security=security)
    else:
        (
            out.write.format("kafka")
            .option("kafka.bootstrap.servers", args.brokers)
            .option("topic", args.topic)
            .option("kafka.allow.auto.create.topics", "true")
            .save()
        )
    print(f"messages produced to topic {args.topic!r}")
    return 0


def consume_starting_offsets(topic: str, offset: int) -> str:
    """Map the reference's -offset flag (cmd/zync/consume/command.go:57)
    to the Kafka source's startingOffsets: -2 earliest, else a concrete
    partition-0 offset (single-partition total-order model,
    fifo/consumer.go:59-63).  -1 ("latest") is handled by cmd_consume
    itself — Spark's BATCH Kafka reads reject startingOffsets=latest,
    so the head position is discovered with a suppressed first read."""
    if offset in (-1, -2):
        return "earliest"
    if offset < 0:
        raise SystemExit(f"invalid -offset {offset} (-2 earliest, -1 latest, or >= 0)")
    return json.dumps({topic: {"0": offset}})


def cmd_consume(args) -> int:
    import time

    from pyspark.sql import functions as F

    spark = _spark(args)
    registry = None
    if getattr(args, "format", "json") == "avro":
        # "Consume reads each record as Avro and transcodes it"
        # (cmd/zync/consume/command.go:30-32) — decode per wire schema
        # id against the registry, print as JSON
        # URL from --registry or schema_registry.json (reference
        # parity: the config file is the only source there)
        registry = _registry(args)

    def _read(starting: str):
        if getattr(args, "transport", "spark") == "wire":
            from .kafka_wire import EARLIEST, wire_read_topic

            if starting == "earliest":
                df = wire_read_topic(
                    spark, args.brokers, args.topic,
                    starting_offset=EARLIEST, security=_wire_security(),
                )
            else:
                # concrete startingOffsets JSON: resolve PER PARTITION
                # (a single offset applied across partitions would read
                # wrong ranges on a multi-partition topic)
                per_part = {
                    int(p): int(o)
                    for p, o in json.loads(starting)[args.topic].items()
                }
                df = wire_read_topic(
                    spark, args.brokers, args.topic,
                    starting_offsets=per_part, security=_wire_security(),
                )
        else:
            df = (
                spark.read.format("kafka")
                .option("kafka.bootstrap.servers", args.brokers)
                .option("subscribe", args.topic)
                .option("startingOffsets", starting)
                .load()
            )
        if registry is not None:
            from .codecs.avro import decode_by_schema_id

            df = decode_by_schema_id(df, "value", registry)
            df = df.withColumn("value", F.to_json("value"))
        return df

    starting = consume_starting_offsets(args.topic, args.offset)
    deadline = time.monotonic() + args.timeout if args.timeout else None
    last_next = None
    # -1 = latest: print nothing already in the topic, only what arrives
    # while polling. Spark batch Kafka reads reject 'latest', so the
    # first pass reads from earliest with output suppressed, purely to
    # learn the head offset.
    suppress_output = args.offset == -1
    while True:
        df = _read(starting)
        mx = None
        no_meta = getattr(args, "no_meta", False)
        # toLocalIterator streams one partition at a time to the driver —
        # an unbounded topic never materializes in driver memory.
        for r in df.select(
            "topic", "partition", "offset",
            df.key.cast("string").alias("key"),
            df.value.cast("string").alias("value"),
        ).toLocalIterator():
            if not suppress_output:
                if no_meta:
                    # reference consume shape: {key, value} with no
                    # kafka meta field (fifo/consumer.go:164-170 builds
                    # fields[1:] when metaType is nil;
                    # cmd/zync/consume/command.go:89 passes meta=false)
                    rec = {"key": r["key"], "value": r["value"]}
                    if getattr(args, "zson", False):
                        from .codecs import zson as zs

                        try:
                            rec["value"] = json.loads(r["value"])
                        except (ValueError, TypeError):
                            pass
                        print(zs.dumps(rec))
                    else:
                        print(json.dumps(rec))
                elif getattr(args, "zson", False):
                    # transcode the decoded value to compact ZSON — the
                    # reference's consume output format (demo/consume-1.zson)
                    from .codecs import zson as zs

                    try:
                        print(zs.dumps(json.loads(r["value"])))
                    except (ValueError, TypeError):
                        print(zs.dumps(r["value"]))
                else:
                    rec = r.asDict()
                    del rec["key"]  # meta shape predates the key column
                    print(json.dumps(rec))
            mx = r["offset"] if mx is None else max(mx, r["offset"])
        if mx is not None:
            last_next = mx + 1
        suppress_output = False
        # Reference semantics (command.go:34-37): at the head, block for
        # more data; exit when the timeout lapses with nothing new.
        if deadline is None or time.monotonic() >= deadline:
            return 0
        starting = json.dumps({args.topic: {"0": last_next}}) if last_next is not None else starting
        time.sleep(min(1.0, max(0.0, deadline - time.monotonic())))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="zync-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    etl = sub.add_parser("etl", help="run a transform YAML against pools")
    etl.add_argument("config")
    etl.add_argument("--lake", default=".", help="directory holding pools")
    etl.add_argument("--explain", action="store_true", help="print plan, don't run")
    etl.add_argument("--emit-zed", action="store_true",
                     help="print the generated Zed programs (zync etl -zed)")
    etl.add_argument("--continuous", action="store_true",
                     help="keep running: one incremental run per new "
                     "input-pool commit (EtlPipeline.run_stream)")
    etl.add_argument("--checkpoint", default=None,
                     help="streaming checkpoint dir for --continuous")
    etl.add_argument("--cursor-lag", action="store_true",
                     help="print per-topic pinned-rescan width and exit")

    q = sub.add_parser("query", help="run a Zed program against pools")
    q.add_argument("-z", "--zed", help="program text")
    q.add_argument("-f", "--file", help="program file")
    q.add_argument("--lake", default=".", help="directory holding pools")
    q.add_argument("--at", help="time travel: read pools as of this commit id")
    q.add_argument("-Z", "--zson", action="store_true",
                   help="print compact ZSON instead of JSON (zed query -z output)")
    q.add_argument("--explain", action="store_true",
                   help="print the physical plan instead of running")

    ld = sub.add_parser("load", help="load files into a pool (zed load analog)")
    ld.add_argument("files", nargs="*")
    ld.add_argument("--pool", required=True)
    ld.add_argument("--lake", default=".")

    wl = sub.add_parser(
        "warc-load", help="ingest WARC crawl archives into a pool"
    )
    wl.add_argument("files", nargs="*")
    wl.add_argument("--pool", required=True)
    wl.add_argument("--lake", default=".")
    wl.add_argument("--topic", default="warc",
                    help="kafka.topic the envelopes carry (default: warc)")
    wl.add_argument("--extract-text", action="store_true",
                    help="store HTML->text extraction instead of the raw body")

    cp = sub.add_parser("create-pool")
    cp.add_argument("name")
    cp.add_argument("--lake", default=".")

    cpp = sub.add_parser("compact-pool", help="merge live files (OPTIMIZE analog)")
    cpp.add_argument("name")
    cpp.add_argument("--lake", default=".")
    cpp.add_argument("--small-bytes", type=int, default=None,
                     help="size-tiered mode: merge only files smaller "
                          "than this many bytes (default: merge all)")
    cpp.add_argument("--sort-by", default=None,
                     help="cluster the merged commit by these comma-"
                          "separated columns (range partition + sort: "
                          "per-file min/max become disjoint so filters "
                          "on them skip files — the ZORDER analog)")
    cpp.add_argument("--zorder", action="store_true",
                     help="with >= 2 numeric --sort-by columns, cluster "
                          "on the Morton-interleaved key instead of the "
                          "linear sort: per-file min/max narrow on ALL "
                          "the columns, multi-predicate scans prune "
                          "multiplicatively (OPTIMIZE ZORDER BY)")

    vp = sub.add_parser("vacuum-pool", help="reclaim removed and never-logged data files")
    vp.add_argument("name")
    vp.add_argument("--lake", default=".")
    vp.add_argument("--grace-seconds", type=float, default=3600.0)
    vp.add_argument("--unpublished-grace-seconds", type=float, default=None,
                    help="grace for never-logged files (crashed or "
                         "IN-FLIGHT writes); floors at "
                         "max(grace, 1h) unless set explicitly")

    info = sub.add_parser("info", help="watermarks per topic")
    info.add_argument("--pool")
    info.add_argument("--lake", default=".")
    info.add_argument("--brokers")
    info.add_argument("--topic", help="topic to probe in --brokers mode")
    info.add_argument("--files", action="store_true",
                      help="with --pool: per-commit file count, bytes, and "
                           "offset zone-map range from parquet footers "
                           "(no data read)")

    ls = sub.add_parser("ls", help="list schema-registry subjects")
    ls.add_argument("--registry")
    ls.add_argument("--lake", dest="lake_dir",
                    help="list pools in this lake instead of registry subjects")

    fkp = sub.add_parser("from-kafka")
    fkp.add_argument("--brokers", required=True)
    fkp.add_argument("--topics", required=True)
    fkp.add_argument("--pool", required=True)
    fkp.add_argument("--lake", default=".")
    fkp.add_argument("--value-schema", help="Connect schema JSON file")
    fkp.add_argument("--format", default="json", choices=["json", "avro"],
                     help="value codec (cli/flags.go:30)")
    fkp.add_argument("--registry", help="schema registry URL (avro format)")
    fkp.add_argument("--thresh", type=int, default=1_048_576)
    fkp.add_argument("--interval", default="5 seconds")
    fkp.add_argument("--shaper", help="path of optional Zed script for shaping")
    fkp.add_argument("--dedup-values", action="store_true",
                     help="drop records whose value content already exists in the pool")
    fkp.add_argument("--track-distinct", default=None, metavar="COL",
                     help="maintain an HLL distinct-count sketch of this "
                          "column across the whole ingest in a pool "
                          "sidecar (read back with ingest_distinct_estimate)")
    fkp.add_argument("--exitafter", action="store_true", help="drain then exit")
    fkp.add_argument("--transport", choices=["spark", "wire"], default="spark",
                     help="Kafka transport: the JVM streaming source "
                     "(default) or the dependency-free wire client "
                     "(bounded one-shot ingest, resume-from-pool)")
    fkp.add_argument(
        "--kafka-replicas", type=int, default=0,
        help="create missing topics with this replication (0 = don't; "
        "the -kafkareplicas flag, cmd/zync/from-kafka/command.go:187-191)",
    )

    tkp = sub.add_parser("to-kafka")
    tkp.add_argument("--brokers", required=True)
    tkp.add_argument("--topic", required=True)
    tkp.add_argument("--pool", required=True)
    tkp.add_argument("--lake", default=".")
    tkp.add_argument("--batch-size", type=int, default=200)
    tkp.add_argument("--transport", choices=["spark", "wire"], default="spark",
                     help="Kafka transport: the JVM spark-sql-kafka source/sink (default) or the dependency-free wire client (kafka_wire; bounded reads/produces, no extra jars)")
    tkp.add_argument("--compression",
                     choices=["none", "gzip", "snappy", "lz4", "zstd"],
                     default="none",
                     help="wire-transport produce compression (all four "
                     "codecs; stdlib fallbacks when the optional packages "
                     "are absent)")
    tkp.add_argument("--shaper", help="path of optional Zed script for shaping")
    tkp.add_argument("--format", default="json", choices=["json", "avro"])
    tkp.add_argument("--registry", help="schema registry URL (avro format)")
    tkp.add_argument("--resume", action="store_true",
                     help="resume at the destination topic's head offset")
    tkp.add_argument("--start-offset", type=int, default=None,
                     help="explicit resume offset (overrides --resume)")
    tkp.add_argument("--topic-partitions", type=int, default=0,
                     help="create the topic with this many partitions "
                     "(0 = don't; cmd/zync/to-kafka/command.go:90-94)")
    tkp.add_argument("--replication", type=int, default=1)
    tkp.add_argument("--continuous", action="store_true",
                     help="run as a readStream over the pool's commits "
                     "instead of the batch sync loop (README.md:175-177)")
    tkp.add_argument("--checkpoint", default=None,
                     help="streaming checkpoint dir for --continuous")
    tkp.add_argument("--max-files-per-trigger", type=int, default=None,
                     help="bound catch-up micro-batches in --continuous")

    cons = sub.add_parser("consume")
    cons.add_argument("--brokers", required=True)
    cons.add_argument("--topic", required=True)
    cons.add_argument("--offset", type=int, default=-2,
                      help="-2 earliest, -1 latest, or a concrete offset "
                      "(cmd/zync/consume/command.go:57)")
    cons.add_argument("--transport", choices=["spark", "wire"], default="spark",
                      help="Kafka transport: the JVM spark-sql-kafka source/sink (default) or the dependency-free wire client (kafka_wire; bounded reads/produces, no extra jars)")
    cons.add_argument("--format", default="json", choices=["json", "avro"])
    cons.add_argument("-Z", "--zson", action="store_true",
                      help="print values as compact ZSON (the reference's "
                      "consume output, demo/consume-1.zson)")
    cons.add_argument("--no-meta", action="store_true", dest="no_meta",
                      help="emit {key, value} records with no kafka meta "
                      "field — the reference's consume shape "
                      "(fifo/consumer.go:164-170 with meta=false)")
    cons.add_argument("--registry", help="schema registry URL (avro format)")
    cons.add_argument("--timeout", type=float, default=None,
                      help="seconds to keep polling at the head before "
                      "exiting (cmd/zync/consume/command.go:56)")

    prod = sub.add_parser("produce", help="produce files into a Kafka topic")
    prod.add_argument("files", nargs="*")
    prod.add_argument("--brokers", required=True)
    prod.add_argument("--topic", required=True)
    prod.add_argument("--format", default="json", choices=["json", "avro"])
    prod.add_argument("--registry", help="schema registry URL (avro format)")
    prod.add_argument("--transport", choices=["spark", "wire"], default="spark",
                      help="Kafka transport: the JVM spark-sql-kafka sink "
                      "(default) or the dependency-free wire client")
    prod.add_argument("--compression",
                      choices=["none", "gzip", "snappy", "lz4", "zstd"],
                      default="none",
                      help="wire-transport produce compression")

    ver = sub.add_parser("version")

    tq = sub.add_parser(
        "train-quality",
        help="train the fixed-point linear probe on an embeddings "
             "parquet table and save the model artifact",
    )
    tq.add_argument("parquet", help="parquet with (embedding, label) columns")
    tq.add_argument("--out", required=True, help="model JSON path")
    tq.add_argument("--positive-label", type=int, default=0)
    tq.add_argument("--rounds", type=int, default=8)
    tq.add_argument("--dims", type=int, default=64)

    sd = sub.add_parser(
        "select-dsir",
        help="DSIR data selection: importance-weight a raw documents "
             "parquet toward a target slice and write the top-k "
             "(or Gumbel-sampled) subset",
    )
    sd.add_argument("parquet", help="parquet with (id, text) columns")
    sd.add_argument("--target-where", required=True,
                    help="SQL predicate defining the target slice, "
                         "e.g. \"lang = 'en'\"")
    sd.add_argument("--out", required=True, help="output parquet path")
    sd.add_argument("--top-k", type=int, default=1000)
    sd.add_argument("--text-col", default="text")
    sd.add_argument("--id-col", default="doc_id")
    sd.add_argument("--buckets", type=int, default=4096)
    sd.add_argument("--gumbel-seed", type=int, default=None,
                    help="sample WITHOUT replacement via deterministic "
                         "Gumbel-top-k instead of plain top-k")

    tb = sub.add_parser(
        "train-bpe",
        help="learn a BPE merge table from a documents parquet table "
             "and save the tokenizer artifact",
    )
    tb.add_argument("parquet", help="parquet with a text column")
    tb.add_argument("--out", required=True, help="merge-table JSON path")
    tb.add_argument("--merges", type=int, default=32)
    tb.add_argument("--text-col", default="text")

    ix = sub.add_parser(
        "index",
        help="dedup-index lifecycle: build/update/merge a maintained "
             "near-dup index (minhash LSH postings, winnowing "
             "fingerprints, or canonical-URL frontier)",
    )
    ix.add_argument("verb", choices=["build", "update", "merge"])
    ix.add_argument("--kind", required=True,
                    choices=["minhash", "winnow", "url", "embedding"])
    ix.add_argument("--index", required=True, help="index directory")
    ix.add_argument("--input", help="build: corpus parquet; update: batch parquet")
    ix.add_argument("--other", help="merge: second index directory to fold in")
    ix.add_argument("--pairs-out", default=None,
                    help="update: write the batch's dup pairs here "
                         "(parquet); default prints the count only")
    ix.add_argument("--text-col", default="text")
    ix.add_argument("--id-col", default="doc_id")
    ix.add_argument("--url-col", default=None,
                    help="url kind: the URL column (default: --text-col)")
    ix.add_argument("--num-hashes", type=int, default=16)
    ix.add_argument("--bands", type=int, default=4)
    ix.add_argument("--shingle-k", type=int, default=5)
    ix.add_argument("--jaccard", type=float, default=0.5)
    ix.add_argument("--winnow-k", type=int, default=5)
    ix.add_argument("--winnow-w", type=int, default=4)
    ix.add_argument("--min-shared", type=int, default=1)
    ix.add_argument("--vec-col", default="embedding")
    ix.add_argument("--cosine", type=float, default=0.99,
                    help="embedding kind: near-dup cosine threshold")

    args = p.parse_args(argv)
    handler = {
        "etl": cmd_etl,
        "index": cmd_index,
        "query": cmd_query,
        "create-pool": cmd_create_pool,
        "load": cmd_load,
        "warc-load": cmd_warc_load,
        "compact-pool": cmd_compact_pool,
        "vacuum-pool": cmd_vacuum_pool,
        "info": cmd_info,
        "ls": cmd_ls,
        "from-kafka": cmd_from_kafka,
        "to-kafka": cmd_to_kafka,
        "consume": cmd_consume,
        "produce": cmd_produce,
        "version": lambda a: (print(__version__), 0)[1],
        "train-quality": cmd_train_quality,
        "select-dsir": cmd_select_dsir,
        "train-bpe": cmd_train_bpe,
    }[args.cmd]
    return handler(args)


if __name__ == "__main__":
    raise SystemExit(main())
