"""to-kafka: pool -> Kafka egress.

Reference flow (fifo/to.go:29-53, SURVEY §3.3): producer high-water
mark -> repeated ReadBatch(200) from the pool, encode, produce, until
drained (sync-point).

Spark mapping: batch mode (``sync_batches``) reads the pending range
in ordered, single-partition chunks of up to ``CHUNK_ROWS`` records —
one read for a range that fits — and hands each chunk to the producer
in one call; the producer cuts the 200-record batches (the wire
producer by itself, Spark's Kafka sink by its own batching), so the
Produce requests match the reference's loop without its per-batch
reads.  A ``--shaper`` keeps the per-batch loop, since the reference
shapes each ReadBatch.
Continuous mode (the reference's stated future direction,
README.md:175-177) is a file-source readStream over the pool's commit
dirs -> Kafka sink.
"""

from __future__ import annotations

from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from ..sources.pool import Pool

BATCH_SIZE = 200  # records per ReadBatch (fifo/to.go:29)
#: most records in one egress read (rounded down to a multiple of the
#: batch size): sync_batches produces a larger range chunk by chunk, so
#: the wire producer holds one chunk on the driver at a time
CHUNK_ROWS = 1 << 16


def kafka_sink_projection(
    df: DataFrame,
    value_encoder: Callable[[DataFrame], Column],
    key_encoder: Callable[[DataFrame], Column] | None = None,
    topic: str | None = None,
) -> DataFrame:
    """Project envelope records into the Kafka sink contract
    (key, value[, topic]) — A5. Encoders produce string or binary
    columns (codecs.connect_json.encode / codecs.avro.frame∘to_avro)."""
    cols = []
    if key_encoder is not None:
        cols.append(key_encoder(df).alias("key"))
    cols.append(value_encoder(df).alias("value"))
    if topic is not None:
        cols.append(F.lit(topic).alias("topic"))
    else:
        cols.append(F.col("kafka.topic").alias("topic"))
    return df.select(*cols)


def produce_projection(df: DataFrame, encode) -> DataFrame:
    """The `zync produce` record contract (fifo/producer.go:82-99):
    key = record's ``key`` field (missing -> null), value = record's
    ``value`` field if present else the WHOLE record; both run through
    the same codec ``encode(col, datatype) -> Column``.

    Broker-free by construction: returns the (key, value) frame the
    Kafka batch writer sends — tests collect it, cmd_produce writes it.
    """
    if "value" in df.columns:
        val_col, val_dt = F.col("value"), df.schema["value"].dataType
    else:
        val_col = F.struct(*[F.col(c) for c in df.columns])
        val_dt = df.select(val_col.alias("v")).schema["v"].dataType
    cols = []
    if "key" in df.columns:
        cols.append(encode(F.col("key"), df.schema["key"].dataType).alias("key"))
    else:
        cols.append(F.lit(None).cast("string").alias("key"))
    cols.append(encode(val_col, val_dt).alias("value"))
    return df.select(*cols)


def sync_batches(
    pool: Pool,
    topic: str,
    start_offset: int,
    produce: Callable[[DataFrame], None],
    batch_size: int = BATCH_SIZE,
    transform=None,
) -> int:
    """The To.Sync loop (fifo/to.go:31-53): hand ``topic``'s pool
    records from the producer high-water mark ``start_offset`` on to
    ``produce``, in ``kafka.offset`` order, until the pool is drained.
    Returns records produced.

    ``produce`` is the broker boundary: ``df.write.format("kafka")``,
    or ``kafka_wire.wire_produce_df`` with ``--transport wire``; a
    collector in tests.  Its first Spark action must read the whole
    frame: that action's row count is what the observation below
    reports.

    Without a shaper each read is one ordered window of up to
    ``CHUNK_ROWS`` records (rounded down to a multiple of
    ``batch_size``), planned as one top-k: a single partition in offset
    order, which the producer reads in one Spark job and cuts into
    ``batch_size`` batches itself.  Chunk breaks fall on batch
    boundaries, so the Produce requests are the reference's, which
    re-reads the pool per ``batch_size`` records.  The count and the
    max offset of a chunk ride an ``Observation`` that ``produce``'s
    own action completes, at no extra job; a ``produce`` that runs no
    SQL action is counted once instead.

    With ``transform`` (a shaper) the window is ``batch_size``: the
    reference applies the shaper inside ReadBatch (fifo/lake.go:84-92),
    so a boundary-dependent shaper (``head 1``) sees one raw window at
    a time.  Scan progress tracks the RAW window, with the shaper
    applied only to what's produced.  (The reference advances by the
    POST-shaper count — fifo/to.go:51 — which re-sends the tail of a
    batch a filtering shaper shrank, and stops early on a fully-dropped
    batch.  Progress-by-scan avoids both without changing shaper
    semantics.)

    Draining: a full window reads on from its max offset + 1.  A
    shorter one drained the log as read, so the loop ends unless the
    log moved meanwhile (a commit landed); an empty one always ends
    it, as the reference's loop stops at its first empty read."""
    window = batch_size if transform is not None else batch_size * max(1, CHUNK_ROWS // batch_size)
    total, offset = 0, start_offset
    while True:
        version = pool.version()
        if not pool.scans_files(topic=topic, offset_lo=offset):
            return total
        raw = pool.read_batch(topic, offset, window)
        if transform is None:
            obs = Observation()
            produce(raw.observe(obs, *_range_stats()))
            stats = _completed(raw.sparkSession, obs) or raw.agg(*_range_stats()).first()
            total += stats["n"]
        else:
            stats = raw.agg(*_range_stats()).first()
            batch = transform(raw)
            rows = batch.count() if stats["n"] else 0
            if rows:
                produce(batch)
                total += rows
        if not stats["n"] or (stats["n"] < window and pool.version() == version):
            return total
        offset = stats["mx"] + 1


def _range_stats() -> tuple[Column, Column]:
    return F.count(F.lit(1)).alias("n"), F.max("kafka.offset").alias("mx")


#: longest wait, ms, for Spark's listener bus to deliver a finished
#: action's observed metrics before sync_batches counts instead
_LISTENER_WAIT_MS = 60_000


def _completed(spark: SparkSession, obs: Observation) -> dict | None:
    """``obs``'s metrics if an action completed it, else None.

    ``Observation.get`` blocks forever on a frame no SQL action ran.
    An action's metrics reach the observation through the listener
    bus once the action has returned, so the bus is drained first:
    the check then sees every action that ran, and never waits on
    one that did not."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(_LISTENER_WAIT_MS)
    except Py4JError:  # still busy after the wait: the caller counts
        return None
    return obs.get if obs._jo.future().isCompleted() else None


# Broker-free produce target for tests/demos ONLY: rows collected per
# query_name, read back with ``memory_sink_rows``.  Grows for the
# process lifetime by design (a test inspects what was "produced"
# after the stream stops) — production paths always pass ``brokers``
# and never touch it; call ``clear_memory_sink`` between scenarios.
_MEMORY_SINKS: dict[str, list] = {}


def memory_sink_rows(query_name: str) -> list:
    """Rows produced by a broker-less continuous_sink (test mode)."""
    return _MEMORY_SINKS.get(query_name, [])


def clear_memory_sink(query_name: str | None = None) -> None:
    """Drop collected test-sink rows (one query's, or all)."""
    if query_name is None:
        _MEMORY_SINKS.clear()
    else:
        _MEMORY_SINKS.pop(query_name, None)


def continuous_sink(
    spark: SparkSession,
    pool: Pool,
    schema,
    checkpoint: str,
    sink_builder: Callable[[DataFrame], DataFrame],
    brokers: str | None = None,
    available_now: bool = False,
    topic: str | None = None,
    start_offset: int = 0,
    max_files_per_trigger: int | None = None,
    query_name: str = "to_kafka_test",
    transport: str = "spark",
):
    """Continuous pool->Kafka (the reference's stated future direction,
    README.md:175-177): a file-source readStream over the pool's commit
    dirs — each new atomic commit is a new set of files, discovered and
    produced as a micro-batch — projected via ``sink_builder`` into the
    Kafka sink contract.

    Resume contract, matching the batch loop (fifo/to.go:29-53):
    bootstrap with ``start_offset`` = the producer high-water mark
    probed from the broker (kafka_admin); after that a per-topic
    PRODUCED-OFFSET watermark sidecar (``_egress_<query_name>.json`` on
    the pool, storing the next offset to produce per kafka.topic) is
    read at the top of every micro-batch and rows below it are dropped.
    The file-source checkpoint only tracks which FILES were seen, which
    is the wrong identity under ``compact()``: compaction rewrites every
    live row into a brand-new commit dir, and a checkpoint-only sink —
    running or restarted — would re-produce the whole pool as duplicate
    broker records.  The offset watermark makes that replay (and a
    crash-replayed micro-batch) a no-op, because rewritten rows keep
    their offsets.  One watermark file per ``query_name``: run parallel
    sinks under distinct names.

    ``topic`` restricts to one output topic's data records (done/cursor
    markers share the pool and must not reach the broker).

    ``max_files_per_trigger`` bounds a micro-batch during bulk catch-up
    (a year-old pool is thousands of commit files; unbounded, the first
    trigger would try to produce all of it in one transaction)."""
    reader = spark.readStream.schema(schema).option("mergeSchema", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # The glob sees a commit's files as they land, which can be one
    # trigger before the log append publishes the commit.
    # The offset watermark keeps the broker exactly-once regardless
    # (the retried/compacted copies of those offsets are dropped); the
    # one divergence from the batch sync loop is a crashed,
    # never-retried load, whose dark rows reach the broker once even
    # though the pool forgets them — same blast radius as one
    # micro-batch, reclaimed on the pool side by vacuum.
    stream = reader.parquet(pool.data_glob())
    if topic is not None:
        stream = stream.filter(F.col("kafka.topic") == topic)
        if "_type" in stream.columns:
            stream = stream.filter(F.col("_type") == "data")
    sidecar = f"_egress_{query_name}.json"

    def _emit(batch: DataFrame, _batch_id: int) -> None:
        wm = pool.read_sidecar(sidecar) or {}
        # floor per topic: watermark if recorded, else the bootstrap
        if wm:
            pairs = [x for kv in wm.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
            floor = F.coalesce(
                F.create_map(*pairs)[F.col("kafka.topic")], F.lit(start_offset)
            )
        else:
            floor = F.lit(start_offset)
        batch = batch.filter(F.col("kafka.offset") >= floor).persist()
        try:
            maxes = {
                r["t"]: int(r["mx"])
                for r in batch.groupBy(F.col("kafka.topic").alias("t"))
                .agg(F.max("kafka.offset").alias("mx"))
                .collect()
            }
            if not maxes:
                return
            out = sink_builder(batch)
            if brokers and transport == "wire":
                # dependency-free produce (kafka_wire) — needs a single
                # destination topic (the wire producer appends to one
                # partition log per call)
                from ..kafka_wire import wire_produce_df  # noqa: PLC0415

                if topic is None:
                    raise ValueError("transport='wire' requires topic=")
                # pipelined: acks=0 batches + one high-watermark
                # barrier — safe here because the produced-offset
                # sidecar makes any crash-replay idempotent (rows below
                # the watermark are dropped on retry), and the sink is
                # the partition's only writer by the ordering contract
                wire_produce_df(out, brokers, topic, pipelined=True)
            elif brokers:
                (
                    out.write.format("kafka")
                    .option("kafka.bootstrap.servers", brokers)
                    .save()
                )
            else:
                _MEMORY_SINKS.setdefault(query_name, []).extend(out.collect())
            pool.write_sidecar(
                sidecar, {**wm, **{t: mx + 1 for t, mx in maxes.items()}}
            )
        finally:
            batch.unpersist()

    writer = stream.writeStream.foreachBatch(_emit).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
