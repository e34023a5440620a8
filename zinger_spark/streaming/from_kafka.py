"""from-kafka: Kafka -> pool streaming ingest.

Reference flow (cmd/zync/from-kafka/command.go:33-294, SURVEY §3.1):
resume offsets from the pool -> consume -> decode (Avro/Connect-JSON)
-> envelope-wrap -> buffer -> atomic commit at thresh/interval.

Spark mapping: ``readStream.format("kafka")`` with
``startingOffsets`` computed from the pool (restart-from-max, A9),
envelope projection, then ``foreachBatch`` committing each micro-batch
atomically; trigger interval == the reference's ``-interval`` (5 s
default), ``maxOffsetsPerTrigger`` == ``-thresh`` (1,048,576 default).

The envelope/decode stage is a pure DataFrame transform over the Kafka
source's fixed schema (key binary, value binary, topic, partition,
offset, ...), so it is unit-testable without a broker.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..datamodel import TYPE_DATA
from ..sources.pool import Pool

DEFAULT_THRESH = 1_048_576  # records/commit (command.go:79)
DEFAULT_INTERVAL = "5 seconds"  # max commit latency (command.go:81-82)


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topics: list[str],
    starting_offsets: dict[str, dict[str, int]] | str = "earliest",
    max_offsets_per_trigger: int = DEFAULT_THRESH,
) -> DataFrame:
    """The Kafka readStream (A1). Partition 0 only is the reference's
    total-order constraint (fifo/consumer.go:59-63); Spark preserves
    per-partition order, and single-partition topics match it exactly."""
    if not isinstance(starting_offsets, str):
        starting_offsets = json.dumps(starting_offsets)
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .load()
    )


def starting_offsets_from_pool(
    pool: Pool,
    topics: list[str],
    partitions_by_topic: dict[str, list[int]] | None = None,
) -> dict:
    """Resume point per (topic, partition): max stored offset + 1 (A9,
    fifo/lake.go:62-82; run per topic like command.go:155-184).
    -2 = earliest for partitions never seen (Kafka convention, also the
    reference's consume -offset default, cmd/zync/consume/command.go:57).

    The reference pins partition 0 (fifo/consumer.go:59-63); Kafka
    ordering is per partition, so multi-partition ingest resumes each
    one independently: pass ``partitions_by_topic`` (from the broker's
    topic metadata, kafka_admin) to cover partitions with no pool data
    yet — partitions already stored resume from their own watermark
    regardless.  Default [0] per topic = exact reference parity."""
    out: dict[str, dict[str, int]] = {}
    for topic in topics:
        declared = (partitions_by_topic or {}).get(topic, [0])
        # emptiness is handled inside (one log snapshot serves both the
        # check and the stats walk)
        saved = pool.next_consumer_offsets_by_partition(topic)
        out[topic] = {
            str(p): saved[p] if saved.get(p, 0) > 0 else -2
            for p in sorted(set(declared) | set(saved))
        }
    return out


def envelope_stream(
    kafka_df: DataFrame,
    value_decoder: Callable[[Column], Column],
    key_decoder: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """Kafka source rows -> envelope records (A2, fifo/consumer.go:117-148):
    {kafka:{topic,partition,offset}, key, value, _type='data'}.

    ``value_decoder``/``key_decoder`` map the raw binary/string column to
    a typed struct — plug in codecs.connect_json.decode or
    codecs.avro.from_avro_body∘unframe."""
    key_col = (
        key_decoder(F.col("key")) if key_decoder is not None else F.lit(None).cast("string")
    )
    return kafka_df.select(
        F.struct(
            F.col("topic").cast("string").alias("topic"),
            F.col("partition").cast("long").alias("partition"),
            F.col("offset").cast("long").alias("offset"),
        ).alias("kafka"),
        key_col.alias("key"),
        value_decoder(F.col("value")).alias("value"),
        F.lit(TYPE_DATA).alias("_type"),
    )


def monotonic_guard(batch: DataFrame, saved: dict[str, int]) -> None:
    """Offset-regression detector (A3, fifo/consumer.go:118-122): raise
    if a batch contains an offset below the saved watermark.  Watermark
    keys are ``"topic:partition"`` (multi-partition — ordering is per
    partition) or plain ``topic`` (reference parity, partition 0); the
    most specific one wins.  One partial-agg groupBy, bounded collect
    (one row per (topic, partition) in the batch)."""
    rows = (
        batch.groupBy(
            F.col("kafka.topic").alias("topic"),
            F.col("kafka.partition").alias("part"),
        )
        .agg(F.min("kafka.offset").alias("mn"))
        .collect()
    )
    for r in rows:
        wm = saved.get(f"{r['topic']}:{r['part']}", saved.get(r["topic"]))
        if wm is not None and r["mn"] < wm:
            raise RuntimeError(
                f"topic {r['topic']} partition {r['part']}: received offset "
                f"{r['mn']} < saved offset {wm}"
            )


INGEST_TXN_SIDECAR = "_ingest_txn.json"
HLL_SIDECAR = "_ingest_hll.json"


def _dedup_against_pool(pool: Pool, batch: DataFrame) -> DataFrame:
    """Drop batch rows whose ``value`` content already exists in the
    pool (exact, hash of the canonical JSON), keeping the first
    occurrence (lowest offset) within the batch — dedup-at-ingest for
    pipelines whose upstream re-sends records.  One pool-side
    projection to distinct hashes + an anti-join; Spark's runtime bloom
    filter prunes the batch scan.  At scale, keep the hash column in
    the pool (it is this same expression) so the projection reads one
    column; for near-dup-at-ingest run the maintained-index operators
    (operators/dedup.incremental_minhash_pairs) as a downstream ETL
    instead — a per-micro-batch LSH join does not belong in the commit
    path."""
    from pyspark.sql import Window  # noqa: PLC0415

    def fp(df: DataFrame):
        # canonical content hash: JSON for struct values, raw text for
        # string values (the wire path without --value-schema keeps the
        # value as a string column)
        vtype = dict(df.dtypes).get("value", "string")
        col = (
            F.to_json(F.col("value"))
            if vtype.startswith("struct")
            else F.col("value").cast("string")
        )
        return F.xxhash64(col)

    w = Window.partitionBy("__fp").orderBy(F.col("kafka.offset"))
    batch = (
        batch.withColumn("__fp", fp(batch))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    if not pool.is_empty():
        pool_df = pool.df()
        seen = pool_df.select(fp(pool_df).alias("__fp")).distinct()
        batch = batch.join(seen, "__fp", "left_anti")
    return batch.drop("__fp")


def commit_batch(
    pool: Pool,
    batch: DataFrame,
    batch_id: int,
    app_id: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    dedup_values: bool = False,
    track_distinct: str | None = None,
) -> bool:
    """Idempotent micro-batch commit — the txnAppId/txnVersion pattern
    (Delta's idempotent-writes contract, SURVEY §2) for the Kafka→pool
    leg.  The streaming checkpoint alone gives only at-least-once: a
    crash after ``pool.load_batch`` but before the checkpoint advances
    replays the micro-batch on restart.  So the last-committed batch id
    per ``app_id`` is persisted in a pool sidecar, read+written INSIDE
    the writer lock with the commit itself: replayed ids (<= recorded)
    are skipped, making replay a no-op.  Returns True iff rows were
    committed.

    ``app_id`` must be stable across restarts of one logical stream
    (``run_ingest`` derives it from the checkpoint path) and distinct
    across streams writing the same pool.

    ``track_distinct`` names a column (nested paths fine, e.g. ``key``
    or ``value.user``) whose distinct count is tracked ACROSS the whole
    ingest history in an HLL register sidecar: each batch's registers
    (a bounded <= 2^p-row collect) merge register-wise-max into
    ``_ingest_hll.json`` inside the writer lock.  max is idempotent, so
    even a replayed batch that slipped past the txn check could never
    inflate the estimate — the sketch is exactly-once BY ALGEBRA, not
    by bookkeeping.  Read it back with ``ingest_distinct_estimate``;
    cost per batch is one partial-aggregated groupBy over the batch
    only (the pool is never rescanned).
    """
    if transform is not None:
        batch = transform(batch)
    if batch.isEmpty():
        return False
    with pool.writer_lock():
        txn = pool.read_sidecar(INGEST_TXN_SIDECAR) or {}
        last = txn.get(app_id)
        if last is not None and batch_id <= last:
            return False  # crash-replayed micro-batch: already in the pool
        commit_id, _ = load_under_lock(pool, batch, dedup_values, track_distinct)
        txn[app_id] = batch_id
        pool.write_sidecar(INGEST_TXN_SIDECAR, txn)
    return commit_id is not None


def load_under_lock(
    pool: Pool,
    batch: DataFrame,
    dedup_values: bool = False,
    track_distinct: str | None = None,
) -> tuple[str | None, DataFrame]:
    """The locked section of an ingest commit, shared by
    ``commit_batch`` and the CLI's one-shot wire ingest: optional
    dedup against the pool, ``load_batch``, optional HLL sidecar merge.
    The caller holds ``pool.writer_lock()`` — the anti-join must see
    every committed batch, including one racing in from another
    writer.  The deduplicated batch is materialised once, so the
    anti-join over the pool runs once rather than per action, and the
    rows loaded are the rows sketched.  Returns (commit id, the batch
    as loaded); the commit id is None when dedup left nothing to load."""
    if dedup_values:
        batch = _dedup_against_pool(pool, batch).localCheckpoint(eager=True)
        if batch.isEmpty():
            return None, batch
    commit_id = pool.load_batch(batch)
    if track_distinct:
        _merge_hll_sidecar(pool, batch, track_distinct)
    return commit_id, batch


HLL_SIDECAR_P = 12


def _merge_hll_sidecar(pool: Pool, batch: DataFrame, col: str) -> None:
    """Merge the batch's HLL registers into the pool's sketch sidecar.
    Caller holds the writer lock (the read-modify-write below needs it)."""
    from ..operators import sketches as sk

    batch_regs = sk.hll_registers_dict(
        batch.select(F.col(col).alias("_track")), "_track", p=HLL_SIDECAR_P
    )
    cur = pool.read_sidecar(HLL_SIDECAR) or {}
    if cur and (cur.get("col") != col or cur.get("p") != HLL_SIDECAR_P):
        raise ValueError(
            f"pool {pool.path}: HLL sidecar tracks "
            f"{cur.get('col')!r} at p={cur.get('p')}; refusing to merge "
            f"{col!r} into it (sketches of different columns do not union)"
        )
    merged = sk.merge_register_dicts(
        {int(k): v for k, v in (cur.get("registers") or {}).items()}, batch_regs
    )
    pool.write_sidecar(
        HLL_SIDECAR,
        {
            "col": col,
            "p": HLL_SIDECAR_P,
            "registers": {str(k): v for k, v in merged.items()},
        },
    )


def ingest_distinct_estimate(pool: Pool) -> int | None:
    """The distinct-count estimate for the tracked ingest column, from
    the sidecar alone — no pool scan.  None if tracking was never on."""
    from ..operators import sketches as sk

    cur = pool.read_sidecar(HLL_SIDECAR)
    if not cur:
        return None
    regs = {int(k): v for k, v in (cur.get("registers") or {}).items()}
    return sk.estimate_from_register_dict(regs, p=cur.get("p", HLL_SIDECAR_P))


def run_ingest(
    enveloped: DataFrame,
    pool: Pool,
    checkpoint: str,
    interval: str | None = DEFAULT_INTERVAL,
    available_now: bool = False,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    app_id: str | None = None,
    dedup_values: bool = False,
    track_distinct: str | None = None,
):
    """The load loop (A13/A16): each micro-batch optionally shaped
    (the -shaper hook, fifo/lake.go:94-106) then committed atomically
    and idempotently (``commit_batch``).  Checkpoint + pool-derived
    start offsets give the reference's restart-from-max semantics
    (README.md:140-156); the batch-id sidecar upgrades the
    checkpoint's at-least-once replay to exactly-once pool contents."""
    if app_id is None:
        app_id = f"ingest-{os.path.basename(os.path.normpath(checkpoint))}"

    def _commit(batch: DataFrame, batch_id: int) -> None:
        commit_batch(
            pool, batch, batch_id, app_id, transform=transform,
            dedup_values=dedup_values, track_distinct=track_distinct,
        )

    writer = enveloped.writeStream.foreachBatch(_commit).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif interval:
        writer = writer.trigger(processingTime=interval)
    return writer.start()
