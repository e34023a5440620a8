"""Streaming-path tests without a broker: the envelope/decode transform
over Kafka-source-shaped data, resume-offset computation, the ingest
foreachBatch commit loop (via a file-source stream), and the to-kafka
sync loop."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zinger_spark.codecs import connect_json as cj
from zinger_spark.sources.pool import Pool
from zinger_spark.streaming import from_kafka as fk
from zinger_spark.streaming import to_kafka as tk

KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def kafka_rows(spark, rows):
    return spark.createDataFrame(rows, KAFKA_SOURCE_SCHEMA)


def connect_wire(payload: dict, schema: dict) -> bytes:
    return json.dumps({"schema": schema, "payload": payload}).encode()


VALUE_SCHEMA = {
    "type": "struct",
    "optional": True,
    "fields": [
        {"type": "int64", "optional": True, "field": "a"},
        {"type": "string", "optional": True, "field": "s"},
    ],
}


def test_envelope_stream_decodes_connect_json(spark):
    """A2: kafka rows -> {kafka,key,value,_type} with Connect-JSON value."""
    rows = [
        (None, connect_wire({"a": 1, "s": "x"}, VALUE_SCHEMA), "T", 0, 7, None, 0),
        (None, connect_wire({"a": 2, "s": None}, VALUE_SCHEMA), "T", 0, 8, None, 0),
    ]
    df = kafka_rows(spark, rows)
    env = fk.envelope_stream(
        df, value_decoder=lambda c: cj.decode(c.cast("string"), VALUE_SCHEMA)
    )
    got = sorted(
        (r["kafka"]["topic"], r["kafka"]["offset"], r["value"]["a"], r["value"]["s"])
        for r in env.collect()
    )
    assert got == [("T", 7, 1, "x"), ("T", 8, 2, None)]
    assert env.schema["_type"].dataType == T.StringType()


def test_starting_offsets_from_pool(spark, tmp_path):
    """A9: resume from max stored offset + 1; -2 (earliest) when unseen."""
    pool = Pool.create(spark, str(tmp_path / "p"))
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )
    pool.load_batch(
        spark.createDataFrame(
            [(("T", 0, 41), None, (1,), "data"), (("T", 0, 42), None, (2,), "data")],
            env_schema,
        )
    )
    offs = fk.starting_offsets_from_pool(pool, ["T", "U"])
    assert offs == {"T": {"0": 43}, "U": {"0": -2}}


def test_monotonic_guard(spark):
    env_schema = "kafka struct<topic:string,partition:bigint,offset:bigint>"
    batch = spark.createDataFrame([(("T", 0, 5),)], env_schema)
    fk.monotonic_guard(batch, {"T": 5})  # equal is fine
    with pytest.raises(RuntimeError, match="received offset 5 < saved offset 6"):
        fk.monotonic_guard(batch, {"T": 6})


def test_ingest_stream_commits_to_pool(spark, tmp_path):
    """The foreachBatch commit loop driven by a file-source stream
    (stands in for the Kafka source; same micro-batch semantics)."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "batch1.json").write_text(
        '{"topic":"T","partition":0,"offset":1,"a":10}\n'
        '{"topic":"T","partition":0,"offset":2,"a":20}\n'
    )
    schema = T.StructType.fromDDL("topic string, partition int, offset bigint, a bigint")
    stream = spark.readStream.schema(schema).json(str(src))
    env = stream.select(
        F.struct(
            F.col("topic"),
            F.col("partition").cast("long").alias("partition"),
            F.col("offset"),
        ).alias("kafka"),
        F.lit(None).cast("string").alias("key"),
        F.struct(F.col("a")).alias("value"),
        F.lit("data").alias("_type"),
    )
    pool = Pool.create(spark, str(tmp_path / "pool"))
    q = fk.run_ingest(env, pool, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(60)
    got = sorted(
        (r["kafka"]["offset"], r["value"]["a"]) for r in pool.df().collect()
    )
    assert got == [(1, 10), (2, 20)]
    assert pool.next_consumer_offset("T") == 3


def test_ingest_commit_idempotent_on_replay(spark, tmp_path):
    """Crash-replay exactly-once: a micro-batch re-delivered with the
    same (or lower) batch id — the foreachBatch replay after a crash
    between load_batch and checkpoint advance — commits nothing the
    second time.  Reference contract: resume-from-max + single writer
    (README.md:140-156); ours is the txnAppId/txnVersion sidecar."""
    pool = Pool.create(spark, str(tmp_path / "pool"))
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )
    b0 = spark.createDataFrame([(("T", 0, 0), None, (10,), "data")], env_schema)
    b1 = spark.createDataFrame([(("T", 0, 1), None, (20,), "data")], env_schema)

    assert fk.commit_batch(pool, b0, 0, "app") is True
    # crash before checkpoint advance -> the SAME batch id replays
    assert fk.commit_batch(pool, b0, 0, "app") is False
    # a stale lower id (checkpoint rolled back manually) is also skipped
    assert fk.commit_batch(pool, b1, 1, "app") is True
    assert fk.commit_batch(pool, b0, 0, "app") is False
    got = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    assert got == [0, 1]  # zero duplicate offsets
    # a DIFFERENT logical stream has its own version sequence
    b2 = spark.createDataFrame([(("U", 0, 0), None, (30,), "data")], env_schema)
    assert fk.commit_batch(pool, b2, 0, "other-app") is True
    assert pool.df().count() == 3


def test_commit_batch_dedup_values(spark, tmp_path):
    """dedup_values=True: exact value-content dedup at ingest — rows
    whose value already exists in the pool (or earlier in the batch)
    are dropped; an all-duplicate batch still advances the txn sidecar
    (it was processed, not lost)."""
    pool = Pool.create(spark, str(tmp_path / "pool"))
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )
    b0 = spark.createDataFrame(
        [
            (("T", 0, 0), None, (10,), "data"),
            (("T", 0, 1), None, (10,), "data"),  # within-batch dup
            (("T", 0, 2), None, (20,), "data"),
        ],
        env_schema,
    )
    assert fk.commit_batch(pool, b0, 0, "app", dedup_values=True) is True
    got = sorted(
        (r["kafka"]["offset"], r["value"]["a"]) for r in pool.df().collect()
    )
    assert got == [(0, 10), (2, 20)]  # first occurrence kept
    # next batch: one cross-batch dup, one fresh
    b1 = spark.createDataFrame(
        [(("T", 0, 3), None, (20,), "data"), (("T", 0, 4), None, (30,), "data")],
        env_schema,
    )
    assert fk.commit_batch(pool, b1, 1, "app", dedup_values=True) is True
    assert sorted(r["value"]["a"] for r in pool.df().collect()) == [10, 20, 30]
    # an all-duplicate batch: nothing commits, but the batch id advances
    b2 = spark.createDataFrame([(("T", 0, 5), None, (10,), "data")], env_schema)
    assert fk.commit_batch(pool, b2, 2, "app", dedup_values=True) is False
    assert fk.commit_batch(pool, b2, 2, "app", dedup_values=True) is False  # replay
    assert pool.df().count() == 3
    assert (pool.read_sidecar(fk.INGEST_TXN_SIDECAR) or {}).get("app") == 2


def test_ingest_stream_restart_no_duplicates(spark, tmp_path):
    """End-to-end replay: run the same availableNow ingest twice with a
    FRESH checkpoint the second time (the worst case — the stream
    source replays everything).  The sidecar must not dedup that
    (different app_id per checkpoint would re-commit), so this pins the
    per-checkpoint app_id derivation: same checkpoint dir -> same
    app_id -> replayed ids skipped even if the checkpoint state itself
    was wiped after batch ids were recorded."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "b.json").write_text('{"topic":"T","partition":0,"offset":1,"a":10}\n')
    schema = T.StructType.fromDDL("topic string, partition int, offset bigint, a bigint")

    def stream():
        s = spark.readStream.schema(schema).json(str(src))
        return s.select(
            F.struct(
                F.col("topic"),
                F.col("partition").cast("long").alias("partition"),
                F.col("offset"),
            ).alias("kafka"),
            F.lit(None).cast("string").alias("key"),
            F.struct(F.col("a")).alias("value"),
            F.lit("data").alias("_type"),
        )

    pool = Pool.create(spark, str(tmp_path / "pool"))
    ckpt = str(tmp_path / "ckpt")
    q = fk.run_ingest(stream(), pool, ckpt, available_now=True)
    q.awaitTermination(60)
    assert pool.df().count() == 1
    # wipe the checkpoint: the restarted stream replays batch 0 from
    # scratch; the pool sidecar (keyed by the checkpoint-derived
    # app_id) must swallow it.
    import shutil

    shutil.rmtree(ckpt)
    q = fk.run_ingest(stream(), pool, ckpt, available_now=True)
    q.awaitTermination(60)
    assert pool.df().count() == 1  # no duplicate rows


def test_to_kafka_sync_loop(spark, tmp_path):
    """A15: drain the pool in ordered batches from the high-water mark."""
    pool = Pool.create(spark, str(tmp_path / "p"))
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )
    rows = [(("T", 0, i), None, (i * 10,), "data") for i in range(10)]
    pool.load_batch(spark.createDataFrame(rows, env_schema))
    produced = []

    def produce(df):
        produced.extend(
            (r["kafka"]["offset"], r["value"]["a"]) for r in df.collect()
        )

    n = tk.sync_batches(pool, "T", start_offset=4, produce=produce, batch_size=3)
    assert n == 6
    assert produced == [(i, i * 10) for i in range(4, 10)]  # ordered, from hwm


def test_kafka_sink_projection(spark):
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )
    df = spark.createDataFrame([(("T", 0, 1), "k1", (5,), "data")], env_schema)
    value_dt = T.StructType.fromDDL("a bigint")
    out = tk.kafka_sink_projection(
        df,
        value_encoder=lambda d: cj.encode(F.col("value"), value_dt),
        key_encoder=lambda d: F.col("key"),
    )
    assert out.columns == ["key", "value", "topic"]
    row = out.collect()[0]
    assert row["topic"] == "T"
    assert json.loads(row["value"])["payload"] == {"a": 5}


def test_continuous_sink_streams_new_commits(spark, tmp_path):
    """Continuous pool->Kafka mode (README.md:175-177): the file-source
    stream picks up new pool commits; sink projection feeds the broker
    (memory sink here)."""
    pool = Pool.create(spark, str(tmp_path / "cs"))
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )
    pool.load_batch(
        spark.createDataFrame([(("T", 0, i), None, (i,), "data") for i in range(3)], env_schema)
    )

    def sink(df):
        return tk.kafka_sink_projection(
            df, value_encoder=lambda d: cj.encode(F.col("value"), T.StructType.fromDDL("a bigint"))
        )

    tk._MEMORY_SINKS.pop("to_kafka_test", None)
    q = tk.continuous_sink(
        spark, pool, env_schema, str(tmp_path / "ck"), sink, available_now=True
    )
    q.awaitTermination(120)
    rows = tk.memory_sink_rows("to_kafka_test")
    assert len(rows) == 3
    assert {json.loads(r["value"])["payload"]["a"] for r in rows} == {0, 1, 2}


def test_avro_ingest_chain_mixed_schemas(spark, tmp_path):
    """The cmd_from_kafka --format avro wiring end-to-end, broker-free:
    kafka-shaped rows with Confluent-framed Avro values of TWO schemas
    plus a tombstone -> envelope (binary passthrough) -> per-schema-ID
    decode inside the batch transform -> atomic pool commit -> read
    back fused."""
    import struct as _s

    from zinger_spark.codecs import avro_py
    from zinger_spark.codecs.avro import (
        FakeSchemaRegistry,
        avro_schema_of,
        decode_by_schema_id,
        subject_of,
    )

    dt_a = T.StructType.fromDDL("id bigint, name string")
    dt_b = T.StructType.fromDDL("id bigint, score double")
    reg = FakeSchemaRegistry()
    sid_a = reg.register(subject_of(dt_a), avro_schema_of(dt_a))
    sid_b = reg.register(subject_of(dt_b), avro_schema_of(dt_b))

    def wire(sid, dt, val):
        return b"\x00" + _s.pack(">I", sid) + avro_py.encode_value(
            avro_schema_of(dt), val
        )

    rows = [
        (None, wire(sid_a, dt_a, {"id": 1, "name": "x"}), "T", 0, 0, None, 0),
        (None, wire(sid_b, dt_b, {"id": 2, "score": 1.5}), "T", 0, 1, None, 0),
        (None, None, "T", 0, 2, None, 0),  # tombstone
    ]
    batch = kafka_rows(spark, rows)
    env = fk.envelope_stream(batch, value_decoder=lambda c: c)  # keep framed bytes
    decoded = decode_by_schema_id(env, "value", reg)

    pool = Pool.create(spark, str(tmp_path / "avropool"))
    pool.load_batch(decoded)
    got = {
        r["kafka"]["offset"]: (None if r["value"] is None else r["value"].asDict())
        for r in pool.df().collect()
    }
    assert got[0] == {"id": 1, "name": "x", "score": None}
    assert got[1] == {"id": 2, "name": None, "score": 1.5}
    assert got[2] is None
    assert pool.next_consumer_offset("T") == 3


def test_to_kafka_streaming_replays_etl_demo(spark, tmp_path):
    """Continuous to-kafka over the ETL demo's output pool: start the
    stream after batch 1, keep running the ETL for batches 2-4, and the
    file-source stream must produce every new NewInvoices data record
    (and no done markers) as commits land — the reference's stated
    continuous direction (README.md:175-177) with the resume contract
    of the batch loop (start_offset = producer high-water mark)."""
    import test_etl_demo as demo

    from zinger_spark.etl.planner import EtlPipeline

    pools = {
        "Raw": Pool.create(spark, str(tmp_path / "Raw")),
        "Staging": Pool.create(spark, str(tmp_path / "Staging")),
    }
    pipeline = EtlPipeline(spark, demo.make_transform(), lambda n: pools[n])

    def load(i):
        invoices, statuses = demo.BATCHES[i]
        if invoices:
            pools["Raw"].load_batch(
                spark.createDataFrame(
                    invoices, demo.envelope_schema(demo.AFTER_INV)
                )
            )
        if statuses:
            pools["Raw"].load_batch(
                spark.createDataFrame(
                    statuses, demo.envelope_schema(demo.AFTER_IS)
                )
            )

    load(0)
    assert pipeline.run() == demo.ETLD[0]

    # widened staging schema (batches 2-4 add/miss nested value fields)
    staging_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key struct<ID:bigint>, "
        "value struct<ID:bigint,customer:string,item:string,invoice_status:string>, "
        "_type string"
    )
    value_dt = staging_schema["value"].dataType

    def sink(df):
        return tk.kafka_sink_projection(
            df, value_encoder=lambda d: cj.encode(F.col("value"), value_dt)
        )

    # resume contract: pretend offsets < 1 were already produced
    tk._MEMORY_SINKS.pop("to_kafka_etl_demo", None)
    q = tk.continuous_sink(
        spark,
        pools["Staging"],
        staging_schema,
        str(tmp_path / "ck"),
        sink,
        topic="NewInvoices",
        start_offset=1,
        query_name="to_kafka_etl_demo",
    )
    try:
        q.processAllAvailable()
        n0 = len(tk.memory_sink_rows("to_kafka_etl_demo"))
        assert n0 == 1  # batch 1 made offsets 0,1; hwm skips offset 0

        for i in (1, 2, 3):
            load(i)
            assert pipeline.run() == demo.ETLD[i]
            q.processAllAvailable()

        rows = tk.memory_sink_rows("to_kafka_etl_demo")
    finally:
        q.stop()
    # golden D4 has NewInvoices data offsets 0..7; stream saw 1..7
    assert len(rows) == 7
    assert all(r["topic"] == "NewInvoices" for r in rows)
    payloads = [json.loads(r["value"])["payload"] for r in rows]
    assert {p["ID"] for p in payloads} == {100, 101, 102, 103}
    assert sorted(
        p["invoice_status"] for p in payloads
    ) == ["closed", "collections", "paid", "paid", "pending", "pending", "pending"]


def test_continuous_sink_survives_compact(spark, tmp_path):
    """compact() rewrites every live row into a brand-new data dir;
    the file-source checkpoint sees only new files, so without the
    produced-offset watermark a live or restarted continuous sink would
    re-produce the whole pool as broker duplicates (ADVICE r5).  With
    the watermark, the compacted dir replays zero rows and only
    genuinely new offsets flow."""
    pool = Pool.create(spark, str(tmp_path / "cv"))
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )

    def load(offs):
        pool.load_batch(
            spark.createDataFrame(
                [(("T", 0, i), None, (i,), "data") for i in offs], env_schema
            ).coalesce(1)
        )

    def sink(df):
        return tk.kafka_sink_projection(
            df,
            value_encoder=lambda d: cj.encode(
                F.col("value"), T.StructType.fromDDL("a bigint")
            ),
        )

    load([0, 1])
    load([2])
    name = "to_kafka_compact_test"
    tk._MEMORY_SINKS.pop(name, None)
    ck = str(tmp_path / "ck")
    q = tk.continuous_sink(
        spark, pool, env_schema, ck, sink, topic="T", query_name=name
    )
    try:
        q.processAllAvailable()
        assert len(tk.memory_sink_rows(name)) == 3
        # compact mid-stream: 2 one-file commits -> 1 new file with the
        # same rows
        assert pool.compact() == 2
        load([3])  # one genuinely new record after the compact
        q.processAllAvailable()
    finally:
        q.stop()
    offs = sorted(
        json.loads(r["value"])["payload"]["a"] for r in tk.memory_sink_rows(name)
    )
    assert offs == [0, 1, 2, 3]  # compacted rows NOT re-produced
    # restart with the same checkpoint after another compact: still quiet
    assert pool.compact() == 2
    q = tk.continuous_sink(
        spark, pool, env_schema, ck, sink, topic="T", available_now=True,
        query_name=name,
    )
    q.awaitTermination(120)
    assert len(tk.memory_sink_rows(name)) == 4


def test_continuous_sink_txlog_pool(spark, tmp_path):
    """continuous_sink over a live pool: data lands
    under data/commit-<id>/, published by one log append — the
    file-source glob must follow that layout, new commits stream as
    micro-batches, and the produced-offset watermark still makes
    compaction (log-tombstoned rewrite into a new data dir) replay
    zero rows.  Proves the A15 sync loop runs continuously."""
    pool = Pool.create(spark, str(tmp_path / "ctx"))
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )

    def load(offs):
        pool.load_batch(
            spark.createDataFrame(
                [(("T", 0, i), None, (i,), "data") for i in offs], env_schema
            )
        )

    def sink(df):
        return tk.kafka_sink_projection(
            df,
            value_encoder=lambda d: cj.encode(
                F.col("value"), T.StructType.fromDDL("a bigint")
            ),
        )

    load([0, 1])
    name = "to_kafka_txlog_test"
    tk._MEMORY_SINKS.pop(name, None)
    q = tk.continuous_sink(
        spark, pool, env_schema, str(tmp_path / "ck"), sink, topic="T",
        query_name=name,
    )
    try:
        q.processAllAvailable()
        assert len(tk.memory_sink_rows(name)) == 2
        load([2])  # a new log-published commit is discovered mid-stream
        q.processAllAvailable()
        assert len(tk.memory_sink_rows(name)) == 3
        # compaction rewrites live rows into a fresh data/commit dir;
        # the watermark must keep the broker duplicate-free (txlog
        # compact returns FILES merged, >= the two commits' parts)
        assert pool.compact() >= 2
        load([3])
        q.processAllAvailable()
    finally:
        q.stop()
    offs = sorted(
        json.loads(r["value"])["payload"]["a"] for r in tk.memory_sink_rows(name)
    )
    assert offs == [0, 1, 2, 3]


def test_commit_batch_tracks_distinct_hll(spark, tmp_path):
    """track_distinct: the sidecar sketch estimates distincts across the
    whole ingest without rescanning the pool; merging is idempotent max,
    so re-merging a batch (at-least-once replay) never inflates it; the
    sidecar estimate equals the DataFrame-side estimate over the union."""
    from zinger_spark.operators import sketches as sk
    from zinger_spark.streaming.from_kafka import (
        _merge_hll_sidecar,
        ingest_distinct_estimate,
    )

    pool = Pool.create(spark, str(tmp_path / "pool"))
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )
    rows0 = [(("T", 0, i), None, (i % 40,), "data") for i in range(60)]
    rows1 = [(("T", 0, 60 + i), None, (20 + i % 50,), "data") for i in range(60)]
    b0 = spark.createDataFrame(rows0, env_schema)
    b1 = spark.createDataFrame(rows1, env_schema)

    assert ingest_distinct_estimate(pool) is None  # tracking never on
    assert fk.commit_batch(pool, b0, 0, "app", track_distinct="value.a") is True
    est0 = ingest_distinct_estimate(pool)
    assert fk.commit_batch(pool, b1, 1, "app", track_distinct="value.a") is True
    est = ingest_distinct_estimate(pool)
    # values are 0..69 -> 70 distinct; p=12 linear counting is near-exact
    # but bucket collisions still shave a count or two
    assert abs(est0 - 40) <= 2 and abs(est - 70) <= 3

    # sidecar == DataFrame-side estimate over the full pool (merge lossless)
    whole = sk.hll_estimate(
        pool.df().select(F.col("value.a").alias("v")), "v", p=12
    ).collect()[0]["estimate"]
    assert est == whole

    # idempotent by algebra: re-merging an already-merged batch is a no-op
    with pool.writer_lock():
        _merge_hll_sidecar(pool, b1, "value.a")
    assert ingest_distinct_estimate(pool) == est

    # refusing to merge a different column into the same sketch
    with pytest.raises(ValueError, match="refusing to merge"):
        with pool.writer_lock():
            _merge_hll_sidecar(pool, b1, "kafka.offset")


def test_ingest_stream_commits_to_txlog_pool(spark, tmp_path):
    """The same foreachBatch ingest loop lands in a transaction-log
    pool: each micro-batch is one conditional log append with per-file
    stats, and the resume watermark comes from log metadata."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "batch1.json").write_text(
        '{"topic":"T","partition":0,"offset":1,"a":10}\n'
        '{"topic":"T","partition":0,"offset":2,"a":20}\n'
    )
    schema = T.StructType.fromDDL("topic string, partition int, offset bigint, a bigint")
    stream = spark.readStream.schema(schema).json(str(src))
    env = stream.select(
        F.struct(
            F.col("topic"),
            F.col("partition").cast("long").alias("partition"),
            F.col("offset"),
        ).alias("kafka"),
        F.lit(None).cast("string").alias("key"),
        F.struct(F.col("a")).alias("value"),
        F.lit("data").alias("_type"),
    )
    pool = Pool.create(spark, str(tmp_path / "pool"))
    q = fk.run_ingest(env, pool, str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(60)
    got = sorted(
        (r["kafka"]["offset"], r["value"]["a"]) for r in pool.df().collect()
    )
    assert got == [(1, 10), (2, 20)]
    assert pool.next_consumer_offset("T") == 3
    from zinger_spark.sources.txlog import TxLog

    entries = TxLog(pool._fs, pool.path).entries()
    assert len(entries) == 1 and entries[0]["add"], "one micro-batch = one log append"


def test_ingest_mid_stream_kill_recovers_exactly_once(spark, tmp_path):
    """Kill a checkpointed ingest BETWEEN micro-batches (q.stop() while
    files remain), restart on the same checkpoint: the stream resumes
    from the checkpointed source position and the txn sidecar swallows
    any replayed batch — the pool converges to exactly one copy of
    every record (the reference's restart-from-max claim,
    README.md:140-156, under an actual kill)."""
    import time as _time

    src = tmp_path / "src"
    src.mkdir()
    n_files, rows_per = 6, 10
    for i in range(n_files):
        (src / f"b{i}.json").write_text(
            "\n".join(
                f'{{"topic":"T","partition":0,"offset":{i * rows_per + j},"a":{j}}}'
                for j in range(rows_per)
            )
        )
    schema = T.StructType.fromDDL(
        "topic string, partition int, offset bigint, a bigint"
    )

    def env():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        return s.select(
            F.struct(
                F.col("topic"),
                F.col("partition").cast("long").alias("partition"),
                F.col("offset"),
            ).alias("kafka"),
            F.lit(None).cast("string").alias("key"),
            F.struct(F.col("a")).alias("value"),
            F.lit("data").alias("_type"),
        )

    pool = Pool.create(spark, str(tmp_path / "pool"))
    ckpt = str(tmp_path / "ckpt")
    q = fk.run_ingest(env(), pool, ckpt, interval="0 seconds")
    deadline = _time.time() + 60
    while _time.time() < deadline:
        if len([p for p in q.recentProgress if p.get("numInputRows", 0) > 0]) >= 2:
            break
        _time.sleep(0.05)
    q.stop()  # the kill
    q.awaitTermination()
    partial = pool.df().count()
    assert 0 < partial < n_files * rows_per or partial == n_files * rows_per

    q = fk.run_ingest(env(), pool, ckpt, available_now=True)
    q.awaitTermination(120)
    total = n_files * rows_per
    assert pool.df().count() == total
    assert (
        pool.df().select("kafka.topic", "kafka.offset").distinct().count() == total
    )


def test_continuous_sink_wire_transport(spark, tmp_path):
    """Streaming egress through the wire stub broker: pool commits ->
    continuous_sink(transport='wire') -> real socket produce; the
    broker log holds every data record exactly once, markers excluded."""
    from zinger_spark.kafka_stub import StubBroker
    from zinger_spark.kafka_wire import KafkaWireClient
    from zinger_spark.streaming import to_kafka as tk

    pool = Pool.create(spark, str(tmp_path / "p"))
    env_schema = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )
    rows = [(("OUT", 0, i), None, (i * 10,), "data") for i in range(7)]
    rows.append((("OUT", 0, 7), None, None, "done"))  # marker: must not egress
    pool.load_batch(spark.createDataFrame(rows, env_schema))

    with StubBroker() as broker:
        with KafkaWireClient(broker.bootstrap) as c:
            c.create_topic("OUT")
            q = tk.continuous_sink(
                spark,
                pool,
                pool.df().schema,
                str(tmp_path / "ck"),
                lambda df: df.select(
                    F.col("key"), F.to_json(F.col("value")).alias("value")
                ),
                brokers=broker.bootstrap,
                topic="OUT",
                available_now=True,
                transport="wire",
                query_name="wire_egress_test",
            )
            q.awaitTermination(120)
            msgs = c.fetch_all("OUT", 0, 0)
    import json as _json

    assert sorted(_json.loads(m.value)["a"] for m in msgs) == [
        i * 10 for i in range(7)
    ]
