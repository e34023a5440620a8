"""Live-broker smoke tests for the Kafka-facing seams (A1/A4/A5/A23).

These tests SKIP unless ``KAFKA_BOOTSTRAP=host:9092`` names a reachable
broker; with one, they exercise the same flow as the reference's
ztests/from-kafka.yaml against it.  Admin, seeding and read-back go
through the wire client (kafka_wire, no client library needed); ingest
and egress run on both transports of the CLI's Kafka verbs — Spark's
JVM Kafka source/sink (the default; skipped when spark-sql-kafka is
not on the classpath) and the wire client:

  1. WireTopicAdmin creates the topic (fifo/admin.go:12-31)
  2. produce JSON records (cmd/zync/produce)
  3. a bounded read ingests them into a pool as envelopes
     (fifo/consumer.go:124-182)
  4. sync_batches replays the pool back out from the high-water mark
     (fifo/to.go:29-53)

Everything below the broker boundary is covered broker-free elsewhere
(fake admin, projection tests, ETL goldens) and against the in-process
stub broker (test_kafka_stub.py); this file is only the last-mile check
against a real broker.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")

pytestmark = pytest.mark.skipif(
    not BOOTSTRAP,
    reason="no live broker: set KAFKA_BOOTSTRAP=host:9092 to run",
)


@pytest.fixture()
def topic():
    return f"zinger-live-{uuid.uuid4().hex[:8]}"


def test_admin_create_and_watermarks(topic):
    from zinger_spark.kafka_admin import TopicExists, WireTopicAdmin

    admin = WireTopicAdmin(BOOTSTRAP)
    try:
        admin.create_topic(topic, partitions=1)
        with pytest.raises(TopicExists):
            admin.create_topic(topic, partitions=1)
        lo, hi = admin.watermarks(topic)
        assert (lo, hi) == (0, 0)
    finally:
        admin.close()


def _spark_read(spark, topic):
    """Bounded batch read through Spark's JVM Kafka source — the
    ``--transport spark`` default of the CLI's ingest verbs."""
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("endingOffsets", "latest")
        .load()
    )


def _spark_write(df, topic):
    df.write.format("kafka").option(
        "kafka.bootstrap.servers", BOOTSTRAP
    ).option("topic", topic).save()


@pytest.mark.parametrize("transport", ["spark", "wire"])
def test_produce_ingest_replay_round_trip(spark, tmp_path, topic, transport):
    """ztests/from-kafka.yaml shape: produce -> pool -> replay, with
    ingest and egress on either transport of the CLI's Kafka verbs:
    Spark's JVM Kafka source/sink or the wire client."""
    from pyspark.sql import functions as F
    from pyspark.errors import AnalysisException

    from zinger_spark.kafka_admin import WireTopicAdmin
    from zinger_spark.kafka_wire import (
        KafkaWireClient,
        wire_produce_df,
        wire_read_topic,
    )
    from zinger_spark.sources.pool import Pool
    from zinger_spark.streaming import from_kafka as fk
    from zinger_spark.streaming import to_kafka as tk

    admin = WireTopicAdmin(BOOTSTRAP)
    out_topic = f"{topic}-out"
    try:
        admin.create_topic(topic, partitions=1)
        admin.create_topic(out_topic, partitions=1)
        with KafkaWireClient(BOOTSTRAP) as c:
            c.produce(
                topic, 0,
                [(None, json.dumps({"id": i, "v": i * 10}).encode())
                 for i in range(5)],
            )
        assert admin.watermarks(topic) == (0, 5)

        # bounded read -> envelope -> pool
        if transport == "spark":
            try:
                raw = _spark_read(spark, topic)
            except AnalysisException as e:
                pytest.skip(f"Spark's Kafka source is not on the classpath: {e}")
        else:
            raw = wire_read_topic(spark, BOOTSTRAP, topic)
        env = fk.envelope_stream(
            raw,
            value_decoder=lambda c: F.from_json(
                c.cast("string"), "id bigint, v bigint"
            ),
        )
        pool = Pool.create(spark, str(tmp_path / "live"))
        pool.load_batch(env)
        assert pool.df().count() == 5
        assert pool.next_consumer_offset(topic) == 5

        # replay pool -> out_topic from its head offset (0: everything)
        def produce(df):
            out = df.select(F.col("key"), F.to_json(F.col("value")).alias("value"))
            if transport == "spark":
                _spark_write(out, out_topic)
            else:
                wire_produce_df(out, BOOTSTRAP, out_topic)

        n = tk.sync_batches(
            pool, topic, admin.head_offset(out_topic), produce, batch_size=2
        )
        assert n == 5
        with KafkaWireClient(BOOTSTRAP) as c:
            got = [json.loads(m.value) for m in c.fetch_all(out_topic, 0, 0)]
        assert [r["id"] for r in got] == [0, 1, 2, 3, 4]
    finally:
        admin.close()
