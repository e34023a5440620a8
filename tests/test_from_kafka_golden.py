"""The reference's from-kafka round-trip golden (ztests/from-kafka.yaml):
heterogeneous values {a:1}, {b:2}, {c:3} produced to one topic, ingested
incrementally in two runs, all surviving in the pool with correct
envelopes and resume offsets.

No broker in this environment, so the Kafka source is stood in by
DataFrames with the Kafka source schema (the envelope/commit path is
identical); the second run starts from the pool-derived resume offset
exactly as `zync from-kafka` does on restart.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from zinger_spark.codecs import connect_json as cj
from zinger_spark.datamodel import fuse
from zinger_spark.sources.pool import Pool
from zinger_spark.streaming import from_kafka as fk

KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def wire(payload: dict) -> bytes:
    schema = {
        "type": "struct",
        "optional": True,
        "fields": [
            {"type": "int64", "optional": True, "field": k} for k in payload
        ],
    }
    return json.dumps({"schema": schema, "payload": payload}).encode()


def ingest(spark, pool, records):
    """One bounded from-kafka run: decode each message against its own
    embedded schema (grouped per schema like the reference's decoder
    cache, zavro/decoder.go:19), envelope, fuse, commit atomically."""
    frames = []
    for key, value, topic, offset in records:
        df = spark.createDataFrame(
            [(key, value, topic, 0, offset, None, 0)], KAFKA_SOURCE_SCHEMA
        )
        schema = cj.schema_of_message(value.decode())
        frames.append(
            fk.envelope_stream(
                df, value_decoder=lambda c, s=schema: cj.decode(c.cast("string"), s)
            )
        )
    batch = fuse(*frames)
    pool.load_batch(batch)
    return batch


def flat(pool):
    out = []
    for r in pool.df().collect():
        v = r["value"].asDict() if r["value"] is not None else None
        out.append(
            (
                r["kafka"]["topic"],
                r["kafka"]["partition"],
                r["kafka"]["offset"],
                r["key"],
                tuple(sorted((k, x) for k, x in v.items() if x is not None)) if v else None,
            )
        )
    return sorted(out, key=lambda t: t[2])


def test_from_kafka_heterogeneous_roundtrip(spark, tmp_path):
    pool = Pool.create(spark, str(tmp_path / "FromKafkaTest"))

    # run 1: {a:1} at offset 0
    ingest(spark, pool, [(None, wire({"a": 1}), "FromKafkaTest", 0)])
    assert flat(pool) == [("FromKafkaTest", 0, 0, None, (("a", 1),))]
    # resume offset derived from the pool, as on zync restart
    assert fk.starting_offsets_from_pool(pool, ["FromKafkaTest"]) == {
        "FromKafkaTest": {"0": 1}
    }

    # run 2: {b:2} {c:3} at offsets 1, 2 — different schemas, same topic
    ingest(
        spark,
        pool,
        [
            (None, wire({"b": 2}), "FromKafkaTest", 1),
            (None, wire({"c": 3}), "FromKafkaTest", 2),
        ],
    )
    # golden: all three records coexist, each with only its own field
    assert flat(pool) == [
        ("FromKafkaTest", 0, 0, None, (("a", 1),)),
        ("FromKafkaTest", 0, 1, None, (("b", 2),)),
        ("FromKafkaTest", 0, 2, None, (("c", 3),)),
    ]
    assert pool.next_consumer_offset("FromKafkaTest") == 3


def test_multi_partition_resume_independent(spark, tmp_path):
    """Beyond-reference (the reference pins partition 0,
    fifo/consumer.go:59-63): Kafka's ordering contract is per
    partition, so a 3-partition topic must carry the partition through
    the envelope, resume each partition from its OWN watermark, and
    enforce offset monotonicity per partition — one lagging partition
    must not drag the others back to earliest."""
    from zinger_spark.kafka_admin import FakeTopicAdmin

    pool = Pool.create(spark, str(tmp_path / "MP"))
    admin = FakeTopicAdmin()
    admin.create_topic("T", partitions=3)

    def batch(rows):
        # rows: (partition, offset, payload-int)
        df = spark.createDataFrame(
            [
                (None, wire({"v": val}), "T", part, off, None, 0)
                for part, off, val in rows
            ],
            KAFKA_SOURCE_SCHEMA,
        )
        schema = cj.schema_of_message(wire({"v": 0}).decode())
        return fk.envelope_stream(
            df, value_decoder=lambda c, s=schema: cj.decode(c.cast("string"), s)
        )

    # ingest run 1: partitions advance unevenly (p0 -> 2, p1 -> 1, p2 none)
    pool.load_batch(batch([(0, 0, 10), (0, 1, 11), (1, 0, 20)]))
    assert pool.next_consumer_offsets_by_partition("T") == {0: 2, 1: 1}
    offs = fk.starting_offsets_from_pool(
        pool, ["T"], partitions_by_topic={"T": admin.partitions("T")}
    )
    # stored partitions resume from their own watermark; untouched p2
    # starts from earliest (-2)
    assert offs == {"T": {"0": 2, "1": 1, "2": -2}}

    # run 2 from those offsets: per-partition monotonic guard passes...
    b2 = batch([(0, 2, 12), (1, 1, 21), (2, 0, 30)])
    fk.monotonic_guard(b2, {"T:0": 2, "T:1": 1})
    pool.load_batch(b2)
    assert pool.next_consumer_offsets_by_partition("T") == {0: 3, 1: 2, 2: 1}
    # ...and a regression on ONE partition is caught even when the
    # other partitions are fine
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="partition 1"):
        fk.monotonic_guard(batch([(0, 3, 13), (1, 0, 20)]), {"T:0": 3, "T:1": 2})
    # topic-level legacy watermark still applies when no per-partition
    # key exists (reference parity, partition 0)
    with _pytest.raises(RuntimeError, match="received offset 0"):
        fk.monotonic_guard(batch([(0, 0, 10)]), {"T": 1})

    # the envelope carries the partition end-to-end
    got = sorted(
        (r["kafka"]["partition"], r["kafka"]["offset"]) for r in pool.df().collect()
    )
    assert got == [(0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (2, 0)]
