"""Kafka wire-protocol stub: the admin/produce/consume seams exercised
end-to-end over a REAL socket speaking the public Kafka protocol
(kafka_wire client <-> kafka_stub broker), closing the leg that was
previously fake-only (the reference gates the same tests behind a
``kafka`` build tag — ztests/from-kafka.yaml needs a live broker).

Includes a replay of that ztest's heterogeneous-schema round trip
({a:1}, then {b:2} {c:3}, resumed from the pool watermark) without a
broker process.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from zinger_spark.kafka_stub import StubBroker
from zinger_spark.kafka_wire import (
    EARLIEST,
    LATEST,
    ERR_OFFSET_OUT_OF_RANGE,
    ERR_TOPIC_ALREADY_EXISTS,
    FetchedMessage,
    KafkaWireClient,
    KafkaWireError,
    decode_message_set,
    encode_message_set,
)


@pytest.fixture()
def broker():
    with StubBroker() as b:
        yield b


@pytest.fixture()
def client(broker):
    with KafkaWireClient(broker.bootstrap) as c:
        yield c


# ---------------------------------------------------------------------------
# wire format


def test_message_set_round_trip_and_crc():
    msgs = [(b"k1", b"v1"), (None, b"v2"), (b"k3", None)]
    data = encode_message_set(msgs, timestamp_ms=1234)
    out = decode_message_set(data)
    assert [(m.key, m.value) for m in out] == msgs
    assert all(m.timestamp_ms == 1234 for m in out)
    # flip one payload byte: CRC must catch it
    corrupted = data[:-1] + bytes([data[-1] ^ 0xFF])
    with pytest.raises(KafkaWireError, match="CRC"):
        decode_message_set(corrupted)
    # trailing partial message (broker cut at max_bytes) is dropped
    assert [(m.key, m.value) for m in decode_message_set(data[:-3])] == msgs[:2]


def test_message_set_gzip_round_trip():
    """Compressed MessageSet v1: one wrapper message, relative inner
    offsets (wrapper carries the last absolute offset)."""
    msgs = [(b"k1", b"v1" * 100), (None, b"v2"), (b"k3", None)]
    data = encode_message_set(msgs, timestamp_ms=7, compression="gzip")
    # exactly one top-level (wrapper) message on the wire
    import struct as _struct

    assert _struct.unpack(">q", data[:8])[0] == len(msgs) - 1  # last inner
    out = decode_message_set(data)
    assert [(m.key, m.value) for m in out] == msgs
    assert [m.offset for m in out] == [0, 1, 2]


def test_record_batch_v2_round_trip_crc32c_and_headers():
    from zinger_spark.kafka_wire import (
        crc32c,
        decode_records,
        encode_record_batch,
    )

    # CRC-32C known-answer vectors (public check values)
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0
    assert crc32c(b"a" * 32) == crc32c(b"a" * 32)

    msgs = [
        (b"k0", b"v0", (("h1", b"x"), ("h2", None))),
        (None, b"v1"),
        (b"k2", None),
    ]
    data = encode_record_batch(msgs, base_offset=41, timestamp_ms=99)
    out = decode_records(data)
    assert [(m.key, m.value) for m in out] == [(m[0], m[1]) for m in msgs]
    assert [m.offset for m in out] == [41, 42, 43]
    assert all(m.timestamp_ms == 99 for m in out)
    assert out[0].headers == (("h1", b"x"), ("h2", None))
    assert out[1].headers == ()
    # CRC-32C catches corruption
    corrupted = data[:-1] + bytes([data[-1] ^ 0xFF])
    with pytest.raises(KafkaWireError, match="CRC-32C"):
        decode_records(corrupted)
    # per-record timestamps become deltas
    data = encode_record_batch(msgs, timestamps=[10, 20, 35])
    assert [m.timestamp_ms for m in decode_records(data)] == [10, 20, 35]


def test_record_batch_v2_gzip_and_mixed_generations():
    from zinger_spark.kafka_wire import decode_records, encode_record_batch

    msgs = [(b"k", bytes([i]) * 50) for i in range(20)]
    plain = encode_record_batch(msgs, base_offset=5)
    packed = encode_record_batch(msgs, base_offset=5, compression="gzip")
    assert len(packed) < len(plain)  # the records section really compressed
    assert [(m.offset, m.value) for m in decode_records(packed)] == [
        (5 + i, v) for i, (_k, v) in enumerate(msgs)
    ]
    # a log with a magic-1 set followed by a magic-2 batch (in-place
    # broker upgrade) decodes as one stream
    legacy = encode_message_set([(b"a", b"1")])
    mixed = legacy + encode_record_batch([(b"b", b"2")], base_offset=1)
    out = decode_records(mixed)
    assert [(m.offset, m.key) for m in out] == [(0, b"a"), (1, b"b")]
    # trailing partial v2 batch is dropped
    assert [(m.key) for m in decode_records(mixed[:-4])] == [b"a"]


# crc32c_many / encode_record_batches are the only produce encoders
# wire_produce_df uses, so each is checked against its scalar twin.

_ragged = st.one_of(st.binary(max_size=7), st.binary(max_size=300))


@settings(max_examples=40, deadline=None)
@given(
    bufs=st.one_of(
        st.lists(_ragged, max_size=63),  # short path: scalar per buffer
        st.lists(_ragged, min_size=64, max_size=100),  # numpy lockstep
    )
)
def test_crc32c_many_equals_scalar(bufs):
    from zinger_spark.kafka_wire import crc32c, crc32c_many

    # always some empty and sub-qword buffers among the ragged ones
    bufs = bufs + [b"", b"\x01", b"1234567"] if len(bufs) >= 64 else bufs
    assert crc32c_many(bufs) == [crc32c(b) for b in bufs]


_record = st.tuples(
    st.one_of(st.none(), st.binary(max_size=16)),
    st.one_of(st.none(), st.binary(max_size=64)),
)
_batch = st.lists(_record, min_size=1, max_size=8)


@settings(max_examples=30, deadline=None)
@given(
    batches=st.one_of(
        st.lists(_batch, min_size=1, max_size=63),
        st.lists(_batch, min_size=64, max_size=72),
    ),
    timestamp_ms=st.integers(0, 1 << 41),
    compression=st.sampled_from(["none", "gzip"]),
)
def test_encode_record_batches_equals_mapped(batches, timestamp_ms, compression):
    from zinger_spark.kafka_wire import encode_record_batch, encode_record_batches

    assert encode_record_batches(
        batches, timestamp_ms=timestamp_ms, compression=compression
    ) == [
        encode_record_batch(b, timestamp_ms=timestamp_ms, compression=compression)
        for b in batches
    ]


def test_snappy_lz4_zstd_gated():
    """Codecs without their optional packages fail loud, not garbage."""
    from zinger_spark.kafka_wire import _decompress

    for codec, name in ((2, "snappy"), (3, "lz4"), (4, "zstd")):
        with pytest.raises(KafkaWireError, match=name):
            _decompress(codec, b"\x00\x01\x02")


# ---------------------------------------------------------------------------
# client <-> stub over the socket


def test_api_versions_handshake(client):
    vers = client.api_versions()
    assert vers[0] == (0, 9)  # Produce (v3 = RecordBatch v2, v9 flexible)
    assert vers[1] == (0, 12)  # Fetch (v4 = RecordBatch v2, v12 flexible)
    assert vers[3] == (0, 9)  # Metadata (v9 flexible)
    assert vers[19] == (0, 0)  # CreateTopics


def test_create_topic_metadata_watermarks(client):
    client.create_topic("t1", partitions=2)
    with pytest.raises(KafkaWireError) as ei:
        client.create_topic("t1")
    assert ei.value.code == ERR_TOPIC_ALREADY_EXISTS
    metas = client.metadata(["t1"])
    assert metas[0].name == "t1" and metas[0].error == 0
    assert [p.partition for p in metas[0].partitions] == [0, 1]
    assert client.watermarks("t1") == (0, 0)


def test_produce_fetch_round_trip(client):
    client.create_topic("rt")
    base = client.produce("rt", 0, [(b"k0", b"v0"), (None, b"v1")])
    assert base == 0
    assert client.produce("rt", 0, [(b"k2", b"v2")]) == 2
    assert client.watermarks("rt") == (0, 3)
    hw, msgs = client.fetch("rt", 0, 0)
    assert hw == 3
    assert [(m.offset, m.key, m.value) for m in msgs] == [
        (0, b"k0", b"v0"),
        (1, None, b"v1"),
        (2, b"k2", b"v2"),
    ]
    # fetch from the middle
    _, tail = client.fetch("rt", 0, 2)
    assert [(m.offset, m.value) for m in tail] == [(2, b"v2")]
    # out of range
    with pytest.raises(KafkaWireError) as ei:
        client.fetch("rt", 0, 99)
    assert ei.value.code == ERR_OFFSET_OUT_OF_RANGE


def test_fetch_pages_on_max_bytes(client):
    client.create_topic("big")
    client.produce("big", 0, [(None, bytes([i]) * 1000) for i in range(10)])
    # ~1 message per page -> fetch_all must page through all 10
    out = []
    offset = 0
    while offset < 10:
        _, msgs = client.fetch("big", 0, offset, max_bytes=1100)
        assert msgs, f"no progress at {offset}"
        out.extend(msgs)
        offset = msgs[-1].offset + 1
    assert [m.offset for m in out] == list(range(10))
    assert client.fetch_all("big", 0, 0) == out


def test_list_offsets_earliest_latest(client):
    client.create_topic("lo")
    client.produce("lo", 0, [(None, b"x")] * 4)
    assert client.list_offset("lo", 0, EARLIEST) == 0
    assert client.list_offset("lo", 0, LATEST) == 4


def test_multi_partition_produce(client):
    client.create_topic("mp", partitions=3)
    client.produce("mp", 0, [(None, b"p0")])
    client.produce("mp", 2, [(None, b"p2a"), (None, b"p2b")])
    assert client.watermarks("mp", 0) == (0, 1)
    assert client.watermarks("mp", 1) == (0, 0)
    assert client.watermarks("mp", 2) == (0, 2)


def test_negotiated_v3_v4_headers_and_both_produce_generations(client):
    """Against a (0,3)/(0,4) broker the client negotiates Produce v3 /
    Fetch v4 — RecordBatch v2 both directions, headers intact; a forced
    Produce v2 (MessageSet v1) interleaves in the same log and one
    Fetch v4 returns both generations' records."""
    client.create_topic("gen")
    client.produce(
        "gen", 0, [(b"k0", b"v0", (("trace", b"abc"),)), (None, b"v1")]
    )
    # same topic, legacy generation (as an old client would write)
    assert client.produce("gen", 0, [(b"k2", b"v2")], api_version=2) == 2
    hw, msgs = client.fetch("gen", 0, 0)
    assert hw == 3
    assert [(m.offset, m.key, m.value) for m in msgs] == [
        (0, b"k0", b"v0"),
        (1, None, b"v1"),
        (2, b"k2", b"v2"),
    ]
    assert msgs[0].headers == (("trace", b"abc"),)


def test_gzip_produce_and_compressed_fetch_serving():
    """gzip-compressed produce of BOTH generations lands intact, and a
    broker configured to serve compressed Fetch responses round-trips
    through the client's decompress path."""
    with StubBroker(fetch_compression="gzip") as b:
        with KafkaWireClient(b.bootstrap) as c:
            c.create_topic("gz")
            msgs = [(None, bytes([i]) * 64) for i in range(10)]
            # negotiated v3: compressed RecordBatch v2
            assert c.produce("gz", 0, msgs[:5], compression="gzip") == 0
            # forced v2: compressed MessageSet v1 wrapper
            assert c.produce("gz", 0, msgs[5:], compression="gzip",
                             api_version=2) == 5
            assert [(m.offset, m.value) for m in c.fetch_all("gz", 0, 0)] == [
                (i, v) for i, (_k, v) in enumerate(msgs)
            ]


def test_acks_zero_is_fire_and_forget(client):
    """acks=0 gets NO response frame; the client must not block on one,
    and the connection stays usable for the next request."""
    client.create_topic("a0")
    assert client.produce("a0", 0, [(None, b"x")], acks=0) == -1
    # next request on the same socket still correlates correctly
    assert client.watermarks("a0") == (0, 1)
    assert client.produce("a0", 0, [(None, b"y")]) == 1


# ---------------------------------------------------------------------------
# TopicAdmin over the wire (A23/A4 end-to-end, fifo/admin.go:12-31)


def test_wire_topic_admin_conformance(broker):
    from zinger_spark.kafka_admin import TopicAdminError, TopicExists, WireTopicAdmin

    admin = WireTopicAdmin(broker.bootstrap)
    admin.create_topic("adm", partitions=2)
    with pytest.raises(TopicExists):
        admin.create_topic("adm")
    # create_missing_topics swallows already-exists (fifo/admin.go:25)
    assert admin.create_missing_topics(["adm", "adm2"]) == ["adm2"]
    assert admin.partitions("adm") == [0, 1]
    assert admin.watermarks("adm") == (0, 0)
    with KafkaWireClient(broker.bootstrap) as c:
        c.produce("adm", 1, [(None, b"r")] * 5)
    assert admin.watermarks("adm") == (0, 5)
    assert admin.head_offset("adm") == 5
    with pytest.raises(TopicAdminError):
        admin.watermarks("nope")
    admin.close()


def test_open_admin_returns_wire_admin(broker):
    from zinger_spark.kafka_admin import WireTopicAdmin, open_admin

    admin = open_admin(broker.bootstrap)
    assert isinstance(admin, WireTopicAdmin)
    admin.close()
    assert open_admin(None) is None
    # unreachable broker -> None, not an exception
    assert open_admin("127.0.0.1:1") is None


# ---------------------------------------------------------------------------
# ztests/from-kafka.yaml replay: produce {a:1}, ingest, then {b:2} {c:3},
# resume from the pool watermark, ingest again; pool holds the fused
# heterogeneous envelopes with exact offsets.


def _ingest_round(spark, pool, broker, topic):
    """One `zync from-kafka` round: bounded wire read from the pool's
    resume offset, per-record JSON decode, envelope wrap, atomic commit.
    Returns the ingested count (the 'N records' the reference prints)."""
    from zinger_spark.datamodel import TYPE_DATA, fuse
    from zinger_spark.kafka_wire import wire_read_topic

    start = pool.next_consumer_offset(topic) if not pool.is_empty() else 0
    raw = wire_read_topic(spark, broker.bootstrap, topic, starting_offset=start)
    rows = raw.collect()
    if not rows:
        return 0
    # one envelope frame per record schema, fused (consumer memoizes a
    # type per (key,value) schema pair — fifo/consumer.go:150-182)
    frames = []
    for r in rows:
        value = json.loads(r["value"].decode())
        frames.append(
            spark.createDataFrame(
                [
                    (
                        (topic, int(r["partition"]), int(r["offset"])),
                        None,
                        value,
                    )
                ],
                f"kafka struct<topic:string,partition:bigint,offset:bigint>, "
                f"key string, value struct<"
                + ",".join(f"{k}:bigint" for k in value)
                + ">",
            ).withColumn("_type", F.lit(TYPE_DATA))
        )
    pool.load_batch(fuse(*frames))
    return len(rows)


def test_from_kafka_ztest_replay_through_stub(spark, tmp_path, broker):
    from zinger_spark.sources.pool import Pool

    topic = "FromKafkaTest"
    with KafkaWireClient(broker.bootstrap) as c:
        c.create_topic(topic)
        pool = Pool.create(spark, str(tmp_path / topic))

        # round 1: {a:1}
        c.produce(topic, 0, [(None, json.dumps({"a": 1}).encode())])
        assert _ingest_round(spark, pool, broker, topic) == 1
        got = {
            (
                r["kafka"]["topic"],
                r["kafka"]["offset"],
                json.dumps(
                    {
                        k: v
                        for k, v in r.asDict(recursive=True)["value"].items()
                        if v is not None
                    },
                    sort_keys=True,
                ),
            )
            for r in pool.df().collect()
        }
        assert got == {(topic, 0, '{"a": 1}')}

        # round 2: {b:2} {c:3}, resumed from the pool watermark
        c.produce(
            topic,
            0,
            [
                (None, json.dumps({"b": 2}).encode()),
                (None, json.dumps({"c": 3}).encode()),
            ],
        )
        assert _ingest_round(spark, pool, broker, topic) == 2
        got = {
            (
                r["kafka"]["offset"],
                json.dumps(
                    {
                        k: v
                        for k, v in r.asDict(recursive=True)["value"].items()
                        if v is not None
                    },
                    sort_keys=True,
                ),
            )
            for r in pool.df().collect()
        }
        assert got == {
            (0, '{"a": 1}'),
            (1, '{"b": 2}'),
            (2, '{"c": 3}'),
        }
        assert pool.next_consumer_offset(topic) == 3
        # idempotent third round: nothing new at the watermark
        assert _ingest_round(spark, pool, broker, topic) == 0


def test_to_kafka_replay_through_stub(spark, tmp_path, broker):
    """The bounded to-kafka sync (fifo/to.go:29-53) with the wire
    producer as the sink: pool rows from the broker's head offset out
    to the topic in 200-record produce batches."""
    from zinger_spark.kafka_wire import wire_produce_df
    from zinger_spark.sources.pool import Pool

    topic = "ToKafkaTest"
    with KafkaWireClient(broker.bootstrap) as c:
        c.create_topic(topic)
        pool = Pool.create(spark, str(tmp_path / "p"))
        env = spark.createDataFrame(
            [((topic, 0, i), f"key{i}", (i, i * 10), "data") for i in range(5)],
            "kafka struct<topic:string,partition:bigint,offset:bigint>, "
            "key string, value struct<id:bigint,v:bigint>, _type string",
        )
        pool.load_batch(env)

        head = c.list_offset(topic, 0, LATEST)  # 0: replay everything
        batch = pool.read_batch(topic, head, 1000)
        out = batch.select(
            F.col("key"), F.to_json(F.col("value")).alias("value")
        )
        assert wire_produce_df(out, broker.bootstrap, topic) == 5

        msgs = c.fetch_all(topic, 0, 0)
        assert [json.loads(m.value)["id"] for m in msgs] == [0, 1, 2, 3, 4]
        assert [m.key.decode() for m in msgs] == [f"key{i}" for i in range(5)]


# ---------------------------------------------------------------------------
# CLI --transport wire: produce -> consume -> to-kafka, all through the
# stub with no JVM Kafka jar.


def test_cli_wire_produce_consume_to_kafka(spark, tmp_path, broker, capsys, monkeypatch):
    from zinger_spark import cli as climod
    from zinger_spark.sources.pool import Pool

    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    src = tmp_path / "in.jsonl"
    src.write_text('{"id": 1, "v": 10}\n{"id": 2, "v": 20}\n')

    rc = climod.main(
        ["produce", str(src), "--brokers", broker.bootstrap,
         "--topic", "CliWire", "--transport", "wire"]
    )
    assert rc == 0
    assert len(broker.log("CliWire")) == 2
    capsys.readouterr()  # drain produce's own status line

    rc = climod.main(
        ["consume", "--brokers", broker.bootstrap, "--topic", "CliWire",
         "--offset", "-2", "--transport", "wire"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    lines = [json.loads(line) for line in out.strip().splitlines() if line]
    assert [line["offset"] for line in lines] == [0, 1]
    assert all(line["topic"] == "CliWire" for line in lines)

    # pool -> to-kafka (wire transport, bounded sync loop)
    pool = Pool.create(spark, str(tmp_path / "OutPool"))
    env = spark.createDataFrame(
        [(("CliWireOut", 0, i), None, (i,), "data") for i in range(3)],
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<n:bigint>, _type string",
    )
    pool.load_batch(env)
    with KafkaWireClient(broker.bootstrap) as c:
        c.create_topic("CliWireOut")
    rc = climod.main(
        ["to-kafka", "--brokers", broker.bootstrap, "--topic", "CliWireOut",
         "--pool", "OutPool", "--lake", str(tmp_path), "--transport", "wire",
         "--start-offset", "0"]
    )
    assert rc == 0
    # values are Connect-JSON framed (schema + payload), per the
    # reference's producer contract
    assert [
        json.loads(v)["payload"]["n"] for _k, v, *_ in broker.log("CliWireOut")
    ] == [0, 1, 2]

    # continuous + wire is an explicit, clear error
    rc = climod.main(
        ["to-kafka", "--brokers", broker.bootstrap, "--topic", "CliWireOut",
         "--pool", "OutPool", "--lake", str(tmp_path), "--transport", "wire",
         "--continuous"]
    )
    assert rc == 1


def test_cli_from_kafka_wire_two_round_ingest(spark, tmp_path, broker, capsys, monkeypatch):
    """`from-kafka --transport wire`: the ztests/from-kafka.yaml shape
    as a CLI round trip — produce {a:1}, ingest (1 record), produce
    {b:2} {c:3}, ingest resumes from the pool watermark (2 records),
    third run ingests nothing."""
    from zinger_spark import cli as climod
    from zinger_spark.sources.pool import Pool

    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    topic = "FromKafkaCli"
    with KafkaWireClient(broker.bootstrap) as c:
        c.create_topic(topic)
        lake = tmp_path
        Pool.create(spark, str(lake / topic))
        args = ["from-kafka", "--brokers", broker.bootstrap, "--topics", topic,
                "--pool", topic, "--lake", str(lake), "--transport", "wire",
                "--exitafter"]

        c.produce(topic, 0, [(None, json.dumps({"a": 1}).encode())])
        assert climod.main(args) == 0
        out = capsys.readouterr().out
        assert "1 record" in out and "commit" in out

        c.produce(topic, 0, [
            (None, json.dumps({"b": 2}).encode()),
            (None, json.dumps({"c": 3}).encode()),
        ])
        assert climod.main(args) == 0
        assert "2 records" in capsys.readouterr().out

        assert climod.main(args) == 0
        assert "nothing new to ingest" in capsys.readouterr().out

        pool = Pool(spark, str(lake / topic))
        rows = {
            (r["kafka"]["offset"], r["value"])
            for r in pool.df().collect()
        }
        assert rows == {
            (0, '{"a": 1}'),
            (1, '{"b": 2}'),
            (2, '{"c": 3}'),
        }
        assert pool.next_consumer_offset(topic) == 3


def test_cli_from_kafka_wire_dedup_and_track_distinct(
    spark, tmp_path, broker, capsys, monkeypatch
):
    """--dedup-values and --track-distinct with --transport wire: the
    streaming path's semantics (value-content anti-join against the
    pool, HLL sidecar merge) apply to the bounded one-shot ingest too."""
    from zinger_spark import cli as climod
    from zinger_spark.sources.pool import Pool
    from zinger_spark.streaming.from_kafka import ingest_distinct_estimate

    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    topic = "FromKafkaDedup"
    with KafkaWireClient(broker.bootstrap) as c:
        c.create_topic(topic)
        Pool.create(spark, str(tmp_path / topic))
        args = ["from-kafka", "--brokers", broker.bootstrap, "--topics", topic,
                "--pool", topic, "--lake", str(tmp_path), "--transport", "wire",
                "--exitafter", "--dedup-values", "--track-distinct", "value"]

        c.produce(topic, 0, [
            (None, json.dumps({"a": 1}).encode()),
            (None, json.dumps({"a": 1}).encode()),  # in-batch dup
        ])
        assert climod.main(args) == 0
        assert "1 record" in capsys.readouterr().out  # dup dropped

        # a re-send of the same value in a later batch is dropped
        # against the pool; a new value lands
        c.produce(topic, 0, [
            (None, json.dumps({"a": 1}).encode()),
            (None, json.dumps({"b": 2}).encode()),
        ])
        assert climod.main(args) == 0
        assert "1 record" in capsys.readouterr().out

        pool = Pool(spark, str(tmp_path / topic))
        assert pool.df().count() == 2
        # HLL sidecar tracked 2 distinct values across both commits
        assert ingest_distinct_estimate(pool) == 2


def test_cli_consume_wire_multi_partition_concrete_offset(
    spark, broker, capsys, monkeypatch
):
    """consume --transport wire with a concrete --offset on a
    multi-partition topic: the start resolves PER PARTITION from the
    startingOffsets map (regression: partition 0's offset was applied
    to every partition)."""
    from zinger_spark import cli as climod

    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    topic = "ConsumeWireMP"
    with KafkaWireClient(broker.bootstrap) as c:
        c.create_topic(topic, partitions=2)
        c.produce(topic, 0, [(None, b'{"p": 0, "i": %d}' % i) for i in range(3)])
        c.produce(topic, 1, [(None, b'{"p": 1, "i": %d}' % i) for i in range(2)])

    rc = climod.main(
        ["consume", "--brokers", broker.bootstrap, "--topic", topic,
         "--offset", "1", "--transport", "wire"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    lines = [json.loads(line) for line in out.strip().splitlines() if line]
    # offset 1 applies only to partition 0 (the startingOffsets map the
    # reference's single-partition -offset flag produces); partition 1
    # is not covered by the map, hence not read at a wrong range
    assert [(li["partition"], li["offset"]) for li in lines] == [(0, 1), (0, 2)]


def test_cli_consume_no_meta_shape(spark, broker, capsys, monkeypatch):
    """--no-meta emits {key, value} records with NO kafka meta field —
    the reference's consume output (cmd/zync/consume/command.go:89
    passes meta=false; fifo/consumer.go:164-170 drops the kafka field
    and keeps key + value)."""
    from zinger_spark import cli as climod

    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    topic = "ConsumeNoMeta"
    with KafkaWireClient(broker.bootstrap) as c:
        c.create_topic(topic)
        c.produce(topic, 0, [
            (b"k0", json.dumps({"seqno": 1}).encode()),
            (None, json.dumps({"seqno": 2}).encode()),
        ])

    rc = climod.main(
        ["consume", "--brokers", broker.bootstrap, "--topic", topic,
         "--offset", "-2", "--transport", "wire", "--no-meta"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    lines = [json.loads(line) for line in out.strip().splitlines() if line]
    # exactly the reference shape: key + value, nothing else, in order
    assert [sorted(li) for li in lines] == [["key", "value"], ["key", "value"]]
    assert lines[0]["key"] == "k0"
    assert lines[1]["key"] is None
    assert [json.loads(li["value"])["seqno"] for li in lines] == [1, 2]

    # and the ZSON form decodes the value in place
    rc = climod.main(
        ["consume", "--brokers", broker.bootstrap, "--topic", topic,
         "--offset", "-2", "--transport", "wire", "--no-meta", "-Z"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert out.splitlines()[0] == '{key:"k0",value:{seqno:1}}'


@pytest.mark.parametrize("versions", [None, (0, 1, 2)])
def test_wire_produce_df_sync_and_pipelined_logs_identical(
    spark, broker, monkeypatch, versions
):
    """Both send modes of the one produce loop append the same broker
    log — None keys, empty values, several gzip batches, across encode
    groups (two batches per group here, the last group partial).  With
    Produce capped at v2 (``versions``) the loop encodes magic-1
    MessageSets instead of RecordBatch v2, and the log is still the
    same."""
    import zinger_spark.kafka_wire as kw

    if versions is not None:
        monkeypatch.setattr(kw.KafkaWireClient, "_PRODUCE_VERSIONS", versions)
    monkeypatch.setattr(kw, "_ENCODE_GROUP", 2)
    message_sets, record_groups = [], []
    encode_ms, encode_rbs = kw.encode_message_set, kw.encode_record_batches

    def spy_ms(*a, **k):
        message_sets.append(a[0])
        return encode_ms(*a, **k)

    def spy_rbs(*a, **k):
        record_groups.append([len(b) for b in a[0]])
        return encode_rbs(*a, **k)

    monkeypatch.setattr(kw, "encode_message_set", spy_ms)
    monkeypatch.setattr(kw, "encode_record_batches", spy_rbs)
    rows = [
        (None if i % 4 == 0 else f"k{i}", "" if i % 5 == 0 else f"v{i}")
        for i in range(23)
    ]
    df = spark.createDataFrame(rows, "key string, value string")
    for topic, pipelined in (("SyncT", False), ("PipeT", True)):
        broker.seed(topic, 1)
        assert kw.wire_produce_df(
            df, broker.bootstrap, topic, batch_size=5, compression="gzip",
            pipelined=pipelined,
        ) == 23
    assert broker.log("SyncT") == broker.log("PipeT")
    assert [(k, v) for k, v, *_ in broker.log("SyncT")] == [
        (None if k is None else k.encode(), v.encode()) for k, v in rows
    ]
    # 5 batches (5+5+5+5+3) per mode, all MessageSets when capped at
    # v2, else RecordBatches encoded in groups of 2+2+1
    assert [len(m) for m in message_sets] == (
        [5, 5, 5, 5, 3] * 2 if versions else []
    )
    assert record_groups == ([] if versions else [[5, 5], [5, 5], [3]] * 2)


def test_produce_premade_batch_must_match_version(broker):
    """A pre-encoded record set of the wrong generation for the
    negotiated Produce version is refused before it is sent."""
    from zinger_spark.kafka_wire import (
        KafkaWireClient,
        KafkaWireError,
        encode_message_set,
        encode_record_batch,
    )

    broker.seed("PremadeT", 1)
    rb = encode_record_batch([(None, b"a")])
    ms = encode_message_set([(None, b"a")])
    with KafkaWireClient(broker.bootstrap) as c:
        with pytest.raises(KafkaWireError, match="generation"):
            c.produce("PremadeT", 0, [], api_version=2, premade_batch=rb)
        with pytest.raises(KafkaWireError, match="generation"):
            c.produce("PremadeT", 0, [], api_version=3, premade_batch=ms)
        c.produce("PremadeT", 0, [], api_version=2, premade_batch=ms)
        c.produce("PremadeT", 0, [], api_version=3, premade_batch=rb)
    assert [v for _, v, *_ in broker.log("PremadeT")] == [b"a", b"a"]


def test_wire_produce_df_pipelined(spark, broker):
    """Pipelined produce (acks=0 batches + one high-watermark barrier)
    appends the same log as the synchronous mode, in order."""
    from zinger_spark.kafka_wire import wire_produce_df

    broker.seed("PipeT", 1)
    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(500)], "key string, value string"
    )
    n = wire_produce_df(df, broker.bootstrap, "PipeT", pipelined=True)
    assert n == 500
    log = broker.log("PipeT")
    assert len(log) == 500
    assert [e[1] for e in log[:3]] == [b"v0", b"v1", b"v2"]
    # a second pipelined call verifies against the NEW baseline
    assert wire_produce_df(df.limit(7), broker.bootstrap, "PipeT",
                           pipelined=True) == 7
    assert len(broker.log("PipeT")) == 507
