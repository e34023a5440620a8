"""Pool -> Kafka egress in ordered chunks (to_kafka.sync_batches with the
wire producer, kafka_wire.wire_produce_df): every case is checked against
the reference's per-batch loop (fifo/to.go:31-53) written out inline —
one ordered ``read_batch``, one count and one produce per
``batch_size`` records — over a real socket to the stub broker.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

import zinger_spark.kafka_wire as kw
from zinger_spark.kafka_stub import StubBroker
from zinger_spark.sources.pool import Pool
from zinger_spark.streaming import to_kafka as tk

ENV = (
    "kafka struct<topic:string,partition:bigint,offset:bigint>, "
    "key string, value string, _type string"
)


@pytest.fixture()
def broker():
    with StubBroker() as b:
        yield b


def _rows(offsets, topic="T"):
    """Envelope rows with a None key every 4th record and an empty value
    every 5th."""
    return [
        ((topic, 0, o), None if i % 4 == 0 else f"k{o}",
         "" if i % 5 == 0 else f"v{o}", "data")
        for i, o in enumerate(offsets)
    ]


def _pool(spark, path, offsets, commits=2):
    """A pool holding ``T``'s records at ``offsets`` in ``commits``
    commits, each file also holding another topic's records, so the
    log's row counts only bound the pending range."""
    pool = Pool.create(spark, str(path))
    step = -(-len(offsets) // commits)
    for i in range(0, len(offsets), step):
        part = offsets[i : i + step]
        rows = _rows(part) + _rows(part[: len(part) // 2 + 1], topic="U")
        pool.load_batch(spark.createDataFrame(rows, ENV).coalesce(1))
    return pool


def _per_batch_twin(pool, topic, start, produce, batch_size):
    """The loop sync_batches replaced: one ordered read, one count and
    one produce per ``batch_size`` records, until a read comes back
    empty."""
    offset = start
    while True:
        raw = pool.read_batch(topic, offset, batch_size)
        stats = raw.agg(
            F.count(F.lit(1)).alias("n"), F.max("kafka.offset").alias("mx")
        ).collect()[0]
        if stats["n"] == 0:
            return
        produce(raw)
        offset = stats["mx"] + 1


CASES = {
    # name: (offsets, start, batch_size, compression, encode group,
    #        chunk rows, extra offsets committed during the produce)
    "gapped_offsets_mid_range_start_gzip": (
        [i * 3 + i % 2 for i in range(40)], 7, 6, "gzip", None, None, None),
    "9000_rows_in_chunks_and_encode_groups": (
        list(range(9000)), 0, 1000, "none", 2, 3500, None),
    "commit_lands_during_produce": (
        list(range(25)), 0, 8, "none", None, None, list(range(25, 36))),
}


@pytest.mark.parametrize("case", list(CASES))
def test_sync_batches_matches_per_batch_twin(spark, tmp_path, broker, monkeypatch, case):
    """The one-scan egress sends the same Produce record sets, batch for
    batch and byte for byte, and leaves the same broker log as the
    per-batch loop.  Every case has None keys and empty values.  The
    9000-row case reads 3000-row chunks (CHUNK_ROWS 3500 rounded down
    to the 1000-record batch size), each produced in two encode groups;
    the last case commits more records while the range is being
    produced, and both loops drain them."""
    offsets, start, bs, compression, group, chunk_rows, extra = CASES[case]
    if group is not None:
        monkeypatch.setattr(kw, "_ENCODE_GROUP", group)
    if chunk_rows is not None:
        monkeypatch.setattr(tk, "CHUNK_ROWS", chunk_rows)
    sent: dict[str, list] = {"Twin": [], "Fast": []}
    target = ["Twin"]
    encode = kw.encode_record_batches

    def spy(batches, **kwargs):
        out = encode(batches, **kwargs)
        sent[target[0]].extend(zip([len(b) for b in batches], out))
        return out

    monkeypatch.setattr(kw, "encode_record_batches", spy)
    pending = len([o for o in offsets if o >= start])

    def producer(pool, topic):
        later = [extra]

        def produce(df):
            kw.wire_produce_df(
                df.select("key", "value"), broker.bootstrap, topic,
                batch_size=bs, compression=compression,
            )
            if later[0] and len(broker.log(topic)) >= pending:
                pool.load_batch(spark.createDataFrame(_rows(later[0]), ENV))
                later[0] = None

        return produce

    for topic in ("Twin", "Fast"):
        broker.seed(topic, 1)
    twin = _pool(spark, tmp_path / "twin", offsets)
    _per_batch_twin(twin, "T", start, producer(twin, "Twin"), bs)
    target[0] = "Fast"
    fast = _pool(spark, tmp_path / "fast", offsets) if extra else twin
    n = tk.sync_batches(fast, "T", start, producer(fast, "Fast"), batch_size=bs)

    assert n == pending + len(extra or [])
    assert len(broker.log("Fast")) == n
    assert broker.log("Fast") == broker.log("Twin")
    assert sent["Fast"] == sent["Twin"]
    if group is not None:
        assert len(sent["Fast"]) > group  # several encode groups


def test_sync_batches_one_chunk_counts_from_observation(spark, tmp_path, broker, monkeypatch, jobs_started):
    """A range within CHUNK_ROWS is produced by one Spark job: the
    count and max offset come from the produce's own action, so the
    egress runs no count job and no per-batch read."""
    completed = []
    observed = tk._completed

    def spy(spark_, obs):
        completed.append(observed(spark_, obs))
        return completed[-1]

    monkeypatch.setattr(tk, "_completed", spy)
    pool = _pool(spark, tmp_path / "p", list(range(1151)))
    broker.seed("Out", 1)
    produced = []

    def produce(df):
        kw.wire_produce_df(df.select("key", "value"), broker.bootstrap, "Out")

    assert jobs_started(
        lambda: produced.append(tk.sync_batches(pool, "T", 0, produce))
    ) == 1
    assert produced == [1151]
    assert completed == [{"n": 1151, "mx": 1150}]
    assert len(broker.log("Out")) == 1151


def test_sync_batches_count_with_dataframe_writer(spark, tmp_path, monkeypatch):
    """A produce that writes through DataFrameWriter (here parquet, in
    place of the Kafka sink) completes the observation: the count is
    right, and each chunk reaches the writer as one partition in offset
    order, so it writes one file holding its rows in that order (a
    multi-partition frame would be written by concurrent tasks)."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(tk, "CHUNK_ROWS", 10)
    pool = _pool(spark, tmp_path / "p", list(range(50)))
    out = tmp_path / "sink"
    n = tk.sync_batches(
        pool, "T", 12, lambda df: df.write.mode("append").parquet(str(out)), batch_size=4,
    )
    assert n == 38
    files = [pq.read_table(f).column("kafka").combine_chunks().field("offset").to_pylist()
             for f in out.glob("*.parquet")]
    assert sorted(files) == [list(range(o, min(o + 8, 50))) for o in range(12, 50, 8)]


def test_sync_batches_chunks_are_ordered_single_partitions(spark, tmp_path, monkeypatch):
    """A range above the chunk size reaches ``produce`` as consecutive
    frames of one partition each, in offset order, every chunk but the
    last a whole number of batches (CHUNK_ROWS 50 rounds down to 48
    at a batch size of 12)."""
    monkeypatch.setattr(tk, "CHUNK_ROWS", 50)
    offsets = [o * 3 + o % 2 for o in range(130)]
    pool = _pool(spark, tmp_path / "p", offsets, commits=3)
    chunks: list = []

    def produce(df):
        assert df.rdd.getNumPartitions() == 1
        chunks.append([r["kafka"]["offset"] for r in df.collect()])

    assert tk.sync_batches(pool, "T", 0, produce, batch_size=12) == 130
    assert [len(c) for c in chunks] == [48, 48, 34]
    assert sum(chunks, []) == offsets


def test_sync_batches_ends_on_empty_read_while_pool_moves(spark, tmp_path):
    """A read that finds nothing ends the loop even when other commits
    keep landing: the file holding ``T``'s drained records also holds
    ``U``'s later offsets, so it is still scanned, and every produce
    commits more ``U`` records.  The loop reads once and returns 0."""
    pool = Pool.create(spark, str(tmp_path / "p"))
    rows = _rows(range(50)) + _rows(range(200), topic="U")
    pool.load_batch(spark.createDataFrame(rows, ENV).coalesce(1))
    calls: list = []

    def produce(df):
        calls.append(df.count())
        if len(calls) < 5:
            more = range(200 + 10 * len(calls), 210 + 10 * len(calls))
            pool.load_batch(spark.createDataFrame(_rows(more, topic="U"), ENV))

    assert tk.sync_batches(pool, "T", 50, produce) == 0
    assert calls == [0]


def test_sync_batches_produce_without_action_returns(spark, tmp_path):
    """A produce that runs no Spark action leaves the observation
    incomplete; sync_batches counts the range once instead of waiting
    on it."""
    pool = _pool(spark, tmp_path / "p", list(range(20)))
    result = []
    t = threading.Thread(
        target=lambda: result.append(tk.sync_batches(pool, "T", 5, lambda df: None)),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert not t.is_alive(), "sync_batches blocked on an action that never ran"
    assert result == [15]


def test_sync_batches_shaper_sees_batch_size_windows(spark, tmp_path):
    """With a shaper the per-batch loop stays, as in the reference's
    ReadBatch: ``head 1`` keeps one record per raw 4-record window."""
    from zinger_spark.zedql import zed_transform

    pool = _pool(spark, tmp_path / "p", list(range(10)))
    got: list = []
    n = tk.sync_batches(
        pool, "T", 0, lambda df: got.extend(r["kafka"]["offset"] for r in df.collect()),
        batch_size=4, transform=zed_transform("head 1"),
    )
    assert n == 3
    assert got == [0, 4, 8]


def test_cli_to_kafka_empty_pool(spark, tmp_path, broker, capsys, monkeypatch):
    """`to-kafka` on a pool with no commits finds nothing to send: it
    prints ``produced 0 records`` and never produces."""
    from zinger_spark import cli as climod

    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    monkeypatch.setattr(kw, "wire_produce_df", pytest.fail)
    Pool.create(spark, str(tmp_path / "Empty"))
    broker.seed("EmptyOut", 1)
    rc = climod.main(
        ["to-kafka", "--brokers", broker.bootstrap, "--topic", "EmptyOut",
         "--pool", "Empty", "--lake", str(tmp_path), "--transport", "wire",
         "--start-offset", "0"]
    )
    assert rc == 0
    assert "produced 0 records" in capsys.readouterr().out
    assert broker.log("EmptyOut") == []


def test_cli_to_kafka_forwards_batch_size(spark, tmp_path, broker, monkeypatch):
    """`to-kafka --transport wire --batch-size 3` cuts the produce into
    3-record batches."""
    from zinger_spark import cli as climod

    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    groups = []
    encode = kw.encode_record_batches

    def spy(batches, **kwargs):
        groups.append([len(b) for b in batches])
        return encode(batches, **kwargs)

    monkeypatch.setattr(kw, "encode_record_batches", spy)
    pool = Pool.create(spark, str(tmp_path / "P"))
    pool.load_batch(spark.createDataFrame(_rows(range(7), topic="Out"), ENV))
    broker.seed("Out", 1)
    rc = climod.main(
        ["to-kafka", "--brokers", broker.bootstrap, "--topic", "Out",
         "--pool", "P", "--lake", str(tmp_path), "--transport", "wire",
         "--start-offset", "0", "--batch-size", "3"]
    )
    assert rc == 0
    assert groups == [[3, 3, 1]]
    assert len(broker.log("Out")) == 7
