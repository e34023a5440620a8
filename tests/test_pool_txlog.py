"""Transaction-log (Delta wire format) tests: visibility is a per-file
log append, scoped reads prune files driver-side on recorded min/max
stats, the offset bookkeeping answers from those stats, and the log
interoperates with external Delta readers and writers (checkpoints
included).  The pool surface itself is covered in test_pool.py."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from zinger_spark.sources.pool import Pool, PoolError
from zinger_spark.sources.txlog import TxLog, prune_files


def env_rows(topic, offsets):
    return [((topic, 0, o), None, (o * 10,), "data") for o in offsets]


def _schema():
    return T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )


def _mk(spark, tmp_path, name="p"):
    return Pool.create(spark, str(tmp_path / name))


def test_txlog_drop_commit_retracts(spark, tmp_path):
    pool = _mk(spark, tmp_path)
    pool.load_batch(spark.createDataFrame(env_rows("T", [0]), _schema()))
    c2 = pool.load_batch(spark.createDataFrame(env_rows("T", [1]), _schema()))
    pool.drop_commit(c2)
    assert [r["kafka"]["offset"] for r in pool.df().collect()] == [0]


# -- txlog-specific: log contents, stats, file pruning -------------------


def test_txlog_records_file_stats(spark, tmp_path):
    pool = _mk(spark, tmp_path)
    pool.load_batch(
        spark.createDataFrame(env_rows("T", [3, 7, 5]), _schema()).coalesce(1)
    )
    log = TxLog(pool._fs, pool.path)
    entries = log.entries()
    assert len(entries) == 1
    adds = entries[0]["add"]
    assert len(adds) == 1
    st = adds[0]["stats"]
    assert st["kafka.offset"] == [3, 7]
    assert st["kafka.topic"] == ["T", "T"]
    assert adds[0]["records"] == 3


def test_txlog_visibility_is_log_append_not_files(spark, tmp_path):
    """Data files on disk but not in the log are invisible (a crashed
    pre-append write) — the log append is the only visibility point.
    Vacuum reclaims them on the mtime clock, but only under the
    unpublished grace: an IN-FLIGHT commit looks exactly like a crashed
    one until its log append lands."""
    pool = _mk(spark, tmp_path)
    pool.load_batch(spark.createDataFrame(env_rows("T", [0]), _schema()).coalesce(1))
    # simulate a crashed writer: bytes on disk, no log entry
    dark = os.path.join(pool.path, "data", "commit-9999999999999-deadbeef")
    spark.createDataFrame(env_rows("T", [99]), _schema()).coalesce(1).write.parquet(dark)
    assert pool.df().count() == 1  # dark file not visible
    assert pool.next_consumer_offset("T") == 1
    assert pool.next_producer_offsets() == {"T": 1}
    # an aggressive reader grace leaves it alone: the unpublished grace
    # floors at max(grace, 1h)
    assert pool.vacuum(grace_seconds=0.0) == 0
    assert os.path.isdir(dark)
    # the explicit writer-quiescent override reclaims it, dir and all
    assert pool.vacuum(grace_seconds=0.0, unpublished_grace_seconds=0.0) == 1
    assert not os.path.exists(dark)
    assert pool.df().count() == 1


def test_txlog_prune_files_on_stats():
    files = [
        {"path": "a", "stats": {"kafka.offset": [0, 9], "kafka.topic": ["A", "A"]}},
        {"path": "b", "stats": {"kafka.offset": [10, 19], "kafka.topic": ["A", "B"]}},
        {"path": "c", "stats": {}},  # statless: conservatively kept
    ]
    assert [f["path"] for f in prune_files(files, offset_lo=10)] == ["b", "c"]
    assert [f["path"] for f in prune_files(files, offset_hi=10)] == ["a", "c"]
    assert [f["path"] for f in prune_files(files, topic="B")] == ["b", "c"]
    # topic between min and max string bounds must be kept (range check,
    # not equality): "AB" sorts within ["A","B"]
    assert [f["path"] for f in prune_files(files, topic="AB")] == ["b", "c"]


def test_txlog_read_batch_prunes_old_files(spark, tmp_path):
    """A resume-from-cursor read opens only files whose max offset can
    reach the batch start — the log's stats prune the rest before Spark
    ever lists them."""
    pool = _mk(spark, tmp_path)
    for lo in (0, 100, 200):
        pool.load_batch(
            spark.createDataFrame(
                env_rows("T", list(range(lo, lo + 10))), _schema()
            ).coalesce(1)
        )
    batch = pool.df(topic="T", offset_lo=205)
    # the physical scan should reference exactly ONE parquet file
    files = [
        f for f in batch.inputFiles() if f.endswith(".parquet")
    ]
    assert len(files) == 1
    got = [r["kafka"]["offset"] for r in pool.read_batch("T", 205, 3).collect()]
    assert got == [205, 206, 207]


def test_txlog_vacuum_reclaims_removed_and_dark_files(spark, tmp_path):
    pool = _mk(spark, tmp_path)
    pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()))
    pool.load_batch(spark.createDataFrame(env_rows("T", [2, 3]), _schema()))
    pool.compact()
    # removed files survive a grace-window vacuum (readers mid-scan)...
    assert pool.vacuum(grace_seconds=3600) == 0
    assert pool.df().count() == 4
    # ...and are reclaimed when the grace has passed
    n = pool.vacuum(grace_seconds=0.0, unpublished_grace_seconds=0.0)
    assert n >= 2
    assert sorted(r["kafka"]["offset"] for r in pool.df().collect()) == [0, 1, 2, 3]


def test_txlog_size_tiered_compact(spark, tmp_path):
    pool = _mk(spark, tmp_path)
    # one big file, two small ones
    pool.load_batch(
        spark.createDataFrame(env_rows("T", list(range(0, 400))), _schema()).coalesce(1)
    )
    big = os.path.join(
        pool.path, TxLog(pool._fs, pool.path).entries()[0]["add"][0]["path"]
    )
    threshold = os.path.getsize(big)  # strictly-less-than comparison
    pool.load_batch(spark.createDataFrame(env_rows("T", [400]), _schema()).coalesce(1))
    pool.load_batch(spark.createDataFrame(env_rows("T", [401]), _schema()).coalesce(1))
    merged = pool.compact(small_bytes=threshold)
    assert merged == 2  # only the two small files
    assert pool.df().count() == 402
    log = TxLog(pool._fs, pool.path)
    live = log.snapshot()["files"]
    assert any(os.path.join(pool.path, p) == big for p in live)  # big one untouched


def test_txlog_append_version_claim_is_conditional(spark, tmp_path):
    """The version slot is claimed with a conditional put: a racer who
    loses the slot lands on the next version, never overwriting."""
    pool = _mk(spark, tmp_path)
    log = TxLog(pool._fs, pool.path)
    v0 = log.append("commit-a", add=[{"path": "x", "stats": {}}])
    # simulate a racer having pre-claimed the next slot
    pool._fs.create_exclusive(
        os.path.join(log.path, f"{v0 + 1:020d}.json"),
        b'{"version": 1, "commit": null, "ts": 0, "add": [], "remove": []}',
    )
    v2 = log.append("commit-b", add=[{"path": "y", "stats": {}}])
    assert v2 == v0 + 2  # lost slot v0+1, claimed the next
    snap = log.snapshot()
    assert set(snap["files"]) == {"x", "y"}
    assert snap["commits"] == ["commit-a", "commit-b"]


def test_txlog_protocol_on_object_storage_fake():
    """The log protocol is object-store-clean: version claims are
    conditional PUTs (one winner), entries replay from prefix LIST, no
    rename or posix directory anywhere.  Metadata-only, like the
    writer-lock suite in test_object_storage — Spark owns data-file
    IO."""
    from zinger_spark.sources.storage import MemoryObjectStorage

    fs = MemoryObjectStorage()
    log = TxLog(fs, "mem://bucket/pool")
    v0 = log.append("commit-a", add=[{"path": "data/a/p0.parquet",
                                      "stats": {"kafka.offset": [0, 9]}}])
    assert v0 == 0
    # a racer pre-claims version 1 with a conditional put; our append
    # must land on version 2 without overwriting anything
    assert fs.create_exclusive(
        log._entry_path(1),
        b'{"version": 1, "commit": null, "ts": 0, "add": [], "remove": []}',
    )
    v2 = log.append("commit-b", add=[{"path": "data/b/p0.parquet",
                                      "stats": {"kafka.offset": [10, 19]}}])
    assert v2 == 2
    snap = log.snapshot()
    assert set(snap["files"]) == {"data/a/p0.parquet", "data/b/p0.parquet"}
    assert snap["commits"] == ["commit-a", "commit-b"]
    # remove action replays correctly too
    log.append("commit-c", remove=["data/a/p0.parquet"])
    assert set(log.snapshot()["files"]) == {"data/b/p0.parquet"}


def test_txlog_producer_offsets_from_metadata(spark, tmp_path, monkeypatch):
    """When every live file is single-topic, next_producer_offsets
    answers from the log alone — no Spark job.  Verified by breaking
    the scan path: the metadata answer must never reach it."""
    pool = _mk(spark, tmp_path)
    pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1, 2]), _schema()))
    pool.load_batch(spark.createDataFrame(env_rows("U", [5, 6]), _schema()))

    def boom(*a, **k):
        raise AssertionError("metadata fast path must not scan data")

    monkeypatch.setattr(pool, "df", boom)
    assert pool.next_producer_offsets() == {"T": 3, "U": 7}


def test_txlog_producer_offsets_mixed_topic_falls_back(spark, tmp_path):
    """A single batch carrying two topics produces mixed-topic files;
    the metadata path must detect that and fall back to the exact
    scan (same answer, more IO)."""
    pool = _mk(spark, tmp_path)
    pool.load_batch(
        spark.createDataFrame(
            env_rows("T", [0, 1]) + env_rows("U", [5]), _schema()
        ).coalesce(1)
    )
    assert pool.next_producer_offsets() == {"T": 2, "U": 6}


def test_txlog_consumer_offset_from_metadata(spark, tmp_path, monkeypatch):
    pool = _mk(spark, tmp_path)
    pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1, 2]), _schema()))
    pool.load_batch(spark.createDataFrame(env_rows("U", [5, 6]), _schema()))

    def boom(*a, **k):
        raise AssertionError("metadata fast path must not scan data")

    monkeypatch.setattr(pool, "df", boom)
    assert pool.next_consumer_offset("T") == 3
    assert pool.next_consumer_offset("U") == 7
    assert pool.next_consumer_offset("absent") == 0


def test_txlog_compact_sort_by_disjoint_file_stats(spark, tmp_path):
    """compact(sort_by=[pool key]) on a txlog pool must land disjoint
    per-file offset ranges — and the LOG records them, so the zone map
    that drives file skipping is immediately queryable without footer
    IO."""
    pool = _mk(spark, tmp_path)
    import random

    rng = random.Random(7)
    offs = list(range(200))
    rng.shuffle(offs)
    for i in range(0, 200, 50):
        pool.load_batch(
            spark.createDataFrame(env_rows("T", offs[i : i + 50]), _schema())
        )
    pool.compact(sort_by=["kafka.offset"])
    snap = TxLog(pool._fs, pool.path).snapshot()
    ranges = sorted(
        tuple(f["stats"]["kafka.offset"])
        for f in snap["files"].values()
        if "kafka.offset" in f.get("stats", {})
    )
    assert ranges, "compacted files must carry offset stats"
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping clustered files: {ranges}"
    # contents intact
    assert sorted(r["kafka"]["offset"] for r in pool.df().collect()) == list(range(200))


# -- r9 ADVICE fixes ------------------------------------------------------


def test_txlog_partial_prune_keeps_full_schema(spark, tmp_path):
    """A scoped read that prunes away files must NOT lose columns that
    live only in those files: pruning is IO-only (ADVICE r8 medium).
    Here the WIDE file (value.b) is below the offset cursor, so the
    resume read prunes it — the frame must still carry value.b."""
    pool = _mk(spark, tmp_path)
    wider = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint,b:string>, _type string"
    )
    pool.load_batch(
        spark.createDataFrame([(("T", 0, 0), None, (0, "x"), "data")], wider)
    )
    pool.load_batch(spark.createDataFrame(env_rows("T", [100, 101]), _schema()))
    out = pool.df(topic="T", offset_lo=100)
    # the wide file was really pruned (only 2 rows scanned)...
    assert out.count() == 2
    # ...but the schema is still the pool union, null-filled
    assert "b" in out.schema["value"].dataType.fieldNames()
    assert [r["value"]["b"] for r in out.collect()] == [None, None]
    # everything-pruned branch agrees
    empty = pool.df(topic="T", offset_lo=10_000)
    assert empty.count() == 0
    assert "b" in empty.schema["value"].dataType.fieldNames()


def test_txlog_retracted_commit_leaves_history(spark, tmp_path):
    """drop_commit must remove the commit from pool history and reject
    it as an as_of target — after
    vacuum its files are gone, so time travel to it would hand Spark
    vanished paths (ADVICE r8)."""
    pool = _mk(spark, tmp_path)
    c1 = pool.load_batch(spark.createDataFrame(env_rows("T", [0]), _schema()))
    c2 = pool.load_batch(spark.createDataFrame(env_rows("T", [1]), _schema()))
    pool.drop_commit(c2)
    assert f"commit-{c2}" not in pool._commit_names()
    with pytest.raises(PoolError, match="retracted"):
        pool.df(as_of=c2)
    # history before the retraction is untouched
    assert [r["kafka"]["offset"] for r in pool.df(as_of=c1).collect()] == [0]


def test_txlog_empty_batch_is_noop(spark, tmp_path):
    """An all-empty batch (normal from an empty streaming micro-batch)
    must not log a zero-file commit: the pool behaves as if no commit
    happened (ADVICE r8) — no hollow commit, no flip of is_empty()."""
    pool = _mk(spark, tmp_path)
    log = TxLog(pool._fs, pool.path)
    pool.load_batch(spark.createDataFrame([], _schema()))
    assert pool.is_empty()
    assert log.versions() == []
    with pytest.raises(PoolError, match="empty"):
        pool.df()
    # on a non-empty pool: history and offsets unchanged by the no-op
    pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()))
    before, commits_before = log.versions(), pool._commit_names()
    pool.load_batch(spark.createDataFrame([], _schema()))
    assert log.versions() == before
    assert pool._commit_names() == commits_before
    assert pool.next_producer_offsets() == {"T": 2}


def test_txlog_compact_never_logs_statless_empty_parts(spark, tmp_path):
    """Compaction output must apply the same records>0 filter as
    load_batch: a zero-row part file (empty repartitionByRange
    partition — forced here by giving every row the same offset, so
    all rows land in one range) logged statless would permanently
    break the offset-metadata fast path (ADVICE r8)."""
    pool = _mk(spark, tmp_path)
    pool.load_batch(spark.createDataFrame(env_rows("T", [5, 5]), _schema()))
    pool.load_batch(spark.createDataFrame(env_rows("T", [5, 5]), _schema()))
    pool.compact(sort_by=["kafka.offset"])
    snap = TxLog(pool._fs, pool.path).snapshot()
    assert snap["files"], "compaction must log its output"
    for f in snap["files"].values():
        assert f["records"] > 0, f"statless empty part logged: {f}"
    # the metadata fast path still answers exactly
    assert pool.next_producer_offsets() == {"T": 6}
    assert pool.df().count() == 4


# -- Delta wire-format interop (r9) ---------------------------------------


def _delta_replay_external(log_dir):
    """A test-local, spec-faithful Delta log replay that shares NO code
    with TxLog: numbered NDJSON files in order, last metaData wins,
    add/remove reconciliation on path.  This is what delta-rs / DuckDB
    delta_scan / Spark's Delta reader do (PROTOCOL.md 'Action
    Reconciliation')."""
    import glob
    import json as _json

    protocol, meta, live = None, None, {}
    for p in sorted(glob.glob(os.path.join(log_dir, "*.json"))):
        with open(p) as fh:
            for ln in fh:
                if not ln.strip():
                    continue
                act = _json.loads(ln)
                if isinstance(act.get("add"), dict):
                    live[act["add"]["path"]] = act["add"]
                elif isinstance(act.get("remove"), dict):
                    live.pop(act["remove"]["path"], None)
                elif isinstance(act.get("metaData"), dict):
                    meta = act["metaData"]
                elif isinstance(act.get("protocol"), dict):
                    protocol = act["protocol"]
    return protocol, meta, live


def test_delta_log_external_reader_interop(spark, tmp_path):
    """The txlog IS the Delta wire format: an external engine that has
    never heard of this repo can replay ``_delta_log`` and read the
    pool.  Verified with an independent spec replay + DuckDB scanning
    the live parquet files — row counts and values match Pool.df()."""
    import json as _json

    import duckdb

    pool = _mk(spark, tmp_path)
    c1 = pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1, 2]), _schema()))
    wider = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint,b:string>, _type string"
    )
    pool.load_batch(
        spark.createDataFrame([(("U", 0, 7), None, (70, "x"), "data")], wider)
    )
    c3 = pool.load_batch(spark.createDataFrame(env_rows("T", [3]), _schema()))
    pool.drop_commit(c3)  # remove actions must replay externally too
    assert c1  # silence unused warning

    protocol, meta, live = _delta_replay_external(
        os.path.join(pool.path, "_delta_log")
    )
    # protocol: plain parquet table, no reader features needed
    assert protocol == {"minReaderVersion": 1, "minWriterVersion": 2}
    # metaData: stable id, parquet format, and the schemaString is the
    # UNION schema (readers take schema from the log, not footers)
    assert meta["format"]["provider"] == "parquet"
    schema = T.StructType.fromJson(_json.loads(meta["schemaString"]))
    assert "b" in schema["value"].dataType.fieldNames()
    # per-file stats are the standard Delta stats JSON
    some_add = next(iter(live.values()))
    st = _json.loads(some_add["stats"])
    assert st["numRecords"] > 0
    assert "offset" in st["minValues"]["kafka"]
    # DuckDB reads the replayed live set and agrees with Pool.df()
    paths = [os.path.join(pool.path, p) for p in live]
    con = duckdb.connect()
    n, off_sum, topics = con.execute(
        "SELECT count(*), sum(kafka.offset), count(DISTINCT kafka.topic) "
        "FROM read_parquet(?, union_by_name=true)",
        [paths],
    ).fetchone()
    ours = pool.df()
    assert n == ours.count() == 4
    assert int(off_sum) == 0 + 1 + 2 + 7
    assert topics == 2
    # the retracted commit's file is NOT in the external live set
    got = sorted(
        r[0] for r in con.execute(
            "SELECT kafka.offset FROM read_parquet(?, union_by_name=true)",
            [paths],
        ).fetchall()
    )
    assert got == [0, 1, 2, 7]


def test_delta_log_foreign_writer_entries_read_back(spark, tmp_path):
    """Interop is bidirectional: an entry appended by an EXTERNAL Delta
    writer (standard add action, no zinger commitInfo block) must
    become visible through Pool.df(), and the offset-metadata fast
    path must FALL BACK to the exact scan rather than trusting foreign
    files without our stats columns."""
    import json as _json

    pool = _mk(spark, tmp_path)
    pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()))

    # a foreign engine writes a data file + a minimal spec add action
    foreign_rel = "data/foreign-0001"
    spark.createDataFrame(env_rows("T", [2]), _schema()).coalesce(1).write.parquet(
        os.path.join(pool.path, foreign_rel)
    )
    pfile = next(
        f
        for f in os.listdir(os.path.join(pool.path, foreign_rel))
        if f.endswith(".parquet")
    )
    log = TxLog(pool._fs, pool.path)
    v = log.versions()[-1] + 1
    action = {
        "add": {
            "path": f"{foreign_rel}/{pfile}",
            "partitionValues": {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
            "stats": _json.dumps({"numRecords": 1, "minValues": {}, "maxValues": {}}),
        }
    }
    commit_info = {"commitInfo": {"timestamp": 0, "operation": "WRITE", "engineInfo": "delta-rs/x"}}
    payload = (_json.dumps(commit_info) + "\n" + _json.dumps(action) + "\n").encode()
    assert pool._fs.create_exclusive(log._entry_path(v), payload)

    # visible through the pool; no phantom commit in OUR history
    assert sorted(r["kafka"]["offset"] for r in pool.df().collect()) == [0, 1, 2]
    assert len(pool._commit_names()) == 1
    # statless foreign file forces the exact-scan fallback — and it is exact
    assert pool.next_consumer_offset("T") == 3
    assert pool.next_producer_offsets() == {"T": 3}
    assert pool.next_consumer_offsets_by_partition("T") == {0: 3}


def test_delta_checkpoint_bounds_replay_and_is_exact(spark, tmp_path):
    """Every CHECKPOINT_INTERVAL appends the log writes a spec
    checkpoint parquet + _last_checkpoint.  A checkpoint-seeded
    snapshot must be IDENTICAL to a full replay (files, commits,
    floor, retractions), and a cold reader must actually start from
    it (only post-checkpoint JSON entries replayed)."""
    import glob as _glob

    pool = _mk(spark, tmp_path)
    log = TxLog(pool._fs, pool.path)
    cids = []
    for i in range(12):
        cids.append(
            pool.load_batch(spark.createDataFrame(env_rows("T", [i]), _schema()))
        )
    pool.drop_commit(cids[-1])  # a retraction after the 10th version
    cps = _glob.glob(os.path.join(pool.path, "_delta_log", "*.checkpoint.parquet"))
    assert cps, "auto-checkpoint at the interval"
    assert pool._fs.read_json(
        os.path.join(pool.path, "_delta_log", "_last_checkpoint")
    )["version"] >= 10

    fast = log.snapshot()
    full = log.snapshot(use_checkpoint=False)
    assert fast["files"].keys() == full["files"].keys()
    for p in full["files"]:
        assert fast["files"][p]["stats"] == full["files"][p]["stats"]
        assert fast["files"][p]["records"] == full["files"][p]["records"]
    assert fast["commits"] == full["commits"]
    assert fast["retracted"] == full["retracted"]
    assert fast["floor"] == full["floor"]
    assert fast["schema_string"] == full["schema_string"]

    # a COLD instance seeds from the checkpoint: only entries after the
    # checkpoint version are read
    cold = TxLog(pool._fs, pool.path)
    reads = []
    orig = cold._read_entry

    def counting(v):
        reads.append(v)
        return orig(v)

    cold._read_entry = counting
    snap = cold.snapshot()
    cp_version = pool._fs.read_json(
        os.path.join(pool.path, "_delta_log", "_last_checkpoint")
    )["version"]
    assert reads and min(reads) > cp_version
    assert snap["commits"] == full["commits"]
    # reads through the pool agree
    assert sorted(r["kafka"]["offset"] for r in pool.df().collect()) == list(range(11))
    assert pool.next_producer_offsets() == {"T": 11}
    # time travel (full replay path) still exact across the boundary
    assert [r["kafka"]["offset"] for r in pool.df(as_of=cids[2]).collect()][-1] == 2


def test_delta_checkpoint_external_reader_shape(spark, tmp_path):
    """The checkpoint parquet is the spec shape an external reader
    consumes: _last_checkpoint -> <V>.checkpoint.parquet (protocol +
    metaData + add rows with standard stats JSON) + JSON entries after
    V reproduce the live file set."""
    import glob as _glob
    import json as _json

    import duckdb

    pool = _mk(spark, tmp_path)
    for i in range(11):
        pool.load_batch(spark.createDataFrame(env_rows("T", [i]), _schema()))

    log_dir = os.path.join(pool.path, "_delta_log")
    lc = _json.load(open(os.path.join(log_dir, "_last_checkpoint")))
    cp = os.path.join(log_dir, f"{lc['version']:020d}.checkpoint.parquet")
    assert os.path.exists(cp)
    con = duckdb.connect()
    # external replay: checkpoint rows first...
    rows = con.execute(
        "SELECT protocol, metaData, add_, remove FROM "
        "(SELECT protocol, metaData, \"add\" AS add_, remove FROM read_parquet(?))",
        [cp],
    ).fetchall()
    live = {}
    saw_protocol = saw_meta = False
    for protocol, meta, add, remove in rows:
        if protocol and protocol["minReaderVersion"] is not None:
            saw_protocol = True
        if meta and meta.get("id"):
            saw_meta = True
            assert meta["format"]["provider"] == "parquet"
        if add and add.get("path"):
            st = _json.loads(add["stats"])
            assert st["numRecords"] > 0
            live[add["path"]] = add
        if remove and remove.get("path"):
            live.pop(remove["path"], None)
    assert saw_protocol and saw_meta and live
    # ...then the JSON tail
    for p in sorted(_glob.glob(os.path.join(log_dir, "*.json"))):
        v = int(os.path.basename(p)[:-5])
        if v <= lc["version"]:
            continue
        for ln in open(p):
            if not ln.strip():
                continue
            act = _json.loads(ln)
            if isinstance(act.get("add"), dict):
                live[act["add"]["path"]] = act["add"]
            elif isinstance(act.get("remove"), dict):
                live.pop(act["remove"]["path"], None)
    paths = [os.path.join(pool.path, p) for p in live]
    n = con.execute(
        "SELECT count(*) FROM read_parquet(?, union_by_name=true)", [paths]
    ).fetchone()[0]
    assert n == pool.df().count() == 11


def test_delta_checkpoint_retention(spark, tmp_path):
    """Superseded checkpoints are pruned (keep the live one + one
    predecessor); JSON entries all survive so as-of replay from v0
    still works."""
    import glob as _glob

    pool = _mk(spark, tmp_path)
    first = pool.load_batch(spark.createDataFrame(env_rows("T", [0]), _schema()))
    for i in range(1, 31):
        pool.load_batch(spark.createDataFrame(env_rows("T", [i]), _schema()))
    log_dir = os.path.join(pool.path, "_delta_log")
    cps = sorted(_glob.glob(os.path.join(log_dir, "*.checkpoint.parquet")))
    assert len(cps) == 2, cps  # v20 fallback + v30 live
    assert len(_glob.glob(os.path.join(log_dir, "*.json"))) == 31
    assert pool.df().count() == 31
    assert pool.df(as_of=first).count() == 1


def test_txlog_two_threads_no_lost_commit(spark, tmp_path):
    """Two writers loading concurrently must both land: the writer
    lock serializes the version claim, the conditional PUT backstops
    it, and the final state contains every row exactly once with
    contiguous log versions."""
    import threading

    pool = _mk(spark, tmp_path)
    errs = []

    def worker(lo):
        try:
            # separate Pool handle per writer: contend on the FILE lock,
            # as two driver processes would
            own = Pool(spark, pool.path)
            for o in range(lo, lo + 8):
                own.load_batch(
                    spark.createDataFrame(env_rows("T", [o]), _schema()).coalesce(1)
                )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(lo,)) for lo in (0, 100)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    got = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    assert got == list(range(8)) + list(range(100, 108))
    log = TxLog(pool._fs, pool.path)
    vs = log.versions()
    assert vs == list(range(len(vs)))  # contiguous claims, no lost slots
    assert len(pool._commit_names()) == 16
    assert pool.next_consumer_offset("T") == 108


def test_legacy_log_layout_refused(spark, tmp_path):
    """r9 review: a pool written under the pre-Delta `_log/` layout
    must be REFUSED, not read as empty — an empty read would report no
    data and let vacuum's dark-file sweep delete the live files."""
    import os
    import shutil

    pool = _mk(spark, tmp_path, name="legacy")
    pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()))
    shutil.move(
        os.path.join(pool.path, "_delta_log"), os.path.join(pool.path, "_log")
    )
    with pytest.raises(RuntimeError, match="legacy _log/ layout"):
        Pool(spark, pool.path)


def test_vacuum_grace_capped_by_tombstone_retention(spark, tmp_path):
    """r9 review: checkpoints drop remove tombstones older than
    TOMBSTONE_RETENTION_S, so a vacuum reader grace past that window is
    unenforceable (the orphan clock is forgotten and the file falls to
    the shorter writer-grace mtime path).  vacuum refuses instead of
    silently under-protecting."""
    pool = _mk(spark, tmp_path, name="vg")
    pool.load_batch(spark.createDataFrame(env_rows("T", [0]), _schema()))
    with pytest.raises(ValueError, match="tombstone retention"):
        pool.vacuum(grace_seconds=30 * 86400.0)
    # at or below the retention: normal path still works
    assert pool.vacuum(grace_seconds=3600.0) == 0


def _assert_txlog_schema_parity(spark, pool):
    """The log's recorded schema, and what ``df()`` reads with, equal
    what a ``mergeSchema`` footer pass infers over the live files."""
    snap = pool._log.snapshot()
    live = [os.path.join(pool.path, f) for f in snap["files"]]
    inferred = spark.read.option("mergeSchema", "true").parquet(*live).schema
    assert T.StructType.fromJson(json.loads(snap["schema_string"])) == inferred
    assert pool.df().schema == inferred


def test_txlog_recorded_schema_matches_merge_schema(
    spark, tmp_path, evolving_batches, jobs_started
):
    """The log's schemaString equals what mergeSchema infers over the
    live files after each load_batch, after a retracted commit (the
    retraction puts back the schema from before it) and after
    compaction; time travel reads with the schema as of its commit;
    reads plan with no Spark job."""
    pool = _mk(spark, tmp_path)
    cids = []
    for batch in evolving_batches:
        cids.append(pool.load_batch(batch))
        _assert_txlog_schema_parity(spark, pool)
    value = pool.df().schema["value"].dataType
    assert value.fieldNames() == ["a", "b", "c", "d", "e"]
    assert value["d"].dataType.fieldNames() == ["x", "y"]

    wide = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint,z:string>, _type string"
    )
    cid = pool.load_batch(spark.createDataFrame([(("T", 0, 5), None, (5, "w"), "data")], wide))
    _assert_txlog_schema_parity(spark, pool)
    assert "z" in pool.df().schema["value"].dataType.fieldNames()
    pool.drop_commit(cid)
    _assert_txlog_schema_parity(spark, pool)
    assert "z" not in pool.df().schema["value"].dataType.fieldNames()

    # time travel reads with the schema recorded as of its commit
    first_two = [
        os.path.join(pool.path, p)
        for p in pool._log.snapshot(as_of_commit=f"commit-{cids[1]}")["files"]
    ]
    assert (
        pool.df(as_of=cids[1]).schema
        == spark.read.option("mergeSchema", "true").parquet(*first_two).schema
    )

    def plan_reads():
        pool.df().schema
        pool.df(topic="T").schema
        pool.df(as_of=cids[2]).schema
        pool.read_batch("T", 1, 10).schema

    assert jobs_started(plan_reads) == 0

    # the unit of txlog compaction is the file: at least one per commit
    assert pool.compact() >= len(evolving_batches)
    _assert_txlog_schema_parity(spark, pool)
    assert pool.df().count() == 7


def test_log_without_metadata_refused(spark, tmp_path):
    """The log's schemaString is the only schema source.  A log with no
    metaData action is not a valid Delta table (TxLog.append writes one
    at version 0): reads raise PoolError naming the cause rather than
    guessing the schema from the data files' footers."""
    pool = _mk(spark, tmp_path)
    rel = "data/foreign-0001"
    spark.createDataFrame(env_rows("T", [0]), _schema()).coalesce(1).write.parquet(
        os.path.join(pool.path, rel)
    )
    (pfile,) = [
        f for f in os.listdir(os.path.join(pool.path, rel)) if f.endswith(".parquet")
    ]
    lines = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"commitInfo": {"timestamp": 0, "operation": "WRITE"}},
        {"add": {"path": f"{rel}/{pfile}", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    log = TxLog(pool._fs, pool.path)
    pool._fs.makedirs(log.path)
    assert pool._fs.create_exclusive(
        log._entry_path(0), "".join(json.dumps(ln) + "\n" for ln in lines).encode()
    )
    assert not pool.is_empty()
    with pytest.raises(PoolError, match="no metaData schemaString"):
        pool.df()
