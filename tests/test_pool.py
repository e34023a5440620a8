"""Pool layer tests: atomic commits, schema merge, offsets, time
travel, compaction, vacuum, the writer lock, and refusal of the
layouts the pool no longer reads.  The transaction log itself (stats,
pruning, checkpoints, Delta interop) is covered in test_pool_txlog.py."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zinger_spark.sources.pool import Pool, PoolError


def env_rows(topic, offsets):
    return [((topic, 0, o), None, (o * 10,), "data") for o in offsets]


def _schema():
    return T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint>, _type string"
    )


def test_atomic_commit_and_merge(spark, tmp_path):
    pool = Pool.create(spark, str(tmp_path / "p"))
    pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()))
    # second commit with an extra nested field: mergeSchema unions
    wider = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint,b:string>, _type string"
    )
    pool.load_batch(
        spark.createDataFrame([(("T", 0, 2), None, (30, "x"), "data")], wider)
    )
    df = pool.df()
    assert df.count() == 3
    assert "b" in df.schema["value"].dataType.fieldNames()
    assert pool.next_consumer_offset("T") == 3
    assert pool.next_producer_offsets() == {"T": 3}


def test_full_read_single_scan(spark, tmp_path):
    """Every read of a pool — full, as-of subset, topic-scoped and
    after compaction — is ONE FileScan over the live files, regardless
    of commit count, and vacuum reclaims the merged-away files."""
    pool = Pool.create(spark, str(tmp_path / "ssp"))
    mid = None
    for i in range(6):
        cid = pool.load_batch(
            spark.createDataFrame(
                env_rows("A", [2 * i]) + env_rows("B", [2 * i + 1]), _schema()
            ).coalesce(1)
        )
        if i == 2:
            mid = cid
    df = pool.df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert df.count() == 12
    assert set(df.columns) == {"kafka", "key", "value", "_type"}
    # as-of subset: same single scan, only the first 3 commits
    asof = pool.df(as_of=mid)
    assert asof._jdf.queryExecution().executedPlan().toString().count("Scan parquet") == 1
    assert asof.count() == 6
    # topic-scoped: single scan, filtered to the topic
    scoped = pool.df(topic="A")
    assert scoped._jdf.queryExecution().executedPlan().toString().count("Scan parquet") == 1
    assert sorted(r["kafka"]["offset"] for r in scoped.collect()) == [0, 2, 4, 6, 8, 10]
    # compaction merges the commits and stays 1-scan
    assert pool.compact() == 6
    df2 = pool.df()
    assert df2._jdf.queryExecution().executedPlan().toString().count("Scan parquet") == 1
    assert df2.count() == 12
    assert pool.vacuum(grace_seconds=0.0) == 6
    assert pool.df().count() == 12


def test_empty_pool_and_bad_key(spark, tmp_path):
    pool = Pool.create(spark, str(tmp_path / "e"))
    assert pool.is_empty()
    assert pool.next_consumer_offset("T") == 0
    assert pool.next_producer_offsets() == {}
    with pytest.raises(PoolError):
        pool.df()
    with pytest.raises(PoolError, match="pool order must be asc"):
        Pool.create(spark, str(tmp_path / "bad"), order="desc")


def test_partitioned_layout_refused(spark, tmp_path):
    """A _pool.json that names the removed hive-partitioned layout is
    refused on open, never read as an empty pool."""
    import json

    path = tmp_path / "legacy"
    pool = Pool.create(spark, str(path))
    pool.load_batch(spark.createDataFrame(env_rows("A", [0]), _schema()))
    meta = json.loads((path / "_pool.json").read_text())
    (path / "_pool.json").write_text(json.dumps({**meta, "partitioned": True}))
    with pytest.raises(PoolError, match="partitioned"):
        Pool(spark, str(path))
    # "partitioned": false, as flat pools used to record it, still opens
    (path / "_pool.json").write_text(json.dumps({**meta, "partitioned": False}))
    assert Pool(spark, str(path)).df().count() == 1


def test_commits_format_refused(spark, tmp_path):
    """A pool in the removed commit-dir format (flat commit dirs
    published by _manifest.json) is refused on open with the cause
    named, never read as an empty pool that hides its data."""
    path = tmp_path / "cd"
    commit = path / "commit-0000000000001-00000000"
    spark.createDataFrame(env_rows("T", [0, 1]), _schema()).write.parquet(str(commit))
    (path / "_manifest.json").write_text(
        json.dumps({"commits": [commit.name], "orphaned": {}})
    )
    meta = {"key": "kafka.offset", "order": "asc"}
    for recorded in ({**meta, "format": "commits"}, meta):
        (path / "_pool.json").write_text(json.dumps(recorded))
        with pytest.raises(PoolError, match="commit-dir"):
            Pool(spark, str(path))
    # what create() writes opens
    assert Pool.create(spark, str(tmp_path / "new")).meta["format"] == "txlog"


def test_read_batch_ordered(spark, tmp_path):
    pool = Pool.create(spark, str(tmp_path / "rb"))
    pool.load_batch(spark.createDataFrame(env_rows("T", [5, 3, 9, 7, 1]), _schema()))
    out = [r["kafka"]["offset"] for r in pool.read_batch("T", 3, 3).collect()]
    assert out == [3, 5, 7]


def _live_files(pool):
    """Absolute paths of the files live in the pool's log."""
    return sorted(os.path.join(pool.path, p) for p in pool._log.snapshot()["files"])


def _data_files(pool):
    """Absolute paths of every parquet file under the pool's data dir."""
    import glob as _glob

    return sorted(_glob.glob(os.path.join(pool.path, "data", "commit-*", "*.parquet")))


def test_compact_preserves_contents(spark, tmp_path):
    pool = Pool.create(spark, str(tmp_path / "c"))
    c1 = pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()).coalesce(1))
    for batch in ([2], [3, 4]):
        pool.load_batch(spark.createDataFrame(env_rows("T", batch), _schema()).coalesce(1))
    before = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    assert pool.compact() == 3
    # the log lists the one merged file; the merged-away files stay on
    # disk (readers mid-scan keep them) until vacuum's grace lapses
    assert len(_live_files(pool)) == 1
    on_disk = _data_files(pool)
    assert len(on_disk) == 4
    after = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    assert after == before == [0, 1, 2, 3, 4]
    assert pool.next_consumer_offset("T") == 5
    with pytest.raises(PoolError, match="predates compaction"):
        pool.df(as_of=c1)
    # within grace: nothing reclaimed — even when the FILES are old,
    # because grace runs from their removal from the log, not the
    # write mtime (backdate the files to prove it)
    import time as _time

    for full in on_disk:
        _time_ago = _time.time() - 7200
        os.utime(full, (_time_ago, _time_ago))
    assert pool.vacuum(grace_seconds=3600) == 0
    assert pool.vacuum(grace_seconds=0) == 3
    assert _data_files(pool) == _live_files(pool)
    assert sorted(r["kafka"]["offset"] for r in pool.df().collect()) == before
    # post-compact appends keep flowing through the log
    pool.load_batch(spark.createDataFrame(env_rows("T", [5]), _schema()))
    assert pool.next_consumer_offset("T") == 6


def test_time_travel_as_of(spark, tmp_path):
    pool = Pool.create(spark, str(tmp_path / "tt"))
    c1 = pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()))
    c2 = pool.load_batch(spark.createDataFrame(env_rows("T", [2]), _schema()))
    c3 = pool.load_batch(spark.createDataFrame(env_rows("T", [3, 4]), _schema()))
    assert pool.df().count() == 5
    assert pool.df(as_of=c1).count() == 2
    assert pool.df(as_of=c2).count() == 3
    assert pool.df(as_of=c3).count() == 5
    # offsets visible at c2 stop at 2
    assert pool.df(as_of=c2).agg(F.max("kafka.offset")).first()[0] == 2
    with pytest.raises(PoolError, match="no commits at or before"):
        pool.df(as_of="0000000000000-deadbeef")


def test_writer_lock_reentrant_and_times_out(spark, tmp_path):
    from zinger_spark.sources.pool import Pool, PoolError

    pool = Pool.create(spark, str(tmp_path / "lk"))
    with pool.writer_lock():
        with pool.writer_lock():  # reentrant: no self-deadlock
            pass
        other = Pool(spark, pool.path)
        with pytest.raises(PoolError, match="writer-lock timeout"):
            with other.writer_lock(timeout=0.3):
                pass
    # released on exit: a fresh handle can take it
    with Pool(spark, pool.path).writer_lock(timeout=1.0):
        pass


def test_writer_lock_breaks_stale_lock(spark, tmp_path):
    import os
    import time as _time

    from zinger_spark.sources.pool import Pool

    pool = Pool.create(spark, str(tmp_path / "stale"))
    lock = pool._file_lock_path()
    with open(lock, "w") as f:
        f.write("{}")
    old = _time.time() - 3600
    os.utime(lock, (old, old))
    with pool.writer_lock(timeout=1.0, stale=60.0):  # breaks the dead lock
        pass


def test_stale_lock_break_does_not_steal_fresh_lock(spark, tmp_path):
    """TOCTOU guard (ADVICE r5): waiter B judged the old lock stale,
    but between its stat and its break a racing waiter A already broke
    it and created a FRESH lock.  B's break must leave A's lock alone
    (inode identity check after the rename-aside), not delete it and
    reopen the two-holders race."""
    import os
    import time as _time

    from zinger_spark.sources.pool import Pool

    pool = Pool.create(spark, str(tmp_path / "toctou"))
    lock = pool._file_lock_path()
    with open(lock, "w") as f:
        f.write("{}")
    old = _time.time() - 3600
    os.utime(lock, (old, old))
    judged = os.stat(lock)  # B's stale verdict on the OLD lock
    # racer A breaks it and takes the lock (fresh file, new inode)
    os.remove(lock)
    with open(lock, "w") as f:
        f.write('{"pid": 1}')
    fresh = os.stat(lock)
    # identity = (inode, mtime_ns): ext4 recycles the inode for the
    # next create, so mtime is what distinguishes fresh from stale
    assert (fresh.st_ino, fresh.st_mtime_ns) != (judged.st_ino, judged.st_mtime_ns)
    # B acts on its stale verdict through the storage seam
    assert pool._fs.take_aside(lock, (judged.st_ino, judged.st_mtime_ns)) is False
    # A's fresh lock survived, byte-identical
    assert os.stat(lock).st_mtime_ns == fresh.st_mtime_ns
    assert open(lock).read() == '{"pid": 1}'
    # and when the verdict IS still accurate, the break removes it
    os.utime(lock, (old, old))
    st = os.stat(lock)
    assert pool._fs.take_aside(lock, (st.st_ino, st.st_mtime_ns)) is True
    assert not os.path.exists(lock)


def test_cli_compact_and_vacuum_pool(spark, tmp_path, capsys, monkeypatch):
    from zinger_spark import cli as climod
    from zinger_spark.sources.pool import Pool

    pool = Pool.create(spark, str(tmp_path / "P"))
    df = spark.range(3).selectExpr(
        "named_struct('topic', 'T', 'partition', 0L, 'offset', id) AS kafka",
        "'data' AS _type",
    ).coalesce(1)
    for _ in range(3):
        pool.load_batch(df)
    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    rc = climod.main(["compact-pool", "P", "--lake", str(tmp_path)])
    assert rc == 0
    assert "compacted 3 files" in capsys.readouterr().out
    assert pool.df().count() == 9  # rows preserved across the swap
    rc = climod.main(
        ["vacuum-pool", "P", "--lake", str(tmp_path), "--grace-seconds", "0"]
    )
    assert rc == 0
    assert "removed 3 files" in capsys.readouterr().out
    assert pool.df().count() == 9


def _file_size(pool, commit_id):
    """Logged byte size of a one-file commit's file."""
    (f,) = [
        f for p, f in pool._log.snapshot()["files"].items()
        if f"commit-{commit_id}" in p
    ]
    return f["size"]


def test_size_tiered_compact_merges_only_small_commits(spark, tmp_path):
    """compact(small_bytes): files smaller than the threshold (sizes
    from the log) merge into one, big files stay untouched (never
    rewritten), data and offsets are preserved, and the merged-away
    files are logged as removed for vacuum."""
    pool = Pool.create(spark, str(tmp_path / "p"))
    # one big commit (500 rows) and three tiny ones (1 row each)
    big_id = pool.load_batch(
        spark.createDataFrame(env_rows("T", list(range(500))), _schema()).coalesce(1)
    )
    for o in (500, 501, 502):
        pool.load_batch(spark.createDataFrame(env_rows("T", [o]), _schema()).coalesce(1))
    before = set(pool._log.snapshot()["files"])
    assert len(before) == 4
    (big,) = [p for p in before if f"commit-{big_id}" in p]
    big_size = _file_size(pool, big_id)

    merged = pool.compact(small_bytes=big_size)  # tiny < big's size
    assert merged == 3
    snap = pool._log.snapshot()
    assert big in snap["files"] and len(snap["files"]) == 2  # big + merged
    assert pool.df().count() == 503
    assert pool.next_producer_offsets() == {"T": 503}
    assert before - {big} <= set(snap["removed_ts"])
    # another pass at the same tier: nothing left worth merging
    assert pool.compact(small_bytes=big_size) == 0
    # vacuum reclaims the merged-away files after grace
    assert pool.vacuum(grace_seconds=0.0) == 3


def test_as_of_below_compaction_floor_errors_loudly(spark, tmp_path):
    """Size-tiered compaction merges small commits into a NEWER one, so
    time travel below the merged output would silently miss rows —
    df(as_of=...) must refuse instead (review finding r7)."""
    pool = Pool.create(spark, str(tmp_path / "p"))
    a = pool.load_batch(
        spark.createDataFrame(env_rows("T", list(range(300))), _schema()).coalesce(1)
    )
    b = pool.load_batch(spark.createDataFrame(env_rows("T", [300]), _schema()).coalesce(1))
    c = pool.load_batch(spark.createDataFrame(env_rows("T", [301]), _schema()).coalesce(1))
    assert pool.df(as_of=a).count() == 300  # pre-compact travel works
    # merge the two small commits (b, c); big commit a stays
    assert pool.compact(small_bytes=_file_size(pool, a)) == 2
    with pytest.raises(PoolError, match="predates compaction"):
        pool.df(as_of=a)
    with pytest.raises(PoolError, match="predates compaction"):
        pool.df(as_of=b)
    assert pool.df().count() == 302  # the full view is intact


def test_compact_sort_by_clusters_files(spark, tmp_path):
    """compact(sort_by=...) range-clusters the merged commit: per-file
    min/max on the cluster column are disjoint, so a later filter on it
    skips whole files via parquet footer stats (the ZORDER analog)."""
    import pyarrow.parquet as _pq

    pool = Pool.create(spark, str(tmp_path / "z"))
    # three commits with interleaved value.a so ingest order is
    # maximally anti-clustered for the a column
    for batch in ([0, 3, 6, 9], [1, 4, 7, 10], [2, 5, 8, 11]):
        pool.load_batch(spark.createDataFrame(env_rows("T", batch), _schema()).coalesce(1))
    before = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    # tiny target so the 12-row pool still spreads over several
    # files (default 128 MiB target would rightly coalesce to one)
    assert pool.compact(sort_by=["value.a"], target_file_bytes=4096) == 3

    after = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    assert after == before  # clustering reorders, never drops

    ranges = []
    for f in _live_files(pool):
        md = _pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == "value.a" and col.statistics:
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2, "need multiple data files to prove clustering"
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_compact_sort_by_cli(spark, tmp_path):
    from zinger_spark.cli import main as cli_main

    pool = Pool.create(spark, str(tmp_path / "k"))
    for batch in ([0, 2], [1, 3]):
        pool.load_batch(spark.createDataFrame(env_rows("T", batch), _schema()))
    rc = cli_main(
        ["compact-pool", "k", "--lake", str(tmp_path), "--sort-by", "value.a"]
    )
    assert rc == 0
    assert len(_live_files(pool)) == 1
