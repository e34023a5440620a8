"""Pool layer tests for the commits format: atomic commits, schema
merge, offsets, the manifest as the one record of live commits,
compaction, vacuum, and refusal of the layouts the pool no longer
reads (the txlog format is covered in test_pool_txlog.py)."""

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
    """Every read of a commits pool — full, as-of subset, topic-scoped
    and after compaction — is ONE FileScan over the live commit dirs,
    regardless of commit count, and vacuum reclaims the merged-away
    commits."""
    pool = Pool.create(spark, str(tmp_path / "ssp"))
    mid = None
    for i in range(6):
        cid = pool.load_batch(
            spark.createDataFrame(
                env_rows("A", [2 * i]) + env_rows("B", [2 * i + 1]), _schema()
            )
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


def test_missing_manifest_refused(spark, tmp_path):
    """A commits pool without _manifest.json is refused on open: the
    manifest is the only record of which commit dirs are live, so
    listing the dirs instead could publish crashed or merged-away
    commits."""
    import os

    pool = Pool.create(spark, str(tmp_path / "nm"))
    pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()))
    os.remove(os.path.join(pool.path, "_manifest.json"))
    with pytest.raises(PoolError, match="_manifest.json"):
        Pool(spark, pool.path)
    # a handle opened before the manifest vanished refuses too
    with pytest.raises(PoolError, match="_manifest.json"):
        pool.df()
    with pytest.raises(PoolError, match="_manifest.json"):
        pool.is_empty()


def test_read_batch_ordered(spark, tmp_path):
    pool = Pool.create(spark, str(tmp_path / "rb"))
    pool.load_batch(spark.createDataFrame(env_rows("T", [5, 3, 9, 7, 1]), _schema()))
    out = [r["kafka"]["offset"] for r in pool.read_batch("T", 3, 3).collect()]
    assert out == [3, 5, 7]


def test_compact_preserves_contents(spark, tmp_path):
    pool = Pool.create(spark, str(tmp_path / "c"))
    for batch in ([0, 1], [2], [3, 4]):
        pool.load_batch(spark.createDataFrame(env_rows("T", batch), _schema()))
    before = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    assert pool.compact() == 3
    import os
    # manifest points at the single merged commit; the pre-compact dirs
    # stay on disk (readers-safe swap) until vacuum's grace lapses
    assert len(pool._commit_dirs()) == 1
    on_disk = [d for d in os.listdir(pool.path) if d.startswith("commit-")]
    assert len(on_disk) == 4
    after = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    assert after == before == [0, 1, 2, 3, 4]
    assert pool.next_consumer_offset("T") == 5
    # within grace: nothing reclaimed — even when the commit DIRS are
    # old, because grace runs from ORPHANING time (manifest swap), not
    # the write mtime (backdate the dirs to prove it)
    import time as _time

    for d in on_disk:
        full = f"{pool.path}/{d}"
        _time_ago = _time.time() - 7200
        os.utime(full, (_time_ago, _time_ago))
    assert pool.vacuum(grace_seconds=3600) == 0
    assert pool.vacuum(grace_seconds=0) == 3
    on_disk = [d for d in os.listdir(pool.path) if d.startswith("commit-")]
    assert len(on_disk) == 1
    assert sorted(r["kafka"]["offset"] for r in pool.df().collect()) == before
    # post-compact appends keep flowing through the manifest
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
    with pytest.raises(PoolError):
        pool.df(as_of="0000000000000-deadbeef")


def test_vacuum_reclaims_tmp_dirs(spark, tmp_path):
    """'.tmp-*' leftovers from a write that crashed between the Spark
    write and os.rename are never manifest-referenced; vacuum reclaims
    them on the mtime clock alongside orphaned commits."""
    import os

    pool = Pool.create(spark, str(tmp_path / "vt"))
    pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()))
    junk = os.path.join(pool.path, ".tmp-crashed-write")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-0.parquet"), "wb") as f:
        f.write(b"partial")
    assert pool.vacuum(grace_seconds=3600) == 0  # inside grace: protected
    assert os.path.isdir(junk)
    # tmp dirs share the unpublished floor: an in-flight writer's tmp
    # must survive an aggressive orphan grace
    assert pool.vacuum(grace_seconds=0) == 0
    assert os.path.isdir(junk)
    assert pool.vacuum(grace_seconds=0, unpublished_grace_seconds=0) == 1
    assert not os.path.exists(junk)
    assert pool.df().count() == 2  # live commit untouched


def test_writer_lock_prevents_manifest_lost_update(spark, tmp_path):
    """Two writers appending commits concurrently must both land in the
    manifest: without the writer lock the read-modify-write interleaves
    and one commit silently vanishes from the live list."""
    import threading

    from zinger_spark.sources.pool import Pool

    pool = Pool.create(spark, str(tmp_path / "race"))
    df = spark.range(3).selectExpr(
        "named_struct('topic', 'T', 'partition', 0L, 'offset', id) AS kafka",
        "'data' AS _type",
    )
    errs = []

    def writer():
        try:
            # separate Pool handle per writer: contend on the FILE lock,
            # as two driver processes would
            own = Pool(spark, pool.path)
            for _ in range(4):
                own.load_batch(df)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    manifest = pool._read_manifest()
    assert len(manifest["commits"]) == 8
    assert pool.df().count() == 8 * 3


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
    )
    for _ in range(3):
        pool.load_batch(df)
    monkeypatch.setattr(climod, "_spark", lambda a: spark)
    rc = climod.main(["compact-pool", "P", "--lake", str(tmp_path)])
    assert rc == 0
    assert "compacted 3 commits" in capsys.readouterr().out
    assert pool.df().count() == 9  # rows preserved across the swap
    rc = climod.main(
        ["vacuum-pool", "P", "--lake", str(tmp_path), "--grace-seconds", "0"]
    )
    assert rc == 0
    assert "removed 3 dirs" in capsys.readouterr().out
    assert pool.df().count() == 9


from zinger_spark.sources.storage import PosixStorage


class _ObjectStoreLikePosix(PosixStorage):
    """Posix IO with an object store's cost model declared — exercises
    the rename-free direct-commit path with real Spark parquet IO."""

    rename_is_copy = True


def test_direct_commit_skips_rename(spark, tmp_path, monkeypatch):
    """rename_is_copy backends write flat-pool data straight to the
    final commit prefix: no .tmp- dir is ever created, rename() is
    never called, and the commit is invisible until the manifest
    append publishes it."""
    fs = _ObjectStoreLikePosix()

    def no_rename(src, dst):
        raise AssertionError(f"rename called on rename_is_copy backend: {src}")

    monkeypatch.setattr(fs, "rename", no_rename)
    pool = Pool.create(spark, str(tmp_path / "p"), storage=fs)
    cid = pool.load_batch(spark.createDataFrame(env_rows("T", [0, 1]), _schema()))
    assert pool.df().count() == 2
    names = set(fs.listdir(str(tmp_path / "p")))
    assert f"commit-{cid}" in names
    assert not any(n.startswith(".tmp-") for n in names)


def test_direct_commit_unpublished_invisible_and_vacuumed(spark, tmp_path):
    """A crash between the direct write and the manifest append leaves
    an unpublished commit dir: readers never see it (manifest is the
    truth) and vacuum reclaims it on the mtime clock."""
    fs = _ObjectStoreLikePosix()
    pool = Pool.create(spark, str(tmp_path / "p"), storage=fs)
    pool.load_batch(spark.createDataFrame(env_rows("T", [0]), _schema()))

    # simulate the crashed writer: data at its final prefix, no publish
    orphan = str(tmp_path / "p" / "commit-9999999999999-deadbeef")
    spark.createDataFrame(env_rows("T", [7]), _schema()).write.parquet(orphan)
    assert pool.df().count() == 1  # unpublished commit invisible
    assert pool.next_producer_offsets() == {"T": 1}

    # default grace refuses to touch it: an unpublished dir is
    # indistinguishable from an IN-FLIGHT direct commit
    assert pool.vacuum(grace_seconds=0.0) == 0
    assert fs.isdir(orphan)
    # explicit writer-quiescent override reclaims it
    assert pool.vacuum(grace_seconds=0.0, unpublished_grace_seconds=0.0) == 1
    assert not fs.isdir(orphan)
    assert pool.df().count() == 1


def test_size_tiered_compact_merges_only_small_commits(spark, tmp_path):
    """compact(small_bytes): small commits merge into one, big commits
    stay untouched (never rewritten), data and offsets are preserved,
    and the merged-away names move to the orphan record for vacuum."""
    pool = Pool.create(spark, str(tmp_path / "p"))
    # one big commit (500 rows) and three tiny ones (1 row each)
    pool.load_batch(
        spark.createDataFrame(env_rows("T", list(range(500))), _schema())
    )
    for o in (500, 501, 502):
        pool.load_batch(spark.createDataFrame(env_rows("T", [o]), _schema()))
    before = pool._commit_names()
    assert len(before) == 4
    big = before[0]
    big_size = pool._commit_size(big)

    merged = pool.compact(small_bytes=big_size)  # tiny < big's size
    assert merged == 3
    after = pool._commit_names()
    assert big in after and len(after) == 2  # big + merged survivor
    assert pool.df().count() == 503
    assert pool.next_producer_offsets() == {"T": 503}
    orphans = pool._read_manifest()["orphaned"]
    assert set(before[1:]) <= set(orphans)
    # another pass at the same tier: nothing left worth merging
    assert pool.compact(small_bytes=big_size) == 0
    # vacuum reclaims the merged-away dirs after grace
    assert pool.vacuum(grace_seconds=0.0) == 3


def test_as_of_below_compaction_floor_errors_loudly(spark, tmp_path):
    """Size-tiered compaction merges small commits into a NEWER one, so
    time travel below the merged output would silently miss rows —
    df(as_of=...) must refuse instead (review finding r7)."""
    pool = Pool.create(spark, str(tmp_path / "p"))
    a = pool.load_batch(
        spark.createDataFrame(env_rows("T", list(range(300))), _schema())
    )
    b = pool.load_batch(spark.createDataFrame(env_rows("T", [300]), _schema()))
    c = pool.load_batch(spark.createDataFrame(env_rows("T", [301]), _schema()))
    assert pool.df(as_of=a).count() == 300  # pre-compact travel works
    # merge the two small commits (b, c); big commit a stays
    assert pool.compact(small_bytes=pool._commit_size(f"commit-{a}")) == 2
    with pytest.raises(PoolError, match="predates compaction"):
        pool.df(as_of=a)
    with pytest.raises(PoolError, match="predates compaction"):
        pool.df(as_of=b)
    assert pool.df().count() == 302  # the full view is intact


def test_compact_sort_by_clusters_files(spark, tmp_path):
    """compact(sort_by=...) range-clusters the merged commit: per-file
    min/max on the cluster column are disjoint, so a later filter on it
    skips whole files via parquet footer stats (the ZORDER analog)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    pool = Pool.create(spark, str(tmp_path / "z"))
    # three commits with interleaved value.a so ingest order is
    # maximally anti-clustered for the a column
    for batch in ([0, 3, 6, 9], [1, 4, 7, 10], [2, 5, 8, 11]):
        pool.load_batch(spark.createDataFrame(env_rows("T", batch), _schema()))
    before = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    # tiny target so the 12-row pool still spreads over several
    # files (default 128 MiB target would rightly coalesce to one)
    assert pool.compact(sort_by=["value.a"], target_file_bytes=4096) == 3

    after = sorted(r["kafka"]["offset"] for r in pool.df().collect())
    assert after == before  # clustering reorders, never drops

    commit = pool._commit_dirs()[0]
    files = sorted(_glob.glob(f"{commit}/*.parquet"))
    ranges = []
    for f in files:
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
    assert len(pool._commit_dirs()) == 1


def _assert_schema_parity(spark, pool):
    """The recorded table schema, and what ``df()`` reads with, equal
    what a ``mergeSchema`` footer pass infers over the live commits."""
    live = [os.path.join(pool.path, c) for c in pool._commit_names()]
    inferred = spark.read.option("mergeSchema", "true").parquet(*live).schema
    assert pool._table_schema(pool._read_manifest()) == inferred
    assert pool.df().schema == inferred


def test_recorded_schema_matches_merge_schema(
    spark, tmp_path, evolving_batches, jobs_started
):
    """The manifest records the fused table schema at every commit, so
    reads plan with no schema-inference job.  Over evolving nested
    values the record equals what mergeSchema infers over the live
    commits after each load_batch, after a dropped commit (the schema
    from before it comes back), on a manifest written before the record
    existed (backfilled once) and after compaction."""
    path = str(tmp_path / "evo")
    pool = Pool.create(spark, path)
    cids = []
    for batch in evolving_batches:
        cids.append(pool.load_batch(batch))
        _assert_schema_parity(spark, pool)
    value = pool.df().schema["value"].dataType
    assert value.fieldNames() == ["a", "b", "c", "d", "e"]
    assert value["d"].dataType.fieldNames() == ["x", "y"]

    # a commit that widens the schema, then is taken back
    wide = T.StructType.fromDDL(
        "kafka struct<topic:string,partition:bigint,offset:bigint>, "
        "key string, value struct<a:bigint,z:string>, _type string"
    )
    cid = pool.load_batch(spark.createDataFrame([(("T", 0, 5), None, (5, "w"), "data")], wide))
    _assert_schema_parity(spark, pool)
    assert "z" in pool.df().schema["value"].dataType.fieldNames()
    pool.drop_commit(cid)
    _assert_schema_parity(spark, pool)
    assert "z" not in pool.df().schema["value"].dataType.fieldNames()

    # time travel reads with the schema recorded as of its commit
    first_two = [os.path.join(path, c) for c in pool._commit_names()[:2]]
    assert (
        pool.df(as_of=cids[1]).schema
        == spark.read.option("mergeSchema", "true").parquet(*first_two).schema
    )

    # planning a read starts no Spark job
    def plan_reads():
        pool.df().schema
        pool.df(topic="T").schema
        pool.df(as_of=cids[2]).schema
        pool.read_batch("T", 1, 10).schema

    assert jobs_started(plan_reads) == 0

    # a manifest without the record: the first read backfills it once
    manifest = os.path.join(path, "_manifest.json")
    with open(manifest) as f:
        m = json.load(f)
    del m["schemas"]
    with open(manifest, "w") as f:
        json.dump(m, f)
    reopened = Pool(spark, path)
    assert jobs_started(lambda: reopened.df().schema) >= 1
    with open(manifest) as f:
        assert "schemas" in json.load(f)
    _assert_schema_parity(spark, reopened)
    assert jobs_started(lambda: reopened.df().schema) == 0

    assert reopened.compact() == len(evolving_batches)
    _assert_schema_parity(spark, reopened)
    assert reopened.df().count() == 7
