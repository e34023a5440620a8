"""Object-storage portability of the pool's metadata protocol.

MemoryObjectStorage implements the storage seam with OBJECT-STORE
semantics (flat keys, per-key atomic PUT with generations, conditional
put/delete, prefix LIST) and none of posix's (no directories, no
rename-in-place, no inodes, no O_EXCL).  These tests prove the Pool's
writer lock and sidecars work against that model (the log protocol's
own object-store test is test_pool_txlog's
``test_txlog_protocol_on_object_storage_fake``) —
i.e. the reference's single-writer commit-atomicity contract
(fifo/lake.go:58-60, etl/pool.go:56-58) holds on S3/GCS-style storage,
not just on a posix mount.  No Spark session needed: data IO is
Spark's own concern; this seam carries only metadata.
"""

from __future__ import annotations

import threading
import time

import pytest

from zinger_spark.sources.pool import Pool, PoolError
from zinger_spark.sources.storage import MemoryObjectStorage

POOL = "mem://bucket/pool"


def _make_pool(fs, path=POOL):
    return Pool.create(None, path, storage=fs)


def test_fake_store_has_no_posix_semantics():
    """Guard: the double really is an object store, not a dict-backed
    posix clone — directories don't exist until a key does, and
    identity is (generation, etag), not inodes."""
    fs = MemoryObjectStorage()
    fs.makedirs(f"{POOL}/commit-x")        # no-op
    assert not fs.isdir(f"{POOL}/commit-x")
    fs.write_json_atomic(f"{POOL}/commit-x/part-0.json", {})
    assert fs.isdir(f"{POOL}/commit-x")
    assert fs.listdir(POOL) == ["commit-x"]
    # overwriting a key bumps the generation (versioned PUT)
    (id1, _) = fs.identity(f"{POOL}/commit-x/part-0.json")
    fs.write_json_atomic(f"{POOL}/commit-x/part-0.json", {"v": 2})
    (id2, _) = fs.identity(f"{POOL}/commit-x/part-0.json")
    assert id1 != id2


def test_conditional_put_single_winner():
    """The raw primitive: N racing conditional PUTs, exactly one wins."""
    fs = MemoryObjectStorage()
    wins = []
    barrier = threading.Barrier(16)

    def race(i):
        barrier.wait()
        if fs.create_exclusive(f"{POOL}/_writer.lock", str(i).encode()):
            wins.append(i)

    threads = [threading.Thread(target=race, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1


def test_writer_lock_mutual_exclusion_across_instances():
    """8 Pool instances (one per simulated process) hammer writer_lock
    against one shared object store; a non-atomic critical section
    detects any double-holder."""
    fs = MemoryObjectStorage()
    _make_pool(fs)
    state = {"holders": 0, "entries": 0}
    failures = []

    def worker():
        pool = Pool(None, POOL, storage=fs)
        for _ in range(25):
            with pool.writer_lock(timeout=30.0):
                state["holders"] += 1
                if state["holders"] != 1:
                    failures.append("two concurrent writer_lock holders")
                time.sleep(0.0005)
                state["entries"] += 1
                state["holders"] -= 1

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not failures
    assert state["entries"] == 8 * 25
    # released: the lock object is gone and a fresh acquire succeeds
    assert fs.identity(f"{POOL}/_writer.lock") is None


def test_stale_lock_break_via_conditional_delete():
    """A crashed holder's lock is broken by age through take_aside —
    the object-store path is ONE conditional delete, no rename-aside."""
    fs = MemoryObjectStorage()
    pool = _make_pool(fs)
    assert fs.create_exclusive(f"{POOL}/_writer.lock", b"crashed")
    time.sleep(0.25)
    with pool.writer_lock(timeout=5.0, stale=0.2):
        pass  # acquired despite the dead holder


def test_take_aside_refuses_fresh_lock():
    """Conditional delete on generation: if the stale lock was replaced
    by a FRESH one between judgment and delete, the break must no-op."""
    fs = MemoryObjectStorage()
    path = f"{POOL}/_writer.lock"
    assert fs.create_exclusive(path, b"old")
    stale_identity, _ = fs.identity(path)
    # holder releases and a new writer acquires: same key, new generation
    fs.remove(path)
    assert fs.create_exclusive(path, b"fresh")
    assert fs.take_aside(path, stale_identity) is False
    assert fs.identity(path) is not None  # fresh lock survived


def test_lock_timeout_against_live_holder():
    fs = MemoryObjectStorage()
    pool_a = _make_pool(fs)
    pool_b = Pool(None, POOL, storage=fs)
    with pool_a.writer_lock(timeout=5.0):
        with pytest.raises(PoolError, match="writer-lock timeout"):
            with pool_b.writer_lock(timeout=0.3):
                pass


def test_sidecars_on_object_store():
    fs = MemoryObjectStorage()
    pool = _make_pool(fs)
    assert pool.read_sidecar("_cursor.json") is None
    pool.write_sidecar("_cursor.json", {"T": 7})
    assert pool.read_sidecar("_cursor.json") == {"T": 7}
    pool.write_sidecar("_cursor.json", {"T": 9})
    assert pool.read_sidecar("_cursor.json") == {"T": 9}
