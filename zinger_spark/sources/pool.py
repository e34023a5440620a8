"""Pool: the Zed-lake data pool re-expressed as an ordered parquet table.

Reference semantics (/root/reference):
  - a pool is an append-only table whose pool key is ``kafka.offset``
    ascending; opening any other keying is refused (fifo/lake.go:31-46,
    etl/pool.go:32-46)
  - append is an atomic commit (fifo/lake.go:58-60)
  - data records and marker records (done/cursor) share the pool
    (etl/pipeline.go:29, design.md:117-128)

Spark mapping: parquet files under ``data/commit-<id>/``, published by
a per-file transaction log in the Delta wire format (sources/txlog.py).
A commit is one atomic log append of per-file ADD actions carrying
min/max stats for ``kafka.topic``, ``kafka.partition`` and
``kafka.offset``; no data byte is renamed.  The log is the only record
of table state: which files are live, the commit history, the as-of
floor raised by compaction, and the table schema.  Topic and offset
restrictions prune files driver-side from the recorded stats, and the
offset bookkeeping answers from them when every file is
single-valued.

Commits carrying different (fused-compatible) value schemas coexist,
mirroring Zed's per-record typing.  The table schema — the fused union
of every live commit's schema, as a ``mergeSchema`` footer pass would
infer it — is the log's ``metaData.schemaString``, fused in by the same
append that publishes a commit.  Readers hand it to Spark, so a read
plans without a schema-inference job.  Only this module decides where
data files live: file-source streams over a pool take their glob from
``Pool.data_glob``.

Two older layouts are refused with ``PoolError`` on open rather than
read as empty: hive-partitioned ``_topic=T/commit-N`` dirs
(``"partitioned": true`` in ``_pool.json``) and the commit-dir format
(flat ``commit-<id>/`` dirs published by a JSON manifest).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..operators.relational import ordered_batch as _ordered_batch
from .storage import PosixStorage
from .txlog import (
    TxLog,
    collect_file_stats,
    fresh_commit_id,
    list_parquet_files,
    prune_files,
)

POOL_KEY = "kafka.offset"
_META = "_pool.json"
_FORMAT = "txlog"


class PoolError(Exception):
    pass


class Pool:
    """An ordered pool: parquet files under ``path`` published by the
    transaction log in ``path/_delta_log``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        expected_key: str = POOL_KEY,
        storage=None,
    ):
        self.spark = spark
        self.path = path
        # ALL metadata/layout IO goes through the storage backend
        # (storage.PosixStorage by default) — an object-storage pool
        # swaps this object, never Pool logic.  Spark handles the data
        # files itself.
        self._fs = storage or PosixStorage()
        meta = self._fs.read_json(os.path.join(path, _META))
        if meta is None:
            raise PoolError(f"{path}: not a pool (missing {_META})")
        # Pool-key validation, as in fifo/lake.go:36-39: refuse pools
        # whose key differs from the expected one (kafka.offset asc for
        # zync pools; seqno asc for the design.md txn-bundle pools).
        if meta.get("key") != expected_key or meta.get("order", "asc") != "asc":
            raise PoolError(
                f"pool {path} does not have {expected_key} asc pool key"
            )
        if meta.get("partitioned"):
            raise PoolError(
                f"pool {path} uses the hive-partitioned _topic= layout, "
                "which is no longer supported; create a new pool (per-file "
                "stats prune topics) and reload its data"
            )
        if meta.get("format") != _FORMAT:
            raise PoolError(
                f"pool {path} uses the commit-dir (_manifest.json) format, "
                "which is no longer supported; create a new pool and reload "
                "its data"
            )
        self.meta = meta
        self.lock_timeout = self.DEFAULT_LOCK_TIMEOUT
        self._local_lock = threading.RLock()
        self._lock_depth = 0
        self._log = TxLog(self._fs, path)

    # -- lifecycle ----------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        key: str = POOL_KEY,
        order: str = "asc",
        storage=None,
    ) -> "Pool":
        """Create an empty pool at ``path`` and open it.  Its log is
        written by the first commit."""
        if order != "asc":
            raise PoolError(f"pool order must be asc (got {order})")
        fs = storage or PosixStorage()
        fs.makedirs(path)
        fs.write_json_atomic(
            os.path.join(path, _META),
            {"key": key, "order": order, "format": _FORMAT},
        )
        return Pool(spark, path, expected_key=key, storage=storage)

    # -- read ---------------------------------------------------------------

    def _commit_names(self) -> list[str]:
        """Commit names in the log's history, sorted (= commit order:
        ms-prefixed ids).  Retracted commits leave it; compaction adds
        its merged commit and keeps the merged-away ones."""
        return sorted(self._log.snapshot()["commits"])

    def data_glob(self) -> str:
        """Glob naming the dirs that hold the pool's data files, for
        file-source streams that must see every new commit
        (``to_kafka.continuous_sink``, ``EtlPipeline.run_stream``).
        The glob sees files as they land, which can be just BEFORE the
        log append publishes them; readers of the pool itself go
        through ``df``."""
        return os.path.join(self.path, "data", "commit-*")

    def is_empty(self) -> bool:
        return not self._log.snapshot()["files"]

    # -- writer lock --------------------------------------------------------

    #: Default writer-lock acquire timeout.  Generous on purpose: an
    #: ETL run or compact() legitimately HOLDS the lock across a whole
    #: Spark job (minutes at scale), and a contending writer — e.g. a
    #: streaming ingest foreachBatch — must wait out a healthy holder,
    #: not error after 2 minutes with its data files already written.
    #: Override per-pool (``pool.lock_timeout = ...``) or per-call.
    DEFAULT_LOCK_TIMEOUT = 1800.0

    @contextlib.contextmanager
    def writer_lock(self, timeout: float | None = None, stale: float | None = None):
        """Serialize pool writers across threads AND processes.

        The reference inherits single-commit atomicity from the Zed lake
        service (fifo/lake.go:58-60); a filesystem pool has no service,
        so writers contend on an O_CREAT|O_EXCL lock file — exactly one
        creator wins, everyone else polls until ``timeout`` (default
        ``self.lock_timeout``, class default DEFAULT_LOCK_TIMEOUT).
        Reentrant within a Pool instance (RLock + depth counter), so
        ``load_batch`` inside an already-locked ETL run does not
        self-deadlock.

        ``stale`` (seconds) optionally breaks a lock whose mtime is that
        old — for operators recovering from a crashed writer.  Default
        None: never break a lock automatically, because a long Spark job
        legitimately holds it for minutes and breaking it would re-open
        the duplicate-commit race this exists to close.

        An object-storage backend overrides this with its native
        conditional-put (S3 If-None-Match, GCS if-generation-match).
        """
        if timeout is None:
            timeout = self.lock_timeout
        if not self._local_lock.acquire(timeout=timeout):
            raise PoolError(f"pool {self.path}: writer-lock timeout ({timeout}s)")
        try:
            if self._lock_depth == 0:
                self._acquire_file_lock(timeout, stale)
            self._lock_depth += 1
            try:
                yield
            finally:
                self._lock_depth -= 1
                if self._lock_depth == 0:
                    self._release_file_lock()
        finally:
            self._local_lock.release()

    def _file_lock_path(self) -> str:
        return os.path.join(self.path, "_writer.lock")

    def _acquire_file_lock(self, timeout: float, stale: float | None) -> None:
        """Poll the exclusive-create primitive until it wins or times
        out.  Stale-break goes through ``storage.take_aside`` — an
        identity-checked atomic takeover, NOT remove-by-path: two
        waiters judging the same lock stale must not end with one of
        them deleting the other's FRESH lock (the TOCTOU that would
        reopen the two-concurrent-holders race).  The posix backend
        implements it as rename-aside + (inode, mtime_ns) verify with a
        documented residual double-race window; object-storage backends
        do it exactly with a conditional DELETE on generation/ETag.
        fcntl is deliberately not used (NFS/overlay mounts break it)."""
        deadline = time.time() + timeout
        payload = json.dumps({"pid": os.getpid(), "ts": time.time()}).encode()
        while True:
            if self._fs.create_exclusive(self._file_lock_path(), payload):
                return
            ident = self._fs.identity(self._file_lock_path())
            if ident is None:
                continue  # holder released between create and stat: retry
            identity, mtime = ident
            if stale is not None and time.time() - mtime > stale:
                self._fs.take_aside(self._file_lock_path(), identity)
                continue
            if time.time() > deadline:
                raise PoolError(
                    f"pool {self.path}: writer-lock timeout ({timeout}s); "
                    f"remove {self._file_lock_path()} if the holder crashed"
                )
            time.sleep(0.05)

    def _release_file_lock(self) -> None:
        try:
            self._fs.remove(self._file_lock_path())
        except FileNotFoundError:
            pass

    # -- sidecars -----------------------------------------------------------

    def read_sidecar(self, name: str) -> dict | None:
        """Small JSON sidecar stored next to the commits (ETL cursors
        etc.).  ALL sidecar IO goes through this pair so an
        object-storage Pool backend only overrides two methods — the
        planner never touches ``pool.path`` with raw file IO."""
        return self._fs.read_json(os.path.join(self.path, name))

    def write_sidecar(self, name: str, obj: dict) -> None:
        """Atomic swap (tmp + rename on posix, one PUT on object stores)."""
        self._fs.write_json_atomic(os.path.join(self.path, name), obj)

    def df(
        self,
        topic: str | None = None,
        as_of: str | None = None,
        offset_lo: int | None = None,
    ) -> DataFrame:
        """The whole pool as a DataFrame with the recorded table schema
        (the fused union across commits), read as ONE parquet scan over
        the live files; planning it starts no Spark job.

        ``topic`` restricts to one topic's records and ``offset_lo`` to
        offsets at or above it: the log is replayed and the files whose
        recorded min/max stats exclude the restriction are pruned
        driver-side, before Spark lists anything.  Pruning is
        conservative (a file without stats is kept) and the logical
        filters are still applied, so it only shrinks IO.

        ``as_of`` is time travel (the Delta ``versionAsOf`` analog):
        pass a commit id previously returned by ``load_batch`` and the
        read sees only commits up to and including it, with the schema
        recorded as of that commit — commit ids are
        millisecond-prefixed, so lexicographic order IS commit order.
        ``compact()`` raises the log's as-of floor to its merged
        output: travel below the floor would silently miss merged-away
        rows, so it raises ``PoolError`` instead (the same way Delta
        VACUUM bounds its time travel, but loud).  So does travel to a
        retracted commit."""
        snap = self._log.snapshot(
            as_of_commit=f"commit-{as_of}" if as_of is not None else None
        )
        if as_of is not None:
            # floor + retractions are raised/recorded by entries AFTER
            # the as-of cut — they must come from the full log, not the
            # truncated replay (else a below-floor or retracted read
            # silently succeeds on not-yet-vacuumed files and later
            # starts failing with raw file-not-found)
            full = self._log.snapshot()
            if f"commit-{as_of}" in full["retracted"]:
                raise PoolError(
                    f"pool {self.path}: commit {as_of} was retracted — "
                    "it is no longer part of pool history"
                )
            floor = full["floor"]
            if floor is not None and f"commit-{as_of}" < floor:
                raise PoolError(
                    f"pool {self.path}: as_of {as_of} predates compaction "
                    f"(floor {floor}) — the merged-away commits are no "
                    "longer individually addressable"
                )
            if not snap["asof_found"]:
                raise PoolError(f"pool {self.path}: no commits at or before {as_of}")
        files = list(snap["files"].values())
        if not files:
            raise PoolError(f"pool {self.path} is empty")
        pruned = prune_files(files, topic=topic, offset_lo=offset_lo)
        schema = self._schema(snap)
        if not pruned:
            # everything pruned: empty frame with the FULL pool schema
            out = self.spark.createDataFrame([], schema)
        else:
            # Every read carries the FULL pool schema from the log: the
            # schema is a union across commits, and a column living
            # only in pruned-away files must not vanish from a
            # resume-from-cursor read.  The explicit schema null-fills
            # missing columns (standard parquet schema evolution), so
            # pruning stays IO-only, as the docstring promises.
            out = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.path, f["path"]) for f in pruned]
            )
        if topic is not None:
            out = out.filter(F.col("kafka.topic") == topic)
        if offset_lo is not None:
            out = out.filter(F.col("kafka.offset") >= offset_lo)
        return out

    def _schema(self, snap: dict) -> T.StructType:
        """The table schema of a log snapshot: its ``metaData.schemaString``
        (Delta semantics — readers take the schema from the log, not
        from footers).  ``TxLog.append`` writes metaData at version 0,
        so a log without one was not written by a Delta writer."""
        if not snap["schema_string"]:
            raise PoolError(
                f"pool {self.path}: the transaction log has no metaData "
                "schemaString, so it is not a valid Delta table"
            )
        return T.StructType.fromJson(json.loads(snap["schema_string"]))

    # -- write --------------------------------------------------------------

    def load_batch(self, df: DataFrame) -> str:
        """Atomic commit (LoadBatch, fifo/lake.go:58-60); returns the
        commit id.  Spark writes the batch, offset-sorted, under
        ``data/commit-<id>/`` (unpublished until logged — a crash
        leaves dark files for vacuum), stats come from the parquet
        footers, and ONE log append of per-file ADD actions makes the
        files live — the Delta protocol, no rename of data bytes.  The
        write itself runs unlocked; only the version-assigning append
        is the critical section."""
        commit_id = fresh_commit_id()
        rel_dir = os.path.join("data", f"commit-{commit_id}")
        df.sortWithinPartitions("kafka.offset").write.mode("overwrite").parquet(
            os.path.join(self.path, rel_dir)
        )
        adds = collect_file_stats(
            self.path, list_parquet_files(self._fs, self.path, rel_dir)
        )
        # zero-row part files (empty task partitions) carry no data and
        # no stats — logging them would only blunt stats-based pruning
        # and the metadata watermark fast path; vacuum's dark-file sweep
        # reclaims the bytes
        adds = [a for a in adds if a["records"] > 0]
        if not adds:
            # A fully-empty batch is "no commit happened": logging a
            # zero-file commit would leave a pool that claims history
            # but raises from df(), and the commit id would be a hollow
            # as_of target.  The dark part files are reclaimed by
            # vacuum's not-in-log sweep, same as a crashed write.  (An
            # empty streaming micro-batch is the normal producer of
            # this case.)
            return commit_id
        with self.writer_lock():
            self._log.append(
                f"commit-{commit_id}", add=adds, schema_json=df.schema.json()
            )
        return commit_id

    def drop_commit(self, commit_id: str) -> None:
        """Retract a just-written commit (used to take back an empty
        ETL batch).  Only safe for the most recent commit written by
        this process — not a general rollback."""
        name = f"commit-{commit_id}"
        with self.writer_lock():
            entries = self._log.entries()
            if not any(e.get("commit") == name for e in entries):
                return
            added = [
                a["path"]
                for e in entries
                if e.get("commit") == name
                for a in e.get("add", [])
            ]
            # the table schema from before the commit: the last
            # schemaString logged ahead of its entry
            prior = None
            for e in entries:
                if e.get("commit") == name:
                    break
                prior = e.get("schema_string") or prior
            # commit=None: a retraction is not a new commit.  The
            # retract marker makes snapshot() drop the commit from pool
            # history entirely — it leaves _commit_names() and is
            # rejected as an as_of target (its files are deleted once
            # vacuum runs, so time travel to it would hand Spark
            # vanished paths).
            self._log.append(None, remove=added, retract=name, schema_json=prior)

    # -- offset bookkeeping (A9-A11) ----------------------------------------

    def _next_offsets(self, cols: list[str], topic: str | None = None) -> dict[tuple, int]:
        """{values of ``cols``: max stored offset + 1} over the pool, or
        over ``topic``'s records.  ``cols`` starts with ``kafka.topic``.

        Answered from the log's per-file stats alone when every live
        file holds one value of each of ``cols`` (always true for
        per-topic, per-partition ingest batches): zero data IO.  Any
        mixed or statless file falls back to one grouped scan
        (partial-agg max, no window) — the stats never change the
        answer, only the IO."""
        out: dict[tuple, int] = {}
        for f in self._log.snapshot()["files"].values():
            st = f.get("stats", {})
            vals, o = [st.get(c) for c in cols], st.get("kafka.offset")
            if not o or any(not v or v[0] != v[1] for v in vals):
                break  # mixed or statless file: the stats can't answer
            key = tuple(v[0] for v in vals)
            if topic is None or key[0] == topic:
                out[key] = max(out.get(key, 0), int(o[1]) + 1)
        else:
            return out
        rows = (
            self.df(topic=topic)
            .groupBy(*[F.col(c) for c in cols])
            .agg(F.max("kafka.offset").alias("mx"))
            .collect()
        )
        return {
            tuple(r[:-1]): int(r["mx"]) + 1
            for r in rows
            if r["mx"] is not None and None not in tuple(r[:-1])
        }

    def next_consumer_offset(self, topic: str) -> int:
        """max stored offset for topic + 1 (fifo/lake.go:62-82)."""
        return max(self._next_offsets(["kafka.topic"], topic).values(), default=0)

    def next_consumer_offsets_by_partition(self, topic: str) -> dict[int, int]:
        """{partition: max stored offset + 1} for a topic — the
        per-partition resume map for multi-partition ingest.

        Beyond-reference: the reference pins partition 0
        (fifo/consumer.go:59-63) because its pool key is the single
        per-topic offset; Kafka's actual ordering contract is PER
        PARTITION, so 100-TB ingest resumes each (topic, partition)
        independently."""
        by_part = self._next_offsets(["kafka.topic", "kafka.partition"], topic)
        return {int(p): n for (_, p), n in by_part.items()}

    def next_producer_offsets(self) -> dict[str, int]:
        """{topic: max offset + 1} over the pool (etl/pool.go:60-81)."""
        return {t: n for (t,), n in self._next_offsets(["kafka.topic"]).items()}

    def read_batch(self, topic: str, offset: int, size: int) -> DataFrame:
        """Ordered batch scan (fifo/lake.go:84-92) over a topic-scoped
        read that prunes the files whose recorded topic stats exclude
        the topic or whose max offset is below the batch start — a
        resume-from-cursor read touches only the tail files, not the
        whole topic history."""
        base = self.df(topic=topic, offset_lo=offset)
        return _ordered_batch(base, topic, offset, size)

    def scans_files(self, topic: str | None = None, offset_lo: int | None = None) -> bool:
        """Whether a ``df(topic=topic, offset_lo=offset_lo)`` read would
        scan any file, from the log alone (no Spark job).  False means
        the read has no rows, on a pool with no commits too (where
        ``df`` raises)."""
        files = list(self._log.snapshot()["files"].values())
        return bool(prune_files(files, topic=topic, offset_lo=offset_lo))

    def version(self) -> int:
        """The log's latest version, -1 before the first entry.  Every
        commit, retraction and compaction moves it; reading it is one
        listing of ``_delta_log/``, with no replay."""
        return max(self._log.versions(), default=-1)

    def compact(
        self,
        small_bytes: int | None = None,
        sort_by: list[str] | None = None,
        zorder: bool = False,
        target_file_bytes: int | None = None,
    ) -> int:
        """Merge live files into one commit (the Delta OPTIMIZE analog).
        Returns the number of files merged: the unit of the log is the
        file.

        Many small commits are the expected write pattern (one per
        micro-batch); reads pay per-file open cost and the driver pays
        log-replay cost.  Compaction rewrites the merged files as one
        sorted commit and publishes its adds and the merged files'
        removes in ONE log append — the old files stay on disk so
        concurrent readers mid-scan never hit vanished parquet files.
        ``vacuum`` reclaims them after a grace window (the Delta log +
        VACUUM pattern).

        ``small_bytes`` is SIZE-TIERED compaction, the 100-TB mode: a
        full rewrite is O(pool) every time, so a steady micro-batch
        ingest would spend most of its IO rewriting already-big files.
        With a threshold, only files smaller than ``small_bytes`` merge
        (sizes from the log's add actions, no filesystem pass) and the
        big ones are left alone — each byte is rewritten
        O(log(pool/batch)) times over its life instead of
        O(compactions).  Every compaction (tiered or full) raises the
        log's as-of floor to its merged output; time travel below the
        floor raises rather than silently returning a view missing
        merged rows.

        ``sort_by`` CLUSTERS the merged output by the given (possibly
        nested) columns: range-repartition + in-partition sort, so each
        output file owns a disjoint value range and its recorded
        min/max make any later filter on those columns skip whole
        files/row-groups (Delta's ZORDER intent, realized with linear
        clustering — one dimension deep is what range partitioning
        gives; for the offset-and-time predicates pools actually
        serve, linear beats interleaved bits).  The default keeps the
        ingest-order offset sort.

        ``zorder=True`` (with two or more numeric ``sort_by`` columns)
        clusters on the Morton-interleaved key instead
        (functions/zorder.with_zorder_key — Delta's OPTIMIZE ZORDER
        BY): per-file min/max ranges narrow on ALL the given columns
        at once, so multi-predicate scans prune multiplicatively where
        the linear sort prunes only its leading column.

        Holds the writer lock for the WHOLE operation: a commit landing
        between the snapshot and the append would otherwise race the
        merge's view of the live files.
        """
        if zorder and len(sort_by or []) < 2:
            raise ValueError(
                "compact(zorder=True) needs >= 2 sort_by columns — "
                "a one-column 'z-order' is just a linear sort; ask for "
                "that explicitly rather than getting it silently"
            )
        with self.writer_lock():
            snap = self._log.snapshot()
            files = list(snap["files"].values())
            if len(files) <= 1:
                return len(files)
            merged = files
            if small_bytes is not None:
                # TxLog.append records every file's size, as the Delta
                # spec requires: size-tiering is pure metadata
                merged = [f for f in files if (f.get("size") or 0) < small_bytes]
                if len(merged) <= 1:
                    return 0  # nothing worth merging at this tier
            snapshot = self.spark.read.schema(self._schema(snap)).parquet(
                *[os.path.join(self.path, f["path"]) for f in merged]
            )
            snapshot = self._cluster_for_write(
                snapshot, sort_by, zorder,
                input_bytes=sum(f.get("size") or 0 for f in merged),
                target_file_bytes=target_file_bytes,
            )
            commit_id = fresh_commit_id()
            rel_dir = os.path.join("data", f"commit-{commit_id}")
            snapshot.write.mode("overwrite").parquet(os.path.join(self.path, rel_dir))
            adds = collect_file_stats(
                self.path, list_parquet_files(self._fs, self.path, rel_dir)
            )
            # same records>0 filter as load_batch: a zero-row part file
            # (empty repartitionByRange partition) logged statless would
            # permanently break the offset-metadata fast path (its loop
            # breaks on any statless file) and never be prunable
            adds = [a for a in adds if a["records"] > 0]
            self._log.append(
                f"commit-{commit_id}",
                add=adds,
                remove=[f["path"] for f in merged],
                floor=f"commit-{commit_id}",
                schema_json=snapshot.schema.json(),
            )
            return len(merged)

    #: Compaction's target output file size.  128 MiB parquet is the
    #: classic scan-friendly size (one HDFS-era block / one comfortable
    #: S3 range request; Delta OPTIMIZE targets 1 GiB, Spark's
    #: maxPartitionBytes defaults to 128 MiB so one output file = one
    #: read split).
    COMPACT_TARGET_BYTES = 128 * 1024 * 1024

    def _cluster_for_write(
        self,
        snapshot: DataFrame,
        sort_by: list[str] | None,
        zorder: bool,
        input_bytes: int | None = None,
        target_file_bytes: int | None = None,
    ) -> DataFrame:
        """Shared compaction clustering: z-order key, linear range
        clustering, or the default ingest-order offset sort.

        Output parallelism is SIZE-based: ceil(input bytes / 128 MiB),
        so compacting N tiny commits actually coalesces to few
        right-sized files instead of inheriting N input partitions —
        the whole point of compaction is fewer, bigger files."""
        target = target_file_bytes or self.COMPACT_TARGET_BYTES
        nparts = max(1, -(-int(input_bytes) // target)) if input_bytes else 1
        if sort_by and zorder and len(sort_by) >= 2:
            from zinger_spark.functions.zorder import with_zorder_key  # noqa: PLC0415

            snapshot = with_zorder_key(snapshot, sort_by)
            return (
                snapshot.repartitionByRange(nparts, F.col("_zkey"))
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        if sort_by:
            cols = [F.col(c) for c in sort_by]
            return snapshot.repartitionByRange(nparts, *cols).sortWithinPartitions(
                *cols
            )
        # no re-clustering asked: shuffle-free coalesce preserves the
        # per-commit offset order within each merged file
        return snapshot.coalesce(nparts).sortWithinPartitions("kafka.offset")

    def vacuum(
        self,
        grace_seconds: float = 3600.0,
        unpublished_grace_seconds: float | None = None,
    ) -> int:
        """Delete data files that were REMOVED from the log more than
        ``grace_seconds`` ago (grace measured from the removal, not the
        file's write mtime — a 2-hour-old file compacted away one
        second ago is still protected).  Files on disk but never logged
        were never visible to readers (crashed pre-append writes);
        those fall to the mtime clock under
        ``unpublished_grace_seconds``, which floors at max(grace, 1h) by
        default, because an IN-FLIGHT commit looks exactly like a
        crashed one until its log append lands (the Delta VACUUM
        retention contract: never set it below your longest writer).
        Pass it explicitly only when no writer can be active.  Empty
        ``data/commit-*`` dirs are swept with their last file.  Returns
        files removed."""
        if unpublished_grace_seconds is None:
            unpublished_grace_seconds = max(grace_seconds, 3600.0)
        if grace_seconds > self._log.TOMBSTONE_RETENTION_S:
            # checkpoints drop tombstones past the retention window, so
            # a longer reader grace is unenforceable: the orphaning
            # time is forgotten and the file would fall to the shorter
            # mtime/writer-grace clock — exactly the premature delete
            # the grace exists to prevent.  Explicit error over silent
            # under-protection.
            raise ValueError(
                f"vacuum grace {grace_seconds:.0f}s exceeds the log's "
                f"tombstone retention {self._log.TOMBSTONE_RETENTION_S:.0f}s; "
                "raise TxLog.TOMBSTONE_RETENTION_S (before tombstones "
                "age out) instead"
            )
        now = time.time()
        removed = 0
        with self.writer_lock():
            snap = self._log.snapshot()
            live = set(snap["files"])
            removed_ts = snap["removed_ts"]
            data_root = os.path.join(self.path, "data")
            if not self._fs.isdir(data_root):
                return 0
            for d in sorted(self._fs.listdir(data_root)):
                cdir = os.path.join(data_root, d)
                if not self._fs.isdir(cdir):
                    continue
                survivors = 0
                for fname in sorted(self._fs.listdir(cdir)):
                    rel = os.path.join("data", d, fname)
                    full = os.path.join(cdir, fname)
                    if rel in live:
                        survivors += 1
                        continue
                    if not fname.endswith(".parquet"):
                        continue  # _SUCCESS markers ride with the dir
                    if rel in removed_ts:
                        since, cutoff = removed_ts[rel], grace_seconds
                    else:
                        since, cutoff = self._fs.mtime(full), unpublished_grace_seconds
                    if now - since >= cutoff:
                        self._fs.remove(full)
                        removed += 1
                if survivors == 0 and not any(
                    f.endswith(".parquet") for f in self._fs.listdir(cdir)
                ):
                    self._fs.rmtree(cdir)
        return removed

    def delete(self) -> None:
        self._fs.rmtree(self.path)
