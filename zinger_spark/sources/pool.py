"""Pool: the Zed-lake data pool re-expressed as an ordered parquet table.

Reference semantics (/root/reference):
  - a pool is an append-only table whose pool key is ``kafka.offset``
    ascending; opening any other keying is refused (fifo/lake.go:31-46,
    etl/pool.go:32-46)
  - append is an atomic commit (fifo/lake.go:58-60)
  - data records and marker records (done/cursor) share the pool
    (etl/pipeline.go:29, design.md:117-128)

Spark mapping: one pool, two table formats, one layout each.

- ``commits`` (default): a flat directory of ``commit-<id>/`` parquet
  dirs.  One commit = one atomically-renamed subdirectory write (or a
  direct write on object stores, where a rename is a copy), and
  ``_manifest.json`` — written by ``create`` and required from then on
  — is the one record of which commits are live: a commit becomes
  visible when the manifest append lands, never by directory listing.
- ``txlog``: parquet files under ``data/commit-<id>/`` published by a
  per-file transaction log with min/max stats (sources/txlog.py, the
  Delta/Iceberg seam).  This is the format for pools at scale: topic
  and offset restrictions prune files from the recorded stats.

Commits carrying different (fused-compatible) value schemas coexist,
mirroring Zed's per-record typing.  The table schema — the fused union
of every live commit's schema, as a ``mergeSchema`` footer pass would
infer it — is recorded when a commit is published: in the manifest's
``schemas`` history for commits pools, in the log's
``metaData.schemaString`` for txlog pools.  Readers hand it to Spark,
so a read plans without a schema-inference job.  A manifest written
before the history existed is backfilled once, from one ``mergeSchema``
read under the writer lock.  Only this module decides where data files
live: file-source streams over a pool take their glob from
``Pool.data_glob``.

Two older layouts — hive-partitioned ``_topic=T/commit-N`` dirs
(``"partitioned": true`` in ``_pool.json``) and commit dirs with no
manifest — are refused with ``PoolError`` on open rather than read as
empty.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..datamodel import TYPE_DONE
from ..operators.relational import ordered_batch as _ordered_batch
from .storage import PosixStorage
from .txlog import _fuse_schema_json

POOL_KEY = "kafka.offset"
_META = "_pool.json"
_MANIFEST = "_manifest.json"


class PoolError(Exception):
    pass


class Pool:
    """An ordered pool backed by parquet commit dirs under ``path``."""

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
                "which is no longer supported; recreate it as a txlog pool "
                "(per-file stats prune topics) and reload its data"
            )
        self.meta = meta
        self.lock_timeout = self.DEFAULT_LOCK_TIMEOUT
        self._local_lock = threading.RLock()
        self._lock_depth = 0
        # (live-path-set, StructType) — see _txlog_schema
        self._schema_cache: tuple[tuple, object] | None = None
        if meta.get("format") == "txlog":
            from .txlog import TxLog  # noqa: PLC0415

            self._log: "TxLog | None" = TxLog(self._fs, path)
        else:
            self._log = None
            self._read_manifest()  # refuses a manifest-less commits pool

    # -- lifecycle ----------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        key: str = POOL_KEY,
        order: str = "asc",
        storage=None,
        table_format: str = "commits",
    ) -> "Pool":
        """Create an empty pool at ``path`` and open it.

        ``table_format="commits"`` (default) publishes flat commit dirs
        through ``_manifest.json``.  ``table_format="txlog"`` swaps
        commit-dir publication for a per-FILE transaction log with
        min/max stats (sources/txlog.py — the Delta/Iceberg seam):
        visibility is one atomic log append, and scoped reads prune
        files driver-side from recorded stats — the layout for pools at
        scale (SCALE.md)."""
        if order != "asc":
            raise PoolError(f"pool order must be asc (got {order})")
        if table_format not in ("commits", "txlog"):
            raise PoolError(f"unknown table_format {table_format!r}")
        fs = storage or PosixStorage()
        fs.makedirs(path)
        if table_format == "commits":
            # The manifest is the visibility truth from the first commit
            # on: readers never see a half-renamed commit or a
            # rename-free direct write, only manifest-published ones.
            # Written before _pool.json, so no reader can open the pool
            # without it.
            fs.write_json_atomic(
                os.path.join(path, _MANIFEST), {"commits": [], "orphaned": {}}
            )
        fs.write_json_atomic(
            os.path.join(path, _META),
            {"key": key, "order": order, "format": table_format},
        )
        return Pool(spark, path, expected_key=key, storage=storage)

    # -- read ---------------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _read_manifest(self) -> dict:
        m = self._fs.read_json(self._manifest_path())
        if m is None:
            raise PoolError(
                f"pool {self.path}: missing {_MANIFEST} — the manifest "
                "is the only record of a commits pool's live commits"
            )
        return m

    def _write_manifest(
        self,
        commits: list[str],
        orphaned: dict[str, float] | None = None,
        asof_floor: str | None = None,
        schemas: list[list[str]] | None = None,
    ) -> None:
        """Atomic manifest swap (tmp + rename), single-writer like the
        reference's sync processes. ``orphaned`` records WHEN each
        no-longer-live commit left the manifest — vacuum's grace clock
        starts there, not at the dir's (much older) write mtime.
        ``asof_floor`` (monotone; compact() raises it to its merged
        output) is the oldest commit name time travel may address —
        reads below it would silently miss merged-away rows, so df()
        refuses them loudly instead.  ``schemas`` replaces the schema
        history (see ``_schemas``); None keeps the current one."""
        m = {"commits": commits, "orphaned": orphaned or {}}
        prior = self._read_manifest()
        floor = max(filter(None, [prior.get("asof_floor"), asof_floor]), default=None)
        if floor is not None:
            m["asof_floor"] = floor
        if schemas is None:
            schemas = prior.get("schemas")
        if schemas is not None:
            m["schemas"] = schemas
        self._fs.write_json_atomic(self._manifest_path(), m)

    def _schemas(self, m: dict) -> list[list[str]]:
        """The manifest's schema history: ``[commit name, table schema
        JSON]`` pairs in commit order, one per commit that widened the
        table schema.  The schema as of commit C is the last entry at
        or before C.

        A manifest written before the history existed (live commits, no
        ``schemas`` key) is backfilled here, once: one ``mergeSchema``
        read over the live commits, recorded under the writer lock as
        the schema from the oldest live commit on.  Time travel on such
        a pool reads every commit with that schema (a column added
        later reads as null)."""
        if "schemas" in m or not m["commits"]:
            return m.get("schemas", [])
        with self.writer_lock():
            m = self._read_manifest()
            if "schemas" not in m:
                commits = sorted(m["commits"])
                inferred = (
                    self.spark.read.option("mergeSchema", "true")
                    .parquet(*[os.path.join(self.path, c) for c in commits])
                    .schema
                )
                self._write_manifest(
                    m["commits"], m.get("orphaned"),
                    schemas=[[commits[0], _fuse_schema_json(None, inferred.json())]],
                )
                m = self._read_manifest()
            return m["schemas"]

    def _table_schema(self, m: dict, as_of: str | None = None) -> T.StructType:
        """The recorded table schema, now or as of commit name ``as_of``."""
        at = [s for c, s in self._schemas(m) if as_of is None or c <= as_of]
        return T.StructType.fromJson(json.loads(at[-1]))

    def _commit_names(self) -> list[str]:
        """Live commit names, sorted (= commit order: ms-prefixed ids):
        the manifest's list, or the commits recorded in a txlog pool's
        log."""
        if self._log is not None:
            return sorted(self._log.snapshot()["commits"])
        return sorted(self._read_manifest()["commits"])

    def _commit_dirs(self) -> list[str]:
        return [os.path.join(self.path, d) for d in self._commit_names()]

    def data_glob(self) -> str:
        """Glob naming the dirs that hold the pool's data files —
        ``commit-*`` for commits pools, ``data/commit-*`` for txlog
        pools — for file-source streams that must see every new commit
        (``to_kafka.continuous_sink``, ``EtlPipeline.run_stream``).
        The glob sees files as they land, which can be just BEFORE the
        commit is published (manifest or log append); readers of the
        pool itself go through ``df``."""
        sub = "data/commit-*" if self._log is not None else "commit-*"
        return os.path.join(self.path, sub)

    def is_empty(self) -> bool:
        if self._log is not None:
            return not self._log.snapshot()["files"]
        return not self._commit_names()

    # -- writer lock --------------------------------------------------------

    #: Default writer-lock acquire timeout.  Generous on purpose: an
    #: ETL run or compact() legitimately HOLDS the lock across a whole
    #: Spark job (minutes at scale), and a contending writer — e.g. a
    #: streaming ingest foreachBatch — must wait out a healthy holder,
    #: not error after 2 minutes with its tmp dir already written.
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
        """Atomic swap (tmp + rename), same pattern as the manifest."""
        self._fs.write_json_atomic(os.path.join(self.path, name), obj)

    def df(self, topic: str | None = None, as_of: str | None = None) -> DataFrame:
        """The whole pool as a DataFrame with the recorded table schema
        (the fused union across commits), read as ONE parquet scan over
        the live commits; planning it starts no Spark job.

        ``topic`` restricts to one topic's records: a filter on
        ``kafka.topic`` for commits pools, and on txlog pools also a
        driver-side prune of the files whose recorded topic stats
        exclude it.

        ``as_of`` is time travel (the Delta ``versionAsOf`` analog):
        pass a commit id previously returned by ``load_batch`` and the
        read sees only commits up to and including it, with the schema
        recorded as of that commit — commit ids are
        millisecond-prefixed, so lexicographic order IS commit order.
        ``compact()`` raises the manifest's as-of floor to its merged
        output: travel below the floor would silently miss merged-away
        rows, so it raises ``PoolError`` instead (the same way Delta
        VACUUM bounds its time travel, but loud)."""
        if self._log is not None:
            return self._df_txlog(topic=topic, as_of=as_of)
        m = self._read_manifest()
        commits = sorted(m["commits"])
        if as_of is not None:
            cut = f"commit-{as_of}"
            floor = m.get("asof_floor")
            if floor is not None and cut < floor:
                raise PoolError(
                    f"pool {self.path}: as_of {as_of} predates compaction "
                    f"(floor {floor}) — the merged-away commits are no "
                    "longer individually addressable"
                )
            commits = [c for c in commits if c <= cut]
            if not commits:
                raise PoolError(f"pool {self.path}: no commits at or before {as_of}")
        if not commits:
            raise PoolError(f"pool {self.path} is empty")
        cut = f"commit-{as_of}" if as_of is not None else None
        out = self._read_commits(commits, self._table_schema(m, cut))
        if topic is not None:
            out = out.filter(F.col("kafka.topic") == topic)
        return out

    def _df_txlog(
        self,
        topic: str | None = None,
        as_of: str | None = None,
        offset_lo: int | None = None,
        offset_hi: int | None = None,
    ) -> DataFrame:
        """txlog read path: replay the log, prune FILES on recorded
        min/max stats (driver-side, before Spark lists anything), read
        the survivors as one FileScan.  Stats pruning is conservative
        (a file without stats is kept), so the logical filters are
        still applied — pruning only shrinks IO, never changes results."""
        from .txlog import prune_files  # noqa: PLC0415

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
        pruned = prune_files(files, topic=topic, offset_lo=offset_lo, offset_hi=offset_hi)
        schema = self._txlog_schema(files, snap.get("schema_string"))
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
        if offset_hi is not None:
            out = out.filter(F.col("kafka.offset") < offset_hi)
        return out

    def _txlog_schema(self, files: list[dict], schema_string: str | None = None):
        """Union schema of a txlog pool.

        Primary source: the log's own ``metaData.schemaString`` (Delta
        semantics — readers take the schema from the log, not from
        footers; it is maintained as the fused union on every append),
        which costs ZERO additional IO since the snapshot was already
        replayed.  Fallback for logs without metaData (foreign writers
        that skipped it, pre-r9 logs): one mergeSchema footer pass over
        the live files, cached per file set."""
        if schema_string:
            from pyspark.sql import types as T  # noqa: PLC0415

            return T.StructType.fromJson(json.loads(schema_string))
        key = tuple(sorted(f["path"] for f in files))
        cached = self._schema_cache
        if cached is not None and cached[0] == key:
            return cached[1]
        schema = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(*[os.path.join(self.path, f["path"]) for f in files])
            .schema
        )
        self._schema_cache = (key, schema)
        return schema

    def query(self, fn) -> DataFrame:
        """Run a DataFrame transform over the pool (Lake.Query analog,
        fifo/lake.go:50-56 — ours takes a plan builder, not query text)."""
        return fn(self.df())

    # -- write --------------------------------------------------------------

    def load_batch(self, df: DataFrame) -> str:
        """Atomic commit: write to a temp dir, rename into place
        (LoadBatch, fifo/lake.go:58-60). Returns the commit id.  The
        manifest append, not the rename, is the visibility point.

        txlog pools write data files straight to their final prefix and
        publish them as per-file ADD actions (with footer min/max
        stats) in one atomic log append — no rename of data bytes at
        all, the Delta protocol."""
        commit_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        if self._log is not None:
            return self._load_batch_txlog(df, commit_id)
        # Rename-free commit path: on object stores a "rename" is a
        # server-side COPY of every data byte (S3/GCS have no rename),
        # so when the backend declares rename_is_copy, flat pools write
        # data straight to its final commit prefix — the manifest
        # append below is the only visibility point either way, and an
        # unpublished dir left by a crash is reclaimed by vacuum()'s
        # not-in-manifest sweep.
        name = f"commit-{commit_id}"
        direct = getattr(self._fs, "rename_is_copy", False)
        tmp = os.path.join(self.path, name if direct else f".tmp-{commit_id}")
        df.write.mode("overwrite").parquet(tmp)
        # All-empty batch = "no commit happened", SAME as the txlog
        # path (the two formats are one logical pool contract): a
        # zero-row commit would flip is_empty() and mint a hollow
        # as_of target on one format but not the other.  Row counts
        # come from parquet footers (short-circuits on the first
        # non-empty file, so a normal batch pays ONE footer read);
        # the dead dir is reclaimed by vacuum's unpublished sweep.
        if self._written_rowcount_is_zero(tmp):
            self._fs.rmtree(tmp)
            return commit_id
        # drop spark's _SUCCESS etc? keep; parquet reader ignores non-parquet
        # Data write happens unlocked (it is slow and conflict-free: the
        # tmp dir is writer-unique); only the rename + manifest
        # read-modify-write is the critical section — without the lock
        # two concurrent load_batch calls can each read the same
        # manifest and one commit silently vanishes from the list.
        with self.writer_lock():
            if not direct:
                self._fs.rename(tmp, os.path.join(self.path, name))
            m = self._read_manifest()
            # the commit's schema joins the recorded table schema in the
            # same manifest swap that publishes it
            schemas = list(self._schemas(m))
            cur = schemas[-1][1] if schemas else None
            fused = _fuse_schema_json(cur, df.schema.json())
            if fused != cur:
                schemas.append([name, fused])
            self._write_manifest(m["commits"] + [name], m.get("orphaned"), schemas=schemas)
        return commit_id

    def _written_rowcount_is_zero(self, root: str) -> bool:
        """True iff every parquet file in the commit dir ``root`` has
        zero rows.  Footer-only, short-circuits on the first non-empty
        file."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        return not any(
            pq.ParquetFile(os.path.join(root, name)).metadata.num_rows > 0
            for name in self._fs.listdir(root)
            if name.endswith(".parquet")
        )

    def _load_batch_txlog(self, df: DataFrame, commit_id: str) -> str:
        """txlog commit: Spark writes parquet under ``data/<commit>/``
        (unpublished until logged — a crash leaves dark files for
        vacuum), stats come from the footers, and ONE log append makes
        the files live.  The write itself runs unlocked; only the
        version-assigning append is the critical section."""
        from .txlog import collect_file_stats, list_parquet_files  # noqa: PLC0415

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
            # but raises from df() (no live files -> no schema), and
            # the commit id would be a hollow as_of target.  The dark
            # part files are reclaimed by vacuum's not-in-log sweep,
            # same as a crashed write.  (An empty streaming micro-batch
            # is the normal producer of this case.)
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
        if self._log is not None:
            with self.writer_lock():
                entries = self._log.entries()
                added = [
                    a["path"]
                    for e in entries
                    if e.get("commit") == name
                    for a in e.get("add", [])
                ]
                if any(e.get("commit") == name for e in entries):
                    # the table schema from before the commit: the last
                    # schemaString logged ahead of its entry
                    prior = None
                    for e in entries:
                        if e.get("commit") == name:
                            break
                        prior = e.get("schema_string") or prior
                    # commit=None: a retraction is not a new commit.
                    # The retract marker makes snapshot() drop the
                    # commit from pool history entirely — it leaves
                    # _commit_names/commits() and is rejected as an
                    # as_of target (its files are deleted once vacuum
                    # runs, so time travel to it would hand Spark
                    # vanished paths).
                    self._log.append(
                        None, remove=added, retract=name, schema_json=prior
                    )
            return
        with self.writer_lock():
            m = self._read_manifest()
            # dropping the commit's history entry puts back the schema
            # the manifest held before it
            self._write_manifest(
                [c for c in m["commits"] if c != name], m.get("orphaned"),
                schemas=[e for e in self._schemas(m) if e[0] != name],
            )
            d = os.path.join(self.path, name)
            if self._fs.isdir(d):
                self._fs.rmtree(d)

    # -- offset bookkeeping (A9-A11) ----------------------------------------

    def next_consumer_offset(self, topic: str) -> int:
        """max stored offset for topic + 1 (fifo/lake.go:62-82).

        Same txlog metadata fast path as next_producer_offsets: exact
        from log stats when every live file is single-topic, falling
        back to the scan otherwise."""
        if self.is_empty():
            return 0
        if self._log is not None:
            files = list(self._log.snapshot()["files"].values())
            best = 0
            for f in files:
                st = f.get("stats", {})
                t, o = st.get("kafka.topic"), st.get("kafka.offset")
                if not t or not o or t[0] != t[1]:
                    break
                if t[0] == topic:
                    best = max(best, int(o[1]) + 1)
            else:
                return best
        row = (
            self.df()
            .filter(F.col("kafka.topic") == topic)
            .agg(F.max("kafka.offset").alias("mx"))
            .collect()[0]
        )
        return 0 if row["mx"] is None else int(row["mx"]) + 1

    def next_consumer_offsets_by_partition(self, topic: str) -> dict[int, int]:
        """{partition: max stored offset + 1} for a topic — the
        per-partition resume map for multi-partition ingest.

        Beyond-reference: the reference pins partition 0
        (fifo/consumer.go:59-63) because its pool key is the single
        per-topic offset; Kafka's actual ordering contract is PER
        PARTITION, so 100-TB ingest resumes each (topic, partition)
        independently.  txlog metadata answers exactly when every live
        file is single-(topic, partition); any mixed or statless file
        falls back to one grouped scan (partial-agg max, no window)."""
        if self._log is not None:
            # ONE log replay serves both the emptiness check and the
            # stats walk (is_empty() would be a second full snapshot —
            # O(interval) object-store GETs per stream start, found by
            # the r9 review)
            files = list(self._log.snapshot()["files"].values())
            if not files:
                return {}
            out: dict[int, int] = {}
            for f in files:
                st = f.get("stats", {})
                t = st.get("kafka.topic")
                p = st.get("kafka.partition")
                o = st.get("kafka.offset")
                if not t or not p or not o or t[0] != t[1] or p[0] != p[1]:
                    break  # mixed or statless file: metadata can't answer
                if t[0] == topic:
                    pid = int(p[0])
                    out[pid] = max(out.get(pid, 0), int(o[1]) + 1)
            else:
                return out
        elif self.is_empty():  # commit-dir format: manifest read, cheap
            return {}
        rows = (
            self.df(topic=topic)
            .groupBy(F.col("kafka.partition").alias("p"))
            .agg(F.max("kafka.offset").alias("mx"))
            .collect()
        )
        return {int(r["p"]): int(r["mx"]) + 1 for r in rows if r["p"] is not None}

    def next_producer_offsets(self) -> dict[str, int]:
        """{topic: max offset + 1} over the pool (etl/pool.go:60-81).

        txlog pools answer from LOG METADATA alone when every live file
        is single-topic (stats min == max for kafka.topic — always true
        for per-topic ingest batches): per-topic max offset = max of
        those files' recorded offset maxima, zero data IO.  Any
        mixed-topic or statless file falls back to the exact scan —
        the fast path never changes the answer, only the IO."""
        if self.is_empty():
            return {}
        if self._log is not None:
            files = list(self._log.snapshot()["files"].values())
            out: dict[str, int] = {}
            for f in files:
                st = f.get("stats", {})
                t, o = st.get("kafka.topic"), st.get("kafka.offset")
                if not t or not o or t[0] != t[1]:
                    break  # mixed or statless file: metadata can't answer
                out[t[0]] = max(out.get(t[0], 0), int(o[1]) + 1)
            else:
                return out
        rows = (
            self.df()
            .groupBy(F.col("kafka.topic").alias("topic"))
            .agg(F.max("kafka.offset").alias("offset"))
            .collect()
        )
        return {r["topic"]: int(r["offset"]) + 1 for r in rows if r["topic"] is not None}

    def read_batch(self, topic: str, offset: int, size: int, transform=None) -> DataFrame:
        """Ordered batch scan (fifo/lake.go:84-92) over a topic-scoped
        read.  txlog pools prune files whose recorded topic stats
        exclude the topic or whose max offset is below the batch start
        — a resume-from-cursor read touches only the tail files, not
        the whole topic history."""
        if self._log is not None:
            base = self._df_txlog(topic=topic, offset_lo=offset)
        else:
            base = self.df(topic=topic)
        return _ordered_batch(base, topic, offset, size, transform=transform)

    def done_offsets(self, topic: str) -> DataFrame:
        """done-marker offsets for a topic (the anti-join right side)."""
        return (
            self.df()
            .filter((F.col("_type") == TYPE_DONE) & (F.col("kafka.topic") == topic))
            .select(F.col("kafka.topic").alias("topic"), F.col("kafka.offset").alias("offset"))
        )

    def compact(
        self,
        small_bytes: int | None = None,
        sort_by: list[str] | None = None,
        zorder: bool = False,
        target_file_bytes: int | None = None,
    ) -> int:
        """Merge commit dirs into one (the Delta OPTIMIZE analog).

        Many small commits are the expected write pattern (one per
        micro-batch); reads pay per-file open cost and the driver pays
        listing cost. Compaction rewrites commits as one sorted commit
        and atomically swaps the MANIFEST — the old commit dirs stay on
        disk so concurrent readers mid-scan (who listed files before
        the swap) never hit vanished parquet files.  ``vacuum``
        reclaims them after a grace window (the Delta log + VACUUM
        pattern). Returns commits merged.

        ``small_bytes`` is SIZE-TIERED compaction, the 100-TB mode: a
        full rewrite is O(pool) every time, so a steady micro-batch
        ingest would spend most of its IO rewriting already-big
        commits.  With a threshold, only commits smaller than
        ``small_bytes`` merge (sizes from storage metadata, no data
        read) and the big ones are left alone — each byte is rewritten
        O(log(pool/batch)) times over its life instead of O(compactions).
        Every compaction (tiered or full) raises the manifest's as-of
        floor to its merged output; time travel below the floor raises
        rather than silently returning a view missing merged rows.

        ``sort_by`` CLUSTERS the merged output by the given (possibly
        nested) columns: range-repartition + in-partition sort, so each
        output file owns a disjoint value range and its parquet
        footer min/max make any later filter on those columns skip
        whole files/row-groups (Delta's ZORDER intent, realized with
        linear clustering — one dimension deep is what range
        partitioning gives; for the offset-and-time predicates pools
        actually serve, linear beats interleaved bits).  The default
        keeps the ingest-order offset sort.

        ``zorder=True`` (with two or more numeric ``sort_by`` columns)
        clusters on the Morton-interleaved key instead
        (functions/zorder.with_zorder_key — Delta's OPTIMIZE ZORDER
        BY): per-file min/max ranges narrow on ALL the given columns
        at once, so multi-predicate scans prune multiplicatively where
        the linear sort prunes only its leading column.

        Holds the writer lock for the WHOLE operation: a load_batch
        landing between the dir snapshot and the manifest swap would
        otherwise be silently orphaned (its commit never in the new
        manifest) — lost data, not just a lost listing.
        """
        if zorder and len(sort_by or []) < 2:
            raise ValueError(
                "compact(zorder=True) needs >= 2 sort_by columns — "
                "a one-column 'z-order' is just a linear sort; ask for "
                "that explicitly rather than getting it silently"
            )
        if self._log is not None:
            with self.writer_lock():
                return self._compact_txlog(
                    small_bytes, sort_by, zorder, target_file_bytes
                )
        with self.writer_lock():
            return self._compact_locked(
                small_bytes, sort_by, zorder, target_file_bytes
            )

    def _commit_size(self, name: str) -> int:
        return self._fs.tree_size(os.path.join(self.path, name))

    def _compact_locked(
        self,
        small_bytes: int | None = None,
        sort_by: list[str] | None = None,
        zorder: bool = False,
        target_file_bytes: int | None = None,
    ) -> int:
        old_names = self._commit_names()
        if len(old_names) <= 1:
            return len(old_names)
        if small_bytes is None:
            merged, kept = list(old_names), []
        else:
            merged = [n for n in old_names if self._commit_size(n) < small_bytes]
            kept = [n for n in old_names if n not in set(merged)]
            if len(merged) <= 1:
                return 0  # nothing worth merging at this tier
        current = self._schemas(self._read_manifest())[-1][1]
        snapshot = self._read_commits(merged, T.StructType.fromJson(json.loads(current)))
        # range exchange gives disjoint per-file value ranges; the
        # in-partition sort tightens row-group stats within a file
        snapshot = self._cluster_for_write(
            snapshot, sort_by, zorder,
            input_bytes=sum(self._commit_size(n) for n in merged),
            target_file_bytes=target_file_bytes,
        )
        commit_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        tmp = os.path.join(self.path, f".tmp-{commit_id}")
        snapshot.write.mode("overwrite").parquet(tmp)
        self._fs.rename(tmp, os.path.join(self.path, f"commit-{commit_id}"))
        now = time.time()
        prior = self._read_manifest().get("orphaned", {})
        # time travel below the merged output would silently miss the
        # merged-away rows (their commits leave the manifest but the
        # replacement carries a NEWER name) — raise the as-of floor so
        # df(as_of=<older>) fails loudly instead.  No read reaches below
        # the floor, so the schema history collapses to one entry.
        self._write_manifest(
            kept + [f"commit-{commit_id}"],
            {**prior, **{n: now for n in merged}},
            asof_floor=f"commit-{commit_id}",
            schemas=[[f"commit-{commit_id}", current]],
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

    def _compact_txlog(
        self,
        small_bytes: int | None = None,
        sort_by: list[str] | None = None,
        zorder: bool = False,
        target_file_bytes: int | None = None,
    ) -> int:
        """txlog compaction: size-tier on PER-FILE sizes from the log's
        records (no filesystem stat pass), rewrite the merged set, and
        publish adds+removes in ONE log append — readers mid-scan keep
        the old files (vacuum reclaims them after the grace window).
        The as-of floor rides the same entry.  Returns files merged
        (the txlog analog of commits merged: the unit of this format
        is the file)."""
        from .txlog import collect_file_stats, list_parquet_files  # noqa: PLC0415

        snap = self._log.snapshot()
        files = list(snap["files"].values())
        if len(files) <= 1:
            return len(files)
        if small_bytes is None:
            merged = files
        else:
            # per-file sizes from the LOG's add actions — size-tiering
            # decides from pure metadata, no filesystem pass at all
            # (files logged before sizes were recorded fall back to one
            # stat call)
            merged = [
                f
                for f in files
                if (
                    f["size"]
                    if f.get("size") is not None
                    else self._fs.tree_size(os.path.dirname(os.path.join(self.path, f["path"])))
                )
                < small_bytes
            ]
            if len(merged) <= 1:
                return 0
        paths = [os.path.join(self.path, f["path"]) for f in merged]
        snapshot = self.spark.read.schema(
            self._txlog_schema(files, snap.get("schema_string"))
        ).parquet(*paths)
        snapshot = self._cluster_for_write(
            snapshot, sort_by, zorder,
            input_bytes=sum(
                f["size"]
                if f.get("size") is not None
                else self._fs.tree_size(
                    os.path.dirname(os.path.join(self.path, f["path"]))
                )
                for f in merged
            ),
            target_file_bytes=target_file_bytes,
        )
        commit_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        rel_dir = os.path.join("data", f"commit-{commit_id}")
        snapshot.write.mode("overwrite").parquet(os.path.join(self.path, rel_dir))
        adds = collect_file_stats(
            self.path, list_parquet_files(self._fs, self.path, rel_dir)
        )
        # same records>0 filter as _load_batch_txlog: a zero-row part
        # file (empty repartitionByRange partition) logged statless
        # would permanently break the offset-metadata fast path (its
        # loop breaks on any statless file) and never be prunable
        adds = [a for a in adds if a["records"] > 0]
        self._log.append(
            f"commit-{commit_id}",
            add=adds,
            remove=[f["path"] for f in merged],
            floor=f"commit-{commit_id}",
            schema_json=snapshot.schema.json(),
        )
        return len(merged)

    def _read_commits(self, commits: list[str], schema: T.StructType) -> DataFrame:
        """Read of a commit subset as one parquet scan with the recorded
        table schema (``df()`` and compaction's input selector)."""
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, c) for c in commits]
        )

    def vacuum(
        self,
        grace_seconds: float = 3600.0,
        unpublished_grace_seconds: float | None = None,
    ) -> int:
        """Delete commit dirs that left the manifest more than
        ``grace_seconds`` ago (grace measured from ORPHANING time, not
        the dir's write mtime — a 2-hour-old commit compacted away one
        second ago is still protected). Dirs on disk but absent from
        both the live list and the orphan record were never visible to
        manifest readers (crashed half-writes); those fall back to the
        mtime clock under ``unpublished_grace_seconds`` — which floors
        at max(grace, 1h) by default, because on a ``rename_is_copy``
        backend an IN-FLIGHT direct commit looks exactly like a crashed
        one until its manifest append lands (the Delta VACUUM retention
        contract: never set it below your longest writer).  Pass it
        explicitly only when no writer can be active.  Returns dirs
        removed."""
        removed = 0
        now = time.time()
        if unpublished_grace_seconds is None:
            unpublished_grace_seconds = max(grace_seconds, 3600.0)
        if self._log is not None:
            return self._vacuum_txlog(grace_seconds, unpublished_grace_seconds, now)
        # '.tmp-*' dirs are writes that crashed between the Spark write
        # and os.rename — never referenced by the manifest or visible to
        # any reader, so reclaim them on the mtime clock.
        for d in self._fs.listdir(self.path):
            full = os.path.join(self.path, d)
            if not (d.startswith(".tmp-") and self._fs.isdir(full)):
                continue
            if now - self._fs.mtime(full) >= unpublished_grace_seconds:
                self._fs.rmtree(full)
                removed += 1
        with self.writer_lock():
            m = self._read_manifest()
            keep = set(m["commits"])
            orphaned = m.get("orphaned", {})
            orphan_removed = 0
            remaining_orphans = dict(orphaned)
            # on-disk commit dirs that the manifest no longer lists
            for name in sorted(self._fs.listdir(self.path)):
                full = os.path.join(self.path, name)
                if not (
                    name.startswith("commit-")
                    and name not in keep
                    and self._fs.isdir(full)
                ):
                    continue
                # orphan-recorded dirs were PUBLISHED then superseded:
                # the orphaning clock + reader grace applies.  A dir
                # with NO orphan record is either a crashed half-write
                # or an IN-FLIGHT direct commit awaiting its manifest
                # append — only the (floored) unpublished grace may
                # touch it.
                if name in orphaned:
                    since, cutoff = orphaned[name], grace_seconds
                else:
                    since = self._fs.mtime(full)
                    cutoff = unpublished_grace_seconds
                if now - since >= cutoff:
                    self._fs.rmtree(full)
                    remaining_orphans.pop(name, None)
                    orphan_removed += 1
            if orphan_removed:
                self._write_manifest(m["commits"], remaining_orphans)
            return removed + orphan_removed

    def _vacuum_txlog(
        self, grace_seconds: float, unpublished_grace_seconds: float, now: float
    ) -> int:
        """txlog vacuum: delete data files that are (a) REMOVED from the
        log longer than the reader grace, or (b) on disk but never
        logged (crashed pre-append writes) and older than the
        unpublished grace — never set that below your longest writer,
        an in-flight commit looks exactly like a crashed one until its
        log append lands.  Empty ``data/commit-*`` dirs are swept with
        their last file."""
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
