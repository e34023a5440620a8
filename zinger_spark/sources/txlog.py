"""Delta-format transaction log: the one table format of every pool.

A pool's state is a log of per-FILE actions: each committed data file
is recorded with its row count, byte size and column min/max stats, so

  - visibility is one atomic log append (no rename of data bytes —
    object-store native),
  - an offset- or topic-scoped read prunes FILES driver-side from the
    log's stats before Spark lists or opens anything,
  - compaction/vacuum are log operations (add+remove actions): readers
    mid-scan keep the files they listed until vacuum's grace lapses.

The on-disk format IS the open Delta Lake transaction-log wire format
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md):
``_delta_log/<20-digit version>.json``, one JSON ACTION per line:

    {"protocol":  {"minReaderVersion": 1, "minWriterVersion": 2}}
    {"metaData":  {"id": ..., "format": {"provider": "parquet", ...},
                   "schemaString": <Spark StructType JSON>,
                   "partitionColumns": [], ...}}
    {"commitInfo": {"timestamp": ms, "operation": "WRITE", ...,
                    "zinger": {"commit": "commit-<ms>-<rand>",
                               "floor": ..., "retract": ...}}}
    {"add":    {"path": <pool-relative>, "partitionValues": {},
                "size": bytes, "modificationTime": ms,
                "dataChange": true,
                "stats": "{\"numRecords\": n, \"minValues\": {...},
                           \"maxValues\": {...}}"}}
    {"remove": {"path": ..., "deletionTimestamp": ms,
                "dataChange": true}}

so an EXTERNAL Delta reader (delta-rs, DuckDB delta_scan, a Spark
Delta session) can open a txlog pool directly: protocol v1/v2, no
deletion vectors, no column mapping, relative parquet paths,
statistics in the standard per-file stats JSON.  Engine-specific
bookkeeping the Delta spec has no slot for (the pool commit id, the
as-of floor raised by compaction, commit retraction) rides inside
``commitInfo`` — which the spec defines as free-form and every reader
ignores for table state.

Entries replay in version order; a file is live if added and not later
removed.  Stats come from the parquet FOOTERS (pyarrow, driver-side —
footer-only reads, no data IO; at real scale the executors that wrote
the files report the same stats back through the commit service, which
is exactly Delta's protocol).  Version claims are conditional PUTs
(S3 If-None-Match / GCS generation-0) — Delta's putIfAbsent commit
protocol, so contiguous versions survive racing writers.  Reference
parity: the pool surface (LoadBatch / ordered reads / offset
bookkeeping, fifo/lake.go:58-92) is unchanged — this module only swaps
HOW bytes become visible.

Checkpoints (r9): every CHECKPOINT_INTERVAL appends, the state is
written as ``<version>.checkpoint.parquet`` + ``_last_checkpoint`` —
the Delta checkpoint protocol — so plain snapshots replay O(interval)
JSON entries instead of the whole history, and external readers can
start from the checkpoint exactly as they would on any Delta table.
As-of (time travel) snapshots still replay from version 0 by design,
which is also why JSON entries are never deleted (Delta's 30-day log
cleanup bounds its time travel; ours keeps the full history — the
entries are a few hundred bytes per commit, and compaction's as-of
floor already bounds how far back a read can reach).
"""

from __future__ import annotations

import json
import os
import time
import uuid

LOG_DIR = "_delta_log"

ENGINE_INFO = "zinger-spark"

# stats columns recorded per file: the pool key (offset-range reads),
# the topic (topic-scoped reads), and the partition (per-partition
# resume maps for multi-partition ingest).  Nested parquet paths.
STATS_COLUMNS = ("kafka.offset", "kafka.topic", "kafka.partition")

_EMPTY_SCHEMA = '{"fields":[],"type":"struct"}'


def collect_file_stats(root: str, rel_paths: list[str]) -> list[dict]:
    """Footer-only stats for each parquet file: row count + min/max of
    STATS_COLUMNS (missing/statless columns simply absent)."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    out = []
    for rel in rel_paths:
        full = os.path.join(root, rel)
        md = pq.ParquetFile(full).metadata
        stats: dict[str, list] = {}
        # a column missing min/max in ANY row group has no whole-file
        # bound — poison it so later row groups can't resurrect it
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in STATS_COLUMNS or name in bad:
                    continue
                s = col.statistics
                if s is None or not s.has_min_max:
                    stats.pop(name, None)
                    bad.add(name)
                    continue
                lo, hi = s.min, s.max
                if isinstance(lo, bytes):
                    lo, hi = lo.decode("utf-8", "replace"), hi.decode("utf-8", "replace")
                if name in stats:
                    stats[name] = [min(stats[name][0], lo), max(stats[name][1], hi)]
                else:
                    stats[name] = [lo, hi]
        out.append(
            {
                "path": rel,
                "records": md.num_rows,
                "size": os.path.getsize(full),
                "stats": stats,
            }
        )
    return out


def list_parquet_files(fs, root: str, rel_dir: str) -> list[str]:
    """Pool-relative paths of the parquet files under ``rel_dir``."""
    full = os.path.join(root, rel_dir)
    return sorted(
        os.path.join(rel_dir, f)
        for f in fs.listdir(full)
        if f.endswith(".parquet")
    )


def _delta_stats(a: dict) -> str:
    """Internal dotted {col: [lo, hi]} stats -> the Delta per-file
    stats JSON string (numRecords + NESTED minValues/maxValues)."""
    minv: dict = {}
    maxv: dict = {}
    for dotted, (lo, hi) in (a.get("stats") or {}).items():
        parts = dotted.split(".")
        d1, d2 = minv, maxv
        for p in parts[:-1]:
            d1 = d1.setdefault(p, {})
            d2 = d2.setdefault(p, {})
        d1[parts[-1]] = lo
        d2[parts[-1]] = hi
    return json.dumps(
        {"numRecords": a.get("records", 0), "minValues": minv, "maxValues": maxv},
        sort_keys=True,
    )


def _flatten_minmax(minv: dict, maxv: dict, prefix: str = "") -> dict[str, list]:
    """Inverse of _delta_stats: nested minValues/maxValues -> dotted
    {col: [lo, hi]}, keeping only leaves present on BOTH sides."""
    out: dict[str, list] = {}
    for k, lo in (minv or {}).items():
        if k not in (maxv or {}):
            continue
        hi = maxv[k]
        dotted = f"{prefix}{k}"
        if isinstance(lo, dict) and isinstance(hi, dict):
            out.update(_flatten_minmax(lo, hi, prefix=f"{dotted}."))
        elif not isinstance(lo, dict) and not isinstance(hi, dict):
            out[dotted] = [lo, hi]
    return out


def _as_nullable(dt):
    """``dt`` with every field, array element and map value nullable —
    what a parquet read reports whatever the writer declared."""
    from pyspark.sql import types as T  # noqa: PLC0415

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _fuse_schema_json(cur: str | None, new: str | None) -> str | None:
    """Widened union of two Spark StructType JSON strings (the Delta
    ``schemaString``) — the table schema is the union across commits,
    exactly what ``mergeSchema`` reads produce: fields in order of
    first appearance, everything nullable."""
    if new is None:
        return cur
    from pyspark.sql import types as T  # noqa: PLC0415

    from ..datamodel import fuse_type  # noqa: PLC0415

    b = T.StructType.fromJson(json.loads(new))
    if cur is None or cur == _EMPTY_SCHEMA:
        return _as_nullable(b).json()
    a = T.StructType.fromJson(json.loads(cur))
    return _as_nullable(fuse_type(a, b)).json()


class TxLog:
    """Reader/writer for a pool's ``_delta_log/`` directory.

    All IO goes through the pool's storage backend; appends must run
    under the pool's writer lock (version = last + 1 read-modify-write).

    Checkpoints: every CHECKPOINT_INTERVAL appends the full table
    state is written as ``<version>.checkpoint.parquet`` + the
    ``_last_checkpoint`` pointer (the Delta checkpoint protocol), so
    ``snapshot()`` replays O(interval) JSON entries instead of the
    whole history — the bound a pool with thousands of commits needs.
    The parquet carries the spec action columns (protocol / metaData /
    add / remove) for external readers; engine bookkeeping the spec
    does not checkpoint (commit ids, as-of floor, retractions,
    remove timestamps) rides a ``zinger`` key in ``_last_checkpoint``,
    which readers ignore beyond version/size."""

    #: write a checkpoint every N versions (Delta's own default cadence)
    CHECKPOINT_INTERVAL = 10

    #: how long checkpoint-building keeps remove tombstones (Delta's
    #: deletedFileRetentionDuration, same 7-day default).  Vacuum's
    #: reader grace MUST NOT exceed this: once a checkpoint drops a
    #: tombstone, the file's orphaning time is forgotten and it would
    #: be mis-classed as a never-logged dark write under the (shorter)
    #: writer grace — Pool.vacuum enforces the inequality.  Raise the
    #: attribute BEFORE the tombstone ages past it if readers need a
    #: longer window.
    TOMBSTONE_RETENTION_S = 7 * 24 * 3600.0

    def __init__(self, fs, pool_path: str):
        self._fs = fs
        self.path = os.path.join(pool_path, LOG_DIR)
        # (replayed-up-to version, table id, schemaString): metaData is
        # append-once-then-rarely, so appends reuse the cached identity
        # instead of re-reading the log tail every commit
        self._meta_cache: tuple[int, str | None, str | None] | None = None
        # Refuse, loudly, a pool written by the pre-Delta layout
        # (entries under `_log/`, single-object JSON with add as a
        # list).  Reading it as an empty `_delta_log/` would be silent
        # data loss twice over: df() reports the pool empty, and
        # vacuum's not-in-log sweep would DELETE the live data files
        # as dark writes.  No migration shim is carried because no
        # released pool used the old layout; the guard turns the
        # upgrade hazard into an explicit error instead of a quiet one.
        legacy = os.path.join(pool_path, "_log")
        if not self._fs.isdir(self.path) and self._fs.isdir(legacy):
            raise RuntimeError(
                f"pool at {pool_path} uses the legacy _log/ layout; "
                "rewrite it (read with the old build, load_batch into "
                "a fresh txlog pool) before opening with this version"
            )

    def _entry_path(self, version: int) -> str:
        return os.path.join(self.path, f"{version:020d}.json")

    def versions(self) -> list[int]:
        if not self._fs.isdir(self.path):
            return []
        return sorted(
            int(f[:-5])
            for f in self._fs.listdir(self.path)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    # -- action-file parsing -------------------------------------------------

    def _read_entry(self, version: int) -> dict | None:
        """Parse one NDJSON action file into the engine's entry shape:
        {version, commit, ts, add[{path, records, size, stats}],
        remove[paths], floor?, retract?, schema_string?}.  Unknown
        actions (and a legacy racer's single-object content) are
        ignored — Delta readers are required to do the same."""
        txt = self._fs.read_text(self._entry_path(version))
        if txt is None:
            return None
        e: dict = {"version": version, "commit": None, "ts": 0.0, "add": [], "remove": []}
        for ln in txt.splitlines():
            ln = ln.strip()
            if not ln:
                continue
            try:
                act = json.loads(ln)
            except ValueError:
                continue
            if not isinstance(act, dict):
                continue
            # every Delta action wraps a single dict payload; anything
            # else (e.g. a foreign writer's junk claim of a version
            # slot) is skipped, as the Delta spec requires for unknown
            # actions
            act = {
                k: v for k, v in act.items() if isinstance(v, dict)
            }
            if "commitInfo" in act:
                ci = act["commitInfo"]
                e["ts"] = ci.get("timestamp", 0) / 1000.0
                z = ci.get("zinger", {})
                if z.get("commit"):
                    e["commit"] = z["commit"]
                if z.get("floor"):
                    e["floor"] = z["floor"]
                if z.get("retract"):
                    e["retract"] = z["retract"]
            elif "add" in act:
                a = act["add"]
                try:
                    st = json.loads(a.get("stats") or "{}")
                except ValueError:
                    st = {}
                e["add"].append(
                    {
                        "path": a["path"],
                        "records": st.get("numRecords", 0),
                        "size": a.get("size"),
                        "stats": _flatten_minmax(
                            st.get("minValues"), st.get("maxValues")
                        ),
                    }
                )
            elif "remove" in act:
                e["remove"].append(act["remove"]["path"])
            elif "metaData" in act:
                e["meta_id"] = act["metaData"].get("id")
                e["schema_string"] = act["metaData"].get("schemaString")
        return e

    def entries(self) -> list[dict]:
        return [
            e
            for v in self.versions()
            if (e := self._read_entry(v)) is not None
        ]

    def _last_meta(self, vs: list[int]) -> tuple[str | None, str | None]:
        """(table id, current schemaString) as of the given version
        list, replaying only versions the cache hasn't seen.  A cold
        instance seeds from the last checkpoint so its first append is
        O(interval), not O(history)."""
        if self._meta_cache is None:
            cp = self._read_checkpoint()
            if cp is not None and cp.get("meta_id"):
                self._meta_cache = (cp["version"], cp["meta_id"], cp["schema_string"])
        upto, mid, schema = self._meta_cache or (-1, None, None)
        for v in vs:
            if v <= upto:
                continue
            e = self._read_entry(v)
            if e is None:
                continue
            if e.get("meta_id"):
                mid = e["meta_id"]
            if e.get("schema_string"):
                schema = e["schema_string"]
        self._meta_cache = (vs[-1] if vs else -1, mid, schema)
        return mid, schema

    # -- append ---------------------------------------------------------------

    def append(
        self,
        commit: str | None,
        add: list[dict] | None = None,
        remove: list[str] | None = None,
        floor: str | None = None,
        retract: str | None = None,
        schema_json: str | None = None,
    ) -> int:
        """Write the next log entry (caller holds the writer lock).

        Uses the backend's conditional PUT (``create_exclusive`` — S3
        If-None-Match / GCS generation-0) so the version claim is a
        linearizable server op, exactly Delta's putIfAbsent commit
        protocol: even if two writers somehow shared the lock (broken
        clock on a stale-break, operator error), one of them LOSES the
        version slot and retries onto the next, instead of both
        thinking they wrote version N.

        ``schema_json`` (Spark ``StructType.json()`` of the data being
        added) keeps the Delta ``metaData.schemaString`` current: it is
        fused into the table schema and a metaData action is emitted at
        version 0 and whenever the union widens — external Delta
        readers take the schema from metaData, not from footers.  With
        ``retract``, ``schema_json`` is the table schema from before the
        retracted commit and replaces the current one."""
        self._fs.makedirs(self.path)
        vs = self.versions()
        version = (vs[-1] + 1) if vs else 0
        while True:
            meta_id, cur_schema = self._last_meta(vs)
            # a retraction puts back the schema the table had before the
            # retracted commit; every other entry widens the union
            fused = (
                schema_json
                if retract is not None
                else _fuse_schema_json(cur_schema, schema_json)
            )
            now_ms = int(time.time() * 1000)
            lines: list[dict] = []
            if version == 0:
                lines.append(
                    {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
                )
            if version == 0 or (fused is not None and fused != cur_schema):
                if meta_id is None:
                    meta_id = str(uuid.uuid4())
                lines.append(
                    {
                        "metaData": {
                            "id": meta_id,
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": fused or _EMPTY_SCHEMA,
                            "partitionColumns": [],
                            "configuration": {},
                            "createdTime": now_ms,
                        }
                    }
                )
            op = (
                "OPTIMIZE"
                if add and remove
                else ("DELETE" if remove else "WRITE")
            )
            zinger: dict = {}
            if commit is not None:
                zinger["commit"] = commit
            if floor is not None:
                zinger["floor"] = floor
            if retract is not None:
                zinger["retract"] = retract
            lines.append(
                {
                    "commitInfo": {
                        "timestamp": now_ms,
                        "operation": op,
                        "operationParameters": {},
                        "engineInfo": ENGINE_INFO,
                        "zinger": zinger,
                    }
                }
            )
            for a in add or []:
                add_act = {
                    "path": a["path"],
                    "partitionValues": {},
                    "size": a.get("size") or 0,
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": _delta_stats(a),
                }
                lines.append({"add": add_act})
            for r in remove or []:
                lines.append(
                    {
                        "remove": {
                            "path": r,
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                        }
                    }
                )
            payload = (
                "\n".join(json.dumps(ln, sort_keys=True) for ln in lines) + "\n"
            ).encode()
            if self._fs.create_exclusive(self._entry_path(version), payload):
                # our own entry is replayed-by-construction
                self._meta_cache = (version, meta_id, fused or cur_schema)
                if version > 0 and version % self.CHECKPOINT_INTERVAL == 0:
                    # Delta cadence: checkpoint every N commits so
                    # replay stays O(N).  Non-fatal by protocol — the
                    # commit IS the log entry; a failed checkpoint only
                    # leaves the old replay bound.
                    try:
                        self.write_checkpoint()
                    except Exception:  # noqa: BLE001
                        pass
                return version
            # lost the slot to a racer: re-list (their entry may carry
            # protocol/metaData/schema we must not duplicate) and claim
            # the next slot
            vs = self.versions()
            version = (vs[-1] + 1) if vs else version + 1

    # -- checkpoints --------------------------------------------------------

    def _last_checkpoint_path(self) -> str:
        return os.path.join(self.path, "_last_checkpoint")

    def write_checkpoint(self) -> int | None:
        """Materialize current state as ``<V>.checkpoint.parquet`` and
        swing ``_last_checkpoint`` (caller holds the writer lock).
        Returns the checkpointed version, or None for an empty log."""
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        vs = self.versions()
        if not vs:
            return None
        version = vs[-1]
        # seeding from the PREVIOUS checkpoint is exact by induction
        # (checkpoint + replayed tail == full replay), so the periodic
        # checkpoint write itself stays O(interval), not O(history)
        snap = self.snapshot()
        meta_id, schema = self._last_meta(vs)
        rows: list[dict] = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        ]
        if meta_id is not None:
            rows.append(
                {
                    "metaData": {
                        "id": meta_id,
                        "format": {"provider": "parquet"},
                        "schemaString": schema or _EMPTY_SCHEMA,
                        "partitionColumns": [],
                        "configuration": [],
                        "createdTime": 0,
                    }
                }
            )
        for f in snap["files"].values():
            rows.append(
                {
                    "add": {
                        "path": f["path"],
                        "partitionValues": [],
                        "size": f.get("size") or 0,
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": _delta_stats(f),
                    }
                }
            )
        # unexpired remove tombstones keep vacuum's orphan clock exact
        # across the checkpoint boundary (spec: retained tombstones);
        # tombstones past the retention window have long been vacuumed
        # and are dropped here so the checkpoint cannot grow with
        # delete history (the spec's tombstone retention)
        retention = time.time() - self.TOMBSTONE_RETENTION_S
        snap["removed_ts"] = {
            p: ts for p, ts in snap["removed_ts"].items() if ts >= retention
        }
        for path, ts in snap["removed_ts"].items():
            rows.append(
                {
                    "remove": {
                        "path": path,
                        "deletionTimestamp": int(ts * 1000),
                        "dataChange": True,
                    }
                }
            )
        schema_pa = pa.schema(
            [
                (
                    "protocol",
                    pa.struct(
                        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
                    ),
                ),
                (
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            ("format", pa.struct([("provider", pa.string())])),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            ("configuration", pa.map_(pa.string(), pa.string())),
                            ("createdTime", pa.int64()),
                        ]
                    ),
                ),
                (
                    "add",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("partitionValues", pa.map_(pa.string(), pa.string())),
                            ("size", pa.int64()),
                            ("modificationTime", pa.int64()),
                            ("dataChange", pa.bool_()),
                            ("stats", pa.string()),
                        ]
                    ),
                ),
                (
                    "remove",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("deletionTimestamp", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                ),
            ]
        )
        table = pa.Table.from_pylist(rows, schema=schema_pa)
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        cp_path = os.path.join(self.path, f"{version:020d}.checkpoint.parquet")
        self._fs.write_bytes_atomic(cp_path, buf.getvalue().to_pybytes())
        self._fs.write_json_atomic(
            self._last_checkpoint_path(),
            {
                "version": version,
                "size": len(rows),
                "zinger": {
                    "commits": snap["commits"],
                    "floor": snap["floor"],
                    "retracted": sorted(snap["retracted"]),
                    "removed_ts": snap["removed_ts"],
                    "schemaString": schema,
                },
            },
        )
        # superseded checkpoints are dead weight (readers always start
        # from _last_checkpoint): keep one predecessor as a fallback
        # for a reader that loaded _last_checkpoint just before this
        # swap, drop the rest.  JSON entries are never deleted (as-of
        # replays from v0).
        cps = sorted(
            int(f.split(".")[0])
            for f in self._fs.listdir(self.path)
            if f.endswith(".checkpoint.parquet") and f.split(".")[0].isdigit()
        )
        for old in cps[:-2]:
            try:
                self._fs.remove(
                    os.path.join(self.path, f"{old:020d}.checkpoint.parquet")
                )
            except FileNotFoundError:
                pass
        return version

    def _read_checkpoint(self) -> dict | None:
        """Seed state from the last checkpoint: {version, files,
        commits, floor, removed_ts, retracted, schema_string}.  None
        when absent or unreadable (falls back to full replay)."""
        lc = self._fs.read_json(self._last_checkpoint_path())
        if not lc:
            return None
        try:
            import pyarrow as pa  # noqa: PLC0415
            import pyarrow.parquet as pq  # noqa: PLC0415

            version = int(lc["version"])
            data = self._fs.read_bytes(
                os.path.join(self.path, f"{version:020d}.checkpoint.parquet")
            )
            if data is None:
                return None
            table = pq.read_table(pa.BufferReader(data))
            live: dict[str, dict] = {}
            meta_id = None
            for row in table.to_pylist():
                md = row.get("metaData")
                if md:
                    meta_id = md.get("id")
                a = row.get("add")
                if not a:
                    continue
                try:
                    st = json.loads(a.get("stats") or "{}")
                except ValueError:
                    st = {}
                live[a["path"]] = {
                    "path": a["path"],
                    "records": st.get("numRecords", 0),
                    "size": a.get("size"),
                    "stats": _flatten_minmax(st.get("minValues"), st.get("maxValues")),
                }
            z = lc.get("zinger", {})
            return {
                "version": version,
                "meta_id": meta_id,
                "files": live,
                "commits": list(z.get("commits", [])),
                "floor": z.get("floor"),
                "removed_ts": dict(z.get("removed_ts", {})),
                "retracted": set(z.get("retracted", [])),
                "schema_string": z.get("schemaString"),
            }
        except Exception:  # noqa: BLE001 - torn/foreign checkpoint: replay is
            # always available and always correct, the checkpoint only bounds it
            return None

    # -- snapshot ----------------------------------------------------------

    def snapshot(
        self, as_of_commit: str | None = None, use_checkpoint: bool = True
    ) -> dict:
        """Replay the log: live file actions (per-file dicts with stats)
        plus bookkeeping.  ``as_of_commit`` stops replay after the entry
        carrying that commit name (time travel).  Plain snapshots seed
        from the last checkpoint and replay only the entries after it;
        as-of snapshots always replay from version 0 (the target may
        predate the checkpoint)."""
        live: dict[str, dict] = {}
        commits: list[str] = []
        floor: str | None = None
        removed_ts: dict[str, float] = {}
        retracted: set[str] = set()
        schema_string: str | None = None
        seen_asof = False
        start_after = -1
        if as_of_commit is None and use_checkpoint:
            cp = self._read_checkpoint()
            if cp is not None:
                live = cp["files"]
                commits = cp["commits"]
                floor = cp["floor"]
                removed_ts = cp["removed_ts"]
                retracted = cp["retracted"]
                schema_string = cp["schema_string"]
                start_after = cp["version"]
        for v in self.versions():
            if v <= start_after:
                continue
            e = self._read_entry(v)
            if e is None:
                continue
            for a in e.get("add", []):
                live[a["path"]] = a
                removed_ts.pop(a["path"], None)
            for r in e.get("remove", []):
                live.pop(r, None)
                removed_ts[r] = e.get("ts", 0.0)
            if e.get("commit"):
                commits.append(e["commit"])
            if e.get("retract"):
                # a retracted commit is no longer part of pool history:
                # it must leave the commit list and never serve as an
                # as-of target — its files are gone once vacuum runs
                retracted.add(e["retract"])
                commits = [c for c in commits if c != e["retract"]]
            if e.get("floor"):
                floor = max(floor, e["floor"]) if floor else e["floor"]
            if e.get("schema_string"):
                schema_string = e["schema_string"]
            if as_of_commit is not None and e.get("commit") == as_of_commit:
                seen_asof = True
                break
        return {
            "files": live,
            "commits": commits,
            "floor": floor,
            "removed_ts": removed_ts,
            "retracted": retracted,
            "schema_string": schema_string,
            "asof_found": seen_asof,
        }


def prune_files(
    files: list[dict],
    topic: str | None = None,
    offset_lo: int | None = None,
    offset_hi: int | None = None,
) -> list[dict]:
    """File skipping on recorded min/max stats — the whole point of the
    log format: a scoped read never hands Spark a file whose stats rule
    it out.  A file with no stats for a column is conservatively kept.
    ``offset_hi`` is EXCLUSIVE (read_batch semantics)."""
    out = []
    for f in files:
        st = f.get("stats", {})
        if topic is not None and "kafka.topic" in st:
            lo, hi = st["kafka.topic"]
            if not (lo <= topic <= hi):
                continue
        if offset_lo is not None and "kafka.offset" in st and st["kafka.offset"][1] < offset_lo:
            continue
        if (
            offset_hi is not None
            and "kafka.offset" in st
            and st["kafka.offset"][0] >= offset_hi
        ):
            continue
        out.append(f)
    return out


def fresh_commit_id() -> str:
    return f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
