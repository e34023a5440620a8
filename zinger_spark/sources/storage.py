"""Storage backend seam for the pool's metadata and layout operations.

The Pool's DATA path is Spark (``spark.read.parquet`` / ``df.write``),
which already speaks any Hadoop-compatible filesystem.  Everything
else — the transaction log, ``_pool.json`` and sidecar IO, the writer
lock, vacuum's listing and deletes — goes through one small interface,
so an object-storage pool only swaps the backend object, never touches
Pool logic.  No operation here renames data: a commit is published by
a log append, never by moving files.

Object-storage mapping (S3/GCS/ABFS), for the future backend:

- ``write_json_atomic``/``write_bytes_atomic`` -> a plain PUT (object
                          stores are atomic per key; no tmp+rename
                          dance needed).
- ``create_exclusive`` (writer lock, log version claim) -> conditional
                          put: S3 ``If-None-Match: *``, GCS
                          ``ifGenerationMatch=0``; stale-break maps to a
                          conditional DELETE on the observed
                          generation/ETag, which closes the TOCTOU the
                          posix path needs the rename-aside dance for.
- ``identity``         -> the object's (generation, etag) instead of
                          (inode, mtime_ns).
- ``listdir``/``isdir``-> prefix LIST with delimiter '/'.
- ``mtime``            -> the object's Last-Modified.

Everything here is driver-side small-file IO (log entries are KBs), so
per-call HTTP latency is fine; the 100-TB data volume never flows
through this interface.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid


class PosixStorage:
    """Default backend: local / NFS / any mounted filesystem."""

    # -- small-file IO ------------------------------------------------------

    def read_json(self, path: str) -> dict | None:
        """Parse a small JSON file; None when absent."""
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def read_text(self, path: str) -> str | None:
        """Raw small-file read (the Delta log is NDJSON, not one
        object); None when absent."""
        try:
            with open(path) as f:
                return f.read()
        except FileNotFoundError:
            return None

    def read_bytes(self, path: str) -> bytes | None:
        """Raw bytes (checkpoint parquet); None when absent."""
        try:
            with open(path, "rb") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        """Old-or-new visibility for binary blobs (checkpoint parquet):
        tmp + rename, same pattern as write_json_atomic."""
        d, base = os.path.split(path)
        tmp = os.path.join(d, f".{base}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def write_json_atomic(self, path: str, obj: dict) -> None:
        """Readers see the old or the new content, never a torn write
        (tmp file + atomic rename within the same directory)."""
        d, base = os.path.split(path)
        tmp = os.path.join(d, f".{base}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    # -- layout -------------------------------------------------------------

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    # -- writer lock primitives --------------------------------------------

    def create_exclusive(self, path: str, data: bytes) -> bool:
        """Create ``path`` with ``data`` iff it does not exist — the
        lock-acquire primitive.  Returns False when it already exists.
        Object stores: conditional put (If-None-Match / generation 0)."""
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
        finally:
            os.close(fd)
        return True

    def identity(self, path: str):
        """Opaque identity+age token for the lock file: compares equal
        only for the same physical object.  Returns (identity, age_mtime)
        or None when absent."""
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return None
        return ((st.st_ino, st.st_mtime_ns), st.st_mtime)

    def take_aside(self, path: str, expected_identity) -> bool:
        """Stale-lock break: atomically move ``path`` out of the way and
        delete it, but ONLY if it is still the object whose identity was
        judged stale.  Returns True when the stale lock is gone (by us
        or a racer), False when a fresh lock now holds the path.

        Posix has no conditional delete, so: rename to a private name —
        exactly one racer wins — then verify identity and undo the
        rename if a fresh lock was caught instead (see Pool docstring
        for the accepted residual window).  Object stores do this in one
        conditional DELETE on generation/ETag."""
        aside = path + f".break-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(path, aside)
        except FileNotFoundError:
            return True  # another waiter broke it first
        st = os.stat(aside)
        if (st.st_ino, st.st_mtime_ns) != expected_identity:
            os.rename(aside, path)  # stole a fresh lock: undo
            return False
        os.remove(aside)
        return True


class MemoryObjectStorage:
    """In-memory OBJECT store implementing the same seam — the semantic
    model of S3/GCS (and the test double proving the Pool's locking and
    log protocol need no posix semantics at all).

    Faithful to object-store rules, deliberately NOT to posix:

    - flat key space; "directories" exist only as key prefixes
      (``makedirs`` is a no-op, ``isdir`` = any key under ``p/``);
    - every mutation is atomic PER KEY and bumps a server-side
      generation number (GCS generation / S3 versionId+ETag);
    - ``create_exclusive`` is a CONDITIONAL PUT (S3 ``If-None-Match:
      *``, GCS ``ifGenerationMatch=0``): one compare-and-set under the
      store lock, exactly one concurrent creator wins;
    - ``take_aside`` (stale-lock break) is a CONDITIONAL DELETE on the
      observed generation — one atomic op, so the posix rename-aside
      dance and its residual double-race window simply don't exist
      here.

    A single ``threading.Lock`` models the store's per-request
    linearizability; all state is (bytes, generation, mtime) per key.
    """

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._objects: dict[str, tuple[bytes, int, float]] = {}
        self._gen = 0

    def _put(self, key: str, data: bytes) -> None:
        import time

        self._gen += 1
        self._objects[key] = (data, self._gen, time.time())

    @staticmethod
    def _norm(path: str) -> str:
        return path.rstrip("/")

    # -- small-file IO ------------------------------------------------------

    def read_json(self, path: str) -> dict | None:
        with self._lock:
            obj = self._objects.get(self._norm(path))
        return None if obj is None else json.loads(obj[0])

    def read_text(self, path: str) -> str | None:
        with self._lock:
            obj = self._objects.get(self._norm(path))
        return None if obj is None else obj[0].decode()

    def read_bytes(self, path: str) -> bytes | None:
        with self._lock:
            obj = self._objects.get(self._norm(path))
        return None if obj is None else obj[0]

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        with self._lock:
            self._put(self._norm(path), data)

    def write_json_atomic(self, path: str, obj: dict) -> None:
        # a plain PUT: object stores are atomic per key, no tmp+rename
        with self._lock:
            self._put(self._norm(path), json.dumps(obj).encode())

    def exists(self, path: str) -> bool:
        p = self._norm(path)
        with self._lock:
            return p in self._objects or any(
                k.startswith(p + "/") for k in self._objects
            )

    # -- layout (prefix LIST with '/' delimiter) ----------------------------

    def listdir(self, path: str) -> list[str]:
        p = self._norm(path)
        with self._lock:
            seen = set()
            for k in self._objects:
                if k.startswith(p + "/"):
                    seen.add(k[len(p) + 1 :].split("/", 1)[0])
        return sorted(seen)

    def isdir(self, path: str) -> bool:
        p = self._norm(path)
        with self._lock:
            return any(k.startswith(p + "/") for k in self._objects)

    def makedirs(self, path: str) -> None:
        pass  # directories are not objects

    def rmtree(self, path: str) -> None:
        p = self._norm(path)
        with self._lock:
            for k in list(self._objects):
                if k == p or k.startswith(p + "/"):
                    del self._objects[k]

    def remove(self, path: str) -> None:
        p = self._norm(path)
        with self._lock:
            if p not in self._objects:
                raise FileNotFoundError(path)
            del self._objects[p]

    def mtime(self, path: str) -> float:
        p = self._norm(path)
        with self._lock:
            if p in self._objects:
                return self._objects[p][2]
            times = [
                v[2] for k, v in self._objects.items() if k.startswith(p + "/")
            ]
        if not times:
            raise FileNotFoundError(path)
        return max(times)

    # -- writer lock primitives (native conditional ops) --------------------

    def create_exclusive(self, path: str, data: bytes) -> bool:
        """Conditional PUT if-absent: the whole check-and-create is one
        linearizable server op, never a client-side TOCTOU."""
        p = self._norm(path)
        with self._lock:
            if p in self._objects:
                return False
            self._put(p, data)
            return True

    def identity(self, path: str):
        p = self._norm(path)
        with self._lock:
            obj = self._objects.get(p)
            if obj is None:
                return None
            data, gen, mtime = obj
        import hashlib

        return ((gen, hashlib.md5(data).hexdigest()), mtime)

    def take_aside(self, path: str, expected_identity) -> bool:
        """Conditional DELETE on generation/ETag — deletes the stale
        lock iff it is still the exact object judged stale.  Returns
        True when the stale lock is gone (deleted by us, or already
        replaced-and-released), False when a FRESH lock holds the path."""
        p = self._norm(path)
        with self._lock:
            obj = self._objects.get(p)
            if obj is None:
                return True
            data, gen, _ = obj
            import hashlib

            if (gen, hashlib.md5(data).hexdigest()) != expected_identity:
                return False
            del self._objects[p]
            return True
