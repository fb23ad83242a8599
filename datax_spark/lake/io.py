"""Storage backend seam for the lake's commit protocol.

Every mutation of table metadata funnels through exactly two
primitives, so a deployment can swap the physical medium without
touching commit logic (the reference's analog is the two-phase
tmp-write + rename publish in ``hdfswriter/.../HdfsWriter.java:151-196``):

* ``atomic_write(path, data)`` — publish a blob so readers see either
  the old or the new content, never a torn write. LocalFS/HDFS: write
  a temp file, fsync, rename. An object store (S3/OSS/GCS) maps this
  to a single PUT (already atomic per-object).
* ``commit_lock(root)`` — a CROSS-PROCESS critical section around the
  parent-check + pointer swap, making that pair one physical
  compare-and-swap: two concurrent committers (e.g. a replay job and a
  nightly compaction, separate JVMs/processes) serialize here, the
  loser re-reads the head and either rebases or raises
  ``CommitConflictError`` — never a silent lost update. LocalFS:
  ``flock`` on ``<root>/_commit.lock`` (kernel-released when the
  process dies, so a crashed committer can never wedge the table), or
  an O_EXCL lockfile with liveness/stale expiry where ``flock`` is
  unavailable. An object store maps the whole primitive to a
  conditional-put on the pointer object (If-Match / x-oss-forbid-
  overwrite / DynamoDB-style catalog CAS — exactly what Iceberg
  requires of its catalog) and may implement ``commit_lock`` as a
  no-op plus a conditional ``atomic_write``.

The in-process ``threading.RLock`` layer stays in ``table.py`` (cheap
reentrancy + intra-process fairness); the backend adds the
inter-process guarantee underneath it.
"""

from __future__ import annotations

import errno
import json
import os
import socket
import time
import uuid
from contextlib import contextmanager

try:  # POSIX (this sandbox, any Linux/macOS deployment)
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX fallback path
    fcntl = None  # type: ignore[assignment]


class CommitLockTimeout(RuntimeError):
    """Could not enter the commit critical section in time — another
    committer is holding (or a dead one's stale lockfile is blocking)
    the table's pointer swap."""


class LocalFSBackend:
    """POSIX filesystem backend (also correct on HDFS-style mounts
    with atomic rename). This is the only backend shipped — the class
    exists so an object-store conditional-put backend can slot in
    without touching ``table.py``.

    Locking strategy: ``flock`` when available (auto-released by the
    kernel on process death — no stale state possible), else an
    O_EXCL lockfile carrying ``{pid, host, nonce}``. Breaking a held
    lockfile requires positive evidence the holder is gone:

    * same-host holder: broken iff its pid no longer exists. A LIVE
      same-host holder is never broken, however stale its mtime — it
      may be paused (GC, SIGSTOP) or in a long critical section. The
      price is that a recycled pid can pin the lock until ``timeout``
      raises ``CommitLockTimeout`` (operator unwedges by deleting the
      lockfile) — availability traded for never re-admitting the
      lost-update race the lock exists to prevent.
    * cross-host holder: no pid probe is possible, so the holder runs
      a refresh thread touching the lockfile every ``stale_after/4``;
      a cross-host lock is broken only after ``stale_after`` seconds
      WITHOUT refresh — i.e. the holder must be dead, partitioned, or
      frozen longer than ``stale_after`` (the documented cross-host
      liveness bound; size it ≫ worst-case stop-the-world pauses).

    Lockfile breaking goes through an atomic rename (only one waiter
    can win the rename), closing the unlink/unlink race between two
    waiters.
    """

    def __init__(self, stale_after: float = 120.0, timeout: float = 120.0):
        self.stale_after = stale_after
        self.timeout = timeout
        # (path, nonce) -> (stop Event, refresher Thread) for held
        # O_EXCL locks; holder-side mtime refresh keeps live cross-host
        # locks from ever looking stale
        self._refreshers: dict = {}

    # -- blob publish ------------------------------------------------
    def atomic_write(self, path: str, data: str) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, path)  # atomic on POSIX / HDFS rename semantics

    # -- cross-process commit lock ----------------------------------
    def _lock_path(self, root: str) -> str:
        return os.path.join(root, "_commit.lock")

    @contextmanager
    def commit_lock(self, root: str):
        os.makedirs(root, exist_ok=True)
        path = self._lock_path(root)
        # DATAX_LOCKFILE_MODE=excl forces the O_EXCL fallback even on
        # POSIX — lets the cross-process tests exercise the path
        # non-flock deployments will actually run
        if fcntl is not None and os.environ.get("DATAX_LOCKFILE_MODE") != "excl":
            fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
            try:
                self._flock_acquire(fd, path)
                yield
            finally:
                try:
                    fcntl.flock(fd, fcntl.LOCK_UN)
                finally:
                    os.close(fd)
        else:
            nonce = self._excl_acquire(path)
            try:
                yield
            finally:
                self._excl_release(path, nonce)

    def _flock_acquire(self, fd: int, path: str) -> None:
        deadline = time.monotonic() + self.timeout
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return
            except OSError as e:
                if e.errno not in (errno.EAGAIN, errno.EACCES):
                    raise
            if time.monotonic() > deadline:
                raise CommitLockTimeout(
                    f"commit lock on {path} not acquired within "
                    f"{self.timeout}s — another committer is active"
                )
            time.sleep(0.02)

    # -- O_EXCL fallback (documented, kept tested via direct calls) --
    def _excl_acquire(self, path: str) -> str:
        nonce = uuid.uuid4().hex
        body = json.dumps(
            {"pid": os.getpid(), "host": socket.gethostname(), "nonce": nonce}
        )
        deadline = time.monotonic() + self.timeout
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
                try:
                    os.write(fd, body.encode())
                    os.fsync(fd)
                finally:
                    os.close(fd)
                self._start_refresher(path, nonce)
                return nonce
            except FileExistsError:
                self._excl_break_if_stale(path)
            if time.monotonic() > deadline:
                raise CommitLockTimeout(
                    f"commit lockfile {path} held past {self.timeout}s"
                )
            time.sleep(0.02)

    def _start_refresher(self, path: str, nonce: str) -> None:
        import threading

        stop = threading.Event()
        t = threading.Thread(
            target=self._excl_refresh, args=(path, nonce, stop), daemon=True
        )
        t.start()
        self._refreshers[(path, nonce)] = (stop, t)

    def _excl_refresh(self, path: str, nonce: str, stop) -> None:
        # touch at stale_after/4 so a LIVE holder is never mtime-stale;
        # stops itself if the lock vanished or was broken+reacquired
        interval = max(0.05, self.stale_after / 4)
        while not stop.wait(interval):
            try:
                with open(path) as fh:
                    if json.loads(fh.read() or "{}").get("nonce") != nonce:
                        return  # not ours anymore
                os.utime(path, None)
            except (FileNotFoundError, ValueError, OSError):
                return

    def _excl_break_if_stale(self, path: str) -> None:
        try:
            st = os.stat(path)
            with open(path) as fh:
                holder = json.loads(fh.read() or "{}")
        except (FileNotFoundError, ValueError):
            return  # released or mid-write; retry the acquire loop
        if holder.get("host") == socket.gethostname():
            # positive evidence of death required: break iff pid gone.
            # A pid <= 0 names no holder process (kill(0|-n, 0) probes
            # a process group and would succeed forever): dead.
            try:
                pid = int(holder.get("pid", 0))
                if pid > 0:
                    os.kill(pid, 0)
                    return  # alive — never break, regardless of mtime
            except (ProcessLookupError, ValueError, TypeError):
                pass  # dead: break now
            except PermissionError:
                return  # alive under another uid
        elif time.time() - st.st_mtime <= self.stale_after:
            return  # cross-host holder still refreshing: keep waiting
        # break via atomic rename: only ONE waiter wins the rename,
        # so two waiters can never free two successive holders
        try:
            grave = f"{path}.stale.{uuid.uuid4().hex}"
            os.rename(path, grave)
            os.unlink(grave)
        except FileNotFoundError:
            pass

    def _excl_release(self, path: str, nonce: str) -> None:
        ent = self._refreshers.pop((path, nonce), None)
        if ent is not None:
            ent[0].set()
        try:
            with open(path) as fh:
                if json.loads(fh.read() or "{}").get("nonce") == nonce:
                    os.unlink(path)
        except (FileNotFoundError, ValueError):
            pass


# The process-wide backend. Swap for the object-store implementation
# with set_backend() before any table is opened, or set
# DATAX_OBJECTSTORE_ENDPOINT=host:port so every process (including
# spawned workers, which inherit the environment) routes commits
# through the conditional-put backend (lake/objectstore.py). The whole
# suite runs against either backend unchanged.
_BACKEND = None


def get_backend():
    global _BACKEND
    if _BACKEND is None:
        endpoint = os.environ.get("DATAX_OBJECTSTORE_ENDPOINT")
        if endpoint:
            from datax_spark.lake.objectstore import ObjectStoreBackend

            _BACKEND = ObjectStoreBackend(endpoint)
        else:
            _BACKEND = LocalFSBackend()
    return _BACKEND


def set_backend(backend) -> None:
    global _BACKEND
    _BACKEND = backend
