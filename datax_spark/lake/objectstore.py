"""Object-store commit backend: the conditional-put CAS the 100 TB
deployment target (S3/OSS/GCS) actually offers.

On an object store there is no ``flock`` and no atomic rename; the
whole exactly-once story rests on *conditional requests*:

* ``atomic_write`` → one PUT. Object stores are atomic per object —
  readers see the old or the new blob, never a torn write (the
  LocalFS analog of tmp+fsync+rename collapses into the PUT).
* ``commit_lock`` → a **conditional-create lease**: PUT of
  ``<root>/_commit.lock`` with ``If-None-Match: *`` (succeeds only if
  the object does not exist — S3 conditional writes / OSS
  ``x-oss-forbid-overwrite`` / GCS ``ifGenerationMatch: 0``), a body
  carrying ``{owner, host, pid, expires_at}``, a holder-side refresh
  re-PUT with ``If-Match: <etag>`` extending the lease, and release
  via ``DELETE If-Match``.  A lock whose lease expired without
  refresh is broken with ``DELETE If-Match: <etag>`` — only ONE
  waiter's conditional delete can win, closing the double-break race
  the LocalFS backend closes with its rename trick.

After a conditional create the holder READS THE LOCK BACK and checks
its own nonce: a store that silently ignores ``If-None-Match`` (a
misconfigured proxy, an eventually-consistent cache) turns the create
into a blind overwrite, and the read-back detects the foreign owner
instead of re-admitting the lost-update race.  The adversarial test
(`tests/test_objectstore.py`) runs the same sequence against a fake
that drops preconditions and shows mutual exclusion break — proving
the conditional request, not the request order, is the load-bearing
element.

The wire protocol here is plain HTTP (PUT/GET/DELETE +
If-Match/If-None-Match), i.e. exactly the S3-style surface; a real
deployment swaps the endpoint for the bucket gateway.  The data plane
of the in-process fake writes through to the local filesystem
(tmp+rename) so every ``open()`` read path of the lake keeps working
unchanged — the stand-in for a mounted read path — while the
conditional METADATA semantics are enforced server-side under one
mutex, which is the part a filesystem cannot give you and the part
this backend exists to model.

Reference analog: the two-phase tmp-write + rename publish in
``hdfswriter/.../HdfsWriter.java:151-196`` — re-expressed for a
medium where rename does not exist.
"""

from __future__ import annotations

import http.client
import json
import os
import socket
import threading
import time
import urllib.parse
import uuid
from contextlib import contextmanager

from datax_spark.lake.io import CommitLockTimeout


class PreconditionFailed(IOError):
    pass


class StoreIntegrityError(RuntimeError):
    """The store violated conditional-request semantics (e.g. an
    If-None-Match create was silently overwritten)."""


# ------------------------------------------------------------- client

class ObjectStoreClient:
    """Minimal conditional-request client (one S3-style endpoint).
    Thread-safe: one connection per call — commit traffic is a few
    small metadata objects per epoch, not a data path."""

    def __init__(self, endpoint: str, timeout: float = 30.0):
        # endpoint: "host:port"
        self.host, port = endpoint.rsplit(":", 1)
        self.port = int(port)
        self.timeout = timeout

    def _request(self, method: str, key: str, body: bytes | None = None,
                 headers: dict | None = None):
        conn = http.client.HTTPConnection(
            self.host, self.port, timeout=self.timeout)
        try:
            conn.request(method, urllib.parse.quote(key), body=body,
                         headers=headers or {})
            resp = conn.getresponse()
            data = resp.read()
            return resp.status, dict(
                (k.lower(), v) for k, v in resp.getheaders()), data
        finally:
            conn.close()

    def get(self, key: str) -> tuple[bytes, str] | None:
        status, hdrs, data = self._request("GET", key)
        if status == 404:
            return None
        if status != 200:
            raise IOError(f"GET {key}: HTTP {status}")
        return data, hdrs.get("etag", "")

    def put(self, key: str, data: bytes, if_match: str | None = None,
            if_none_match: bool = False) -> str:
        """Returns the new ETag; raises PreconditionFailed on 412."""
        h = {}
        if if_match is not None:
            h["If-Match"] = if_match
        if if_none_match:
            h["If-None-Match"] = "*"
        status, hdrs, _ = self._request("PUT", key, data, h)
        if status == 412:
            raise PreconditionFailed(f"PUT {key}: precondition failed")
        if status != 200:
            raise IOError(f"PUT {key}: HTTP {status}")
        return hdrs.get("etag", "")

    def delete(self, key: str, if_match: str | None = None) -> bool:
        """True if deleted, False if it did not exist; raises
        PreconditionFailed on 412."""
        h = {"If-Match": if_match} if if_match is not None else {}
        status, _, _ = self._request("DELETE", key, None, h)
        if status == 412:
            raise PreconditionFailed(f"DELETE {key}: precondition failed")
        if status == 404:
            return False
        if status != 204:
            raise IOError(f"DELETE {key}: HTTP {status}")
        return True


# ------------------------------------------------------------ backend

class _LockLease:
    __slots__ = ("etag", "nonce", "stop", "mutex")

    def __init__(self, etag: str, nonce: str):
        self.etag = etag
        self.nonce = nonce
        self.stop = threading.Event()
        self.mutex = threading.Lock()


class ObjectStoreBackend:
    """``lake.io`` backend over conditional PUT/DELETE (see module
    docstring). ``lease`` is the liveness bound: a holder that stops
    refreshing for ``lease`` seconds may have its lock broken — size
    it well above worst-case pauses; the refresh cadence is
    ``lease/4``."""

    def __init__(self, endpoint: str, lease: float = 30.0,
                 timeout: float = 120.0):
        self.client = ObjectStoreClient(endpoint)
        self.lease = lease
        self.timeout = timeout

    # -- blob publish ------------------------------------------------
    def atomic_write(self, path: str, data: str) -> None:
        # one PUT: atomic per object, readers never see a torn write
        self.client.put(path, data.encode())

    # -- commit lock -------------------------------------------------
    def _lock_key(self, root: str) -> str:
        return os.path.join(root, "_commit.lock")

    def _lock_body(self, nonce: str) -> bytes:
        return json.dumps({
            "owner": nonce,
            "host": socket.gethostname(),
            "pid": os.getpid(),
            "expires_at": time.time() + self.lease,
        }).encode()

    @contextmanager
    def commit_lock(self, root: str):
        key = self._lock_key(root)
        nonce = uuid.uuid4().hex
        lease = self._acquire(key, nonce)
        refresher = threading.Thread(
            target=self._refresh_loop, args=(key, lease), daemon=True)
        refresher.start()
        try:
            yield
        finally:
            lease.stop.set()
            refresher.join(timeout=5)
            try:
                with lease.mutex:
                    self.client.delete(key, if_match=lease.etag)
            except PreconditionFailed:
                # our lease was broken while we held it (we exceeded
                # the liveness bound); the next committer's parent
                # check still protects the data — but be loud
                raise StoreIntegrityError(
                    f"commit lock {key} was taken over mid-hold — "
                    f"lease {self.lease}s exceeded?")

    def _acquire(self, key: str, nonce: str) -> _LockLease:
        deadline = time.monotonic() + self.timeout
        while True:
            try:
                etag = self.client.put(
                    key, self._lock_body(nonce), if_none_match=True)
            except PreconditionFailed:
                self._break_if_expired(key)
            else:
                # read-back: a store that ignored If-None-Match turned
                # the create into an overwrite — detect, don't proceed
                cur = self.client.get(key)
                if cur is None or json.loads(cur[0]).get("owner") != nonce:
                    raise StoreIntegrityError(
                        f"conditional create of {key} was not honored "
                        f"(foreign owner after If-None-Match PUT) — "
                        f"the store does not enforce preconditions")
                return _LockLease(etag, nonce)
            if time.monotonic() > deadline:
                raise CommitLockTimeout(
                    f"commit lock {key} not acquired within "
                    f"{self.timeout}s — another committer is active")
            time.sleep(0.02)

    def _break_if_expired(self, key: str) -> None:
        cur = self.client.get(key)
        if cur is None:
            return  # released between our PUT and GET: retry acquire
        body, etag = cur
        try:
            holder = json.loads(body)
        except ValueError:
            holder = {}
        if time.time() <= float(holder.get("expires_at", 0)):
            return  # live lease
        try:
            # only ONE waiter's conditional delete can win this etag
            self.client.delete(key, if_match=etag)
        except PreconditionFailed:
            pass  # refreshed or broken by someone else: retry acquire

    def _refresh_loop(self, key: str, lease: _LockLease) -> None:
        interval = max(0.05, self.lease / 4)
        while not lease.stop.wait(interval):
            try:
                with lease.mutex:
                    lease.etag = self.client.put(
                        key, self._lock_body(lease.nonce),
                        if_match=lease.etag)
            except (PreconditionFailed, OSError):
                return  # lost the lease: stop touching it


# ------------------------------------- in-process S3-style fake server

class FakeObjectStore:
    """Test double: an HTTP object store that ENFORCES conditional
    semantics (If-Match / If-None-Match checked atomically under one
    server-side mutex — what S3 strong consistency gives you).  The
    data plane writes through to the local filesystem via tmp+rename
    so the lake's ``open()`` read paths work unchanged.

    ``root`` is the directory it serves: a request whose key (a
    filesystem path) normalizes to anything outside it is answered 403
    without touching a file.

    ``drop_preconditions=True`` turns it into the adversarial store
    the suite must defend against: every conditional request silently
    succeeds."""

    def __init__(self, root: str, drop_preconditions: bool = False):
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        self.root = os.path.realpath(root)
        self.drop_preconditions = drop_preconditions
        # adversarial hook: immediately clobber every successful
        # If-None-Match create with this foreign body (models a write
        # that raced through an eventually-consistent cache)
        self.clobber_creates: bytes | None = None
        self.etags: dict[str, str] = {}
        self.mutex = threading.Lock()
        store = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def _key(self) -> str | None:
                """The request's key, or None (after answering 403)
                when it resolves outside the served root."""
                key = urllib.parse.unquote(self.path)
                real = os.path.realpath(key)
                if os.path.commonpath([store.root, real]) != store.root:
                    self._reply(403, b"")
                    return None
                return key

            def do_GET(self):
                key = self._key()
                if key is None:
                    return
                with store.mutex:
                    etag = store.etags.get(key)
                    if etag is None or not os.path.exists(key):
                        self._reply(404, b"")
                        return
                    with open(key, "rb") as fh:
                        data = fh.read()
                self._reply(200, data, etag)

            def do_PUT(self):
                n = int(self.headers.get("Content-Length", 0))
                data = self.rfile.read(n)
                key = self._key()
                if key is None:
                    return
                is_create = self.headers.get("If-None-Match") == "*"
                with store.mutex:
                    cur = store.etags.get(key)
                    if not store.drop_preconditions:
                        if is_create and cur is not None:
                            self._reply(412, b"")
                            return
                        want = self.headers.get("If-Match")
                        if want is not None and want != cur:
                            self._reply(412, b"")
                            return
                    self._write_through(key, data)
                    etag = uuid.uuid4().hex
                    store.etags[key] = etag
                    if is_create and store.clobber_creates is not None:
                        self._write_through(key, store.clobber_creates)
                        store.etags[key] = uuid.uuid4().hex
                self._reply(200, b"", etag)

            @staticmethod
            def _write_through(key: str, data: bytes) -> None:
                os.makedirs(os.path.dirname(key), exist_ok=True)
                tmp = f"{key}.tmp.{uuid.uuid4().hex}"
                with open(tmp, "wb") as fh:
                    fh.write(data)
                    fh.flush()
                    os.fsync(fh.fileno())
                os.rename(tmp, key)

            def do_DELETE(self):
                key = self._key()
                if key is None:
                    return
                with store.mutex:
                    cur = store.etags.get(key)
                    if cur is None:
                        self._reply(404, b"")
                        return
                    want = self.headers.get("If-Match")
                    if (not store.drop_preconditions
                            and want is not None and want != cur):
                        self._reply(412, b"")
                        return
                    store.etags.pop(key, None)
                    try:
                        os.unlink(key)
                    except FileNotFoundError:
                        pass
                self._reply(204, b"")

            def _reply(self, status: int, body: bytes,
                       etag: str | None = None):
                self.send_response(status)
                if etag is not None:
                    self.send_header("ETag", etag)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.httpd.server_address[1]
        self.endpoint = f"127.0.0.1:{self.port}"
        threading.Thread(target=self.httpd.serve_forever,
                         daemon=True).start()

    def close(self):
        self.httpd.shutdown()
        self.httpd.server_close()
