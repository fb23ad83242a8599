"""Object-store commit backend (lake/objectstore.py): conditional-put
CAS semantics against an in-process S3-style fake that ENFORCES
If-Match/If-None-Match, the full table-commit flow via set_backend(),
cross-process CAS through the DATAX_OBJECTSTORE_ENDPOINT env, and the
adversarial cases — a store that DROPS preconditions (mutual exclusion
demonstrably breaks, proving the conditional request is load-bearing)
and a create that gets clobbered (read-back detection refuses to
proceed)."""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys
import textwrap
import threading
import time

import pytest
from pyspark.sql import types as T

from datax_spark.lake import io as lake_io
from datax_spark.lake.io import CommitLockTimeout
from datax_spark.lake.objectstore import (
    FakeObjectStore,
    ObjectStoreBackend,
    ObjectStoreClient,
    PreconditionFailed,
    StoreIntegrityError,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def store(tmp_path):
    srv = FakeObjectStore(str(tmp_path))
    yield srv
    srv.close()


@pytest.fixture()
def obs_backend(store):
    """Swap the process backend to the object store for one test."""
    b = ObjectStoreBackend(store.endpoint, lease=5.0, timeout=30.0)
    lake_io.set_backend(b)
    yield b
    lake_io.set_backend(lake_io.LocalFSBackend())


# ------------------------------------------------ conditional semantics


def test_conditional_request_semantics(store, tmp_path):
    c = ObjectStoreClient(store.endpoint)
    key = str(tmp_path / "obj")
    assert c.get(key) is None
    e1 = c.put(key, b"v1", if_none_match=True)
    # second conditional create MUST fail — this is the CAS
    with pytest.raises(PreconditionFailed):
        c.put(key, b"v1b", if_none_match=True)
    data, etag = c.get(key)
    assert data == b"v1" and etag == e1
    # If-Match replace: right etag wins, stale etag is refused
    e2 = c.put(key, b"v2", if_match=e1)
    with pytest.raises(PreconditionFailed):
        c.put(key, b"v3", if_match=e1)
    assert c.get(key)[0] == b"v2"
    # data plane writes through to the real filesystem (lake reads
    # keep using open() unchanged)
    assert open(key, "rb").read() == b"v2"
    # conditional delete
    with pytest.raises(PreconditionFailed):
        c.delete(key, if_match=e1)
    assert c.delete(key, if_match=e2) is True
    assert c.get(key) is None and not os.path.exists(key)
    assert c.delete(key) is False


def test_keys_outside_served_root_are_refused(tmp_path):
    """The fake writes through to the filesystem at the request path,
    so a key that escapes its root (``root/../x``, an absolute path
    elsewhere) must be answered 403 for every verb, touching no file."""
    import http.client
    import urllib.parse

    root = tmp_path / "served"
    root.mkdir()
    outside = tmp_path / "outside"
    outside.mkdir()
    victim = outside / "victim"
    victim.write_bytes(b"keep")
    srv = FakeObjectStore(str(root))
    try:
        for key in (
            f"{root}/../outside/victim",
            f"{root}/../outside/new",
            str(victim),
            str(outside / "new"),
        ):
            for method in ("PUT", "GET", "DELETE"):
                conn = http.client.HTTPConnection("127.0.0.1", srv.port, timeout=10)
                conn.request(method, urllib.parse.quote(key), body=b"evil")
                resp = conn.getresponse()
                resp.read()
                conn.close()
                assert resp.status == 403, (method, key)
        assert victim.read_bytes() == b"keep"
        assert sorted(p.name for p in outside.iterdir()) == ["victim"]
        assert not srv.etags
        # keys inside the root are still served
        c = ObjectStoreClient(srv.endpoint)
        c.put(f"{root}/sub/../obj", b"ok", if_none_match=True)
        assert (root / "obj").read_bytes() == b"ok"
    finally:
        srv.close()


def test_atomic_write_via_backend(store, tmp_path):
    b = ObjectStoreBackend(store.endpoint)
    path = str(tmp_path / "m" / "v00000001.json")
    b.atomic_write(path, '{"v": 1}')
    assert json.load(open(path)) == {"v": 1}
    b.atomic_write(path, '{"v": 2}')  # unconditional blob publish
    assert json.load(open(path)) == {"v": 2}


# ------------------------------------------------------- lock behavior


def test_lock_mutual_exclusion_threads(store, tmp_path):
    b = ObjectStoreBackend(store.endpoint, lease=10.0, timeout=60.0)
    root = str(tmp_path / "t")
    os.makedirs(root)
    state = {"n": 0, "max_inside": 0, "inside": 0}
    guard = threading.Lock()

    def worker():
        for _ in range(10):
            with b.commit_lock(root):
                with guard:
                    state["inside"] += 1
                    state["max_inside"] = max(state["max_inside"],
                                              state["inside"])
                cur = state["n"]
                time.sleep(0.002)  # widen the race window
                state["n"] = cur + 1
                with guard:
                    state["inside"] -= 1

    ts = [threading.Thread(target=worker) for _ in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert state["n"] == 40  # no lost update
    assert state["max_inside"] == 1  # never two holders


def test_expired_lease_of_dead_holder_is_broken(store, tmp_path):
    b = ObjectStoreBackend(store.endpoint, lease=5.0, timeout=10.0)
    root = str(tmp_path / "t")
    os.makedirs(root)
    key = b._lock_key(root)
    # a crashed holder: lease already expired, no refresher running
    c = ObjectStoreClient(store.endpoint)
    c.put(key, json.dumps({"owner": "dead", "host": "gone", "pid": 1,
                           "expires_at": time.time() - 60}).encode(),
          if_none_match=True)
    t0 = time.monotonic()
    with b.commit_lock(root):
        pass
    assert time.monotonic() - t0 < 5  # broken promptly, not timed out


def test_live_holder_is_not_broken(store, tmp_path):
    """The holder refreshes at lease/4, so waiters never see an
    expired lease while it is alive — even holding far past the
    lease duration."""
    b1 = ObjectStoreBackend(store.endpoint, lease=0.4, timeout=30.0)
    b2 = ObjectStoreBackend(store.endpoint, lease=0.4, timeout=1.2)
    root = str(tmp_path / "t")
    os.makedirs(root)
    entered = threading.Event()
    release = threading.Event()

    def holder():
        with b1.commit_lock(root):
            entered.set()
            release.wait(10)

    th = threading.Thread(target=holder)
    th.start()
    assert entered.wait(10)
    time.sleep(1.0)  # well past the 0.4 s lease: refresh keeps it live
    with pytest.raises(CommitLockTimeout):
        with b2.commit_lock(root):
            pass
    release.set()
    th.join()
    # and after release the lock is immediately acquirable
    with b2.commit_lock(root):
        pass


def test_takeover_mid_hold_raises_on_release(store, tmp_path):
    """If the holder's lease is replaced under it (e.g. an operator
    force-deleted the lock and another committer took it), the
    release's conditional delete fails — surfaced loudly as
    StoreIntegrityError, never a silent swallow."""
    b = ObjectStoreBackend(store.endpoint, lease=300.0, timeout=5.0)
    root = str(tmp_path / "t")
    os.makedirs(root)
    c = ObjectStoreClient(store.endpoint)
    key = b._lock_key(root)
    with pytest.raises(StoreIntegrityError, match="taken over"):
        with b.commit_lock(root):
            # force-break + foreign re-acquire while held
            _, etag = c.get(key)
            c.delete(key, if_match=etag)
            c.put(key, json.dumps({"owner": "other", "host": "x",
                                   "pid": 1,
                                   "expires_at": time.time() + 300}
                                  ).encode(), if_none_match=True)


# --------------------------------------------------- adversarial store


def test_dropped_preconditions_break_mutual_exclusion(tmp_path):
    """THE lost-update demonstration: against a store that silently
    ignores conditional preconditions, a second 'create' overwrites
    the live lock and both committers enter — the exact race the
    conditional put exists to prevent. The enforcing store (previous
    tests) refuses the same sequence. This is why the backend must
    run against a bucket with conditional-write support, not a bare
    eventually-consistent cache."""
    srv = FakeObjectStore(str(tmp_path), drop_preconditions=True)
    try:
        b = ObjectStoreBackend(srv.endpoint, lease=30.0, timeout=2.0)
        root = str(tmp_path / "t")
        os.makedirs(root)
        holders = []
        with b.commit_lock(root):
            holders.append("a")
            # second acquire SHOULD block/time out; with preconditions
            # dropped it walks straight in
            with b.commit_lock(root):
                holders.append("b")
        assert holders == ["a", "b"]  # mutual exclusion is gone
    finally:
        srv.close()


def test_clobbered_create_is_detected(tmp_path):
    """A create that 'succeeds' but lands under a foreign writer (an
    eventually-consistent cache replaying a stale write) is caught by
    the read-back owner check: the backend raises instead of entering
    the critical section on a lock it does not hold."""
    srv = FakeObjectStore(str(tmp_path))
    try:
        srv.clobber_creates = json.dumps({
            "owner": "someone-else", "host": "x", "pid": 1,
            "expires_at": time.time() + 300}).encode()
        b = ObjectStoreBackend(srv.endpoint, lease=5.0, timeout=2.0)
        root = str(tmp_path / "t")
        os.makedirs(root)
        with pytest.raises(StoreIntegrityError, match="not honored"):
            with b.commit_lock(root):
                pass
    finally:
        srv.close()


# ----------------------------------------- table commit CAS, in-process


def test_table_commit_cas_threads(spark, tmp_path, obs_backend):
    """The real LakeTable CAS (read head → check parent → swap) with
    every metadata write and the commit lock routed through the
    object store: concurrent read-modify-write commits serialize to a
    fully linear history with zero lost increments."""
    from datax_spark.lake.table import CommitConflictError, LakeTable

    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("lsn", T.LongType()),
    ])
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, schema, ["repo", "path"], num_buckets=4)

    def committer(tag):
        t = LakeTable(None, root)
        for i in range(8):
            for _ in range(2000):
                cur = t.current_version()
                m = t.manifest()
                nm = dataclasses.replace(
                    m, version=cur + 1, parent=cur,
                    summary={**m.summary,
                             "hits": int(m.summary.get("hits", 0)) + 1,
                             "last_by": f"{tag}:{i}"})
                try:
                    t._write_manifest(nm, expected_parent=cur)
                    break
                except CommitConflictError:
                    time.sleep(0.001)
            else:
                raise AssertionError("gave up")

    ts = [threading.Thread(target=committer, args=(tag,))
          for tag in ("a", "b", "c")]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    t = LakeTable(spark, root)
    assert t.manifest().summary["hits"] == 24
    vs = t.versions()
    assert vs == list(range(vs[0], vs[0] + len(vs)))
    for v in vs[1:]:
        assert t.manifest(v).parent == v - 1


# -------------------------------------------- cross-process, via env

_CAS_WORKER = """
    import dataclasses, sys, time
    from datax_spark.lake.table import CommitConflictError, LakeTable

    root, tag = sys.argv[1], sys.argv[2]
    t = LakeTable(None, root)
    done = 0
    for i in range(15):
        for attempt in range(4000):
            cur = t.current_version()
            m = t.manifest()
            nm = dataclasses.replace(
                m, version=cur + 1, parent=cur,
                summary={**m.summary,
                         "hits": int(m.summary.get("hits", 0)) + 1,
                         "last_by": f"{tag}:{i}"},
            )
            try:
                t._write_manifest(nm, expected_parent=cur)
                done += 1
                break
            except CommitConflictError:
                time.sleep(0.001)
        else:
            print("GAVE UP", flush=True); sys.exit(2)
    print(f"DONE {done}", flush=True)
"""


def test_two_process_cas_through_objectstore(spark, tmp_path, store):
    """Two OS processes route their commit locks + metadata writes
    through the SAME object store (endpoint handed down via
    DATAX_OBJECTSTORE_ENDPOINT): 30 read-modify-write commits land
    with zero lost updates and a linear parent chain — the LocalFS
    two-process CAS test, on the conditional-put medium."""
    from datax_spark.lake.table import LakeTable

    lake_io.set_backend(ObjectStoreBackend(store.endpoint, lease=10.0))
    try:
        schema = T.StructType([
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ])
        root = str(tmp_path / "t")
        LakeTable.create(spark, root, schema, ["repo", "path"],
                         num_buckets=4)
        env = {**os.environ, "PYTHONPATH": REPO,
               "DATAX_OBJECTSTORE_ENDPOINT": store.endpoint}
        ws = []
        for tag in ("a", "b"):
            p = tmp_path / f"cas_{tag}.py"
            p.write_text(textwrap.dedent(_CAS_WORKER))
            ws.append(subprocess.Popen(
                [sys.executable, str(p), root, tag],
                cwd=str(tmp_path), env=env,
                stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True))
        for w in ws:
            out, err = w.communicate(timeout=300)
            assert w.returncode == 0, f"worker failed: {out}\n{err}"
            assert "DONE 15" in out
        t = LakeTable(spark, root)
        assert t.manifest().summary["hits"] == 30
        vs = t.versions()
        assert vs == list(range(vs[0], vs[0] + len(vs)))
        for v in vs[1:]:
            assert t.manifest(v).parent == v - 1
    finally:
        lake_io.set_backend(lake_io.LocalFSBackend())
