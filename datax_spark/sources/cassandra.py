"""Cassandra reader/writer over the public CQL native protocol v4.

Reference parity (cassandrareader/.../CassandraReaderHelper.java,
cassandrawriter/.../CassandraWriter.java):

* **split** (splitJob:415-466): the partitioner's token ring divides
  into adviceNumber equal slices — Murmur3Partitioner splits
  [Long.MIN, Long.MAX], RandomPartitioner splits [-1, 2^127] — and a
  user ``where`` already containing ``token(`` disables splitting, as
  does an unknown partitioner (single task).
* **query** (getQueryString:467-523): ``SELECT <cols> FROM <table>
  WHERE token(<partition keys>) > <min> AND token(...) <= <max>
  [AND <user where>] [ALLOW FILTERING]`` — ALLOW FILTERING is added
  exactly when the user supplied a where, and the partition-key list
  comes from the table metadata.
* **write** (CassandraWriter.startWrite:100-135): rows buffer to
  ``batchSize`` and flush as an UNLOGGED batch (Type.UNLOGGED), the
  write path that avoids the coordinator log for multi-partition
  ingest.

Transport: the reference links the DataStax driver; this module
speaks the versioned frame protocol directly — STARTUP→READY
handshake, QUERY frames with paging (page size + paging state), BATCH
frames (kind 0 = query strings), RESULT Rows decoding from the
server-sent column metadata (option ids → Spark types, so the
DataFrame schema comes from the cluster, not hand config). Password
auth: the AUTHENTICATE→AUTH_RESPONSE→AUTH_SUCCESS exchange with the
single-step SASL PLAIN token (\\0user\\0password) that
PasswordAuthenticator expects; multi-step SASL challenges fail
loudly. Drivable by an in-process fake speaking the same frames in
tests.

Spark-first shape: the driver plans token slices from ring metadata
only; executors each page their slice's rows inside ``mapInPandas``
(parallelism = slices) and the writer sends UNLOGGED batches per
partition. Delivery is at-least-once; Cassandra writes are last-write
-wins idempotent upserts, matching the reference.
"""

from __future__ import annotations

import socket
import struct
import threading

from pyspark.sql import DataFrame, SparkSession

from datax_spark.sources.readers import task_frame

# ---- protocol constants (native protocol v4 spec)
VERSION_REQ = 0x04
VERSION_RESP = 0x84
OP_ERROR = 0x00
OP_STARTUP = 0x01
OP_READY = 0x02
OP_AUTHENTICATE = 0x03
OP_QUERY = 0x07
OP_RESULT = 0x08
OP_BATCH = 0x0D
OP_AUTH_CHALLENGE = 0x0E
OP_AUTH_RESPONSE = 0x0F
OP_AUTH_SUCCESS = 0x10
CONSISTENCY_ONE = 0x0001
RESULT_VOID = 0x0001
RESULT_ROWS = 0x0002

# option id -> (spark type, decoder)
_DECODERS = {
    0x01: ("string", lambda b: b.decode("utf-8")),            # ascii
    0x02: ("long", lambda b: struct.unpack(">q", b)[0]),      # bigint
    0x04: ("boolean", lambda b: b[0] != 0),                   # boolean
    0x07: ("double", lambda b: struct.unpack(">d", b)[0]),    # double
    0x08: ("double", lambda b: struct.unpack(">f", b)[0]),    # float
    0x09: ("long", lambda b: struct.unpack(">i", b)[0]),      # int
    0x0B: ("timestamp", _ts := lambda b: __import__("datetime").datetime.fromtimestamp(
        struct.unpack(">q", b)[0] / 1000.0,
        tz=__import__("datetime").timezone.utc)),             # timestamp
    0x0C: ("string", lambda b: b.hex()),                      # uuid
    0x0D: ("string", lambda b: b.decode("utf-8")),            # varchar
    0x13: ("long", lambda b: struct.unpack(">h", b)[0]),      # smallint
    0x14: ("long", lambda b: struct.unpack(">b", b)[0]),      # tinyint
}


def _string(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def _long_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">i", len(b)) + b


class CqlError(IOError):
    def __init__(self, code: int, msg: str):
        super().__init__(f"CQL error 0x{code:04x}: {msg}")
        self.code = code


class CqlConnection:
    """One native-protocol connection: STARTUP handshake then QUERY/
    BATCH request-response frames."""

    def __init__(self, host: str, port: int, timeout: float = 30.0,
                 username: str | None = None, password: str | None = None):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._stream = 0
        self._lock = threading.Lock()
        op, body = self._request(OP_STARTUP, _startup_body())
        if op == OP_AUTHENTICATE:
            # body = [string] authenticator class; PasswordAuthenticator
            # speaks single-step SASL PLAIN: \0user\0password in one
            # AUTH_RESPONSE, answered by AUTH_SUCCESS (protocol v4 §4.2.2)
            n = struct.unpack_from(">H", body, 0)[0]
            authenticator = body[2 : 2 + n].decode("utf-8")
            if username is None or password is None:
                raise ValueError(
                    f"server requires authentication ({authenticator}) but "
                    "no username/password configured"
                )
            token = b"\x00" + username.encode() + b"\x00" + password.encode()
            op, body = self._request(
                OP_AUTH_RESPONSE, struct.pack(">i", len(token)) + token
            )
            if op == OP_AUTH_CHALLENGE:
                raise NotImplementedError(
                    f"multi-step SASL challenge from {authenticator} not "
                    "supported (PLAIN only)"
                )
            if op != OP_AUTH_SUCCESS:
                raise IOError(f"unexpected auth opcode 0x{op:02x}")
        elif op != OP_READY:
            raise IOError(f"unexpected handshake opcode 0x{op:02x}")

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass

    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("cassandra connection closed")
            buf += chunk
        return buf

    def _request(self, opcode: int, body: bytes) -> tuple[int, bytes]:
        with self._lock:
            self._stream = (self._stream + 1) % 32000
            hdr = struct.pack(
                ">BBhBi", VERSION_REQ, 0, self._stream, opcode, len(body)
            )
            self.sock.sendall(hdr + body)
            rhdr = self._recv_exact(9)
            ver, _, _, rop, rlen = struct.unpack(">BBhBi", rhdr)
            rbody = self._recv_exact(rlen) if rlen else b""
        if ver != VERSION_RESP:
            raise IOError(f"unexpected response version 0x{ver:02x}")
        if rop == OP_ERROR:
            code = struct.unpack_from(">i", rbody, 0)[0]
            n = struct.unpack_from(">H", rbody, 4)[0]
            raise CqlError(code, rbody[6 : 6 + n].decode("utf-8"))
        return rop, rbody

    # ---- QUERY with paging

    def query(self, cql: str, page_size: int | None = None,
              paging_state: bytes | None = None):
        """Returns (columns [(name, option_id)], rows [[bytes|None]],
        next_paging_state|None) for Rows results; ([], [], None) for
        Void."""
        flags = 0
        tail = b""
        if page_size:
            flags |= 0x04
            tail += struct.pack(">i", page_size)
        if paging_state:
            flags |= 0x08
            tail += struct.pack(">i", len(paging_state)) + paging_state
        body = (
            _long_string(cql)
            + struct.pack(">H", CONSISTENCY_ONE)
            + struct.pack(">B", flags)
            + tail
        )
        op, rbody = self._request(OP_QUERY, body)
        if op != OP_RESULT:
            raise IOError(f"unexpected opcode 0x{op:02x} for QUERY")
        return _parse_result(rbody)

    def query_all(self, cql: str, page_size: int = 1000):
        """Drain all pages; yields (columns, row) pairs."""
        state = None
        while True:
            cols, rows, state = self.query(cql, page_size, state)
            for r in rows:
                yield cols, r
            if not state:
                return

    # ---- UNLOGGED BATCH of query strings

    def batch(self, statements: list[str]) -> None:
        body = struct.pack(">BH", 1, len(statements))  # type 1 = UNLOGGED
        for s in statements:
            body += b"\x00" + _long_string(s) + struct.pack(">H", 0)
        body += struct.pack(">HB", CONSISTENCY_ONE, 0)
        op, _ = self._request(OP_BATCH, body)
        if op != OP_RESULT:
            raise IOError(f"unexpected opcode 0x{op:02x} for BATCH")


def _startup_body() -> bytes:
    return struct.pack(">H", 1) + _string("CQL_VERSION") + _string("3.0.0")


def _parse_result(body: bytes):
    kind = struct.unpack_from(">i", body, 0)[0]
    if kind != RESULT_ROWS:
        return [], [], None
    i = 4
    flags, col_count = struct.unpack_from(">ii", body, i)
    i += 8
    paging_state = None
    if flags & 0x0002:  # has_more_pages
        n = struct.unpack_from(">i", body, i)[0]
        i += 4
        paging_state = body[i : i + n]
        i += n
    if flags & 0x0001:  # global tables spec
        for _ in range(2):
            n = struct.unpack_from(">H", body, i)[0]
            i += 2 + n
    cols: list[tuple[str, int]] = []
    for _ in range(col_count):
        if not flags & 0x0001:
            for _ in range(2):
                n = struct.unpack_from(">H", body, i)[0]
                i += 2 + n
        n = struct.unpack_from(">H", body, i)[0]
        name = body[i + 2 : i + 2 + n].decode("utf-8")
        i += 2 + n
        opt = struct.unpack_from(">H", body, i)[0]
        i += 2
        cols.append((name, opt))
    row_count = struct.unpack_from(">i", body, i)[0]
    i += 4
    rows: list[list[bytes | None]] = []
    for _ in range(row_count):
        row: list[bytes | None] = []
        for _ in range(col_count):
            n = struct.unpack_from(">i", body, i)[0]
            i += 4
            if n < 0:
                row.append(None)
            else:
                row.append(body[i : i + n])
                i += n
        rows.append(row)
    return cols, rows, paging_state


# ------------------------------------------------------------------ planning

def token_slices(partitioner: str, advice_number: int) -> list[tuple[int, int]]:
    """splitJob parity: equal slices of the partitioner's ring."""
    if advice_number <= 1:
        return []
    if partitioner.endswith("Murmur3Partitioner"):
        lo, hi = -(2**63), 2**63 - 1
    elif partitioner.endswith("RandomPartitioner"):
        lo, hi = -1, 2**127
    else:
        return []
    step = (hi - lo) // advice_number
    out = []
    for k in range(advice_number):
        left = lo + step * k
        right = hi if k == advice_number - 1 else lo + step * (k + 1)
        out.append((left, right))
    return out


def _cluster_metadata(conn: CqlConnection, ks: str, table: str):
    """partitioner from system.local; partition keys from
    system_schema.columns (what the reference reads off the driver's
    Metadata)."""
    row = next(conn.query_all("SELECT partitioner FROM system.local"), None)
    if row is None:
        raise IOError("system.local returned no rows")
    partitioner = row[1][0].decode("utf-8")
    pks: list[tuple[int, str]] = []
    q = (
        "SELECT column_name, kind, position FROM system_schema.columns "
        f"WHERE keyspace_name = '{ks}' AND table_name = '{table}'"
    )
    for cols, r in conn.query_all(q):
        by = {c[0]: (r[j].decode("utf-8") if c[1] in (0x0D, 0x01) and r[j] is not None
                     else r[j]) for j, c in enumerate(cols)}
        kind = by["kind"]
        if kind == "partition_key":
            pos = struct.unpack(">i", by["position"])[0] if isinstance(by["position"], bytes) else 0
            pks.append((pos, by["column_name"]))
    if not pks:
        raise ValueError(f"table {ks}.{table} has no partition key metadata")
    return partitioner, [name for _, name in sorted(pks)]


def build_select(table: str, columns: list[str], pks: list[str],
                 min_token: int | None, max_token: int | None,
                 where: str | None, allow_filtering: bool) -> str:
    """getQueryString parity (CassandraReaderHelper.java:467-523)."""
    conds = []
    tok = f"token({','.join(pks)})"
    if min_token is not None:
        conds.append(f"{tok} > {min_token}")
    if max_token is not None:
        conds.append(f"{tok} <= {max_token}")
    if where:
        conds.append(where)
    q = f"SELECT {','.join(columns)} FROM {table}"
    if conds:
        q += " where " + " AND ".join(conds)
    if allow_filtering:
        q += " ALLOW FILTERING"  # explicit config, Key.ALLOW_FILTERING
    return q + ";"


# ------------------------------------------------------------------ reader

def cassandra_read(spark: SparkSession, p: dict) -> DataFrame:
    host = p.get("host")
    if not host:
        raise ValueError("cassandrareader requires host")
    user, pwd = p.get("username"), p.get("password")
    port = int(p.get("port", 9042))
    ks = p["keyspace"]
    table = p["table"]
    columns = list(p.get("column") or [])
    if not columns:
        raise ValueError("cassandrareader requires a column list")
    where = p.get("where")
    advice = int(p.get("parallelism", 4))
    page_size = int(p.get("pageSize", 1000))
    full_table = f"{ks}.{table}"

    conn = CqlConnection(host, port, username=user, password=pwd)
    try:
        partitioner, pks = _cluster_metadata(conn, ks, table)
        # a user where already carrying token() disables splitting
        slices = (
            [] if (where and "token(" in where.lower())
            else token_slices(partitioner, advice)
        )
        # schema from the server's column metadata (LIMIT via page)
        allow_filtering = bool(p.get("allowFiltering", False))
        cols_meta, _, _ = conn.query(
            build_select(full_table, columns, pks, None, None, where,
                         allow_filtering=allow_filtering),
            page_size=1,
        )
    finally:
        conn.close()
    by_opt = {name: opt for name, opt in cols_meta}
    fields = []
    for c in columns:
        opt = by_opt.get(c)
        if opt is None or opt not in _DECODERS:
            raise ValueError(f"column {c!r}: unsupported or unknown CQL type")
        fields.append(f"`{c}` {_DECODERS[opt][0]}")
    schema = ", ".join(fields)

    tasks = slices or [(None, None)]
    task_rows = [
        (i, "" if lo is None else str(lo), "" if hi is None else str(hi))
        for i, (lo, hi) in enumerate(tasks)
    ]
    tasks_df = task_frame(spark, task_rows, "task_id int, lo string, hi string")

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            for _, trow in pdf.iterrows():
                lo = int(trow["lo"]) if trow["lo"] != "" else None
                hi = int(trow["hi"]) if trow["hi"] != "" else None
                cql = build_select(full_table, columns, pks, lo, hi, where,
                                   allow_filtering=allow_filtering)
                c = CqlConnection(host, port, username=user, password=pwd)
                try:
                    out = []
                    for cols, row in c.query_all(cql, page_size=page_size):
                        rec = {}
                        for j, (name, opt) in enumerate(cols):
                            raw = row[j]
                            rec[name] = (
                                None if raw is None else _DECODERS[opt][1](raw)
                            )
                        out.append(rec)
                finally:
                    c.close()
                if out:
                    yield pd.DataFrame(out)

    return tasks_df.mapInPandas(scan, schema=schema)


# ------------------------------------------------------------------ writer

def _cql_literal(v) -> str:
    import datetime as _dt

    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, _dt.datetime):
        return str(int(v.timestamp() * 1000))
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, (int, float)):
        return repr(v)
    raise TypeError(f"cannot render CQL literal for {type(v).__name__}")


def cassandra_write(df: DataFrame, p: dict) -> dict:
    host = p.get("host")
    if not host:
        raise ValueError("cassandrawriter requires host")
    user, pwd = p.get("username"), p.get("password")
    port = int(p.get("port", 9042))
    full_table = f"{p['keyspace']}.{p['table']}"
    columns = list(p.get("column") or df.columns)
    batch_size = int(p.get("batchSize", 10))
    col_list = ",".join(columns)

    def put_partition(batches):
        import pandas as pd

        conn = CqlConnection(host, port, username=user, password=pwd)
        written = 0
        dirty = 0
        buf: list[str] = []

        def flush():
            nonlocal written
            if not buf:
                return
            if len(buf) == 1:
                conn.query(buf[0])  # single row: plain QUERY, no batch
            else:
                conn.batch(buf)  # Type.UNLOGGED (CassandraWriter.java:120)
            written += len(buf)
            buf.clear()

        try:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    try:
                        vals = []
                        for i in range(len(columns)):
                            v = row[i]
                            if v is not None and not isinstance(v, (list, dict)):
                                try:
                                    if pd.isna(v):
                                        v = None
                                except (TypeError, ValueError):
                                    pass
                            vals.append(_cql_literal(v))
                        buf.append(
                            f"INSERT INTO {full_table} ({col_list}) "
                            f"VALUES ({','.join(vals)})"
                        )
                    except Exception:
                        dirty += 1
                        continue
                    if len(buf) >= batch_size:
                        flush()
            flush()
        finally:
            conn.close()
        yield pd.DataFrame({"written": [written], "dirty": [dirty]})

    totals = (
        df.mapInPandas(put_partition, schema="written long, dirty long")
        .groupBy()
        .sum("written", "dirty")
        .collect()[0]
    )
    return {"written": int(totals[0] or 0), "dirty": int(totals[1] or 0)}
