"""GDB (graph) reader/writer over the public Gremlin Server protocol.

Reference parity (gdbreader/.../GdbReader.java + model/ScriptGdbGraph
.java, gdbwriter/.../model/ScriptGdbGraph.java):

* **reader split** (ConfigHelper.splitConfig:59-68): one task per
  label; ``labels`` from config, or discovered with the reference's
  own DSL ``g.V().groupCount().by(label)`` (FETCH_VERTEX_LABELS_DSL).
* **reader task loop** (GdbReader.Task.startRead:159-216): page ids
  with ``g.V().hasLabel(L).has(id, gt(start)).limit(n).id()``
  (FETCH_VERTEX_IDS_DSL, rangeSplitSize), then fetch [begin, end]
  id-range element batches of fetchBatchSize with the optional
  ``project('node','props').by(select('a').propertyMap(...))``
  projection (FETCH_RANGE_VERTEX_DSL + PART_WITH_PROP_DSL) — the
  same bindings names (GDB___LABEL/ID/ID_END/LIMIT/PKn).
* **record mapping** (DefaultGdbMapper:30-150 + ValueType): column
  ``columnType`` ∈ primaryKey/primaryLabel/srcPrimaryKey/
  srcPrimaryLabel/dstPrimaryKey/dstPrimaryLabel/vertexProperty/
  edgeProperty/vertexJsonProperty/edgeJsonProperty, value ``type`` ∈
  int/integer/long/float/double/boolean/string; the JSON-property
  forms render the reference's exact ``{"properties":[{k,t,v[,c]}]}``
  shape including the set/single cardinality flag.
* **writer** (writer ScriptGdbGraph:26-38 + add:61-100): vertices as
  ``g.addV(GDB___label).property(id, GDB___id).property(k, v)…``,
  edges as ``g.addE(…).property(id, …).from(V(GDB___from))
  .to(V(GDB___to))…`` with property bindings GDB___PKn/PVn;
  writeMode INSERT (duplicate id = dirty record), SKIP (ignore
  duplicates), MERGE (re-apply properties via ``g.V(GDB___id)
  .property(…)`` on duplicate — AbstractGdbGraph.updateMode).

Transport: the reference links the TinkerPop driver with the
GraphBinary serializer; this module speaks the same Gremlin Server
WebSocket protocol directly with the documented ``application/json``
(GraphSON 1.0, untyped) message serializer — an RFC 6455 client
(masked frames, handshake accept-key verification) carrying request
messages ``{requestId, op: "eval", processor: "", args: {gremlin,
bindings, language}}`` and draining 206-partial result frames.
Auth: the Tinkerpop SASL challenge flow — a 407 AUTHENTICATE status
is answered with an ``op=authentication`` message carrying the PLAIN
initial response (``\\0user\\0password`` base64'd), after which the
server resumes the pending request; configured credentials ride every
driver and executor connection. Drivable by an in-process fake Gremlin
server speaking the same frames in tests.

Spark-first shape: the driver only lists labels; each label's id
paging + range fetches run inside ``mapInPandas`` (parallelism =
labels, the reference's task model); the writer batches DSL submits
per Spark partition. Graph writes are idempotent per element id
under INSERT+SKIP/MERGE, so task retry is safe.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import socket
import struct
import uuid

from pyspark.sql import DataFrame, SparkSession

from datax_spark.sources.readers import task_frame

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
MIME = "application/json"

# reference bindings names (ScriptGdbGraph)
_LABEL = "GDB___LABEL"
_START = "GDB___ID"
_END = "GDB___ID_END"
_LIMIT = "GDB___LIMIT"

_SPARK_TYPES = {
    "int": "long", "integer": "long", "long": "long",
    "float": "double", "double": "double",
    "boolean": "boolean", "string": "string",
}


class GremlinError(IOError):
    def __init__(self, code: int, message: str):
        super().__init__(f"gremlin server {code}: {message}")
        self.code = code


class WebSocketClient:
    """Minimal RFC 6455 client: handshake, masked binary sends,
    server-frame reads (FIN-only, ping answered, close honored)."""

    def __init__(self, host: str, port: int, path: str = "/gremlin",
                 timeout: float = 30.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        key = base64.b64encode(os.urandom(16)).decode()
        req = (
            f"GET {path} HTTP/1.1\r\n"
            f"Host: {host}:{port}\r\n"
            "Upgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        )
        self.sock.sendall(req.encode())
        resp = b""
        while b"\r\n\r\n" not in resp:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise ConnectionError("websocket handshake failed")
            resp += chunk
        head, _, rest = resp.partition(b"\r\n\r\n")
        if b" 101 " not in head.split(b"\r\n", 1)[0]:
            raise ConnectionError(f"websocket upgrade refused: {head[:120]!r}")
        want = base64.b64encode(
            hashlib.sha1((key + _WS_GUID).encode()).digest()
        ).decode()
        accept = ""
        for line in head.decode("latin-1").split("\r\n")[1:]:
            name, _, value = line.partition(":")
            if name.strip().lower() == "sec-websocket-accept":
                accept = value.strip()
        if accept != want:
            raise ConnectionError("websocket accept-key mismatch")
        self._buf = rest

    def close(self):
        try:
            self._send_frame(0x8, b"")
            self.sock.close()
        except OSError:
            pass

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(max(4096, n - len(self._buf)))
            if not chunk:
                raise ConnectionError("websocket closed")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _send_frame(self, opcode: int, payload: bytes):
        mask = os.urandom(4)
        header = struct.pack(">B", 0x80 | opcode)
        n = len(payload)
        if n < 126:
            header += struct.pack(">B", 0x80 | n)
        elif n < 1 << 16:
            header += struct.pack(">BH", 0x80 | 126, n)
        else:
            header += struct.pack(">BQ", 0x80 | 127, n)
        masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        self.sock.sendall(header + mask + masked)

    def send_binary(self, payload: bytes):
        self._send_frame(0x2, payload)

    def recv_message(self) -> bytes:
        while True:
            b0, b1 = struct.unpack(">BB", self._recv_exact(2))
            opcode = b0 & 0x0F
            if not b0 & 0x80:
                raise NotImplementedError("fragmented websocket frames")
            n = b1 & 0x7F
            if n == 126:
                (n,) = struct.unpack(">H", self._recv_exact(2))
            elif n == 127:
                (n,) = struct.unpack(">Q", self._recv_exact(8))
            if b1 & 0x80:  # masked server frame (non-standard) — unmask
                mask = self._recv_exact(4)
                data = bytes(
                    b ^ mask[i % 4]
                    for i, b in enumerate(self._recv_exact(n))
                )
            else:
                data = self._recv_exact(n)
            if opcode == 0x9:  # ping -> pong
                self._send_frame(0xA, data)
                continue
            if opcode == 0x8:
                raise ConnectionError("websocket closed by server")
            return data


class GremlinConnection:
    """Sessionless eval requests over one websocket, partial-frame
    (206) draining, GraphSON 1.0 payloads."""

    def __init__(self, host: str, port: int, username: str | None = None,
                 password: str | None = None, path: str = "/gremlin"):
        self._user = username
        self._pwd = password
        self.ws = WebSocketClient(host, port, path=path)

    def close(self):
        self.ws.close()

    def _send_msg(self, msg: dict) -> None:
        payload = json.dumps(msg).encode("utf-8")
        self.ws.send_binary(
            struct.pack(">B", len(MIME)) + MIME.encode() + payload
        )

    def submit(self, gremlin: str, bindings: dict | None = None,
               batch_size: int = 64) -> list:
        rid = str(uuid.uuid4())
        self._send_msg({
            "requestId": rid,
            "op": "eval",
            "processor": "",
            "args": {
                "gremlin": gremlin,
                "bindings": bindings or {},
                "language": "gremlin-groovy",
                "batchSize": batch_size,
            },
        })
        data: list = []
        authed = False
        while True:
            frame = json.loads(self.ws.recv_message().decode("utf-8"))
            if frame.get("requestId") != rid:
                raise IOError("response for a different request")
            code = frame["status"]["code"]
            if code == 407:
                # SASL challenge (Tinkerpop AUTHENTICATE): reply with
                # op=authentication carrying the PLAIN initial response
                # \0user\0password base64'd (gremlin-python parity: the
                # auth message has its own id, replies keep the eval's);
                # the server then resumes the pending eval
                if self._user is None or self._pwd is None:
                    raise GremlinError(
                        407, "server requests authentication but no "
                             "username/password configured")
                if authed:
                    raise GremlinError(407, "authentication loop")
                authed = True
                import base64 as _b64

                token = b"\x00" + self._user.encode() + b"\x00" + self._pwd.encode()
                self._send_msg({
                    "requestId": str(uuid.uuid4()),
                    "op": "authentication",
                    "processor": "",
                    "args": {
                        "sasl": _b64.b64encode(token).decode(),
                        "saslMechanism": "PLAIN",
                    },
                })
                continue
            if code == 204:
                return data
            if code in (200, 206):
                part = frame.get("result", {}).get("data") or []
                data.extend(part)
                if code == 200:
                    return data
                continue
            raise GremlinError(code, frame["status"].get("message", ""))


# ---------------------------------------------------------------- reader

def _fetch_labels(conn: GremlinConnection, kind: str) -> list[str]:
    dsl = f"g.{kind}().groupCount().by(label)"  # FETCH_*_LABELS_DSL
    res = conn.submit(dsl)
    return sorted(res[0]) if res else []


def _mk_mapper(columns: list[dict]):
    """DefaultGdbMapper analog over the GraphSON 1.0 element shape."""

    def one_prop(props: dict, name: str, vertex: bool):
        v = props.get(name)
        if vertex:
            # vertex properties arrive as a list of {id, value} (first
            # wins, forVertexOnePropertyValue)
            if isinstance(v, list) and v:
                return v[0].get("value") if isinstance(v[0], dict) else v[0]
            return None
        return v  # edge property: plain value

    def json_props(props: dict, vertex: bool) -> str:
        items = []
        for k in props:
            if vertex:
                vp = props[k] if isinstance(props[k], list) else []
                card = "set" if len(vp) > 1 else "single"
                for entry in vp:
                    val = entry.get("value") if isinstance(entry, dict) else entry
                    items.append(
                        '{"k":"%s","t":"%s","v":"%s","c":"%s"}'
                        % (k, _java_type_name(val), val, card)
                    )
            else:
                val = props[k]
                items.append(
                    '{"k":"%s","t":"%s","v":"%s"}'
                    % (k, _java_type_name(val), val)
                )
        return '{"properties":[' + ",".join(items) + "]}"

    def cast(v, t: str):
        if v is None:
            return None
        t = t.lower()
        if t in ("int", "integer", "long"):
            return int(v)
        if t in ("float", "double"):
            return float(v)
        if t == "boolean":
            return bool(v)
        return str(v)

    def map_element(el: dict) -> list:
        props = el.get("properties") or {}
        row = []
        for c in columns:
            ct = c["columnType"]
            if ct == "primaryKey":
                v = el.get("id")
            elif ct == "primaryLabel":
                v = el.get("label")
            elif ct == "srcPrimaryKey":
                v = el.get("outV")
            elif ct == "srcPrimaryLabel":
                v = el.get("outVLabel")
            elif ct == "dstPrimaryKey":
                v = el.get("inV")
            elif ct == "dstPrimaryLabel":
                v = el.get("inVLabel")
            elif ct == "vertexProperty":
                v = one_prop(props, c["name"], vertex=True)
            elif ct == "edgeProperty":
                v = one_prop(props, c["name"], vertex=False)
            elif ct == "vertexJsonProperty":
                v = json_props(props, vertex=True)
            elif ct == "edgeJsonProperty":
                v = json_props(props, vertex=False)
            else:
                raise ValueError(f"unknown columnType {ct!r}")
            row.append(cast(v, c.get("type", "string")))
        return row

    return map_element


def _java_type_name(v) -> str:
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long" if abs(v) > (1 << 31) - 1 else "integer"
    if isinstance(v, float):
        return "double"
    return "string"


def gdb_read(spark: SparkSession, p: dict) -> DataFrame:
    host, port = p["host"], int(p.get("port", 8182))
    export = str(p.get("labelType", "VERTEX")).upper()
    if export not in ("VERTEX", "EDGE"):
        raise ValueError("labelType must be VERTEX or EDGE")
    kind = "V" if export == "VERTEX" else "E"
    columns = list(p.get("column") or [])
    if not columns:
        raise ValueError("gdbreader requires a column list")
    fetch_batch = int(p.get("fetchBatchSize", 200))
    range_split = int(p.get("RangeSplitSize", fetch_batch * 10))
    prop_names = [
        c["name"] for c in columns
        if c["columnType"] in ("vertexProperty", "edgeProperty")
    ]
    has_json = any(
        c["columnType"] in ("vertexJsonProperty", "edgeJsonProperty")
        for c in columns
    )
    if has_json and prop_names:
        # MappingRule.addJsonColumn:63-65: JsonProperties must be the
        # only property column — an empty name list means propertyMap()
        # fetches EVERY property
        raise ValueError("JsonProperties should be only property")
    wants_props = has_json or bool(prop_names)

    labels = list(p.get("labels") or [])
    if not labels:
        conn = GremlinConnection(host, port, p.get("username"), p.get("password"))
        try:
            labels = _fetch_labels(conn, kind)
        finally:
            conn.close()
    if not labels:
        raise ValueError("no labels found to export")

    schema = ", ".join(
        f"`{c['name']}` {_SPARK_TYPES[c.get('type', 'string').lower()]}"
        for c in columns
    )
    labels_df = task_frame(
        spark, [(i, l) for i, l in enumerate(labels)], "task_id int, label string"
    )
    mapper = _mk_mapper(columns)
    names = [c["name"] for c in columns]
    rd_user, rd_pwd = p.get("username"), p.get("password")

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            for t in pdf.itertuples(index=False):
                conn = GremlinConnection(host, port, rd_user, rd_pwd)
                try:
                    rows = []
                    start = ""
                    while True:
                        # FETCH_*_IDS_DSL paging (startRead:166-176)
                        ids = conn.submit(
                            f"g.{kind}().hasLabel({_LABEL}).has(id, "
                            f"gt({_START})).limit({_LIMIT}).id()",
                            {_LABEL: t.label, _START: start,
                             _LIMIT: range_split},
                        )
                        if not ids:
                            break
                        start = ids[-1]
                        for pos in range(0, len(ids), fetch_batch):
                            chunk = ids[pos : pos + fetch_batch]
                            dsl = (
                                f"g.{kind}().hasLabel({_LABEL})"
                                f".has(id, gte({_START}))"
                                f".has(id, lte({_END}))"
                            )
                            binds = {_LABEL: t.label, _START: chunk[0],
                                     _END: chunk[-1]}
                            if wants_props:
                                pks = []
                                for i, name in enumerate(prop_names):
                                    binds[f"GDB___PK{i}"] = name
                                    pks.append(f"GDB___PK{i}")
                                # no keys = fetch ALL properties (the
                                # json-column form)
                                dsl += (
                                    ".as('a').project('node', 'props')"
                                    ".by(select('a'))"
                                    ".by(select('a').propertyMap("
                                    + ", ".join(pks) + "))"
                                )
                            for item in conn.submit(dsl, binds):
                                if wants_props:
                                    el = dict(item["node"])
                                    el["properties"] = item.get("props") or {}
                                else:
                                    el = item
                                rows.append(mapper(el))
                finally:
                    conn.close()
                if rows:
                    yield pd.DataFrame(rows, columns=names)

    return labels_df.mapInPandas(scan, schema=schema)


# ---------------------------------------------------------------- writer

_ADD_V = "g.addV(GDB___label).property(id, GDB___id)"
_ADD_E = (
    "g.addE(GDB___label).property(id, GDB___id)"
    ".from(V(GDB___from)).to(V(GDB___to))"
)


def gdb_write(df: DataFrame, p: dict) -> dict:
    host, port = p["host"], int(p.get("port", 8182))
    import_type = str(p.get("labelType", "VERTEX")).upper()
    is_vertex = import_type == "VERTEX"
    mode = str(p.get("writeMode", "INSERT")).upper()
    if mode not in ("INSERT", "SKIP", "MERGE"):
        raise ValueError("writeMode must be INSERT, SKIP or MERGE")
    columns = list(p.get("column") or [])
    if not columns:
        raise ValueError("gdbwriter requires a column list")
    gdb_user, gdb_pwd = p.get("username"), p.get("password")

    idx = {c["columnType"]: i for i, c in enumerate(columns)}
    if "primaryKey" not in idx:
        raise ValueError("gdbwriter needs a primaryKey column")
    label_const = p.get("label")
    prop_cols = [
        (i, c["name"]) for i, c in enumerate(columns)
        if c["columnType"] in ("vertexProperty", "edgeProperty")
    ]

    def put_partition(batches):
        import pandas as pd

        conn = GremlinConnection(host, port, gdb_user, gdb_pwd)
        written = 0
        dirty = 0
        try:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    el_id = str(row[idx["primaryKey"]])
                    label = (
                        str(row[idx["primaryLabel"]])
                        if "primaryLabel" in idx else label_const
                    )
                    if not label:
                        dirty += 1
                        continue
                    dsl = _ADD_V if is_vertex else _ADD_E
                    binds = {"GDB___id": el_id, "GDB___label": label}
                    if not is_vertex:
                        binds["GDB___from"] = str(row[idx["srcPrimaryKey"]])
                        binds["GDB___to"] = str(row[idx["dstPrimaryKey"]])
                    for n, (i, name) in enumerate(prop_cols):
                        v = row[i]
                        try:
                            if pd.isna(v):
                                continue
                        except (TypeError, ValueError):
                            pass
                        binds[f"GDB___PK{n}"] = name
                        binds[f"GDB___PV{n}"] = (
                            v.item() if hasattr(v, "item") else v
                        )
                        dsl += f".property(GDB___PK{n}, GDB___PV{n})"
                    try:
                        conn.submit(dsl, binds)
                        written += 1
                    except GremlinError as e:
                        if "DuplicateId" not in str(e):
                            dirty += 1
                            continue
                        if mode == "INSERT":
                            dirty += 1
                        elif mode == "SKIP":
                            written += 1
                        else:  # MERGE: UPDATE_*_START property re-apply
                            upd = (
                                f"g.{'V' if is_vertex else 'E'}(GDB___id)"
                            )
                            ub = {"GDB___id": el_id}
                            for n, (i, name) in enumerate(prop_cols):
                                v = row[i]
                                try:
                                    if pd.isna(v):
                                        continue
                                except (TypeError, ValueError):
                                    pass
                                ub[f"GDB___PK{n}"] = name
                                ub[f"GDB___PV{n}"] = (
                                    v.item() if hasattr(v, "item") else v
                                )
                                upd += f".property(GDB___PK{n}, GDB___PV{n})"
                            conn.submit(upd, ub)
                            written += 1
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
