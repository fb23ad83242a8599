"""MongoDB reader/writer over the public MongoDB wire protocol
(OP_MSG, opcode 2013) with a from-scratch minimal BSON codec.

Reference parity (mongodbreader/.../CollectionSplitUtil.java,
MongoDBReader.java; mongodbwriter/.../MongoDBWriter.java):

* **split** (CollectionSplitUtil.doSplitCollection:66-168): probe
  whether ``_id`` is an ObjectId from one sampled doc, then ask the
  server for equal-size split points via the ``splitVector`` command
  (keyPattern ``{_id:1}``, maxChunkSize derived from collStats
  count/avgObjSize, force-median when chunks are tiny); when the user
  lacks the splitVector privilege (Unauthorized=13 / IllegalOperation
  =20), fall back to skip/limit sampling of every chunkDocCount-th
  ``_id``. Ranges are [min,p0), [p0,p1) … [pn,max) — one find per
  range.
* **read** (MongoDBReader.startRead:105-185): per-range filter
  ``{_id: {$gte: lo, $lt: hi}}`` (ObjectId-wrapped when the probe said
  so) AND-combined with the user's ``query`` JSON; per configured
  column: nested ``document`` paths walk dotted names, ``array``
  columns join elements with the column's ``splitter``, everything
  else converts by value type (null keeps the slot — no column
  misalignment).
* **write** (MongoDBWriter.doBatchWrite:285-330): batched inserts; a
  ``writeMode`` of ``{"isReplace":"true","replaceKey":k}`` becomes
  ReplaceOne-with-upsert bulk updates keyed on ``replaceKey``.

Transport: the reference links the mongo-java-driver; this
implementation speaks the documented wire format directly — one
OP_MSG (flagBits=0, one kind-0 section carrying a command BSON doc)
per command, ``find``/``getMore`` cursor paging, ``insert``/
``update`` writes — so it is drivable by an in-process fake mongod in
tests. Auth: SCRAM-SHA-256 (RFC 7677 over ``saslStart``/
``saslContinue``, hashlib/hmac only, server signature verified;
passwords are used as-is — full SASLprep normalization of non-ASCII
passwords is out of scope and such passwords are refused loudly).
SCRAM-SHA-1 is not offered (FIPS-deprecated; the server advertises
256 since 4.0). The BSON codec covers the types the reference maps:
double, string, document, array, binary, ObjectId, bool, UTC
datetime, null, int32/int64.

Spark-first shape: the driver plans ranges from metadata commands
only; executors each run their own find+getMore loop inside
``mapInPandas`` (Arrow batches out, parallelism = ranges) and the
writer sends batched bulk commands per partition. Delivery is
at-least-once under task retry; replace-upsert by key is idempotent,
matching the reference.
"""

from __future__ import annotations

import datetime as _dt
import json
import socket
import struct
import threading

from pyspark.sql import DataFrame, SparkSession

from datax_spark.sources.readers import task_frame

# ------------------------------------------------------------------ BSON

_UTC = _dt.timezone.utc


class ObjectId:
    """12-byte BSON ObjectId; hex string form, ordered like the server's."""

    __slots__ = ("raw",)

    def __init__(self, raw: bytes | str):
        if isinstance(raw, str):
            raw = bytes.fromhex(raw)
        if len(raw) != 12:
            raise ValueError("ObjectId must be 12 bytes")
        self.raw = raw

    def __repr__(self):
        return f"ObjectId({self.raw.hex()!r})"

    def __str__(self):
        return self.raw.hex()

    def __eq__(self, other):
        return isinstance(other, ObjectId) and self.raw == other.raw

    def __lt__(self, other):
        return self.raw < other.raw

    def __hash__(self):
        return hash(self.raw)


def _enc_element(name: str, v) -> bytes:
    key = name.encode("utf-8") + b"\x00"
    if isinstance(v, bool):  # before int!
        return b"\x08" + key + (b"\x01" if v else b"\x00")
    if isinstance(v, float):
        return b"\x01" + key + struct.pack("<d", v)
    if isinstance(v, str):
        b = v.encode("utf-8")
        return b"\x02" + key + struct.pack("<i", len(b) + 1) + b + b"\x00"
    if isinstance(v, dict):
        return b"\x03" + key + bson_encode(v)
    if isinstance(v, (list, tuple)):
        return b"\x04" + key + bson_encode({str(i): x for i, x in enumerate(v)})
    if isinstance(v, (bytes, bytearray)):
        return b"\x05" + key + struct.pack("<i", len(v)) + b"\x00" + bytes(v)
    if isinstance(v, ObjectId):
        return b"\x07" + key + v.raw
    if isinstance(v, _dt.datetime):
        ms = int(v.replace(tzinfo=v.tzinfo or _UTC).timestamp() * 1000)
        return b"\x09" + key + struct.pack("<q", ms)
    if v is None:
        return b"\x0a" + key
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return b"\x10" + key + struct.pack("<i", v)
        return b"\x12" + key + struct.pack("<q", v)
    raise TypeError(f"BSON cannot encode {type(v).__name__}")


def bson_encode(doc: dict) -> bytes:
    body = b"".join(_enc_element(k, v) for k, v in doc.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


class BsonError(ValueError):
    """Malformed or truncated BSON input."""


# stored documents nest at most 100 levels and a reply wraps them in a
# few more; the bound keeps hostile input off Python's recursion limit
_MAX_DEPTH = 200


def _utf8(raw: bytes) -> str:
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError as e:
        raise BsonError(f"invalid UTF-8 in BSON: {e}") from e


def _dec_cstring(data: bytes, i: int, end: int) -> tuple[str, int]:
    stop = data.find(b"\x00", i, end)
    if stop < 0:
        raise BsonError("unterminated BSON cstring")
    return _utf8(data[i:stop]), stop + 1


def _take(i: int, n: int, end: int) -> int:
    """Offset past ``n`` bytes at ``i``; they must lie before ``end``."""
    if n < 0 or i + n > end:
        raise BsonError("BSON element runs past its document")
    return i + n


def _unpack(fmt: str, data: bytes, i: int, end: int):
    j = _take(i, struct.calcsize(fmt), end)
    return struct.unpack_from(fmt, data, i)[0], j


def _decode_doc(data: bytes, i: int, limit: int, depth: int = 0) -> tuple[dict, int]:
    if depth > _MAX_DEPTH:
        raise BsonError(f"BSON nested deeper than {_MAX_DEPTH} documents")
    total, _ = _unpack("<i", data, i, limit)
    end = i + total
    if total < 5 or end > limit:
        raise BsonError(f"BSON document length {total} does not fit its buffer")
    i += 4
    out: dict = {}
    while data[i] != 0:
        t = data[i]
        name, i = _dec_cstring(data, i + 1, end)
        if t == 0x01:
            out[name], i = _unpack("<d", data, i, end)
        elif t == 0x02:
            n, i = _unpack("<i", data, i, end)
            stop = _take(i, n, end)
            if n < 1 or data[stop - 1] != 0:
                raise BsonError(f"malformed BSON string for field {name!r}")
            out[name] = _utf8(data[i : stop - 1])
            i = stop
        elif t in (0x03, 0x04):
            sub, i = _decode_doc(data, i, end, depth + 1)
            out[name] = sub if t == 0x03 else list(sub.values())
        elif t == 0x05:
            n, i = _unpack("<i", data, i, end)
            stop = _take(i + 1, n, end)  # subtype byte, then the payload
            out[name] = bytes(data[i + 1 : stop])
            i = stop
        elif t == 0x07:
            stop = _take(i, 12, end)
            out[name] = ObjectId(bytes(data[i:stop]))
            i = stop
        elif t == 0x08:
            flag, i = _unpack("<B", data, i, end)
            out[name] = flag == 1
        elif t == 0x09:
            ms, i = _unpack("<q", data, i, end)
            try:
                out[name] = _dt.datetime.fromtimestamp(ms / 1000.0, tz=_UTC)
            except (OverflowError, OSError, ValueError) as e:
                raise BsonError(f"BSON datetime {ms} ms out of range") from e
        elif t == 0x0A:
            out[name] = None
        elif t == 0x10:
            out[name], i = _unpack("<i", data, i, end)
        elif t == 0x12:
            out[name], i = _unpack("<q", data, i, end)
        else:
            raise BsonError(f"unsupported BSON type 0x{t:02x} for field {name!r}")
        if i >= end:
            raise BsonError("BSON document has no terminator")
    if i + 1 != end:
        raise BsonError("BSON document length mismatch")
    return out, end


def bson_decode(data: bytes, i: int = 0) -> tuple[dict, int]:
    """Decode the BSON document at ``data[i:]``; return it and the
    offset just past it. Malformed or truncated input raises
    ``BsonError``."""
    return _decode_doc(data, i, len(data))


# ------------------------------------------------------------------ wire

_OP_MSG = 2013


class MongoWire:
    """One connection speaking OP_MSG commands (request/response)."""

    def __init__(self, host: str, port: int, timeout: float = 30.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._req = 0
        self._lock = threading.Lock()

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
                raise ConnectionError("mongo connection closed")
            buf += chunk
        return buf

    def command(self, db: str, cmd: dict) -> dict:
        with self._lock:
            self._req += 1
            body = bson_encode({**cmd, "$db": db})
            # header + flagBits(0) + section kind 0
            payload = struct.pack("<i", 0) + b"\x00" + body
            msg = struct.pack(
                "<iiii", 16 + len(payload), self._req, 0, _OP_MSG
            ) + payload
            self.sock.sendall(msg)
            hdr = self._recv_exact(16)
            mlen, _, _, opcode = struct.unpack("<iiii", hdr)
            rest = self._recv_exact(mlen - 16)
        if opcode != _OP_MSG:
            raise IOError(f"unexpected reply opcode {opcode}")
        # flagBits(4) + kind byte + BSON
        if rest[4] != 0:
            raise IOError("only kind-0 reply sections are supported")
        doc, _ = bson_decode(rest, 5)
        return doc

    def ok_command(self, db: str, cmd: dict) -> dict:
        doc = self.command(db, cmd)
        if doc.get("ok") != 1 and doc.get("ok") != 1.0:
            code = doc.get("code")
            raise MongoCommandError(doc.get("errmsg", str(doc)), code)
        return doc

    def authenticate(self, username: str, password: str,
                     auth_db: str = "admin") -> None:
        """SCRAM-SHA-256 (RFC 7677) over saslStart/saslContinue, via
        the shared scram.py client, which verifies the SERVER
        signature too — a spoofed endpoint that merely says ok cannot
        pass."""
        from datax_spark.sources.scram import ScramSha256Client

        scram = ScramSha256Client(username, password)
        res = self.ok_command(auth_db, {
            "saslStart": 1,
            "mechanism": "SCRAM-SHA-256",
            "payload": scram.client_first().encode(),
            "autoAuthorize": 1,
        })
        server_first = bytes(res["payload"]).decode()
        res = self.ok_command(auth_db, {
            "saslContinue": 1,
            "conversationId": res["conversationId"],
            "payload": scram.client_final(server_first).encode(),
        })
        scram.verify_server_final(bytes(res["payload"]).decode())
        while not res.get("done"):
            res = self.ok_command(auth_db, {
                "saslContinue": 1,
                "conversationId": res["conversationId"],
                "payload": b"",
            })

    def find_iter(self, db: str, coll: str, flt: dict, batch_size: int = 1000,
                  sort: dict | None = None, limit: int | None = None,
                  skip: int | None = None, projection: dict | None = None):
        cmd: dict = {"find": coll, "filter": flt, "batchSize": batch_size}
        if sort:
            cmd["sort"] = sort
        if limit:
            cmd["limit"] = limit
        if skip:
            cmd["skip"] = skip
        if projection:
            cmd["projection"] = projection
        doc = self.ok_command(db, cmd)
        cur = doc["cursor"]
        yield from cur["firstBatch"]
        while cur["id"]:
            doc = self.ok_command(
                db, {"getMore": cur["id"], "collection": coll,
                     "batchSize": batch_size},
            )
            cur = doc["cursor"]
            yield from cur["nextBatch"]


class MongoCommandError(IOError):
    def __init__(self, msg: str, code):
        super().__init__(msg)
        self.code = code


def _parse_address(p: dict) -> tuple[str, int]:
    addr = p.get("address")
    if isinstance(addr, list):
        addr = addr[0]
    if not addr:
        raise ValueError("mongodb address is required")
    host, _, port = str(addr).partition(":")
    return host, int(port or 27017)


def _creds(p: dict) -> tuple[str, str, str] | None:
    """(user, password, auth_db) from the reference's config keys
    (userName/userPassword + optional authDb), or None."""
    user, pwd = p.get("userName"), p.get("userPassword")
    if not user and not pwd:
        return None
    if not (user and pwd):
        raise ValueError("mongodb auth needs BOTH userName and userPassword")
    return str(user), str(pwd), str(p.get("authDb", "admin"))


def _open_wire(host: str, port: int,
               creds: tuple[str, str, str] | None) -> MongoWire:
    w = MongoWire(host, port)
    try:
        if creds is not None:
            w.authenticate(creds[0], creds[1], auth_db=creds[2])
    except BaseException:
        w.close()
        raise
    return w


# ------------------------------------------------------------------ split

MONGO_UNAUTHORIZED = 13  # KeyConstant.MONGO_UNAUTHORIZED_ERR_CODE
MONGO_ILLEGALOP = 20  # KeyConstant.MONGO_ILLEGALOP_ERR_CODE


def mongo_split_ranges(
    wire: MongoWire, db: str, coll: str, advice_number: int
) -> tuple[list[tuple], bool]:
    """CollectionSplitUtil.doSplitCollection parity. Returns
    ``(ranges, is_object_id)`` where each range bound is ``"min"``/
    ``"max"`` or an ``_id`` value (hex string when ObjectId)."""
    first = next(
        wire.find_iter(db, coll, {}, limit=1, projection={"_id": 1}), None
    )
    if first is None:
        return [], False
    is_oid = isinstance(first.get("_id"), ObjectId)
    if advice_number <= 1:
        return [("min", "max")], is_oid

    stats = wire.ok_command(db, {"collStats": coll})
    doc_count = int(stats.get("count", 0))
    if doc_count == 0:
        return [], is_oid
    avg_obj_size = int(stats.get("avgObjSize", 1) or 1)
    split_point_count = advice_number - 1
    chunk_doc_count = doc_count // advice_number
    ns = f"{db}.{coll}"

    split_points: list = []
    try:
        # privilege probe first, as the reference does
        wire.ok_command(
            db, {"splitVector": ns, "keyPattern": {"_id": 1}, "force": True}
        )
        max_chunk_mb = (
            (doc_count // max(split_point_count, 1) - 1) * 2 * avg_obj_size
            // (1024 * 1024)
        )
        if max_chunk_mb < 1:
            res = wire.ok_command(
                db, {"splitVector": ns, "keyPattern": {"_id": 1}, "force": True}
            )
        else:
            res = wire.ok_command(
                db,
                {"splitVector": ns, "keyPattern": {"_id": 1},
                 "maxChunkSize": max_chunk_mb,
                 "maxSplitPoints": advice_number - 1},
            )
        for sk in res.get("splitKeys", []):
            v = sk["_id"]
            split_points.append(str(v) if is_oid else v)
    except MongoCommandError as e:
        if e.code not in (MONGO_UNAUTHORIZED, MONGO_ILLEGALOP):
            raise
        # skip/limit sampling fallback
        skip = chunk_doc_count
        for _ in range(split_point_count):
            doc = next(
                wire.find_iter(db, coll, {}, sort={"_id": 1}, skip=skip,
                               limit=1, projection={"_id": 1}),
                None,
            )
            if doc is None:
                break
            v = doc["_id"]
            split_points.append(str(v) if is_oid else v)
            skip += chunk_doc_count

    ranges: list[tuple] = []
    last = "min"
    for pt in split_points:
        ranges.append((last, pt))
        last = pt
    ranges.append((last, "max"))
    return ranges, is_oid


# ------------------------------------------------------------------ reader

_SPARK_TYPE = {
    "double": "double", "float": "double",
    "int": "long", "long": "long",
    "bool": "boolean", "boolean": "boolean",
    "date": "timestamp",
}


def _extract_column(item: dict, spec: dict):
    """MongoDBReader column extraction incl. dotted document paths and
    array splitter joins (MongoDBReader.java:128-180)."""
    name = spec["name"]
    ctype = str(spec.get("type", "string")).lower()
    v = item.get(name)
    if v is None and ctype == "document":
        parts = name.split(".")
        if len(parts) > 1:
            node = item
            for s in parts:
                nxt = node.get(s) if isinstance(node, dict) else None
                if isinstance(nxt, dict):
                    node = nxt
            v = node.get(parts[-1]) if isinstance(node, dict) else None
    if v is None:
        return None
    if ctype in ("array", "document.array") or (
        isinstance(v, list) and ctype not in _SPARK_TYPE
    ):
        splitter = spec.get("splitter")
        if not splitter:
            raise ValueError(
                f"array column {name!r} requires a splitter "
                f"(MongoDBReaderErrorCode.ILLEGAL_VALUE)"
            )
        return splitter.join(str(x) for x in v)
    if ctype in ("double", "float"):
        return float(v)
    if ctype in ("int", "long"):
        return int(v)
    if ctype in ("bool", "boolean"):
        return bool(v)
    if ctype == "date":
        return v if isinstance(v, _dt.datetime) else None
    if isinstance(v, dict):
        return json.dumps(v, default=str, sort_keys=True)
    return str(v)


def mongo_read(spark: SparkSession, p: dict) -> DataFrame:
    """mongodbreader: splitVector-planned ranges → one wire cursor per
    range inside ``mapInPandas``."""
    host, port = _parse_address(p)
    creds = _creds(p)
    db = p["dbName"]
    coll = p["collectionName"]
    columns = list(p.get("column") or [])
    if not columns:
        raise ValueError("mongodbreader requires a column list")
    advice = int(p.get("parallelism", 4))
    batch_size = int(p.get("batchSize", 1000))
    user_query = p.get("query")

    wire = _open_wire(host, port, creds)
    try:
        ranges, is_oid = mongo_split_ranges(wire, db, coll, advice)
    finally:
        wire.close()

    fields = []
    for c in columns:
        stype = _SPARK_TYPE.get(str(c.get("type", "string")).lower(), "string")
        fields.append(f"`{c['name'].replace('.', '_')}` {stype}")
    schema = ", ".join(fields)
    if not ranges:
        return spark.createDataFrame([], schema)

    range_rows = [
        (i, json.dumps(lo if isinstance(lo, (str, int, float)) else str(lo)),
         json.dumps(hi if isinstance(hi, (str, int, float)) else str(hi)))
        for i, (lo, hi) in enumerate(ranges)
    ]
    ranges_df = task_frame(spark, range_rows, "range_id int, lo string, hi string")

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                lo, hi = json.loads(row["lo"]), json.loads(row["hi"])
                idf: dict = {}
                if lo != "min":
                    idf["$gte"] = ObjectId(lo) if is_oid else lo
                if hi != "max":
                    idf["$lt"] = ObjectId(hi) if is_oid else hi
                flt: dict = {"_id": idf} if idf else {}
                if user_query:
                    q = json.loads(user_query)
                    flt = {"$and": [flt, q]} if flt else q
                w = _open_wire(host, port, creds)
                try:
                    out = []
                    for item in w.find_iter(db, coll, flt, batch_size=batch_size):
                        out.append(
                            {c["name"].replace(".", "_"): _extract_column(item, c)
                             for c in columns}
                        )
                finally:
                    w.close()
                if out:
                    yield pd.DataFrame(out)

    return ranges_df.mapInPandas(scan, schema=schema)


# ------------------------------------------------------------------ writer

def mongo_write(df: DataFrame, p: dict) -> dict:
    """mongodbwriter: batched inserts, or ReplaceOne-upsert bulk when
    ``writeMode.isReplace`` with ``replaceKey``/``uniqueKey``."""
    host, port = _parse_address(p)
    creds = _creds(p)
    db = p["dbName"]
    coll = p["collectionName"]
    columns = list(p.get("column") or [])
    ncols = len(df.columns)
    if not columns:
        columns = [{"name": c} for c in df.columns]
    if len(columns) > ncols:
        raise ValueError(
            f"column meta lists {len(columns)} entries but the input has "
            f"{ncols} columns"
        )
    write_mode = p.get("writeMode") or {}
    replace_key = None
    if str(write_mode.get("isReplace", "")).lower() == "true":
        replace_key = write_mode.get("replaceKey") or write_mode.get("uniqueKey")
        if not replace_key:
            raise ValueError("writeMode.isReplace requires replaceKey")
        if replace_key not in [c["name"] for c in columns]:
            raise ValueError(f"replaceKey {replace_key!r} is not a column")
    batch_size = int(p.get("batchSize", 1000))

    def _doc_value(spec: dict, v):
        if v is None:
            return None
        ctype = str(spec.get("type", "")).lower()
        if ctype == "array":
            splitter = spec.get("splitter")
            if not splitter:
                raise ValueError(f"array column {spec['name']!r} needs splitter")
            item_type = str(spec.get("itemType", "string")).lower()
            parts = str(v).split(splitter)
            if item_type in ("int", "long"):
                return [int(x) for x in parts]
            if item_type in ("double", "float"):
                return [float(x) for x in parts]
            return parts
        if isinstance(v, _dt.datetime):
            return v
        if hasattr(v, "item"):  # numpy scalar
            return v.item()
        return v

    def put_partition(batches):
        import pandas as pd

        w = _open_wire(host, port, creds)
        written = 0
        dirty = 0
        buf: list[dict] = []

        def flush():
            nonlocal written
            if not buf:
                return
            if replace_key:
                updates = [
                    {"q": {replace_key: d[replace_key]}, "u": d, "upsert": True}
                    for d in buf
                ]
                w.ok_command(db, {"update": coll, "updates": updates,
                                  "ordered": False})
            else:
                w.ok_command(db, {"insert": coll, "documents": buf,
                                  "ordered": False})
            written += len(buf)
            buf.clear()

        try:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    try:
                        doc = {}
                        for i, spec in enumerate(columns):
                            v = row[i]
                            if v is not None and not isinstance(v, (list, dict)):
                                try:
                                    if pd.isna(v):
                                        v = None
                                except (TypeError, ValueError):
                                    pass
                            doc[spec["name"]] = _doc_value(spec, v)
                        buf.append(doc)
                    except Exception:
                        dirty += 1
                        continue
                    if len(buf) >= batch_size:
                        flush()
            flush()
        finally:
            w.close()
        yield pd.DataFrame({"written": [written], "dirty": [dirty]})

    totals = (
        df.mapInPandas(put_partition, schema="written long, dirty long")
        .groupBy()
        .sum("written", "dirty")
        .collect()[0]
    )
    return {"written": int(totals[0] or 0), "dirty": int(totals[1] or 0)}
