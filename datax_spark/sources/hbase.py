"""HBase reader/writer over the public HBase REST (Stargate) API.

Reference parity (hbase11xreader/.../Hbase11xHelper.java, NormalTask,
MultiVersionTask; hbase11xwriter/.../NormalTask, HbaseAbstractTask):

* **split** (Hbase11xHelper.split/doSplit:290-393): the user range
  [startRowkey, endRowkey) — ``isBinaryRowkey`` selecting utf-8 vs
  ``\\xHH``-escaped byte-string form (stringToBytes:204-212) —
  intersects the table's region boundaries; one scan task per
  overlapping region, so read parallelism = regions, the same
  task-per-region plan the reference builds from RegionLocator. Region
  boundaries come from the REST ``/{table}/regions`` endpoint.
* **normal mode** (NormalTask.fetchLine:41-89): each configured column
  is ``rowkey``, a constant (type+value, no name), or ``cf:qualifier``
  decoded by its configured type via the HBase ``Bytes`` layout
  (big-endian two's-complement short/int/long, IEEE float/double,
  single-byte boolean, utf-8 string, ``Bytes.toStringBinary`` escaped
  binarystring, dateformat-parsed date —
  HbaseAbstractTask.convertBytesToAssignType:91-126).
* **multiVersion mode** (MultiVersionTask.convertCellToLine): every
  cell version becomes one output row ``(rowkey, column, timestamp,
  value)`` with rowkey/value decoded by the per-column configured
  types; ``maxVersion=-1`` = all versions.
* **write** (writer NormalTask.convertRecordToPut:31-69, getRowkey:
  71-89; HbaseAbstractTask.getColumnByte:88-129): rowkey = the
  concatenated encoded bytes of the ``rowkeyColumn`` specs (constants
  at index -1), each data column encoded by its configured type,
  ``nullMode`` skip (omit the cell; an all-null row is skipped whole)
  or empty (write empty bytes), optional ``versionColumn`` (cell
  timestamp from a record column at ``index`` or a constant ms value
  at index -1). A row whose conversion fails is a dirty record, not a
  job failure (startWriter:47-69).

Transport: the reference links the HBase RPC client; this
implementation speaks the public HBase REST gateway protocol
(JSON + base64 cells): ``GET /{table}/regions``, stateful scanners
(``PUT /{table}/scanner`` → Location, ``GET`` until 204, ``DELETE``),
and batched ``PUT /{table}/fakerow`` multi-row mutations — the
documented Stargate surface, drivable by an in-process fake in tests.

Spark-first shape: the driver plans splits from region metadata only;
executors run one REST scanner per split inside ``mapInPandas``
(Arrow batches out, no driver fan-in) and the writer POSTs row batches
per partition. Parallelism = splits/partitions. Delivery is
at-least-once under task retry; HBase puts are idempotent per
(rowkey, column, timestamp), matching the reference's semantics.
"""

from __future__ import annotations

import base64
import json
import struct
import urllib.error
import urllib.request

from pyspark.sql import DataFrame, SparkSession

from datax_spark.sources.readers import task_frame

ROWKEY_FLAG = "rowkey"  # Constant.ROWKEY_FLAG
COLUMN_TYPES = (
    "boolean", "short", "int", "long", "float", "double",
    "date", "string", "binarystring",
)
_SPARK_TYPE = {
    "boolean": "boolean",
    "short": "long",   # reference: SHORT -> LongColumn
    "int": "long",
    "long": "long",
    "float": "double",  # reference: FLOAT -> DoubleColumn
    "double": "double",
    "date": "timestamp",
    "string": "string",
    "binarystring": "string",
}


# ---------------------------------------------------------------- bytes codec
# HBase Bytes.toBytes / Bytes.toX layouts (big-endian, two's complement)

def encode_value(ctype: str, v) -> bytes:
    if ctype == "boolean":
        return b"\xff" if v else b"\x00"
    if ctype == "short":
        return struct.pack(">h", int(v))
    if ctype == "int":
        return struct.pack(">i", int(v))
    if ctype == "long":
        return struct.pack(">q", int(v))
    if ctype == "float":
        return struct.pack(">f", float(v))
    if ctype == "double":
        return struct.pack(">d", float(v))
    if ctype in ("string", "binarystring"):
        return str(v).encode("utf-8")
    raise ValueError(
        f"hbasewriter does not support column type {ctype!r} "
        f"(HbaseAbstractTask.getColumnByte)"
    )


def decode_value(ctype: str, b: bytes | None, dateformat: str | None = None):
    if b is None or len(b) == 0:
        return None
    if ctype == "boolean":
        return b[0] != 0
    if ctype == "short":
        return int(struct.unpack(">h", b)[0])
    if ctype == "int":
        return int(struct.unpack(">i", b)[0])
    if ctype == "long":
        return int(struct.unpack(">q", b)[0])
    if ctype == "float":
        return float(struct.unpack(">f", b)[0])
    if ctype == "double":
        return float(struct.unpack(">d", b)[0])
    if ctype == "string":
        return b.decode("utf-8")
    if ctype == "binarystring":
        return to_string_binary(b)
    if ctype == "date":
        from datetime import datetime

        s = b.decode("utf-8")
        fmt = _java_dateformat_to_python(dateformat or "yyyy-MM-dd HH:mm:ss")
        return datetime.strptime(s, fmt)
    raise ValueError(f"unsupported column type {ctype!r}")


def parse_value(ctype: str, s, dateformat: str | None = None):
    """convertValueToAssignType (HbaseAbstractTask.java:128-160): a
    CONSTANT column's configured string value parsed — not
    byte-decoded — by its type."""
    if s is None:
        return None
    if ctype == "boolean":
        return str(s).strip().lower() == "true"
    if ctype in ("short", "int", "long"):
        return int(s)
    if ctype in ("float", "double"):
        return float(s)
    if ctype in ("string", "binarystring"):
        return str(s)
    if ctype == "date":
        from datetime import datetime

        fmt = _java_dateformat_to_python(dateformat or "yyyy-MM-dd HH:mm:ss")
        return datetime.strptime(str(s), fmt)
    raise ValueError(f"unsupported constant type {ctype!r}")


def to_string_binary(b: bytes) -> str:
    """Bytes.toStringBinary: printable ASCII kept, everything else
    ``\\xHH``-escaped."""
    out = []
    for x in b:
        if 32 <= x < 127 and x != 92:  # printable, not backslash
            out.append(chr(x))
        else:
            out.append(f"\\x{x:02X}")
    return "".join(out)


def to_bytes_binary(s: str) -> bytes:
    """Bytes.toBytesBinary: inverse of toStringBinary."""
    out = bytearray()
    i = 0
    while i < len(s):
        if s[i] == "\\" and i + 3 < len(s) and s[i + 1] in "xX":
            out.append(int(s[i + 2 : i + 4], 16))
            i += 4
        else:
            out.append(ord(s[i]))
            i += 1
    return bytes(out)


def _java_dateformat_to_python(fmt: str) -> str:
    """SimpleDateFormat → strptime for the common tokens the reference
    docs use (yyyy MM dd HH mm ss SSS)."""
    return (
        fmt.replace("yyyy", "%Y").replace("MM", "%m").replace("dd", "%d")
        .replace("HH", "%H").replace("mm", "%M").replace("ss", "%S")
        .replace("SSS", "%f")
    )


def _user_rowkey_bytes(s: str | None, is_binary: bool) -> bytes:
    """stringToBytes (Hbase11xHelper.java:204-212)."""
    if not s:
        return b""
    return to_bytes_binary(s) if is_binary else s.encode("utf-8")


# ---------------------------------------------------------------- REST client

def _rest(method: str, url: str, payload=None, timeout: float = 60.0):
    hdrs = {"Accept": "application/json"}
    data = None
    if payload is not None:
        hdrs["Content-Type"] = "application/json"
        data = json.dumps(payload).encode()
    req = urllib.request.Request(url, data=data, headers=hdrs, method=method)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            body = resp.read()
            loc = resp.headers.get("Location")
            return resp.status, (json.loads(body) if body else None), loc
    except urllib.error.HTTPError as e:
        return e.code, None, None


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode("ascii")


def _unb64(s: str) -> bytes:
    return base64.b64decode(s)


def hbase_regions(endpoint: str, table: str) -> list[tuple[bytes, bytes]]:
    """Region (startKey, endKey) boundaries from ``GET /{table}/regions``
    (empty bytes = unbounded, as in RegionLocator.getStartEndKeys)."""
    st, body, _ = _rest("GET", f"{endpoint.rstrip('/')}/{table}/regions")
    if st != 200 or not body:
        raise IOError(f"hbase regions fetch failed for {table}: HTTP {st}")
    out = []
    for r in body.get("Region", []):
        out.append((_unb64(r.get("startKey", "")), _unb64(r.get("endKey", ""))))
    return out or [(b"", b"")]


def hbase_split(
    regions: list[tuple[bytes, bytes]], start: bytes, end: bytes
) -> list[tuple[bytes, bytes]]:
    """doSplit parity (Hbase11xHelper.java:319-393): intersect the user
    range with each region; empty start/end = unbounded."""
    if start and end and start > end:
        raise ValueError("startRowkey must not exceed endRowkey")
    splits: list[tuple[bytes, bytes]] = []
    for rs, re_ in regions:
        # region entirely before the user range
        if re_ != b"" and start and re_ <= start:
            continue
        # region entirely after the user range
        if end and rs >= end:
            continue
        s = max(rs, start) if start else rs
        if end:
            e = min(re_, end) if re_ != b"" else end
        else:
            e = re_
        splits.append((s, e))
    return splits


# ---------------------------------------------------------------- reader

def hbase_read(spark: SparkSession, p: dict) -> DataFrame:
    """hbase11xreader: region-parallel REST scan → typed DataFrame.

    ``mode="normal"`` emits the configured columns; ``mode=
    "multiVersionFixedColumn"`` emits (rowkey, column, timestamp,
    value) per cell version, value decoded by the per-column type and
    rendered as string (one DataFrame schema must fit all columns).
    """
    endpoint = p["endpoint"].rstrip("/")
    table = p["table"]
    mode = p.get("mode", "normal")
    columns = list(p.get("column") or [])
    if not columns:
        raise ValueError("hbasereader requires a column list")
    is_binary = bool(p.get("isBinaryRowkey", False))
    start = _user_rowkey_bytes(p.get("range", {}).get("startRowkey"), is_binary)
    end = _user_rowkey_bytes(p.get("range", {}).get("endRowkey"), is_binary)
    batch = int(p.get("scanBatchSize", 1000))
    max_version = int(p.get("maxVersion", 1 if mode == "normal" else -1))

    regions = hbase_regions(endpoint, table)
    splits = hbase_split(regions, start, end)
    if not splits:
        splits = [(b"", b"")]

    # cf:q set the scanner asks for (constants and rowkey excluded)
    scan_cols = [
        c["name"] for c in columns
        if c.get("name") and c["name"] != ROWKEY_FLAG
    ]
    col_specs = []
    for c in columns:
        name = c.get("name")
        ctype = str(c.get("type", "string")).lower()
        if ctype not in COLUMN_TYPES:
            raise ValueError(
                f"hbasereader does not support type {ctype!r}; supported: "
                f"{COLUMN_TYPES} (ColumnType.getByTypeName)"
            )
        if name and name != ROWKEY_FLAG and ":" not in name:
            raise ValueError(
                f"column name must be rowkey or 'family:qualifier', got {name!r}"
            )
        col_specs.append(
            {"name": name, "type": ctype, "format": c.get("format"),
             "value": c.get("value")}
        )

    if mode == "normal":
        fields = []
        for i, c in enumerate(col_specs):
            out_name = (c["name"] or f"const_{i}").replace(":", "_")
            fields.append(f"`{out_name}` {_SPARK_TYPE[c['type']]}")
        schema = ", ".join(fields)
    elif mode in ("multiVersionFixedColumn", "multiversion"):
        schema = "rowkey string, column string, timestamp long, value string"
        type_by_col = {c["name"]: c for c in col_specs}
        if ROWKEY_FLAG not in type_by_col:
            raise ValueError("multiVersion mode requires a rowkey column spec")
    else:
        raise ValueError(f"unsupported hbasereader mode {mode!r} (ModeType)")

    split_rows = [(i, _b64(s), _b64(e)) for i, (s, e) in enumerate(splits)]
    splits_df = task_frame(spark, split_rows, "split_id int, start string, stop string")

    def scan_partition(batches):
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                s, e = _unb64(row["start"]), _unb64(row["stop"])
                payload = {"batch": batch, "maxVersions": max_version}
                if s:
                    payload["startRow"] = _b64(s)
                if e:
                    payload["endRow"] = _b64(e)
                if scan_cols:
                    payload["column"] = [_b64(c.encode()) for c in scan_cols]
                st, _, loc = _rest(
                    "PUT", f"{endpoint}/{table}/scanner", payload=payload
                )
                if st >= 300 or not loc:
                    raise IOError(f"scanner create failed: HTTP {st}")
                try:
                    rows_out = []
                    while True:
                        st, body, _ = _rest("GET", loc)
                        if st == 204:
                            break
                        if st != 200:
                            raise IOError(f"scanner next failed: HTTP {st}")
                        for r in body.get("Row", []):
                            rk = _unb64(r["key"])
                            cells = {}
                            versions = []
                            for cell in r.get("Cell", []):
                                cname = _unb64(cell["column"]).decode("utf-8")
                                cval = _unb64(cell.get("$", "") or "")
                                ts = int(cell.get("timestamp", 0))
                                cells.setdefault(cname, cval)  # newest first
                                versions.append((cname, ts, cval))
                            if mode == "normal":
                                out = {}
                                for i, c in enumerate(col_specs):
                                    out_name = (c["name"] or f"const_{i}").replace(":", "_")
                                    if c["name"] is None:
                                        out[out_name] = parse_value(
                                            c["type"], c["value"], c["format"]
                                        )
                                    elif c["name"] == ROWKEY_FLAG:
                                        out[out_name] = decode_value(
                                            c["type"], rk, c["format"]
                                        )
                                    else:
                                        out[out_name] = decode_value(
                                            c["type"], cells.get(c["name"]),
                                            c["format"],
                                        )
                                rows_out.append(out)
                            else:
                                rk_spec = type_by_col[ROWKEY_FLAG]
                                rk_val = decode_value(rk_spec["type"], rk, rk_spec["format"])
                                for cname, ts, cval in versions:
                                    spec = type_by_col.get(cname)
                                    if spec is None:
                                        continue
                                    v = decode_value(spec["type"], cval, spec["format"])
                                    rows_out.append(
                                        {"rowkey": str(rk_val), "column": cname,
                                         "timestamp": ts,
                                         "value": None if v is None else str(v)}
                                    )
                finally:
                    _rest("DELETE", loc)
                if rows_out:
                    yield pd.DataFrame(rows_out)

    return splits_df.mapInPandas(scan_partition, schema=schema)


# ---------------------------------------------------------------- writer

def hbase_write(df: DataFrame, p: dict) -> dict:
    """hbase11xwriter normal mode: executor-parallel batched multi-row
    PUTs. Returns ``{"written": rows, "dirty": rows}``."""
    endpoint = p["endpoint"].rstrip("/")
    table = p["table"]
    mode = p.get("mode", "normal")
    if mode != "normal":
        raise ValueError(f"unsupported hbasewriter mode {mode!r}")
    rowkey_specs = list(p.get("rowkeyColumn") or [])
    if not rowkey_specs:
        raise ValueError("hbasewriter requires rowkeyColumn")
    col_specs = list(p.get("column") or [])
    if not col_specs:
        raise ValueError("hbasewriter requires a column list")
    for c in col_specs:
        name = c.get("name", "")
        parts = name.split(":")
        if len(parts) != 2 or not parts[0].strip() or not parts[1].strip():
            raise ValueError(
                f"column name must be 'family:qualifier', got {name!r} "
                f"(writer NormalTask.convertRecordToPut)"
            )
    version_spec = p.get("versionColumn")
    null_mode = p.get("nullMode", "skip")
    if null_mode not in ("skip", "empty"):
        raise ValueError("nullMode must be skip or empty (NullModeType)")
    batch_size = int(p.get("batchSize", 100))
    ncols = len(df.columns)
    for spec in rowkey_specs + col_specs + ([version_spec] if version_spec else []):
        idx = int(spec.get("index", -1))
        if idx >= ncols:
            raise ValueError(
                f"index {idx} out of range: the input has {ncols} columns"
            )

    def put_partition(batches):
        import pandas as pd

        written = 0
        dirty = 0
        buf: list[dict] = []

        def flush():
            nonlocal written
            if not buf:
                return
            st, _, _ = _rest(
                "PUT", f"{endpoint}/{table}/fakerow", payload={"Row": buf}
            )
            if st >= 300:
                raise IOError(f"hbase batch put failed: HTTP {st}")
            written += len(buf)
            buf.clear()

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                try:
                    rk = b""
                    for spec in rowkey_specs:
                        idx = int(spec.get("index", -1))
                        ctype = str(spec["type"]).lower()
                        if idx == -1:
                            rk += encode_value(ctype, spec["value"])
                        else:
                            v = row[idx]
                            if v is None or pd.isna(v):
                                raise ValueError("null rowkey component")
                            rk += encode_value(ctype, v)
                    ts = None
                    if version_spec is not None:
                        vidx = int(version_spec.get("index", -1))
                        ts = int(
                            version_spec["value"] if vidx == -1 else row[vidx]
                        )
                        if ts < 0:
                            raise ValueError("illegal version timestamp")
                    cells = []
                    for spec in col_specs:
                        idx = int(spec["index"])
                        ctype = str(spec["type"]).lower()
                        v = row[idx]
                        if v is None or pd.isna(v):
                            if null_mode == "skip":
                                continue
                            data = b""
                        else:
                            data = encode_value(ctype, v)
                        cell = {
                            "column": _b64(spec["name"].encode("utf-8")),
                            "$": _b64(data),
                        }
                        if ts is not None:
                            cell["timestamp"] = ts
                        cells.append(cell)
                    if not cells:
                        # all-null row under nullMode=skip: "No columns
                        # to insert" is skipped, not dirty
                        continue
                    buf.append({"key": _b64(rk), "Cell": cells})
                except Exception:
                    dirty += 1  # conversion failure = dirty record
                    continue
                if len(buf) >= batch_size:
                    flush()
        flush()
        yield pd.DataFrame({"written": [written], "dirty": [dirty]})

    totals = (
        df.mapInPandas(put_partition, schema="written long, dirty long")
        .groupBy()
        .sum("written", "dirty")
        .collect()[0]
    )
    return {"written": int(totals[0] or 0), "dirty": int(totals[1] or 0)}
