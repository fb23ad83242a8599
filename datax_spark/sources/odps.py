"""ODPS (MaxCompute) reader / writer over the public Tunnel REST API.

Reference parity (odpsreader/.../OdpsReader.java, OdpsSplitUtil.java,
OdpsUtil.java, ReaderProxy.java; odpswriter/.../OdpsWriter.java,
util/OdpsUtil.java):

* **read** — split planning is OdpsSplitUtil.doSplit:27-37:

  - non-partitioned table (splitForNonPartitionedTable:95-123): ONE
    master Tunnel *download session* pins a snapshot and its
    ``RecordCount``; the count splits into ``adviceNum`` even
    ``(startIndex, stepCount)`` ranges (splitRecordCount:157-182 —
    ``doLongSplit`` over ``[0, count-1]`` with the last bound bumped
    so ranges tile ``[0, count)``; ``count == 0`` yields one empty
    ``(0, 0)`` slice). Every slice shares the session id.
  - partitioned table (splitPartitionedTable:40-93): the user's
    ``partition`` list — ``*`` for the whole table, exact leaf specs,
    or simple wildcard forms like ``dt=201701*`` (OdpsReader.java:
    94-147 expansion) — expands against the table's actual partitions
    (case-insensitive, quote/space-insensitive). No match is a config
    error unless ``successOnNoPartition`` (OdpsSplitUtil:46-53, one
    empty slice). If ``len(partitions) > adviceNum`` or
    ``splitMode == "partition"`` each partition is one slice
    (:62-73); otherwise each partition splits into
    ``ceil(adviceNum / len(partitions))`` record ranges (:75-86).
  - columns (OdpsUtil.parseColumns:218-258): each configured column is
    a quoted constant ``'v'`` (emitted as literal, named
    ``const_<position>``), a normal column (case-insensitive match,
    canonical name wins), or a partition column (value parsed from the
    slice's partition spec, ReaderProxy partition-value path); unknown
    names fail loudly.

  Spark-first scale shape: the slice plan is a small DataFrame and the
  Tunnel fetches run inside ``mapInPandas`` — parallelism = slices
  across executor cores, with each task streaming ONLY its
  ``rowrange=(start,count)`` in the Tunnel's Arrow representation
  (zero-copy into pandas), never the whole session.

* **write** — OdpsWriter.java Task model (the per-task upload noted at
  OdpsWriter.java:38): each Spark partition creates its OWN Tunnel
  *upload session*, PUTs its buffered Arrow blocks under ascending
  ``blockid``, and finishes with ONE commit naming exactly the blocks
  it wrote — uncommitted blocks are invisible, so the block protocol
  is the reference's two-phase "block upload then commit" and a task
  retry that dies before commit leaves no trace (at-least-once only
  if a task fails AFTER its commit, same guarantee as the reference).
  ``truncate`` parity (writer OdpsUtil.java:162-185): non-partitioned
  → SQLTask ``truncate table <t>;``; partitioned → drop + re-add the
  target partition; with ``truncate=false`` the partition is still
  created if absent (addPart, "alter table ... add if not exists
  partition"). The DDL strings are composed exactly as the reference
  composes them and submitted through the instances endpoint.

Transport: the public MaxCompute REST surface — Aliyun-style header
signing (``Authorization: ODPS <accessId>:<base64(hmac-sha1(key,
VERB\\n\\nContent-Type\\nDate\\nCanonicalizedResource))>``, the same
published scheme family as OSS), Tunnel ``?downloads`` /
``?data&downloadid&rowrange=(s,c)`` / ``?uploads`` /
``?data&uploadid&blockid`` / commit, with row bodies as Arrow IPC
streams (the Tunnel's published Arrow mode — the protobuf record mode
is not reimplemented). The in-process test fake
(tests/test_odps.py) speaks these same endpoints and verifies the
signature on every request; simplifications vs the real service
(single-page partition listing, JSON instead of XML metadata bodies,
SQL submitted as JSON) are confined to body shape, never to the
session/block/rowrange semantics under test.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import io
import json
import math
import re
import urllib.error
import urllib.parse
import urllib.request
from email.utils import formatdate

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datax_spark.sources.readers import task_frame

# ODPS type name -> Spark DDL type (the slice of the matrix the
# Tunnel Arrow mode carries natively; ReaderProxy's full matrix
# collapses onto these storage classes).
_TYPE_MAP = {
    "bigint": "long",
    "int": "int",
    "string": "string",
    "double": "double",
    "boolean": "boolean",
    "datetime": "timestamp",
    "decimal": "decimal(38,18)",
}


# ------------------------------------------------------------------ signing

def _sign(p: dict, verb: str, resource: str, date: str,
          content_type: str = "") -> str:
    msg = f"{verb}\n\n{content_type}\n{date}\n{resource}"
    mac = hmac.new(
        str(p.get("accessKey", "")).encode(), msg.encode(), hashlib.sha1
    )
    return f"ODPS {p.get('accessId', '')}:{base64.b64encode(mac.digest()).decode()}"


def _request(p: dict, verb: str, path: str, query: str = "",
             data: bytes | None = None, content_type: str = ""):
    endpoint = (p.get("tunnelServer") or p["endpoint"]).rstrip("/")
    resource = path + (f"?{query}" if query else "")
    url = f"{endpoint}{path}" + (f"?{query}" if query else "")
    date = formatdate(usegmt=True)
    headers = {
        "Date": date,
        "Authorization": _sign(p, verb, resource, date, content_type),
    }
    if content_type:
        headers["Content-Type"] = content_type
    req = urllib.request.Request(url, data=data, headers=headers, method=verb)
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _check(status: int, body: bytes, what: str):
    if not (200 <= status < 300):
        raise IOError(f"ODPS {what} failed: HTTP {status} {body[:200]!r}")


def _table_path(p: dict) -> str:
    return f"/projects/{p['project']}/tables/{p['table']}"


# ------------------------------------------------------------------ metadata

def table_meta(p: dict) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(normal columns, partition key columns) as (name, odps type)."""
    status, body = _request(p, "GET", _table_path(p))
    _check(status, body, "table meta")
    meta = json.loads(body)
    cols = [(c["name"], c["type"].lower()) for c in meta["columns"]]
    pkeys = [(c["name"], c["type"].lower())
             for c in meta.get("partitionKeys", [])]
    return cols, pkeys


def list_partitions(p: dict) -> list[str]:
    status, body = _request(p, "GET", _table_path(p), "partitions")
    _check(status, body, "list partitions")
    return [normalize_partition(s) for s in json.loads(body)["partitions"]]


def normalize_partition(spec: str) -> str:
    """Canonical ``k=v,k2=v2``: quotes stripped, spaces collapsed —
    the reference compares listOdpsPartitions entries with
    ``replaceAll("'", "")`` (writer OdpsUtil.isPartitionExist:187-196)."""
    parts = []
    for kv in str(spec).split(","):
        if not kv.strip():
            continue
        k, _, v = kv.partition("=")
        parts.append(f"{k.strip()}={v.strip().strip(chr(39))}")
    return ",".join(parts)


def expand_partitions(user: list[str], actual: list[str]) -> list[str]:
    """OdpsReader.java:94-147: ``*`` = whole table; otherwise each
    entry matches exact specs or simple ``*`` wildcards per spec,
    case-insensitively. Returns matched actual specs in table order."""
    actual_norm = [normalize_partition(a) for a in actual]
    if any(u.strip() == "*" for u in user):
        return actual_norm
    pats = [normalize_partition(u).lower() for u in user]
    out = []
    for spec in actual_norm:
        low = spec.lower()
        if any(_wild_match(pat, low) for pat in pats):
            out.append(spec)
    return out


def _wild_match(pat: str, s: str) -> bool:
    rx = "^" + ".*".join(re.escape(part) for part in pat.split("*")) + "$"
    return re.match(rx, s) is not None


# ------------------------------------------------------------------ split

def split_record_count(count: int, advice_num: int) -> list[tuple[int, int]]:
    """OdpsSplitUtil.splitRecordCount:157-182 — even (start, step)
    ranges tiling [0, count); count == 0 keeps one empty slice so the
    downstream task graph is never empty."""
    if count < 0:
        raise ValueError(f"record count must be >= 0, got {count}")
    if advice_num < 1:
        raise ValueError(f"adviceNum must be >= 1, got {advice_num}")
    if count == 0:
        return [(0, 0)]
    n = min(advice_num, count)
    bounds = [0 + (count * i) // n for i in range(n)] + [count]
    return [(bounds[i], bounds[i + 1] - bounds[i]) for i in range(n)]


def parse_columns(user_cols: list[str], normal: list[str],
                  partition_cols: list[str]) -> list[tuple[str, str, str]]:
    """OdpsUtil.parseColumns:218-258 → [(kind, canonical_name|value,
    output_name)]; kind in {normal, partition, constant}."""
    low_normal = {c.lower(): c for c in normal}
    low_part = {c.lower(): c for c in partition_cols}
    out = []
    for i, col in enumerate(user_cols):
        c = str(col)
        if len(c) >= 2 and c.startswith("'") and c.endswith("'"):
            out.append(("constant", c[1:-1], f"const_{i}"))
        elif c.lower() in low_normal:
            name = low_normal[c.lower()]
            out.append(("normal", name, name))
        elif c.lower() in low_part:
            name = low_part[c.lower()]
            out.append(("partition", name, name))
        else:
            raise ValueError(
                f"column {c!r} is neither a table column, a partition "
                f"column, nor a quoted constant (OdpsUtil.parseColumns)"
            )
    return out


def _create_download(p: dict, partition: str) -> tuple[str, int]:
    query = "downloads"
    if partition:
        query += f"&partition={urllib.parse.quote(partition)}"
    status, body = _request(p, "POST", _table_path(p), query)
    _check(status, body, "create download session")
    sess = json.loads(body)
    return sess["DownloadID"], int(sess["RecordCount"])


def _partition_values(spec: str) -> dict[str, str]:
    """'pt=1,ds=hangzhou' -> {'pt': '1', 'ds': 'hangzhou'}
    (ReaderProxy partition-value parsing)."""
    out = {}
    for kv in spec.split(","):
        if kv:
            k, _, v = kv.partition("=")
            out[k] = v
    return out


def odps_read(spark: SparkSession, p: dict) -> DataFrame:
    """Distributed Tunnel download (see module docstring for the
    split-plan parity map). Returns the configured columns in order."""
    normal, pkeys = table_meta(p)
    normal_names = [c for c, _ in normal]
    pkey_names = [c for c, _ in pkeys]
    user_cols = p.get("column") or ["*"]
    if user_cols == ["*"] or user_cols == "*":
        user_cols = normal_names + pkey_names
    parsed = parse_columns(list(user_cols), normal_names, pkey_names)

    advice = int(p.get("adviceNum") or spark.sparkContext.defaultParallelism)
    split_mode = p.get("splitMode", "record")
    is_partitioned = bool(pkeys)

    user_partitions = p.get("partition")
    if user_partitions and not is_partitioned:
        raise ValueError("partition configured on a non-partitioned table")
    if is_partitioned and not user_partitions:
        raise ValueError(
            "a partitioned table requires the partition configuration "
            "('*' reads the whole table)"
        )

    # ---- plan slices: (partition, session, start, count)
    slices: list[tuple[str, str, int, int]] = []
    if not is_partitioned:
        sid, count = _create_download(p, "")
        slices = [("", sid, s, c) for s, c in split_record_count(count, advice)]
    else:
        specs = [user_partitions] if isinstance(user_partitions, str) \
            else list(user_partitions)
        matched = expand_partitions(specs, list_partitions(p))
        if not matched:
            if p.get("successOnNoPartition"):
                slices = []
            else:
                raise ValueError(
                    f"partition configuration {specs} matches no partition "
                    f"of table {p['table']} (OdpsSplitUtil parity)"
                )
        elif len(matched) > advice or split_mode == "partition":
            for spec in matched:
                sid, count = _create_download(p, spec)
                slices.append((spec, sid, 0, count))
        else:
            per = math.ceil(advice / len(matched))
            for spec in matched:
                sid, count = _create_download(p, spec)
                slices.extend(
                    (spec, sid, s, c) for s, c in split_record_count(count, per)
                )

    type_of = dict(normal + pkeys)
    fields = []
    for kind, name, out_name in parsed:
        odps_t = type_of.get(name, "string") if kind != "constant" else "string"
        spark_t = "string" if kind == "partition" else _TYPE_MAP.get(odps_t, "string")
        fields.append(f"`{out_name}` {spark_t}")
    out_schema = ", ".join(fields)
    normal_order = [n for k, n, _ in parsed if k == "normal"]

    if not slices:  # successOnNoPartition: empty frame, right schema
        return spark.createDataFrame([], out_schema)

    sl = task_frame(spark, slices, "part string, session string, start long, cnt long")
    conf = dict(p)

    def fetch(batches):
        import pandas as pd
        import pyarrow as pa

        for pdf in batches:
            for part, sid, start, count in pdf.itertuples(index=False):
                if count > 0:
                    query = (
                        f"data&downloadid={sid}"
                        f"&rowrange=({int(start)},{int(count)})&arrow"
                    )
                    if part:
                        query += f"&partition={urllib.parse.quote(part)}"
                    status, body = _request(conf, "GET", _table_path(conf), query)
                    _check(status, body, "download rows")
                    tbl = pa.ipc.open_stream(io.BytesIO(body)).read_all()
                    block = tbl.select(normal_order).to_pandas() \
                        if normal_order else pd.DataFrame(index=range(tbl.num_rows))
                else:
                    block = pd.DataFrame(
                        {n: pd.Series(dtype=object) for n in normal_order}
                    )
                pvals = _partition_values(part)
                cols = {}
                for kind, name, out_name in parsed:
                    if kind == "normal":
                        cols[out_name] = block[name]
                    elif kind == "partition":
                        cols[out_name] = pvals.get(name)
                    else:
                        cols[out_name] = name  # constant's value
                yield pd.DataFrame(cols, index=block.index)

    return sl.mapInPandas(fetch, schema=out_schema)


# ------------------------------------------------------------------ writer

def _run_sql(p: dict, sql: str) -> None:
    """SQLTask submission (writer OdpsUtil.runSqlTaskWithRetry) via the
    instances endpoint; the fake accepts the same DDL statement forms
    the reference composes."""
    status, body = _request(
        p, "POST", f"/projects/{p['project']}/instances",
        data=json.dumps({"sql": sql}).encode(),
        content_type="application/json",
    )
    _check(status, body, f"sql task {sql!r}")


def odps_write(df: DataFrame, p: dict) -> dict:
    """Per-task Tunnel block upload + commit (two-phase); truncate /
    addPart DDL parity per the module docstring."""
    normal, pkeys = table_meta(p)
    partition = normalize_partition(p.get("partition", "") or "")
    if pkeys and not partition:
        raise ValueError("a partitioned table requires a target partition")
    if partition and not pkeys:
        raise ValueError("partition configured on a non-partitioned table")

    truncate = bool(p.get("truncate", False))
    ddl_spec = ",".join(
        f"{k}='{v}'" for k, v in _partition_values(partition).items()
    )
    if truncate:
        if not pkeys:
            _run_sql(p, f"truncate table {p['table']};")
        else:
            # truncatePartition:178-185 — drop if exists, then add
            _run_sql(
                p,
                f"alter table {p['table']} drop if exists "
                f"partition({ddl_spec});",
            )
            _run_sql(
                p,
                f"alter table {p['table']} add partition({ddl_spec});",
            )
    elif pkeys:
        _run_sql(
            p,
            f"alter table {p['table']} add if not exists "
            f"partition({ddl_spec});",
        )

    cols = [c for c, _ in normal]
    user_cols = p.get("column")
    if user_cols and user_cols != ["*"]:
        low = {c.lower(): c for c in cols}
        cols = [low[str(c).lower()] for c in user_cols]
    out = df.select(*[F.col(c) for c in cols])
    block_rows = int(p.get("blockRows", 65536))
    conf = dict(p)
    tpath = _table_path(p)

    def upload(batches):
        import pandas as pd
        import pyarrow as pa

        session = None
        block_id = 0
        committed: list[int] = []
        buf: list[pa.Table] = []
        buffered = 0

        def flush():
            nonlocal session, block_id, buffered
            if not buf:
                return
            tbl = pa.concat_tables(buf)
            buf.clear()
            buffered = 0
            if session is None:
                query = "uploads"
                if partition:
                    query += f"&partition={urllib.parse.quote(partition)}"
                status, body = _request(conf, "POST", tpath, query)
                _check(status, body, "create upload session")
                session = json.loads(body)["UploadID"]
            sink = io.BytesIO()
            with pa.ipc.new_stream(sink, tbl.schema) as w:
                w.write_table(tbl)
            query = f"data&uploadid={session}&blockid={block_id}"
            if partition:
                query += f"&partition={urllib.parse.quote(partition)}"
            status, body = _request(
                conf, "PUT", tpath, query, data=sink.getvalue(),
                content_type="application/octet-stream",
            )
            _check(status, body, "upload block")
            committed.append(block_id)
            block_id += 1

        for pdf in batches:
            for lo in range(0, len(pdf), block_rows):
                chunk = pdf.iloc[lo:lo + block_rows]
                buf.append(pa.Table.from_pandas(chunk, preserve_index=False))
                buffered += len(chunk)
                if buffered >= block_rows:
                    flush()
        flush()
        n_blocks = len(committed)
        if session is not None:
            status, body = _request(
                conf, "POST", tpath, f"uploadid={session}",
                data=json.dumps({"blocks": committed}).encode(),
                content_type="application/json",
            )
            _check(status, body, "commit upload")
        yield pd.DataFrame({"blocks": [n_blocks]})

    res = out.mapInPandas(upload, schema="blocks long").agg(
        F.sum("blocks").alias("blocks")
    ).collect()[0]
    return {"blocks": int(res["blocks"] or 0), "partition": partition}
