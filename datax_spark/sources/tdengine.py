"""TDengine reader / writer over the public REST ``/rest/sql`` API.

Reference parity (tdenginereader/.../TDengineReader.java;
tdenginewriter/.../DefaultDataHandler.java, SchemaManager.java):

* **read** (TDengineReader.java):

  - config validation: username/password/connection required
    (Job.init:33-70); ``beginDateTime``/``endDateTime`` must parse as
    ``yyyy-MM-dd HH:mm:ss`` and begin < end (:72-99).
  - split (Job.split:107-123): one slice per (connection entry ×
    url); each slice runs its tables' SELECTs (or the raw
    ``querySql`` list) sequentially. The Spark shape fans the
    individual (url, sql) pairs across executors via ``mapInPandas``
    instead — same statements, parallelism = statements.
  - SQL composition (Task.startRead:185-205, byte-for-byte):
    ``select {cols} from {table} where {where | '_c0 > ' + LONG_MIN}
    [and _c0 >= '{begin}'] [and _c0 < '{end}']``; ``querySql``
    bypasses composition entirely.
  - result schema: table mode derives the DataFrame schema from
    ``describe {table}`` at plan time; ``querySql`` mode probes the
    first statement once on the driver for its ``column_meta`` (or
    takes an explicit ``resultSchema`` DDL string to skip the probe).

* **write** (DefaultDataHandler.writeBatch:151-172 dispatch): target
  tables are classified via ``show stables`` / ``show tables``
  (SchemaManager.loadTableMeta:64-93 — a table row with a
  ``stable_name`` is a sub-table, else a normal table) and described
  column-by-column (``describe``, Note=="TAG" marks tags, first row
  is the primary-key timestamp). Insert shapes:

  - super table + ``tbname`` column configured →
    ``insert into {tbname} using {stable} tags(...) values(...)``
    one segment per record, batched in one statement
    (writeBatchToSupTableBySQL:173-236);
  - super table without ``tbname`` → the reference falls back to
    schemaless line protocol over the NATIVE connection; that
    endpoint is not part of the REST surface, so this mode fails
    loudly here;
  - sub table → ``insert into {tb} (cols) values (...)...`` with
    records filtered to the sub-table's tbname and (optionally,
    ``ignoreTagsUnmatched``) to rows whose tag values equal the
    sub-table's tag values (writeBatchToSubTable:427-486; tag values
    loaded like SchemaManager.loadColumnMetas:115-130);
  - normal table → full-column ``insert into {t} (cols) values ...``
    (writeBatchToNormalTable:511-545).

  Values render as buildColumnValue:248-283: datetimes → epoch in
  the database's precision (``show databases``.precision,
  loadDatabasePrecision:25-61), strings single-quoted with quote
  escaping (double-quoted when the target column is TIMESTAMP),
  None → NULL, numerics/bools raw. ``batchSize`` default 1000
  (Constants.DEFAULT_BATCH_SIZE). TDengine inserts are idempotent
  per (table, timestamp) — last write wins on replay — so task
  retries are at-least-once + converging.

Transport: TDengine's published REST API — ``POST {url}/rest/sql``
with the SQL text as the body and HTTP Basic auth, responses as JSON
``{"status", "head", "column_meta": [[name, type, bytes]...],
"data": [[...]...], "rows"}``. The in-process fake
(tests/test_tdengine.py) speaks the same endpoint and understands
exactly the statement shapes composed here.
"""

from __future__ import annotations

import base64
import json
import urllib.error
import urllib.request
from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from datax_spark.sources.readers import task_frame

DATETIME_FORMAT = "%Y-%m-%d %H:%M:%S"  # TDengineReader.DATETIME_FORMAT
LONG_MIN = -(2 ** 63)
DEFAULT_BATCH_SIZE = 1000  # Constants.DEFAULT_BATCH_SIZE

# TDengine column_meta/describe type -> Spark DDL type
_TYPE_MAP = {
    "TIMESTAMP": "timestamp",
    "BOOL": "boolean",
    "TINYINT": "byte",
    "SMALLINT": "short",
    "INT": "int",
    "BIGINT": "long",
    "FLOAT": "float",
    "DOUBLE": "double",
    "BINARY": "string",
    "VARCHAR": "string",
    "NCHAR": "string",
}


def _exec(p: dict, url: str, sql: str) -> dict:
    """POST one statement to {url}/rest/sql with Basic auth."""
    tok = base64.b64encode(
        f"{p['username']}:{p['password']}".encode()
    ).decode()
    req = urllib.request.Request(
        f"{url.rstrip('/')}/rest/sql",
        data=sql.encode(),
        headers={"Authorization": f"Basic {tok}"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        body = json.loads(resp.read())
    if body.get("status") not in ("succ", "ok") and body.get("code", 0) != 0:
        raise IOError(f"TDengine sql failed: {body} for {sql!r}")
    return body


def _validate(p: dict) -> list[dict]:
    """Job.init parity: required values + datetime window check."""
    for k in ("username", "password"):
        if not p.get(k):
            raise ValueError(f"The parameter [{k}] is not set.")
    conns = p.get("connection")
    if not conns:
        raise ValueError("The parameter [connection] is not set.")
    start = LONG_MIN
    end = 2 ** 63 - 1
    if p.get("beginDateTime"):
        start = int(datetime.strptime(
            p["beginDateTime"], DATETIME_FORMAT).timestamp() * 1000)
    if p.get("endDateTime"):
        end = int(datetime.strptime(
            p["endDateTime"], DATETIME_FORMAT).timestamp() * 1000)
    if start >= end:
        raise ValueError(
            "The parameter beginDateTime should be less than endDateTime."
        )
    out = []
    for i, c in enumerate(conns):
        urls = c.get("jdbcUrl") or c.get("url")
        if not urls:
            raise ValueError(
                f"The parameter [jdbcUrl] of connection[{i + 1}] is not set."
            )
        if not (c.get("querySql") or c.get("table")):
            raise ValueError(
                f"The parameter [table] of connection[{i + 1}] is not set."
            )
        out.append({
            "urls": [urls] if isinstance(urls, str) else list(urls),
            "table": c.get("table") or [],
            "querySql": (
                [c["querySql"]] if isinstance(c.get("querySql"), str)
                else list(c.get("querySql") or [])
            ),
        })
    return out


def _compose(p: dict, table: str) -> str:
    """Task.startRead:185-200 — the exact SELECT the reference builds."""
    cols = p.get("column") or ["*"]
    where = p.get("where") or f"_c0 > {LONG_MIN}"
    sql = f"select {','.join(cols)} from {table} where {where}"
    if p.get("beginDateTime"):
        sql += f" and _c0 >= '{p['beginDateTime']}'"
    if p.get("endDateTime"):
        sql += f" and _c0 < '{p['endDateTime']}'"
    return sql.strip()


def _schema_from_meta(column_meta: list) -> tuple[str, list[str]]:
    fields, ts_cols = [], []
    for name, typ, _ in column_meta:
        t = _TYPE_MAP.get(str(typ).upper(), "string")
        if t == "timestamp":
            ts_cols.append(name)
        fields.append(f"`{name}` {t}")
    return ", ".join(fields), ts_cols


def tdengine_read(spark: SparkSession, p: dict) -> DataFrame:
    """Distributed /rest/sql scan (see module docstring)."""
    conns = _validate(p)
    pairs: list[tuple[str, str]] = []  # (url, sql)
    for c in conns:
        for url in c["urls"]:
            sqls = c["querySql"] or [_compose(p, t) for t in c["table"]]
            pairs.extend((url, s) for s in sqls)

    # plan-time schema: describe in table mode, probe/DDL for querySql
    url0 = pairs[0][0]
    if p.get("resultSchema"):
        schema, ts_cols = p["resultSchema"], []
        ts_cols = [f.split()[0].strip("`") for f in schema.split(",")
                   if f.split()[1].lower() == "timestamp"]
    elif conns[0]["querySql"]:
        probe = _exec(p, url0, pairs[0][1])
        schema, ts_cols = _schema_from_meta(probe["column_meta"])
    else:
        desc = _exec(p, url0, f"describe {conns[0]['table'][0]}")
        cols = p.get("column") or ["*"]
        meta = [(r[0], r[1], r[2]) for r in desc["data"]]
        if cols != ["*"]:
            by_name = {m[0].lower(): m for m in meta}
            meta = [by_name[c.lower()] for c in cols]
        schema, ts_cols = _schema_from_meta(meta)

    sl = task_frame(spark, pairs, "url string, sql string")
    conf = dict(p)

    def fetch(batches):
        for pdf in batches:
            for url, sql in pdf.itertuples(index=False):
                body = _exec(conf, url, sql)
                head = [m[0] for m in body["column_meta"]]
                out = pd.DataFrame(body.get("data") or [], columns=head)
                for c in ts_cols:
                    if c in out.columns:
                        out[c] = pd.to_datetime(out[c])
                yield out

    return sl.mapInPandas(fetch, schema=schema)


# ------------------------------------------------------------------ writer

def _load_precision(p: dict, url: str) -> str:
    """loadDatabasePrecision:25-61 → 'ms' | 'us' | 'ns'."""
    db = _exec(p, url, "select database()")["data"][0][0]
    for row in _exec(p, url, "show databases")["data"]:
        if str(row[0]).lower() == str(db).lower():
            return row[1] or "ms"
    return "ms"


def _load_metas(p: dict, url: str, tables: list[str]):
    """loadTableMeta + loadColumnMetas parity: classify each target as
    super/sub/normal and read its described columns (+ tag values for
    sub tables)."""
    stables = {r[0] for r in _exec(p, url, "show stables")["data"]}
    sub_of = {}
    for r in _exec(p, url, "show tables")["data"]:
        # rows: [table_name, stable_name]
        sub_of[r[0]] = r[1] if len(r) > 1 and r[1] else None
    metas = {}
    for t in tables:
        if t in stables:
            kind = "super"
        elif t in sub_of:
            kind = "sub" if sub_of[t] else "normal"
        else:
            raise ValueError(f"table metadata of {t} is empty!")
        desc = _exec(p, url, f"describe {t}")["data"]
        cols = [
            {"field": r[0], "type": str(r[1]).upper(),
             "is_tag": len(r) > 3 and r[3] == "TAG",
             "is_pk": i == 0, "value": None}
            for i, r in enumerate(desc)
        ]
        if kind == "sub":
            for cm in cols:
                if cm["is_tag"]:
                    vals = _exec(
                        p, url, f"select {cm['field']} from {t}"
                    )["data"]
                    cm["value"] = vals[0][0] if len(vals) == 1 else None
        metas[t] = {"kind": kind, "cols": cols}
    return metas


def _render(value, col_type: str, precision: str) -> str:
    """buildColumnValue:248-283."""
    if value is None or value != value:  # None / NaN
        return "NULL"
    if isinstance(value, (pd.Timestamp, datetime)):
        ms = int(pd.Timestamp(value).timestamp() * 1000)
        return str({"ms": ms, "us": ms * 1000, "ns": ms * 1_000_000}
                   .get(precision, ms))
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int, float)):
        return str(value)
    s = str(value)
    if col_type == "TIMESTAMP":
        return f'"{s}"'
    return "'" + s.replace("'", "\\'") + "'"


def tdengine_write(df: DataFrame, p: dict) -> dict:
    """Distributed /rest/sql insert sink (shapes per module docstring)."""
    conns = p.get("connection") or [{}]
    c0 = conns[0]
    urls = c0.get("jdbcUrl") or c0.get("url") or p.get("url")
    url = urls[0] if isinstance(urls, list) else urls
    tables = c0.get("table") or p.get("table")
    tables = [tables] if isinstance(tables, str) else list(tables)
    columns = p.get("column") or df.columns
    batch = int(p.get("batchSize", DEFAULT_BATCH_SIZE))
    ignore_unmatched = bool(p.get("ignoreTagsUnmatched", False))

    precision = _load_precision(p, url)
    metas = _load_metas(p, url, tables)
    for t, m in metas.items():
        if m["kind"] == "super" and "tbname" not in columns:
            raise NotImplementedError(
                "super-table writes without a tbname column use the "
                "schemaless line protocol over the native connection "
                "(writeBatchToSupTableBySchemaless) — not part of the "
                "REST surface; add a tbname column instead"
            )
    conf = dict(p)
    out = df.select(*columns)

    def send(rows) -> None:
        buf: list[dict] = []

        def flush():
            if not buf:
                return
            for t, m in metas.items():
                sql = _batch_sql(t, m, buf, columns, precision,
                                 ignore_unmatched)
                if sql:
                    _exec(conf, url, sql)
            buf.clear()

        for r in rows:
            buf.append(r.asDict())
            if len(buf) >= batch:
                flush()
        flush()

    out.foreachPartition(send)
    return {"tables": tables, "url": url}


def _batch_sql(table: str, meta: dict, records: list[dict],
               columns: list[str], precision: str,
               ignore_unmatched: bool) -> str | None:
    cols = meta["cols"]
    in_cfg = [c for c in cols if c["field"] in columns]
    if meta["kind"] == "super":
        # writeBatchToSupTableBySQL:173-236
        tag_cols = [c for c in in_cfg if c["is_tag"]]
        val_cols = [c for c in in_cfg if not c["is_tag"]]
        parts = ["insert into"]
        for r in records:
            tags = ",".join(
                _render(r.get(c["field"]), c["type"], precision)
                for c in tag_cols)
            vals = ",".join(
                _render(r.get(c["field"]), c["type"], precision)
                for c in val_cols)
            parts.append(f"{r['tbname']} using {table} tags({tags}) "
                         f"values({vals})")
        return " ".join(parts)
    if meta["kind"] == "sub":
        # writeBatchToSubTable:427-486
        val_cols = [c for c in in_cfg if not c["is_tag"]]
        tag_cols = [c for c in in_cfg if c["is_tag"]]
        segs = []
        for r in records:
            if "tbname" in columns and r.get("tbname") != table:
                continue
            if ignore_unmatched and not all(
                _tag_equal(r.get(c["field"]), c["value"])
                for c in tag_cols
            ):
                continue
            segs.append("(" + ",".join(
                _render(r.get(c["field"]), c["type"], precision)
                for c in val_cols) + ")")
        if not segs:
            return None
        names = ",".join(c["field"] for c in val_cols)
        return f"insert into {table} ({names}) values" + "".join(segs)
    # normal table: writeBatchToNormalTable:511-545
    names = ",".join(c["field"] for c in in_cfg)
    segs = "".join(
        "(" + ",".join(
            _render(r.get(c["field"]), c["type"], precision)
            for c in in_cfg) + ")"
        for r in records)
    return f"insert into {table} ({names}) values {segs}"


def _tag_equal(v, tag_value) -> bool:
    if v is None or tag_value is None:
        return v is None and tag_value is None
    return str(v) == str(tag_value)
