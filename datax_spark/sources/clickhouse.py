"""ClickHouse reader/writer over the public HTTP interface (:8123).

Reference parity (clickhousewriter/.../ClickhouseWriter.java — a
CommonRdbmsWriter family member: insert-only batched writes with
preSql/postSql, type fill incl. arrays/datetimes at :230-310; reads
come via the generic rdbmsreader's splitPk ranged SELECTs,
SingleTableSplitUtil.java:33-127). The reference reaches ClickHouse
through its JDBC driver; a Spark-first build speaks the DOCUMENTED
HTTP interface directly — `POST /?query=...` with TabSeparated
bodies, the text protocol every ClickHouse version serves natively —
so the transport is drivable by an in-process fake in tests and needs
no driver jar.

* **writer**: rows render to ClickHouse TSV (tab/newline/backslash
  escaped, ``\\N`` nulls, arrays as ``['a','b']`` literals — the
  reference's array fill path) and POST as
  ``INSERT INTO db.table (cols) FORMAT TabSeparated`` in
  ``batchSize``-row batches per Spark partition (``mapInPandas``,
  never per-row). preSql/postSql run once, driver-side, in order.
  ClickHouse INSERTs are append-only (MergeTree dedup/replacement is
  table-engine policy, exactly as with the JDBC writer).
* **reader**: ``splitPk`` ranged SELECTs — driver probes
  ``min(pk), max(pk)`` plus the column types
  (``FORMAT TSVWithNamesAndTypes`` on a LIMIT 0 probe), plans
  DataX-style even bigint ranges + NULL bucket
  (readers.bigint_split_points), and each executor pages its range
  with ``WHERE pk >= lo AND pk < hi`` — filters pushed into the
  server, one HTTP stream per split.
* **auth**: X-ClickHouse-User / X-ClickHouse-Key headers.

Spark-first shape: the driver plans from cheap metadata probes only;
executors stream their split inside ``mapInPandas`` (Arrow batches
out, parallelism = splits).
"""

from __future__ import annotations

import urllib.parse
import urllib.request

from pyspark.sql import DataFrame, SparkSession

from datax_spark.sources.readers import task_frame


class ClickHouseError(IOError):
    pass


class ClickHouseHttp:
    """One logical endpoint; each call is an independent HTTP POST
    (the interface is stateless — sessions are server-side opt-in)."""

    def __init__(self, endpoint: str, database: str = "default",
                 username: str | None = None, password: str | None = None,
                 timeout: float = 60.0):
        self.endpoint = endpoint.rstrip("/")
        self.database = database
        self.username = username
        self.password = password
        self.timeout = timeout

    def execute(self, query: str, body: bytes | None = None) -> str:
        params = {"query": query, "database": self.database}
        url = f"{self.endpoint}/?{urllib.parse.urlencode(params)}"
        req = urllib.request.Request(url, data=body or b"", method="POST")
        if self.username is not None:
            req.add_header("X-ClickHouse-User", self.username)
        if self.password is not None:
            req.add_header("X-ClickHouse-Key", self.password)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.read().decode("utf-8")
        except urllib.error.HTTPError as e:
            raise ClickHouseError(
                f"HTTP {e.code}: {e.read().decode('utf-8', 'replace')[:500]}"
            ) from None


# ------------------------------------------------------- TSV rendering

_ESC = {"\\": "\\\\", "\t": "\\t", "\n": "\\n", "\r": "\\r", "\0": "\\0"}
_UNESC = {"t": "\t", "n": "\n", "r": "\r", "0": "\0", "\\": "\\",
          "'": "'", "b": "\b", "f": "\f"}


def tsv_escape(v, ch_array: bool = True) -> str:
    """One value -> ClickHouse TabSeparated field."""
    import datetime as _dt

    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (list, tuple)):
        if not ch_array:
            raise ValueError("nested arrays beyond one level unsupported")
        items = []
        for x in v:
            if x is None:
                items.append("NULL")
            elif isinstance(x, str):
                items.append("'" + x.replace("\\", "\\\\").replace("'", "\\'") + "'")
            else:
                items.append(tsv_escape(x, ch_array=False))
        return "[" + ",".join(items) + "]"
    if isinstance(v, _dt.datetime):
        # whole seconds for DateTime; fractional kept when present so
        # DateTime64(n) columns don't silently truncate (CH's basic
        # date_time_input_format parses both); TSV DateTime takes no
        # offset suffix, so an aware value is refused, not mis-rendered
        if v.utcoffset() is not None:
            raise ValueError(
                f"timezone-aware datetime {v!r} has no ClickHouse TSV form"
            )
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    s = v if isinstance(v, str) else str(v)
    out = []
    for c in s:
        out.append(_ESC.get(c, c))
    return "".join(out)


def tsv_unescape(field: str) -> str | None:
    if field == "\\N":
        return None
    out = []
    i = 0
    while i < len(field):
        c = field[i]
        if c == "\\" and i + 1 < len(field):
            out.append(_UNESC.get(field[i + 1], field[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


# CH type -> (spark type, python cast)
def ch_to_spark_type(ch: str) -> str:
    t = ch.strip()
    if t.startswith("Nullable(") and t.endswith(")"):
        t = t[9:-1]
    if t.startswith("LowCardinality(") and t.endswith(")"):
        t = t[15:-1]
    if t in ("Int8", "Int16", "Int32", "UInt8", "UInt16"):
        return "int"
    if t in ("Int64", "UInt32", "UInt64"):
        return "long"
    if t in ("Float32", "Float64"):
        return "double"
    if t == "Date" or t.startswith("Date32"):
        return "date"
    if t.startswith("DateTime"):
        return "timestamp"
    if t == "Bool":
        return "boolean"
    if t == "String" or t.startswith("FixedString") or t.startswith("Enum"):
        return "string"
    if t.startswith("Array("):
        return f"array<{ch_to_spark_type(t[6:-1])}>"
    raise ValueError(f"unsupported ClickHouse type {ch!r}")


def _endpoint_of(p: dict) -> str:
    if p.get("endpoint"):
        return str(p["endpoint"])
    host = p.get("host")
    if not host:
        raise ValueError("clickhouse config needs endpoint or host")
    return f"http://{host}:{int(p.get('port', 8123))}"


# ------------------------------------------------------------------ writer

def clickhouse_write(df: DataFrame, p: dict) -> dict:
    table = p.get("table")
    if not table:
        raise ValueError("clickhousewriter requires table")
    columns = list(p.get("column") or df.columns)
    if columns == ["*"]:
        columns = df.columns
    batch_rows = int(p.get("batchSize", 2048))
    endpoint = _endpoint_of(p)
    database = str(p.get("database", p.get("dbName", "default")))
    user, pwd = p.get("username"), p.get("password")

    drv = ClickHouseHttp(endpoint, database, user, pwd)
    pre = p.get("preSql") or []
    for q in pre if isinstance(pre, list) else [pre]:
        drv.execute(q)

    col_list = ", ".join(columns)
    insert = f"INSERT INTO {table} ({col_list}) FORMAT TabSeparated"

    def put_partition(batches):
        import pandas as pd

        ch = ClickHouseHttp(endpoint, database, user, pwd)
        written = 0
        dirty = 0
        buf: list[str] = []

        def flush():
            nonlocal written
            if not buf:
                return
            ch.execute(insert, ("\n".join(buf) + "\n").encode("utf-8"))
            written += len(buf)
            buf.clear()

        for pdf in batches:
            for row in pdf[columns].itertuples(index=False):
                try:
                    fields = []
                    for v in row:
                        try:
                            if v is not None and not isinstance(
                                v, (list, tuple)
                            ) and pd.isna(v):
                                v = None
                        except (TypeError, ValueError):
                            pass
                        fields.append(tsv_escape(v))
                    buf.append("\t".join(fields))
                except Exception:
                    dirty += 1
                    continue
                if len(buf) >= batch_rows:
                    flush()
        flush()
        yield pd.DataFrame({"written": [written], "dirty": [dirty]})

    totals = (
        df.mapInPandas(put_partition, schema="written long, dirty long")
        .groupBy().sum("written", "dirty").collect()[0]
    )
    post = p.get("postSql") or []
    for q in post if isinstance(post, list) else [post]:
        drv.execute(q)
    return {"written": int(totals[0] or 0), "dirty": int(totals[1] or 0)}


# ------------------------------------------------------------------ reader

def clickhouse_read(spark: SparkSession, p: dict) -> DataFrame:
    from datax_spark.sources.readers import bigint_split_points

    table = p.get("table")
    if not table:
        raise ValueError("clickhousereader requires table")
    columns = list(p.get("column") or [])
    if not columns or columns == ["*"]:
        raise ValueError("clickhousereader requires an explicit column list")
    where = p.get("where")
    split_pk = p.get("splitPk")
    advice = int(p.get("parallelism", 4))
    endpoint = _endpoint_of(p)
    database = str(p.get("database", p.get("dbName", "default")))
    user, pwd = p.get("username"), p.get("password")

    ch = ClickHouseHttp(endpoint, database, user, pwd)
    col_list = ", ".join(columns)

    # schema probe: names + CH types, zero rows
    probe = ch.execute(
        f"SELECT {col_list} FROM {table} WHERE 1 = 0 "
        "FORMAT TabSeparatedWithNamesAndTypes"
    )
    lines = probe.split("\n")
    names = [tsv_unescape(x) for x in lines[0].split("\t")] if lines[0] else []
    types = [tsv_unescape(x) for x in lines[1].split("\t")] if len(lines) > 1 else []
    if len(names) != len(columns):
        raise ClickHouseError(f"schema probe returned {len(names)} columns")
    spark_types = [ch_to_spark_type(t) for t in types]
    for n, st in zip(names, spark_types):
        if st.startswith("array<"):
            raise ValueError(
                f"column {n!r}: Array columns are write-only in this "
                "transport (read them as a server-side toString())"
            )
    schema = ", ".join(f"`{n}` {t}" for n, t in zip(names, spark_types))

    # split planning (SingleTableSplitUtil parity: even bigint ranges
    # + NULL bucket; no splitPk -> one task)
    conds: list[str] = []
    if split_pk and advice > 1:
        mm = ch.execute(
            f"SELECT min({split_pk}), max({split_pk}) FROM {table}"
            + (f" WHERE {where}" if where else "")
            + " FORMAT TabSeparated"
        ).strip()
        lo_s, hi_s = mm.split("\t") if mm else ("\\N", "\\N")
        if tsv_unescape(lo_s) is None:
            conds = ["1 = 1"]
        else:
            pts = bigint_split_points(int(lo_s), int(hi_s), advice)
            bounds = list(pts)
            edges = [int(lo_s)] + bounds + [int(hi_s)]
            for i in range(len(edges) - 1):
                op_hi = "<=" if i == len(edges) - 2 else "<"
                conds.append(
                    f"{split_pk} >= {edges[i]} AND {split_pk} {op_hi} {edges[i + 1]}"
                )
            conds.append(f"{split_pk} IS NULL")  # the NULL bucket
    else:
        conds = ["1 = 1"]
    if where:
        conds = [f"({c}) AND ({where})" for c in conds]

    tasks_df = task_frame(
        spark, [(i, c) for i, c in enumerate(conds)], "task_id int, cond string"
    )

    def scan(batches):
        import datetime as _dt

        import pandas as pd

        def conv(st: str, v: str | None):
            if v is None:
                return None
            if st in ("int", "long"):
                return int(v)
            if st == "double":
                return float(v)
            if st == "boolean":
                return v not in ("0", "false")
            if st == "date":
                return _dt.date.fromisoformat(v)
            if st == "timestamp":
                # fromisoformat handles DateTime64's fractional seconds
                return _dt.datetime.fromisoformat(v)
            return v

        ch2 = ClickHouseHttp(endpoint, database, user, pwd)
        for pdf in batches:
            for t in pdf.itertuples(index=False):
                text = ch2.execute(
                    f"SELECT {col_list} FROM {table} WHERE {t.cond} "
                    "FORMAT TabSeparated"
                )
                rows = []
                for line in text.split("\n"):
                    if not line:
                        continue
                    vals = [tsv_unescape(x) for x in line.split("\t")]
                    rows.append({
                        n: conv(st, v)
                        for n, st, v in zip(names, spark_types, vals)
                    })
                if rows:
                    yield pd.DataFrame(rows)

    return tasks_df.mapInPandas(scan, schema=schema)
