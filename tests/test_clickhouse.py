"""clickhousewriter/reader against an in-process fake speaking the
real ClickHouse HTTP interface: POST /?query=..., TabSeparated bodies,
TSVWithNamesAndTypes schema probes, X-ClickHouse-User/Key auth.

The fake evaluates exactly the statement shapes the plugins emit —
INSERT ... FORMAT TabSeparated, the LIMIT-0 schema probe, min/max
splitPk probes, ranged SELECTs with the NULL bucket, TRUNCATE for
preSql — and stores typed rows so both directions exercise the TSV
escaping for real."""

from __future__ import annotations

import datetime as dt
import re
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from datax_spark.sinks.writers import write_sink
from datax_spark.sources.clickhouse import (
    ClickHouseError,
    ClickHouseHttp,
    ch_to_spark_type,
    clickhouse_read,
    clickhouse_write,
    tsv_escape,
    tsv_unescape,
)
from datax_spark.sources.readers import read_source


class FakeClickHouse:
    def __init__(self, users: dict[str, str] | None = None):
        self.tables: dict[str, dict] = {}  # name -> {"cols": [(n, chtype)], "rows": [dict]}
        self.users = users or {}
        self.lock = threading.Lock()
        self.queries: list[str] = []
        fake = self

        class H(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode("utf-8")
                qs = urllib.parse.urlparse(self.path).query
                params = dict(urllib.parse.parse_qsl(qs))
                if fake.users:
                    u = self.headers.get("X-ClickHouse-User")
                    k = self.headers.get("X-ClickHouse-Key")
                    if u not in fake.users or fake.users[u] != (k or ""):
                        self._send(403, "Code: 516. Authentication failed")
                        return
                try:
                    out = fake.run(params.get("query", ""), body)
                    self._send(200, out)
                except Exception as e:
                    self._send(400, f"Code: 62. DB::Exception: {e}")

            def _send(self, code, text):
                data = text.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self.srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
        self.port = self.srv.server_address[1]
        threading.Thread(target=self.srv.serve_forever, daemon=True).start()

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    def close(self):
        self.srv.shutdown()
        self.srv.server_close()

    def create_table(self, name, cols):
        with self.lock:
            self.tables[name] = {"cols": list(cols), "rows": []}

    # ---- constrained SQL evaluation (only the shapes the plugins emit)

    def _parse_value(self, chtype: str, raw: str | None):
        if raw is None:
            return None
        t = chtype
        if t.startswith("Nullable(") and t.endswith(")"):
            t = t[9:-1]
        if t.startswith(("Int", "UInt")):
            return int(raw)
        if t.startswith("Float"):
            return float(raw)
        return raw

    def _render(self, chtype: str, v) -> str:
        if v is None:
            return "\\N"
        return tsv_escape(v)

    def _eval_cond(self, cond: str, row: dict) -> bool:
        cond = cond.strip()
        m = re.fullmatch(r"\((.*)\) AND \((.*)\)", cond)
        if m:
            return self._eval_cond(m.group(1), row) and self._eval_cond(m.group(2), row)
        parts = re.split(r"\s+AND\s+", cond)
        if len(parts) > 1:
            return all(self._eval_cond(p, row) for p in parts)
        if cond == "1 = 1" or cond == "1=1":
            return True
        m = re.fullmatch(r"(\w+) IS NULL", cond)
        if m:
            return row.get(m.group(1)) is None
        m = re.fullmatch(r"(\w+)\s*(>=|<=|<|>|=)\s*(-?\d+)", cond)
        if m:
            col, op, val = m.group(1), m.group(2), int(m.group(3))
            v = row.get(col)
            if v is None:
                return False
            return {
                ">=": v >= val, "<=": v <= val, "<": v < val,
                ">": v > val, "=": v == val,
            }[op]
        raise ValueError(f"fake: unsupported condition {cond!r}")

    def run(self, query: str, body: str) -> str:
        with self.lock:
            self.queries.append(query)
            q = query.strip().rstrip(";")
            m = re.fullmatch(
                r"INSERT INTO (\w+) \(([^)]*)\) FORMAT TabSeparated", q)
            if m:
                t = self.tables[m.group(1)]
                cols = [c.strip() for c in m.group(2).split(",")]
                types = dict(t["cols"])
                for line in body.split("\n"):
                    if not line:
                        continue
                    vals = [tsv_unescape(x) for x in line.split("\t")]
                    if len(vals) != len(cols):
                        raise ValueError("column count mismatch")
                    t["rows"].append({
                        c: self._parse_value(types[c], v)
                        for c, v in zip(cols, vals)
                    })
                return ""
            m = re.fullmatch(r"TRUNCATE TABLE (\w+)", q)
            if m:
                self.tables[m.group(1)]["rows"] = []
                return ""
            if q.startswith("OPTIMIZE TABLE"):
                return ""
            m = re.fullmatch(
                r"SELECT (.+) FROM (\w+) WHERE 1 = 0 "
                r"FORMAT TabSeparatedWithNamesAndTypes", q)
            if m:
                t = self.tables[m.group(2)]
                types = dict(t["cols"])
                cols = [c.strip() for c in m.group(1).split(",")]
                return (
                    "\t".join(cols) + "\n"
                    + "\t".join(types[c] for c in cols) + "\n"
                )
            m = re.fullmatch(
                r"SELECT min\((\w+)\), max\((\w+)\) FROM (\w+)"
                r"(?: WHERE (.+?))? FORMAT TabSeparated", q)
            if m:
                t = self.tables[m.group(3)]
                rows = t["rows"]
                if m.group(4):
                    rows = [r for r in rows if self._eval_cond(m.group(4), r)]
                vals = [r[m.group(1)] for r in rows if r[m.group(1)] is not None]
                if not vals:
                    return "\\N\t\\N\n"
                return f"{min(vals)}\t{max(vals)}\n"
            m = re.fullmatch(
                r"SELECT (.+) FROM (\w+) WHERE (.+?) FORMAT TabSeparated", q)
            if m:
                t = self.tables[m.group(2)]
                types = dict(t["cols"])
                cols = [c.strip() for c in m.group(1).split(",")]
                out = []
                for r in t["rows"]:
                    if self._eval_cond(m.group(3), r):
                        out.append("\t".join(
                            self._render(types[c], r[c]) for c in cols))
                return "\n".join(out) + ("\n" if out else "")
            raise ValueError(f"fake: unsupported query {q!r}")


@pytest.fixture()
def ch():
    srv = FakeClickHouse()
    srv.create_table("events", [
        ("id", "Int64"), ("repo", "String"), ("score", "Float64"),
        ("lang", "Nullable(String)"), ("day", "Date"),
        ("at", "DateTime"),
    ])
    yield srv
    srv.close()


# ----------------------------------------------------------------- units


def test_tsv_escape_roundtrip():
    vals = ["plain", "tab\there", "nl\nthere", "back\\slash", "quote'x",
            "\0nul", "mix\t\n\\"]
    for v in vals:
        assert tsv_unescape(tsv_escape(v)) == v
    assert tsv_escape(None) == "\\N" and tsv_unescape("\\N") is None
    assert tsv_escape(True) == "1" and tsv_escape(False) == "0"
    assert tsv_escape(["a", "b's", None]) == "['a','b\\'s',NULL]"
    assert tsv_escape(dt.date(2024, 3, 1)) == "2024-03-01"
    assert tsv_escape(dt.datetime(2024, 3, 1, 12, 30, 5)) == "2024-03-01 12:30:05"
    # DateTime64 fidelity: fractional seconds kept when present
    assert (tsv_escape(dt.datetime(2024, 3, 1, 12, 30, 5, 123456))
            == "2024-03-01 12:30:05.123456")


def test_tsv_escape_rejects_aware_datetime():
    # TSV DateTime takes no offset suffix: refuse, don't render
    aware = dt.datetime(2024, 3, 1, 12, 30, 5, tzinfo=dt.timezone.utc)
    with pytest.raises(ValueError, match="2024"):
        tsv_escape(aware)


def test_type_mapping():
    assert ch_to_spark_type("Int32") == "int"
    assert ch_to_spark_type("UInt64") == "long"
    assert ch_to_spark_type("Nullable(Float32)") == "double"
    assert ch_to_spark_type("LowCardinality(String)") == "string"
    assert ch_to_spark_type("DateTime('UTC')") == "timestamp"
    assert ch_to_spark_type("Array(String)") == "array<string>"
    with pytest.raises(ValueError):
        ch_to_spark_type("AggregateFunction(sum, Int64)")


# ------------------------------------------------------------------- e2e


def _write_conf(srv, **kw):
    base = {"endpoint": srv.endpoint, "table": "events",
            "column": ["id", "repo", "score", "lang", "day", "at"]}
    base.update(kw)
    return base


def test_write_batches_and_escaping(spark, ch):
    rows = [
        (1, "r/a", 1.5, "py", dt.date(2024, 1, 1), dt.datetime(2024, 1, 1, 8, 0, 0)),
        (2, "tab\tin\nname", 2.0, None, dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 9, 0, 0)),
        (3, "back\\slash", -0.5, "rs", dt.date(2024, 1, 3), dt.datetime(2024, 1, 3, 10, 0, 0)),
    ]
    df = spark.createDataFrame(
        rows, "id long, repo string, score double, lang string, day date, at timestamp")
    out = write_sink(df, "clickhousewriter", _write_conf(ch, batchSize=2))
    assert out == {"written": 3, "dirty": 0}
    got = sorted(ch.tables["events"]["rows"], key=lambda r: r["id"])
    assert got[1]["repo"] == "tab\tin\nname" and got[1]["lang"] is None
    assert got[2]["repo"] == "back\\slash" and got[2]["score"] == -0.5
    # batching: at least 2 INSERT posts for 3 rows with batchSize=2
    assert sum(q.startswith("INSERT") for q in ch.queries) >= 2


def test_write_pre_post_sql(spark, ch):
    ch.tables["events"]["rows"].append({"id": 99})
    df = spark.createDataFrame([(1, "x", 0.0, None, dt.date(2024, 1, 1),
                                 dt.datetime(2024, 1, 1, 0, 0, 0))],
                               "id long, repo string, score double, "
                               "lang string, day date, at timestamp")
    clickhouse_write(df, _write_conf(
        ch, preSql="TRUNCATE TABLE events", postSql=["OPTIMIZE TABLE events FINAL"]))
    assert [r["id"] for r in ch.tables["events"]["rows"]] == [1]
    assert ch.queries[0] == "TRUNCATE TABLE events"
    assert ch.queries[-1].startswith("OPTIMIZE TABLE")


def _seed(ch, n=25):
    for i in range(n):
        ch.tables["events"]["rows"].append({
            "id": i if i % 7 else None,  # some NULL pks -> the NULL bucket
            "repo": f"repo\t{i}" if i % 5 == 0 else f"repo{i}",
            "score": i / 2.0, "lang": None if i % 3 == 0 else "py",
            "day": dt.date(2024, 1, 1 + i % 28).isoformat(),
            "at": dt.datetime(2024, 1, 1, i % 24, 0, 0).strftime("%Y-%m-%d %H:%M:%S"),
        })


def test_read_split_pk_ranges_and_null_bucket(spark, ch):
    _seed(ch)
    df = read_source(spark, "clickhousereader", {
        "endpoint": ch.endpoint, "table": "events",
        "column": ["id", "repo", "score", "lang", "day", "at"],
        "splitPk": "id", "parallelism": 4,
    })
    rows = df.collect()
    assert len(rows) == 25  # NULL-pk rows arrive exactly once
    assert df.schema["id"].dataType.simpleString() == "bigint"
    assert df.schema["day"].dataType.simpleString() == "date"
    assert df.schema["at"].dataType.simpleString() == "timestamp"
    by_id = {r["id"]: r for r in rows if r["id"] is not None}
    assert by_id[5]["repo"] == "repo\t5"  # escaping survives the read
    assert by_id[9]["lang"] is None
    # ranged WHEREs actually reached the server (pushdown, not client filter)
    assert any(re.search(r"id >= \d+ AND id <", q) for q in ch.queries)
    assert any("id IS NULL" in q for q in ch.queries)


def test_read_where_combined(spark, ch):
    _seed(ch)
    df = clickhouse_read(spark, {
        "endpoint": ch.endpoint, "table": "events",
        "column": ["id", "score"], "splitPk": "id", "parallelism": 3,
        "where": "id > 10",
    })
    ids = sorted(r["id"] for r in df.collect())
    assert ids == [i for i in range(11, 25) if i % 7]


def test_auth_headers(spark):
    srv = FakeClickHouse(users={"app": "s3cret"})
    srv.create_table("t", [("id", "Int64")])
    try:
        with pytest.raises(ClickHouseError, match="516"):
            ClickHouseHttp(srv.endpoint).execute("SELECT id FROM t WHERE 1 = 1 FORMAT TabSeparated")
        ok = ClickHouseHttp(srv.endpoint, username="app", password="s3cret")
        assert ok.execute("SELECT id FROM t WHERE 1 = 1 FORMAT TabSeparated") == ""
        df = spark.createDataFrame([(7,)], "id long")
        clickhouse_write(df, {"endpoint": srv.endpoint, "table": "t",
                              "column": ["id"], "username": "app",
                              "password": "s3cret"})
        assert srv.tables["t"]["rows"] == [{"id": 7}]
    finally:
        srv.close()


def test_reader_guards(spark, ch):
    with pytest.raises(ValueError, match="column list"):
        clickhouse_read(spark, {"endpoint": ch.endpoint, "table": "events"})
    ch.create_table("arr", [("tags", "Array(String)")])
    with pytest.raises(ValueError, match="write-only"):
        clickhouse_read(spark, {"endpoint": ch.endpoint, "table": "arr",
                                "column": ["tags"]})
