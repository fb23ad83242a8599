"""mysqlreader/writer (and the oceanbase/ads MySQL-compatible family)
against an in-process fake speaking the real client/server protocol:
v10 handshake with mysql_native_password verification, COM_QUERY text
resultsets (lenenc framing, 0xFB NULLs, EOF packets), OK/ERR packets.

The fake evaluates exactly the statement shapes the plugins emit —
INSERT INTO / REPLACE INTO / INSERT ... ON DUPLICATE KEY UPDATE
(WriterUtil.getWriteTemplate's three forms), schema probes, min/max
splitPk probes, ranged SELECTs, TRUNCATE."""

from __future__ import annotations

import datetime as dt
import re
import socket
import struct
import threading

import pytest

from datax_spark.sinks.writers import write_sink
from datax_spark.sources.mysql import (
    MySqlConnection,
    MySqlError,
    mysql_literal,
    mysql_read,
    mysql_write,
    native_password_scramble,
    write_template,
)
from datax_spark.sources.readers import read_source

TYPE_CODES = {"long": 0x08, "int": 0x03, "double": 0x05, "string": 0xFD,
              "date": 0x0A, "timestamp": 0x0C}


def _lenenc(v: int) -> bytes:
    if v < 0xFB:
        return bytes([v])
    if v < 1 << 16:
        return b"\xfc" + struct.pack("<H", v)
    return b"\xfd" + struct.pack("<I", v)[:3]


def _lstr(s: str) -> bytes:
    b = s.encode()
    return _lenenc(len(b)) + b


def _unquote(tok: str, nbe: bool = False):
    if tok == "NULL":
        return None
    if tok.startswith("'"):
        body = tok[1:-1]
        out, i = [], 0
        esc = {"\\": "\\", "'": "'", '"': '"', "n": "\n", "r": "\r",
               "0": "\0", "Z": "\x1a"}
        while i < len(body):
            if body[i] == "'" and i + 1 < len(body) and body[i + 1] == "'":
                out.append("'")          # '' doubling, valid in all modes
                i += 2
            elif not nbe and body[i] == "\\" and i + 1 < len(body):
                out.append(esc.get(body[i + 1], body[i + 1]))
                i += 2
            else:
                out.append(body[i])
                i += 1
        return "".join(out)
    if re.fullmatch(r"[-+]?\d+", tok):
        return int(tok)
    return float(tok)


def _split_tuples(s: str, nbe: bool = False):
    """Split `(a, 'b,c'), (d, e)` respecting quotes/escapes.

    With nbe (NO_BACKSLASH_ESCAPES) backslash is an ordinary character
    and only '' doubling escapes a quote."""
    rows, cur, tok = [], [], []
    depth, inq, i = 0, False, 0
    while i < len(s):
        c = s[i]
        if inq:
            tok.append(c)
            if c == "\\" and not nbe:
                tok.append(s[i + 1])
                i += 1
            elif c == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    tok.append("'")      # doubled quote stays in token
                    i += 1
                else:
                    inq = False
        elif c == "'":
            inq = True
            tok.append(c)
        elif c == "(":
            depth += 1
            if depth == 1:
                cur, tok = [], []
                i += 1
                continue
            tok.append(c)
        elif c == ")" and depth == 1:
            depth = 0
            if tok:
                cur.append("".join(tok).strip())
            rows.append(tuple(_unquote(t, nbe) for t in cur))
        elif c == "," and depth == 1:
            cur.append("".join(tok).strip())
            tok = []
        elif depth == 1:
            tok.append(c)
        i += 1
    return rows


class FakeMySql:
    def __init__(self, users: dict[str, str] | None = None,
                 sql_mode: str = "",
                 auth_plugin: str = "mysql_native_password",
                 cached_users: tuple = (),
                 rsa_key: tuple | None = None):
        self.tables: dict[str, dict] = {}
        self.users = users if users is not None else {"root": ""}
        self.sql_mode = sql_mode
        self.auth_plugin = auth_plugin
        self.cached_users = set(cached_users)  # fast-path hash cache
        self.rsa_key = rsa_key                 # (e, d, n) for full auth
        self.full_auth_replies: list[bytes] = []  # client's first full-auth packet
        self.switch_to_native = False          # AuthSwitchRequest mode
        self.lock = threading.Lock()
        self.queries: list[str] = []
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self._accepting = True
        threading.Thread(target=self._accept, daemon=True).start()

    def create_table(self, name, cols, pk):
        with self.lock:
            self.tables[name] = {"cols": list(cols), "pk": list(pk), "rows": {}}

    def rows(self, name):
        with self.lock:
            return list(self.tables[name]["rows"].values())

    def close(self):
        self._accepting = False
        self.srv.close()

    def _accept(self):
        while self._accepting:
            try:
                conn, _ = self.srv.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    @staticmethod
    def _recv_exact(conn, n):
        buf = b""
        while len(buf) < n:
            chunk = conn.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("eof")
            buf += chunk
        return buf

    def _read(self, conn):
        hdr = self._recv_exact(conn, 4)
        n = int.from_bytes(hdr[:3], "little")
        return hdr[3], self._recv_exact(conn, n)

    def _send(self, conn, seq, body):
        conn.sendall(len(body).to_bytes(3, "little") + bytes([seq]) + body)
        return seq + 1

    def _ok(self, conn, seq, affected=0):
        return self._send(conn, seq, b"\x00" + _lenenc(affected) + _lenenc(0)
                          + struct.pack("<HH", 2, 0))

    def _error(self, conn, seq, code, msg):
        return self._send(conn, seq, b"\xff" + struct.pack("<H", code)
                          + b"#HY000" + msg.encode())

    def _eof(self, conn, seq):
        return self._send(conn, seq, b"\xfe" + struct.pack("<HH", 0, 2))

    def _serve(self, conn):
        import os

        try:
            with conn:
                nonce = os.urandom(20).replace(b"\x00", b"\x01")
                greet = (
                    b"\x0a" + b"8.0.0-fake\x00"
                    + struct.pack("<I", 1)
                    + nonce[:8] + b"\x00"
                    + struct.pack("<H", 0xF7FF)      # caps low
                    + b"\x2d" + struct.pack("<H", 2)  # charset, status
                    + struct.pack("<H", 0x000F)      # caps high (incl plugin auth)
                    + bytes([21]) + b"\x00" * 10
                    + nonce[8:20] + b"\x00"
                    + self.auth_plugin.encode() + b"\x00"
                )
                self._send(conn, 0, greet)
                seq, resp = self._read(conn)
                caps, _maxp, _cs = struct.unpack_from("<IIB", resp, 0)
                i = 32
                end = resp.index(b"\x00", i)
                user = resp[i:end].decode()
                i = end + 1
                tlen = resp[i]
                token = resp[i + 1 : i + 1 + tlen]
                expect_pwd = self.users.get(user)
                if self.switch_to_native:
                    # AuthSwitchRequest: ask the client to redo auth
                    # with mysql_native_password and a FRESH nonce
                    nonce2 = os.urandom(20).replace(b"\x00", b"\x01")
                    seq = self._send(
                        conn, seq + 1,
                        b"\xfe" + b"mysql_native_password\x00"
                        + nonce2 + b"\x00") - 1
                    seq, token = self._read(conn)
                    ok = expect_pwd is not None and \
                        token == native_password_scramble(
                            expect_pwd, nonce2)
                    if not ok:
                        self._error(conn, seq + 1, 1045,
                                    f"Access denied for user '{user}'")
                        return
                elif self.auth_plugin == "caching_sha2_password":
                    seq, ok = self._caching_sha2_auth(
                        conn, seq, user, token, nonce, expect_pwd)
                    if not ok:
                        return
                else:
                    ok = expect_pwd is not None and \
                        token == native_password_scramble(
                            expect_pwd, nonce[:20])
                    if not ok:
                        self._error(conn, seq + 1, 1045,
                                    f"Access denied for user '{user}'")
                        return
                self._ok(conn, seq + 1)
                while True:
                    _seq, body = self._read(conn)
                    if body[:1] == b"\x01":  # COM_QUIT
                        return
                    if body[:1] != b"\x03":
                        self._error(conn, 1, 1047, "unknown command")
                        continue
                    sql = body[1:].decode()
                    try:
                        self._run(conn, sql)
                    except MySqlError as e:
                        self._error(conn, 1, e.code, str(e))
                    except Exception as e:
                        self._error(conn, 1, 1064, f"fake: {e}")
        except (ConnectionError, OSError):
            return

    def _caching_sha2_auth(self, conn, seq, user, token, nonce,
                           expect_pwd):
        """Server side of caching_sha2_password: fast path for cached
        users, RSA full-auth exchange otherwise — demands the modern
        plugin the way a stock MySQL 8 does."""
        from datax_spark.sources.hostkeys import rsa_oaep_decrypt, spki_pem
        from datax_spark.sources.mysql import caching_sha2_scramble

        if expect_pwd is None:
            self._error(conn, seq + 1, 1045,
                        f"Access denied for user '{user}'")
            return seq, False
        if expect_pwd == "":
            return seq, token == b""
        if user in self.cached_users:
            if token != caching_sha2_scramble(expect_pwd, nonce[:20]):
                self._error(conn, seq + 1, 1045,
                            f"Access denied for user '{user}'")
                return seq, False
            seq = self._send(conn, seq + 1, b"\x01\x03")  # fast_auth_success
            return seq - 1, True
        # cache miss: full authentication
        seq = self._send(conn, seq + 1, b"\x01\x04")
        rseq, req = self._read(conn)
        self.full_auth_replies.append(req)
        e_pub, d, n = self.rsa_key
        if req == b"\x02":  # public key request
            rseq = self._send(conn, rseq + 1, b"\x01" + spki_pem(e_pub, n))
            rseq, ct = self._read(conn)
        elif len(req) == (n.bit_length() + 7) // 8:
            ct = req  # the client pinned the key: ciphertext at once
        else:
            self._error(conn, rseq + 1, 1045, "full auth: unexpected reply")
            return rseq, False
        obf = rsa_oaep_decrypt(d, n, ct)
        pwd = bytes(c ^ nonce[i % 20] for i, c in enumerate(obf))
        if pwd != expect_pwd.encode() + b"\x00":
            self._error(conn, rseq + 1, 1045,
                        f"Access denied for user '{user}'")
            return rseq, False
        return rseq, True

    # ---- constrained SQL evaluation

    def _eval_cond(self, cond, row):
        cond = cond.strip()
        m = re.fullmatch(r"\((.*)\) AND \((.*)\)", cond)
        if m:
            return self._eval_cond(m.group(1), row) and self._eval_cond(m.group(2), row)
        parts = re.split(r"\s+AND\s+", cond)
        if len(parts) > 1:
            return all(self._eval_cond(p, row) for p in parts)
        if cond in ("1 = 1", "1 = 0"):
            return cond == "1 = 1"
        m = re.fullmatch(r"(\w+) IS NULL", cond)
        if m:
            return row.get(m.group(1)) is None
        m = re.fullmatch(r"(\w+)\s*(>=|<=|<|>|=)\s*(-?\d+)", cond)
        if m:
            v = row.get(m.group(1))
            if v is None:
                return False
            val = int(m.group(3))
            return {">=": v >= val, "<=": v <= val, "<": v < val,
                    ">": v > val, "=": v == val}[m.group(2)]
        raise ValueError(f"unsupported condition {cond!r}")

    def _render(self, v):
        if v is None:
            return None
        if isinstance(v, bool):
            return "1" if v else "0"
        return str(v)

    def _resultset(self, conn, desc, rows):
        seq = self._send(conn, 1, _lenenc(len(desc)))
        for name, tc in desc:
            body = (
                _lstr("def") + _lstr("db") + _lstr("t") + _lstr("t")
                + _lstr(name) + _lstr(name)
                + b"\x0c" + struct.pack("<H", 45) + struct.pack("<I", 255)
                + bytes([tc]) + struct.pack("<H", 0) + b"\x00" + b"\x00\x00"
            )
            seq = self._send(conn, seq, body)
        seq = self._eof(conn, seq)
        for row in rows:
            body = b""
            for v in row:
                if v is None:
                    body += b"\xfb"
                else:
                    body += _lstr(str(v))
            seq = self._send(conn, seq, body)
        self._eof(conn, seq)

    def _run(self, conn, sql):
        with self.lock:
            self.queries.append(sql)
            q = sql.strip().rstrip(";")
            if q == "SELECT @@sql_mode":
                self._resultset(conn, [("@@sql_mode", 0xFD)],
                                [[self.sql_mode]])
                return
            m = re.fullmatch(r"TRUNCATE TABLE (\w+)", q)
            if m:
                self.tables[m.group(1)]["rows"] = {}
                self._ok(conn, 1)
                return
            m = re.fullmatch(
                r"(INSERT|REPLACE) INTO (\w+) \(([^)]*)\) VALUES (.*?)"
                r"(?: ON DUPLICATE KEY UPDATE (.+))?", q, re.S)
            if m:
                verb, t = m.group(1), self.tables[m.group(2)]
                cols = [c.strip() for c in m.group(3).split(",")]
                dup = m.group(5)
                n = 0
                nbe = "NO_BACKSLASH_ESCAPES" in self.sql_mode
                for vals in _split_tuples(m.group(4), nbe):
                    rec = dict(zip(cols, vals))
                    for c, _ in t["cols"]:
                        rec.setdefault(c, None)
                    key = tuple(rec[k] for k in t["pk"])
                    if key in t["rows"]:
                        if verb == "REPLACE":
                            t["rows"][key] = rec  # delete + insert
                            n += 2
                        elif dup:
                            for part in dup.split(","):
                                c = part.split("=")[0].strip()
                                t["rows"][key][c] = rec[c]
                            n += 2
                        else:
                            raise MySqlError(1062, "Duplicate entry")
                    else:
                        t["rows"][key] = rec
                        n += 1
                self._ok(conn, 1, affected=n)
                return
            m = re.fullmatch(
                r"SELECT min\((\w+)\), max\((\w+)\) FROM (\w+)(?: WHERE (.+))?", q)
            if m:
                t = self.tables[m.group(3)]
                rows = list(t["rows"].values())
                if m.group(4):
                    rows = [r for r in rows if self._eval_cond(m.group(4), r)]
                vals = [r[m.group(1)] for r in rows if r[m.group(1)] is not None]
                out = [[None, None]] if not vals else [[min(vals), max(vals)]]
                self._resultset(conn, [("min", 0x08), ("max", 0x08)],
                                [[self._render(v) for v in r] for r in out])
                return
            m = re.fullmatch(r"SELECT (.+) FROM (\w+) WHERE (.+)", q, re.S)
            if m:
                t = self.tables[m.group(2)]
                types = dict(t["cols"])
                cols = [c.strip() for c in m.group(1).split(",")]
                desc = [(c, TYPE_CODES[types[c]]) for c in cols]
                out = [
                    [self._render(r[c]) for c in cols]
                    for r in t["rows"].values()
                    if self._eval_cond(m.group(3), r)
                ]
                self._resultset(conn, desc, out)
                return
            raise ValueError(f"unsupported query {q!r}")


COLS = [("id", "long"), ("repo", "string"), ("score", "double"),
        ("day", "date"), ("at", "timestamp")]


@pytest.fixture()
def my():
    srv = FakeMySql()
    srv.create_table("events", COLS, pk=["id"])
    yield srv
    srv.close()


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "id long, repo string, score double, day date, at timestamp")


ROWS = [
    (1, "r/a", 1.5, dt.date(2024, 1, 1), dt.datetime(2024, 1, 1, 8, 0, 0)),
    (2, "quote'n\nnewline\\x", 2.0, dt.date(2024, 1, 2),
     dt.datetime(2024, 1, 2, 9, 0, 0)),
    (3, "plain", None, None, None),
]


# ----------------------------------------------------------------- units


def test_write_template_reference_forms():
    assert write_template("t", ["a", "b"], "insert") == \
        "INSERT INTO t (a, b) VALUES %s"
    assert write_template("t", ["a", "b"], "replace") == \
        "REPLACE INTO t (a, b) VALUES %s"
    assert write_template("t", ["a", "b"], "update") == (
        "INSERT INTO t (a, b) VALUES %s "
        "ON DUPLICATE KEY UPDATE a=VALUES(a), b=VALUES(b)"
    )
    with pytest.raises(ValueError):
        write_template("t", ["a"], "merge")


def test_mysql_literal_escaping():
    # quotes double ('' — valid in every sql_mode); backslash escapes
    # only in the default mode
    assert mysql_literal("it's\na\\b") == "'it''s\\na\\\\b'"
    assert (mysql_literal("it's\na\\b", no_backslash_escapes=True)
            == "'it''s\na\\b'")
    assert mysql_literal(None) == "NULL" and mysql_literal(True) == "1"
    assert mysql_literal(dt.datetime(2024, 1, 2, 3, 4, 5)) == "'2024-01-02 03:04:05'"
    # fractional seconds survive (DATETIME(6)/TIMESTAMP(6) fidelity)
    assert (mysql_literal(dt.datetime(2024, 1, 2, 3, 4, 5, 123456))
            == "'2024-01-02 03:04:05.123456'")


def test_mysql_literal_rejects_aware_datetime():
    # an offset suffix fails on MySQL before 8.0.19: refuse, don't render
    aware = dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone(dt.timedelta(hours=8)))
    with pytest.raises(ValueError, match="2024"):
        mysql_literal(aware)


def test_native_password_vector():
    # independently computable: sha1-based algorithm, fixed nonce
    import hashlib
    nonce = bytes(range(20))
    tok = native_password_scramble("secret", nonce)
    p1 = hashlib.sha1(b"secret").digest()
    mix = hashlib.sha1(nonce + hashlib.sha1(p1).digest()).digest()
    assert tok == bytes(a ^ b for a, b in zip(p1, mix))
    assert native_password_scramble("", nonce) == b""


# ------------------------------------------------------------------- e2e


def test_insert_write_and_ranged_read(spark, my):
    out = write_sink(_df(spark, ROWS), "mysqlwriter", {
        "host": "127.0.0.1", "port": my.port, "table": "events",
        "column": [c for c, _ in COLS], "batchSize": 2,
    })
    assert out == {"written": 3, "dirty": 0}
    rows = {r["id"]: r for r in my.rows("events")}
    assert rows[2]["repo"] == "quote'n\nnewline\\x"
    assert rows[3]["score"] is None
    back = read_source(spark, "mysqlreader", {
        "host": "127.0.0.1", "port": my.port, "table": "events",
        "column": [c for c, _ in COLS], "splitPk": "id", "parallelism": 2,
    })
    got = {r["id"]: r for r in back.collect()}
    assert len(got) == 3
    assert got[2]["repo"] == "quote'n\nnewline\\x"
    assert got[1]["day"] == dt.date(2024, 1, 1)
    assert got[1]["at"] == dt.datetime(2024, 1, 1, 8, 0, 0)
    assert back.schema["score"].dataType.simpleString() == "double"
    assert any("id IS NULL" in qq for qq in my.queries)


def test_microsecond_timestamp_roundtrip(spark, my):
    # DATETIME(6) fidelity: fractional seconds must survive the wire
    # writer (mysql_literal) AND the reader (fromisoformat)
    ts = dt.datetime(2024, 3, 4, 5, 6, 7, 123456)
    write_sink(_df(spark, [(9, "micro", 1.0, dt.date(2024, 3, 4), ts)]),
               "mysqlwriter", {
        "host": "127.0.0.1", "port": my.port, "table": "events",
        "column": [c for c, _ in COLS],
    })
    stored = {r["id"]: r for r in my.rows("events")}[9]
    assert stored["at"] == "2024-03-04 05:06:07.123456"
    back = read_source(spark, "mysqlreader", {
        "host": "127.0.0.1", "port": my.port, "table": "events",
        "column": [c for c, _ in COLS],
    })
    got = {r["id"]: r for r in back.collect()}
    assert got[9]["at"] == ts
    # whole-second values keep the short form (server-agnostic)
    assert mysql_literal(dt.datetime(2024, 3, 4)) == "'2024-03-04 00:00:00'"


_RSA_P = int("b945336bd51b1815aaf719f3fd68373b29acf1a57cbd1f5ae28af604"
             "65f4298618189af4f3d74f82bf268ea03836e86577bd891ff7b103df"
             "23231e1ee201552240cbacd0249a45845dbe3023a906922fa4b9a9c4"
             "b753a1eef08360852789d059", 16)
_RSA_Q = int("cd2146c2bbaa4c10cffe86958cf994bc40a1c44f2744593a4e98259e"
             "b0f72119285a2a3ea4b2433afb1cc97710b369d1ce91bfd17add5913"
             "1ab3b2065f245e2058c52816a5f1cf732c0539ef92a563bdf0832061"
             "3a6f59a498309481ba17f3c7", 16)
_RSA_N = _RSA_P * _RSA_Q
_RSA_E = 65537
_RSA_D = pow(_RSA_E, -1, (_RSA_P - 1) * (_RSA_Q - 1))


def test_caching_sha2_fast_path():
    """MySQL 8's default plugin, fast path: the server has the user's
    hash cached and validates the SHA256 scramble."""
    srv = FakeMySql(users={"app": "s3cret"},
                    auth_plugin="caching_sha2_password",
                    cached_users=("app",))
    srv.create_table("t", [("id", "long")], pk=["id"])
    try:
        c = MySqlConnection("127.0.0.1", srv.port, "app", "s3cret")
        _, rows, _ = c.query("SELECT id FROM t WHERE 1 = 1")
        assert rows == []
        c.close()
        with pytest.raises(MySqlError, match="Access denied"):
            MySqlConnection("127.0.0.1", srv.port, "app", "wrong")
    finally:
        srv.close()


def _full_auth_server():
    srv = FakeMySql(users={"app": "s3cret"},
                    auth_plugin="caching_sha2_password",
                    rsa_key=(_RSA_E, _RSA_D, _RSA_N))
    srv.create_table("t", [("id", "long")], pk=["id"])
    return srv


def test_caching_sha2_full_auth_rsa():
    """Cache miss → perform_full_authentication with the opt-in: the
    client requests the server's RSA key and sends
    RSA-OAEP(password ⊕ nonce)."""
    srv = _full_auth_server()
    try:
        c = MySqlConnection("127.0.0.1", srv.port, "app", "s3cret",
                            allow_public_key_retrieval=True)
        c.query("TRUNCATE TABLE t")
        c.close()
        assert srv.full_auth_replies[0] == b"\x02"
        with pytest.raises(MySqlError, match="Access denied"):
            MySqlConnection("127.0.0.1", srv.port, "app", "wrong",
                            allow_public_key_retrieval=True)
    finally:
        srv.close()


def test_caching_sha2_full_auth_refused_by_default():
    """Without the opt-in or a pinned key the client refuses full
    authentication and never asks for the key in plaintext."""
    srv = _full_auth_server()
    try:
        with pytest.raises(MySqlError) as ei:
            MySqlConnection("127.0.0.1", srv.port, "app", "s3cret")
        assert "allowPublicKeyRetrieval" in str(ei.value)
        assert "serverRsaPublicKey" in str(ei.value)
        assert b"\x02" not in srv.full_auth_replies
    finally:
        srv.close()


def test_caching_sha2_full_auth_pinned_key(tmp_path):
    """A pinned server key (PEM path) authenticates without the key
    request; through the reader config too."""
    from datax_spark.sources.hostkeys import spki_pem
    from datax_spark.sources.mysql import _conn_of

    pem = tmp_path / "server_rsa.pem"
    pem.write_bytes(spki_pem(_RSA_E, _RSA_N))
    srv = _full_auth_server()
    try:
        ci = _conn_of({"host": "127.0.0.1", "port": srv.port, "username": "app",
                       "password": "s3cret", "serverRsaPublicKey": str(pem)})
        c = MySqlConnection(**ci)
        c.query("TRUNCATE TABLE t")
        c.close()
        assert srv.full_auth_replies and b"\x02" not in srv.full_auth_replies
        with pytest.raises(MySqlError, match="Access denied"):
            MySqlConnection(**{**ci, "password": "wrong"})
    finally:
        srv.close()


def test_auth_switch_request():
    """Server answers the handshake with AuthSwitchRequest back to
    mysql_native_password and a fresh nonce; the client re-scrambles."""
    srv = FakeMySql(users={"app": "s3cret"},
                    auth_plugin="caching_sha2_password")
    srv.switch_to_native = True
    srv.create_table("t", [("id", "long")], pk=["id"])
    try:
        c = MySqlConnection("127.0.0.1", srv.port, "app", "s3cret")
        c.query("TRUNCATE TABLE t")
        c.close()
        with pytest.raises(MySqlError, match="Access denied"):
            MySqlConnection("127.0.0.1", srv.port, "app", "wrong")
    finally:
        srv.close()


def test_no_backslash_escapes_roundtrip(spark):
    # A server in NO_BACKSLASH_ESCAPES mode: the writer must probe
    # @@sql_mode and render quotes by doubling with raw backslashes,
    # else values corrupt (or a crafted value terminates the string).
    srv = FakeMySql(sql_mode="NO_BACKSLASH_ESCAPES")
    srv.create_table("events", COLS, pk=["id"])
    try:
        tricky = "it's a \\' backslash-quote"
        write_sink(_df(spark, [(1, tricky, None, None, None)]),
                   "mysqlwriter", {
            "host": "127.0.0.1", "port": srv.port, "table": "events",
            "column": [c for c, _ in COLS],
        })
        stored = {r["id"]: r for r in srv.rows("events")}[1]
        assert stored["repo"] == tricky
        assert any(q == "SELECT @@sql_mode" for q in srv.queries)
    finally:
        srv.close()


def test_replace_and_on_duplicate_update(spark, my):
    mysql_write(_df(spark, ROWS), {
        "host": "127.0.0.1", "port": my.port, "table": "events",
        "column": [c for c, _ in COLS]})
    changed = [(2, "CHANGED", 9.9, dt.date(2024, 3, 3),
                dt.datetime(2024, 3, 3, 3, 3, 3)),
               (9, "nine", 0.1, None, None)]
    # update mode -> INSERT ... ON DUPLICATE KEY UPDATE
    mysql_write(_df(spark, changed), {
        "host": "127.0.0.1", "port": my.port, "table": "events",
        "column": [c for c, _ in COLS], "writeMode": "update"})
    rows = {r["id"]: r for r in my.rows("events")}
    assert rows[2]["repo"] == "CHANGED" and rows[9]["repo"] == "nine"
    assert len(rows) == 4
    assert any("ON DUPLICATE KEY UPDATE" in qq for qq in my.queries)
    # replace mode -> REPLACE INTO
    mysql_write(_df(spark, [(2, "AGAIN", 1.0, None, None)]), {
        "host": "127.0.0.1", "port": my.port, "table": "events",
        "column": [c for c, _ in COLS], "writeMode": "replace"})
    assert {r["id"]: r for r in my.rows("events")}[2]["repo"] == "AGAIN"
    assert any(qq.startswith("REPLACE INTO") for qq in my.queries)
    # plain insert on an existing key -> duplicate-key error surfaces
    with pytest.raises(Exception, match="Duplicate"):
        mysql_write(_df(spark, [(2, "BOOM", 0.0, None, None)]), {
            "host": "127.0.0.1", "port": my.port, "table": "events",
            "column": [c for c, _ in COLS]})


def test_pre_post_sql(spark, my):
    mysql_write(_df(spark, ROWS), {
        "host": "127.0.0.1", "port": my.port, "table": "events",
        "column": [c for c, _ in COLS],
        "preSql": ["TRUNCATE TABLE events"], "postSql": "TRUNCATE TABLE events",
    })
    assert my.queries[0] == "TRUNCATE TABLE events"
    assert my.queries[-1] == "TRUNCATE TABLE events"
    assert my.rows("events") == []


def test_auth(spark):
    srv = FakeMySql(users={"app": "s3cret"})
    srv.create_table("t", [("id", "long")], pk=["id"])
    try:
        with pytest.raises(MySqlError, match="Access denied"):
            MySqlConnection("127.0.0.1", srv.port, "app", "wrong")
        with pytest.raises(MySqlError, match="Access denied"):
            MySqlConnection("127.0.0.1", srv.port, "ghost", "s3cret")
        c = MySqlConnection("127.0.0.1", srv.port, "app", "s3cret")
        c.close()
        mysql_write(_df(spark, ROWS).select("id"), {
            "host": "127.0.0.1", "port": srv.port, "table": "t",
            "column": ["id"], "username": "app", "password": "s3cret"})
        assert len(srv.rows("t")) == 3
    finally:
        srv.close()
