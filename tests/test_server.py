"""MySQL wire-protocol round-trip tests: a hand-rolled protocol-41
client (no mysql client lib in this environment) connects to
SparrowServer and drives handshake → USE → DDL/DML → SELECT → prepared
statements, mirroring the reference's client surface
(src/mysql/handle.rs:63-296)."""

from __future__ import annotations

import socket
import struct

import pytest

from sparrow_spark.server import SparrowServer, _lenenc_int, _lenenc_str, _read_lenenc


class MiniClient:
    """Just enough of the MySQL client protocol to test the server."""

    def __init__(self, host: str, port: int, db: str | None = None):
        self.sock = socket.create_connection((host, port), timeout=30)
        self.seq = 0
        self._handshake(db)

    # framing ----------------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        data = bytearray(n)
        view, got = memoryview(data), 0
        while got < n:
            k = self.sock.recv_into(view[got:])
            assert k, "server closed connection"
            got += k
        return bytes(data)

    def read_packet(self) -> bytes:
        head = self._recv_exact(4)
        length = int.from_bytes(head[:3], "little")
        self.seq = head[3] + 1
        return self._recv_exact(length) if length else b""

    def write_packet(self, payload: bytes) -> None:
        self.sock.sendall(
            len(payload).to_bytes(3, "little") + bytes([self.seq & 0xFF]) + payload
        )
        self.seq += 1

    def command(self, payload: bytes) -> None:
        self.seq = 0
        self.write_packet(payload)

    def _read_raw(self) -> tuple[bytes, bytes]:
        """One logical packet: (its raw bytes as framed on the wire, the
        payload with any 0xffffff-split continuations joined)."""
        raw, payload = [], []
        while True:
            head = self._recv_exact(4)
            body = self._recv_exact(int.from_bytes(head[:3], "little"))
            raw += [head, body]
            payload.append(body)
            if len(body) < 0xFFFFFF:
                return b"".join(raw), b"".join(payload)

    def raw_response(self) -> bytes:
        """Every byte of one response (OK, ERR or a whole result set)."""
        raw, first = self._read_raw()
        if first[0] in (0x00, 0xFF):
            return raw
        ncols, _ = _read_lenenc(first, 0)
        parts = [raw] + [self._read_raw()[0] for _ in range(ncols + 1)]
        while True:
            raw, payload = self._read_raw()
            parts.append(raw)
            if payload[:1] == b"\xfe" and len(payload) < 9:
                return b"".join(parts)

    # handshake --------------------------------------------------------
    def _handshake(self, db: str | None) -> None:
        greeting = self.read_packet()
        assert greeting[0] == 10  # protocol version
        ver_end = greeting.index(b"\x00", 1)
        assert b"sparrow" in greeting[1:ver_end]
        caps = 0x0200 | 0x8000  # PROTOCOL_41 | SECURE_CONNECTION
        if db:
            caps |= 0x0008  # CONNECT_WITH_DB
        resp = (
            struct.pack("<I", caps)
            + struct.pack("<I", 1 << 24)
            + bytes([33])
            + b"\x00" * 23
            + b"root\x00"
            + b"\x00"  # empty auth response (lenenc)
            + ((db.encode() + b"\x00") if db else b"")
        )
        self.write_packet(resp)
        ok = self.read_packet()
        assert ok[0] == 0x00, f"handshake not OK: {ok!r}"

    # responses --------------------------------------------------------
    def _read_response(self, binary: bool = False):
        """Returns ('ok', affected) | ('err', code, msg) | (cols, rows)."""
        pkt = self.read_packet()
        if pkt[0] == 0x00:
            affected, _ = _read_lenenc(pkt, 1)
            return ("ok", affected)
        if pkt[0] == 0xFF:
            code = struct.unpack_from("<H", pkt, 1)[0]
            return ("err", code, pkt[9:].decode(errors="replace"))
        ncols, _ = _read_lenenc(pkt, 0)
        cols, types = [], []
        for _ in range(ncols):
            name, mt = self._parse_column_def(self.read_packet())
            cols.append(name)
            types.append(mt)
        assert self.read_packet()[0] == 0xFE  # EOF after columns
        rows = []
        while True:
            pkt = self.read_packet()
            if pkt[0] == 0xFE and len(pkt) < 9:
                break
            rows.append(
                self._parse_binary_row(pkt, types)
                if binary
                else self._parse_text_row(pkt, ncols)
            )
        return cols, rows

    @staticmethod
    def _parse_column_def(pkt: bytes) -> tuple[str, int]:
        pos = 0
        for _ in range(4):  # catalog, schema, table, org_table
            ln, pos = _read_lenenc(pkt, pos)
            pos += ln
        ln, pos = _read_lenenc(pkt, pos)
        name = pkt[pos : pos + ln].decode()
        pos += ln
        ln, pos = _read_lenenc(pkt, pos)  # org_name
        pos += ln
        pos += 1 + 2 + 4  # 0x0c marker, charset, display length
        return name, pkt[pos]

    @staticmethod
    def _parse_text_row(pkt: bytes, ncols: int) -> list:
        vals, pos = [], 0
        for _ in range(ncols):
            if pkt[pos] == 0xFB:
                vals.append(None)
                pos += 1
            else:
                ln, pos = _read_lenenc(pkt, pos)
                vals.append(pkt[pos : pos + ln].decode())
                pos += ln
        return vals

    @staticmethod
    def _parse_binary_row(pkt: bytes, types: list[int]) -> list:
        assert pkt[0] == 0x00
        ncols = len(types)
        nbytes = (ncols + 7 + 2) // 8
        bitmap = pkt[1 : 1 + nbytes]
        pos = 1 + nbytes
        fixed = {1: "<b", 2: "<h", 3: "<i", 8: "<q", 4: "<f", 5: "<d"}
        vals = []
        for i, mt in enumerate(types):
            if bitmap[(i + 2) // 8] & (1 << ((i + 2) % 8)):
                vals.append(None)
            elif mt in fixed:
                fmt = fixed[mt]
                vals.append(struct.unpack_from(fmt, pkt, pos)[0])
                pos += struct.calcsize(fmt)
            elif mt in (10, 12):  # DATE / DATETIME: length-prefixed
                ln = pkt[pos]
                vals.append(pkt[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            else:
                ln, pos = _read_lenenc(pkt, pos)
                vals.append(pkt[pos : pos + ln].decode())
                pos += ln
        return vals

    # commands ---------------------------------------------------------
    def query(self, sql: str):
        self.command(b"\x03" + sql.encode())
        return self._read_response()

    def init_db(self, db: str):
        self.command(b"\x02" + db.encode())
        return self._read_response()

    def ping(self):
        self.command(b"\x0e")
        return self._read_response()

    def prepare(self, sql: str) -> tuple[int, int]:
        self.command(b"\x16" + sql.encode())
        pkt = self.read_packet()
        assert pkt[0] == 0x00
        stmt_id = struct.unpack_from("<I", pkt, 1)[0]
        n_params = struct.unpack_from("<H", pkt, 7)[0]
        for _ in range(n_params):
            self.read_packet()  # param definitions
        if n_params:
            assert self.read_packet()[0] == 0xFE
        return stmt_id, n_params

    def execute(self, stmt_id: int, params: list, bound: bool = True):
        n = len(params)
        nullmap = bytearray((n + 7) // 8)
        types = b""
        body = b""
        for i, p in enumerate(params):
            if p is None:
                nullmap[i // 8] |= 1 << (i % 8)
                types += bytes([6, 0])  # MYSQL_TYPE_NULL
            elif isinstance(p, int):
                types += bytes([8, 0])  # LONGLONG signed
                body += struct.pack("<q", p)
            elif isinstance(p, float):
                types += bytes([5, 0])  # DOUBLE
                body += struct.pack("<d", p)
            else:
                types += bytes([253, 0])  # VAR_STRING
                body += _lenenc_str(str(p).encode())
        payload = (
            b"\x17"
            + struct.pack("<I", stmt_id)
            + b"\x00"
            + struct.pack("<I", 1)
            + (
                bytes(nullmap)
                + (b"\x01" + types if bound else b"\x00")
                + body
                if n
                else b""
            )
        )
        self.command(payload)
        return self._read_response(binary=True)

    def field_list(self, table: str) -> list[str]:
        self.command(b"\x04" + table.encode() + b"\x00")
        cols = []
        while True:
            pkt = self.read_packet()
            if pkt[0] == 0xFE and len(pkt) < 9:
                return cols
            if pkt[0] == 0xFF:
                raise AssertionError(pkt[9:].decode(errors="replace"))
            cols.append(self._parse_column_def(pkt))

    def quit(self):
        try:
            self.command(b"\x01")
            self.sock.close()
        except OSError:
            pass


@pytest.fixture()
def server(engine):
    srv = SparrowServer(engine).start()
    yield srv
    srv.stop()


def test_wire_roundtrip(server):
    c = MiniClient(server.host, server.port)
    assert c.ping() == ("ok", 0)
    assert c.query("CREATE DATABASE IF NOT EXISTS wiredb")[0] == "ok"
    assert c.init_db("wiredb") == ("ok", 0)
    assert c.query("CREATE TABLE w (id INT, name CHAR, PRIMARY KEY(id))")[0] == "ok"
    assert c.query("INSERT INTO w VALUES (1, 'alpha'), (2, NULL)") == ("ok", 2)
    cols, rows = c.query("SELECT id, name FROM w ORDER BY id")
    assert cols == ["id", "name"]
    assert rows == [["1", "alpha"], ["2", None]]
    # database() reflects COM_INIT_DB
    _, rows = c.query("SELECT database() AS d")
    assert rows == [["wiredb"]]
    # errors arrive as ERR packets with the MySQL code
    err = c.query("INSERT INTO w VALUES (1, 'dup')")
    assert err[0] == "err" and err[1] == 1062
    # COM_FIELD_LIST
    assert [n for n, _ in c.field_list("w")] == ["id", "name"]
    c.quit()


def test_wire_prepared_binary(server):
    c = MiniClient(server.host, server.port, db="wiredb2")
    # CONNECT_WITH_DB on a not-yet-existing db is ignored; create now.
    c.query("CREATE DATABASE IF NOT EXISTS wiredb2")
    c.init_db("wiredb2")
    c.query("CREATE TABLE p (id INT, v DOUBLE, s CHAR, PRIMARY KEY(id))")
    stmt_id, n_params = c.prepare("INSERT INTO p VALUES (?, ?, ?)")
    assert n_params == 3
    assert c.execute(stmt_id, [1, 2.5, "x'y"]) == ("ok", 1)
    assert c.execute(stmt_id, [2, None, None]) == ("ok", 1)
    sid2, _ = c.prepare("SELECT id, v, s FROM p WHERE id = ?")
    cols, rows = c.execute(sid2, [1])
    assert cols == ["id", "v", "s"]
    # typed binary protocol: INT comes back as a 4-byte int, DOUBLE as
    # an 8-byte double, CHAR as a length-encoded string
    assert rows == [[1, 2.5, "x'y"]]
    cols, rows = c.execute(sid2, [2])
    assert rows == [[2, None, None]]
    c.quit()


def test_wire_two_sessions_isolated(server):
    c1 = MiniClient(server.host, server.port)
    c2 = MiniClient(server.host, server.port)
    c1.query("CREATE DATABASE IF NOT EXISTS wa")
    c2.query("CREATE DATABASE IF NOT EXISTS wb")
    c1.init_db("wa")
    c2.init_db("wb")
    c1.query("SET @tag = 'one'")
    c2.query("SET @tag = 'two'")
    _, rows = c1.query("SELECT database() AS d, @tag AS t")
    assert rows == [["wa", "one"]]
    _, rows = c2.query("SELECT database() AS d, @tag AS t")
    assert rows == [["wb", "two"]]
    c1.quit()
    c2.quit()


def test_wire_query_fixture_tables(server, sf_dir):
    # an engine user can run the analytics workload over the wire
    server.engine.attach_fixture(sf_dir)
    c = MiniClient(server.host, server.port)
    cols, rows = c.query(
        "SELECT l_returnflag, count(*) AS n FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    assert cols == ["l_returnflag", "n"]
    assert [r[0] for r in rows] == ["A", "N", "R"] and all(int(r[1]) > 0 for r in rows)
    c.quit()


def test_wire_stmt_reset_and_statistics(server):
    c = MiniClient(server.host, server.port)
    sid, _ = c.prepare("SELECT ? AS v")
    c.command(b"\x1a" + struct.pack("<I", sid))  # COM_STMT_RESET
    assert c.read_packet()[0] == 0x00
    assert c.execute(sid, [9])[1] == [[9]]
    c.command(b"\x09")  # COM_STATISTICS
    assert b"Uptime" in c.read_packet()
    c.quit()


def test_wire_reexecute_reuses_param_types(server):
    # libmysqlclient sends new_params_bound_flag=1 on the first execute
    # only; re-executes (bound=0) must reuse the first execute's types —
    # a VAR_STRING fallback would mis-decode the fixed-width payload.
    c = MiniClient(server.host, server.port)
    c.query("CREATE DATABASE IF NOT EXISTS wiredb3")
    c.init_db("wiredb3")
    c.query("CREATE TABLE r (id INT, v DOUBLE, PRIMARY KEY(id))")
    sid, _ = c.prepare("INSERT INTO r VALUES (?, ?)")
    assert c.execute(sid, [1, 1.5]) == ("ok", 1)
    assert c.execute(sid, [2, 2.5], bound=False) == ("ok", 1)
    _, rows = c.query("SELECT id, v FROM r ORDER BY id")
    assert rows == [["1", "1.5"], ["2", "2.5"]]
    # bound=0 before any typed execute is a protocol error, not a
    # silent string-decode.
    sid2, _ = c.prepare("SELECT ? AS x")
    err = c.execute(sid2, [7], bound=False)
    assert err[0] == "err" and err[1] == 1210
    c.quit()


def test_wire_send_long_data(server):
    # COM_STMT_SEND_LONG_DATA streams a param in chunks before execute;
    # the param is then absent from the execute body (MySQL long-data
    # lifecycle; cleared on COM_STMT_RESET/CLOSE).
    c = MiniClient(server.host, server.port)
    c.query("CREATE DATABASE IF NOT EXISTS wiredb4")
    c.init_db("wiredb4")
    c.query("CREATE TABLE ld (id INT, blobtext CHAR, PRIMARY KEY(id))")
    sid, n = c.prepare("INSERT INTO ld VALUES (?, ?)")
    assert n == 2
    for chunk in (b"hello ", b"long ", b"data"):
        c.command(b"\x18" + struct.pack("<I", sid) + struct.pack("<H", 1) + chunk)
        # no server response for 0x18
    # execute: param 0 inline (LONGLONG), param 1 via long data — body
    # carries only param 0; types still declare both.
    nullmap = b"\x00"
    types = bytes([8, 0]) + bytes([252, 0])  # LONGLONG, BLOB
    body = struct.pack("<q", 5)
    c.command(
        b"\x17" + struct.pack("<I", sid) + b"\x00" + struct.pack("<I", 1)
        + nullmap + b"\x01" + types + body
    )
    assert c._read_response(binary=True) == ("ok", 1)
    _, rows = c.query("SELECT id, blobtext FROM ld")
    assert rows == [["5", "hello long data"]]
    # long data was consumed by the execute; the next execute binds only
    # the body value
    assert c.execute(sid, [6, "inline"], bound=False) == ("ok", 1)
    _, rows = c.query("SELECT blobtext FROM ld ORDER BY id")
    assert rows == [["hello long data"], ["inline"]]
    c.quit()


def test_wire_reset_connection(server):
    # COM_RESET_CONNECTION (0x1F): connection pools recycle sessions by
    # resetting state without re-auth — user vars and prepared
    # statements must be gone, the current schema preserved.
    c = MiniClient(server.host, server.port)
    c.query("CREATE DATABASE IF NOT EXISTS pooldb")
    c.init_db("pooldb")
    c.query("SET @keepme = 7")
    sid, _ = c.prepare("SELECT ? AS v")
    assert c.execute(sid, [1]) == (["v"], [[1]])
    c.command(b"\x1f")
    assert c.read_packet()[0] == 0x00  # OK
    _, rows = c.query("SELECT @keepme AS k, database() AS d")
    assert rows == [[None, "pooldb"]]  # vars cleared, schema kept
    err = c.execute(sid, [1])  # stale statement handle
    assert err[0] == "err"
    c.quit()


def test_wire_concurrent_dml_and_select(server):
    # Regression for the collect-under-lock fix: one connection streams
    # INSERTs (each appends a parquet file) while another runs SELECTs.
    # Before the fix, the reader's collect ran outside the engine lock
    # and could scan a half-rewritten table; now every SELECT must see
    # a consistent prefix and never error.
    import threading

    c_setup = MiniClient(server.host, server.port)
    c_setup.query("CREATE DATABASE IF NOT EXISTS racedb")
    c_setup.init_db("racedb")
    c_setup.query("CREATE TABLE race (id INT, PRIMARY KEY(id))")
    c_setup.quit()

    errors: list[str] = []
    counts: list[int] = []

    def writer():
        c = MiniClient(server.host, server.port)
        c.init_db("racedb")
        for i in range(12):
            r = c.query(f"INSERT INTO race VALUES ({i})")
            if r[0] != "ok":
                errors.append(f"insert: {r}")
        # one in-place rewrite in the mix
        r = c.query("UPDATE race SET id = id WHERE id = 5")
        if r[0] != "ok":
            errors.append(f"update: {r}")
        c.quit()

    def reader():
        c = MiniClient(server.host, server.port)
        c.init_db("racedb")
        for _ in range(12):
            r = c.query("SELECT count(*) AS n FROM race")
            if isinstance(r, tuple) and r[0] == "err":
                errors.append(f"select: {r}")
            else:
                counts.append(int(r[1][0][0]))
        c.quit()

    tw, tr = threading.Thread(target=writer), threading.Thread(target=reader)
    tw.start(); tr.start(); tw.join(120); tr.join(120)
    assert not errors, errors
    assert counts == sorted(counts), "reader saw a non-monotonic count"
    c = MiniClient(server.host, server.port)
    c.init_db("racedb")
    assert c.query("SELECT count(*) AS n FROM race")[1] == [["12"]]
    c.quit()

def test_wire_send_long_data_binary_bytes(server):
    # Long data is the protocol's BLOB-streaming path: non-UTF-8 bytes
    # must survive (rendered as a hex literal into a BINARY column),
    # never raise UnicodeDecodeError and kill the connection thread.
    c = MiniClient(server.host, server.port)
    c.query("CREATE DATABASE IF NOT EXISTS wiredb5")
    c.init_db("wiredb5")
    c.query("CREATE TABLE lb (id INT, payload BLOB, PRIMARY KEY(id))")
    sid, n = c.prepare("INSERT INTO lb VALUES (?, ?)")
    assert n == 2
    raw = b"\xff\xfe\x00\x01PNG\x89"  # not valid UTF-8
    c.command(b"\x18" + struct.pack("<I", sid) + struct.pack("<H", 1) + raw)
    nullmap = b"\x00"
    types = bytes([8, 0]) + bytes([252, 0])  # LONGLONG, BLOB
    body = struct.pack("<q", 1)
    c.command(
        b"\x17" + struct.pack("<I", sid) + b"\x00" + struct.pack("<I", 1)
        + nullmap + b"\x01" + types + body
    )
    assert c._read_response(binary=True) == ("ok", 1)
    # connection alive and the bytes round-tripped exactly
    _, rows = c.query("SELECT id, hex(payload) AS h FROM lb")
    assert rows == [["1", raw.hex().upper()]]
    c.quit()


def test_wire_change_user_switches_schema(server):
    # COM_CHANGE_USER carries a database name; MySQL switches the
    # default schema to it (a pool recycling via change-user relies on
    # this — keeping the old schema leaks state across logical users).
    c = MiniClient(server.host, server.port)
    c.query("CREATE DATABASE IF NOT EXISTS cu_old")
    c.query("CREATE DATABASE IF NOT EXISTS cu_new")
    c.init_db("cu_old")
    c.query("SET @stale = 1")
    _, rows = c.query("SELECT database() AS d")
    assert rows == [["cu_old"]]
    # cmd, user NUL, 1-byte auth len + auth, schema NUL, charset
    payload = (
        b"\x11" + b"someone\x00" + bytes([4]) + b"\x01\x02\x03\x04"
        + b"cu_new\x00" + struct.pack("<H", 33)
    )
    c.command(payload)
    assert c.read_packet()[0] == 0x00  # OK
    _, rows = c.query("SELECT database() AS d, @stale AS s")
    assert rows == [["cu_new", None]]  # schema switched, vars cleared
    c.quit()


def test_accepted_socket_disables_nagle(server, monkeypatch):
    # Some responses go out as one sendall per packet; with Nagle on,
    # the client's delayed ACK holds each such response back ~40 ms.
    from sparrow_spark import server as server_mod

    seen = []
    run = server_mod._Conn.run

    def recording_run(conn):
        seen.append(conn.sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))
        return run(conn)

    monkeypatch.setattr(server_mod._Conn, "run", recording_run)
    c = MiniClient(server.host, server.port)
    assert c.ping() == ("ok", 0)
    c.quit()
    assert seen and all(seen)


# -- wire bytes of every column type ------------------------------------
# Each case runs as COM_QUERY (text rows) and as a zero-parameter
# COM_STMT_EXECUTE (binary rows). The sha1 of every byte of the response,
# framing included, was recorded from the row-at-a-time encoder that
# preceded the columnar one (collect() rows, one value at a time), in the
# America/New_York zone so that TIMESTAMP text depends on the local zone.

_ALL_TYPES = [  # name, SQL type, one literal per row (a fifth row is NULL)
    ("ti", "TINYINT", ["-5", "127", "0", "-128"]),
    ("si", "SMALLINT", ["300", "-32768", "0", "32767"]),
    ("i", "INT", ["-70000", "2147483647", "0", "-2147483648"]),
    ("bi", "BIGINT", ["1099511627776", "-9223372036854775808", "0", "9223372036854775807"]),
    ("fl", "FLOAT", ["0.1", "-2.5", "3.4e38", "1e-30"]),
    ("db", "DOUBLE", ["1.0", "100.0", "2.5e-5", "1e15"]),
    ("db2", "DOUBLE", ["-0.0", "'NaN'", "'Infinity'", "0.1 + 0.2"]),
    ("dt", "DATE", ["DATE '2020-01-05'", "DATE '1969-12-31'", "DATE '0005-01-01'", "DATE '9999-12-31'"]),
    ("ts", "TIMESTAMP", [
        "TIMESTAMP '2020-03-08 06:59:59.123456'", "TIMESTAMP '1999-12-31 23:59:59'",
        "TIMESTAMP '1900-01-01 00:00:00'", "TIMESTAMP '2021-11-07 05:30:00.5'",
    ]),
    ("bo", "BOOLEAN", ["true", "false", "true", "false"]),
    ("st", "STRING", ["'héllo'", "''", "'a''b'", "'日本'"]),
    ("d2", "DECIMAL(10,2)", ["1.5", "-0.01", "0", "99999999.99"]),
    ("d10", "DECIMAL(20,10)", ["0.0000001234", "0", "1.5", "-1234567890.0123456789"]),
    ("bin", "BINARY", ["X'00FF'", "X''", "X'61'", "X'FFFE'"]),
    ("ntz", "TIMESTAMP_NTZ", [
        "TIMESTAMP_NTZ '2020-01-01 00:00:00'", "TIMESTAMP_NTZ '1900-01-01 00:00:00.5'",
        "TIMESTAMP_NTZ '2021-11-07 01:30:00'", "TIMESTAMP_NTZ '9999-12-31 23:59:59.999999'",
    ]),
    ("arr", "ARRAY<INT>", ["array(1, 2)", "array()", "array(NULL, 3)", "array(7)"]),
    ("stc", "STRUCT<x:INT,y:STRING>", [
        "named_struct('x', 1, 'y', 'z')", "named_struct('x', NULL, 'y', '')",
        "named_struct('x', -1, 'y', NULL)", "named_struct('x', 0, 'y', 'q')",
    ]),
    ("mp", "MAP<STRING,DOUBLE>", ["map('k', 1.5)", "map()", "map('a', NULL)", "map('x', 0.1, 'y', 2.0)"]),
    ("nest", "ARRAY<STRUCT<b:BINARY,t:TIMESTAMP,d:DECIMAL(5,1)>>", [
        "array(named_struct('b', X'01', 't', TIMESTAMP '2020-01-01 00:00:00', 'd', 1.5))",
        "array()", "array(NULL)", "NULL",
    ]),
    ("dti", "INTERVAL DAY TO SECOND", [
        "INTERVAL '1 02:03:04.5' DAY TO SECOND", "INTERVAL '0 00:00:00' DAY TO SECOND",
        "INTERVAL '-3 00:00:01' DAY TO SECOND", "INTERVAL '100 23:59:59.999999' DAY TO SECOND",
    ]),
    ("nul", "VOID", ["NULL", "NULL", "NULL", "NULL"]),
]


def _all_types_sql() -> str:
    def cell(name, typ, lit):
        if typ == "VOID":
            return f"NULL AS {name}"
        return f"CAST({lit} AS {typ}) AS {name}"

    rows = [
        f"SELECT {k + 1} AS k, "
        + ", ".join(cell(n, t, lits[k]) for n, t, lits in _ALL_TYPES)
        for k in range(4)
    ]
    rows.append(
        "SELECT 5 AS k, " + ", ".join(cell(n, t, "NULL") for n, t, _ in _ALL_TYPES)
    )
    return " UNION ALL ".join(rows) + " ORDER BY k"


_ENCODING_CASES = {
    "all_types": _all_types_sql(),
    "empty": f"SELECT * FROM ({_all_types_sql()}) t WHERE k < 0",
    # a struct with duplicate field names has no arrow type: collect() path
    "dup_struct": (
        "SELECT named_struct('a', 1, 'a', 'x') AS dup, 1.5E0 AS d, DATE '2020-02-02' AS dt"
        " UNION ALL SELECT NULL, NULL, NULL"
    ),
    "wide_cells": (
        "SELECT repeat('a', 250) AS c250, repeat('b', 251) AS c251,"
        " repeat('c', 65535) AS c65535, repeat('d', 65536) AS c65536,"
        " repeat('é', 40000) AS u"
    ),
    # more than 256 rows: the sequence id wraps
    "many_rows": (
        "SELECT k, k * 1.5E0 AS d, CAST(k AS STRING) AS s, k % 3 = 0 AS b,"
        " CASE WHEN k % 7 = 0 THEN NULL ELSE k END AS n"
        " FROM (SELECT explode(sequence(1, 700)) AS k) t ORDER BY k"
    ),
    # row 2's text payload is exactly 0xffffff bytes (2 + 4 + 16777209):
    # it is sent as one full packet and an empty one
    "split_edge": (
        "SELECT k, CASE WHEN k = 2 THEN repeat('x', 16777209) ELSE 'c' END AS s"
        " FROM (SELECT explode(sequence(1, 3)) AS k) t ORDER BY k"
    ),
    # a 2^24-byte cell takes the 9-byte length prefix
    "split_9": "SELECT 1 AS k, repeat('y', 16777216) AS s",
}

_ENCODING_SHA1 = {
    "all_types/text": "0d2b9d7982f0d85b7279078e49e13aef27da650f",
    "all_types/binary": "6406908b5af915719b952f288ec416d4c3abdb2b",
    "empty/text": "66e3ed56afd8f05266d56bd56e7234dd224d88b4",
    "empty/binary": "66e3ed56afd8f05266d56bd56e7234dd224d88b4",
    "dup_struct/text": "f9c62cc4dd9c661a174c20dd3987f6bc019f0936",
    "dup_struct/binary": "089a1f2ca5df61a7faf9735f17f9d870dc0c8bcb",
    "wide_cells/text": "9a0f07fbdfdd499fdfa11afbe6a233ff2f315236",
    "wide_cells/binary": "af193c55cb3437600d4b7864526bfbea759a295a",
    "many_rows/text": "295b5f8ad957c5b51e1f883c7244b21b6f22b181",
    "many_rows/binary": "93bf2f6d58605e047d590004ea00633b2c141d2e",
    "split_edge/text": "a51d3f3ccb1a24fa796ac4591ebc8fa6b2a943c0",
    "split_edge/binary": "09e139ee6b398b2684131dedfc61a95bea0475d0",
    "split_9/text": "ad698b0d767084f50984ab7b44e0645514099b29",
    "split_9/binary": "6ebb7e7864d994b3f400911c54b96e22afeb43b8",
}


@pytest.fixture()
def new_york(monkeypatch):
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _wire_digests(server) -> dict[str, str]:
    import hashlib

    c = MiniClient(server.host, server.port)
    out = {}
    for name, sql in _ENCODING_CASES.items():
        c.command(b"\x03" + sql.encode())
        out[f"{name}/text"] = hashlib.sha1(c.raw_response()).hexdigest()
        sid, n_params = c.prepare(sql)
        assert n_params == 0
        c.command(b"\x17" + struct.pack("<I", sid) + b"\x00" + struct.pack("<I", 1))
        out[f"{name}/binary"] = hashlib.sha1(c.raw_response()).hexdigest()
    c.quit()
    return out


def test_wire_bytes_match_row_encoder(server, new_york):
    assert _wire_digests(server) == _ENCODING_SHA1


def test_wire_encoding_error_sends_one_err(server, monkeypatch):
    # The whole result set is encoded before its first byte goes out: an
    # encoder that raises leaves exactly one ERR packet on the wire, and
    # the connection answers its next statement.
    from sparrow_spark import server as server_mod

    cells = server_mod._cells

    def failing_cells(col, dtype, mysql_type, binary):
        if dtype.simpleString() == "double":
            raise RuntimeError("encoder broke")
        return cells(col, dtype, mysql_type, binary)

    monkeypatch.setattr(server_mod, "_cells", failing_cells)
    c = MiniClient(server.host, server.port)
    c.command(b"\x03SELECT 1 AS a, 2.5E0 AS b")
    raw = c.raw_response()
    assert raw[4] == 0xFF and b"encoder broke" in raw
    assert int.from_bytes(raw[:3], "little") + 4 == len(raw)  # one packet
    assert c.query("SELECT 3 AS a") == (["a"], [["3"]])
    sid, _ = c.prepare("SELECT 4 AS a, 2.5E0 AS b")
    assert c.execute(sid, [])[0] == "err"
    assert c.ping() == ("ok", 0)
    c.quit()


def test_wire_reads_a_large_query_packet(server):
    # A COM_QUERY of several MiB arrives in many recv calls; it is read
    # into one preallocated buffer.
    c = MiniClient(server.host, server.port)
    c.query("CREATE DATABASE IF NOT EXISTS bigq")
    c.init_db("bigq")
    c.query("CREATE TABLE big (id INT, s CHAR, PRIMARY KEY(id))")
    text = "0123456789abcdef" * (1 << 18)  # 4 MiB
    assert c.query(f"INSERT INTO big VALUES (1, '{text}')") == ("ok", 1)
    _, rows = c.query("SELECT length(s) AS n, sha1(s) AS h FROM big")
    import hashlib

    assert rows == [[str(len(text)), hashlib.sha1(text.encode()).hexdigest()]]
    c.quit()


def test_column_cells_equal_value_cells():
    # The vectorized per-column cells equal the one-value-at-a-time cells
    # (what collect()'s rows are encoded with) for every Arrow type they
    # handle, with NULLs, at every length-prefix boundary, and for
    # doubles and decimals whose text Arrow's own cast would change.
    import datetime
    import decimal
    import random

    import pyarrow as pa
    from pyspark.sql import types as T

    from sparrow_spark import server as server_mod

    rnd = random.Random(7)

    def with_nulls(vals):
        return [None if rnd.random() < 0.2 else v for v in vals]

    ints = [0, 1, -1, 127, -128] + [rnd.randint(-128, 127) for _ in range(40)]
    floats = [1.0, 100.0, 2.5e-5, 1e15, 1e16, -0.0, 0.1, float("nan"),
              float("inf"), -float("inf"), 1e-300, 123456.789]
    floats += [rnd.uniform(-1e6, 1e6) for _ in range(40)]
    texts = ["", "a", "héllo", "日本"] + [
        "x" * n for n in (250, 251, 252, 65535, 65536, 70000)
    ]
    cases = [
        (pa.int8(), T.ByteType(), ints),
        (pa.int16(), T.ShortType(), [v * 200 for v in ints]),
        (pa.int32(), T.IntegerType(), [v * 10**7 for v in ints]),
        (pa.int64(), T.LongType(), [v * 10**16 for v in ints] + [2**63 - 1, -(2**63)]),
        (pa.float32(), T.FloatType(), floats),
        (pa.float64(), T.DoubleType(), floats),
        (pa.bool_(), T.BooleanType(), [True, False] * 10),
        (pa.date32(), T.DateType(), [
            datetime.date(1, 1, 1), datetime.date(1969, 12, 31),
            datetime.date(2020, 2, 29), datetime.date(9999, 12, 31),
        ]),
        (pa.string(), T.StringType(), texts),
        (pa.large_string(), T.StringType(), texts),
        (pa.binary(), T.BinaryType(), [t.encode() for t in texts] + [b"\xff\x00"]),
    ]
    for scale in (0, 2, 6, 7, 10):
        precision = 20
        cases.append((
            pa.decimal128(precision, scale), T.DecimalType(precision, scale),
            [decimal.Decimal(rnd.randint(-10**n, 10**n)).scaleb(-scale)
             for n in range(0, precision - 1)] + [decimal.Decimal(0).scaleb(-scale)],
        ))
    for arrow_type, dtype, vals in cases:
        col = pa.array(with_nulls(vals) + [None], arrow_type)
        mysql_type = server_mod._SPARK_TO_MYSQL.get(dtype.simpleString(), server_mod.T_VAR_STRING)
        for binary in (False, True):
            got = server_mod._cells(col, dtype, mysql_type, binary)
            want = server_mod._value_cells(col.to_pylist(), mysql_type, binary)
            assert got.to_pylist() == want.to_pylist(), (dtype, binary)
