"""MySQL wire-protocol front-end over the Engine.

The reference's entire client surface is this protocol: a tokio TCP
loop that sends the v10 handshake, accepts any credentials, then
dispatches COM_* commands to its Execution core and encodes result
sets back (reference src/mysql/handle.rs:63-296, src/main.rs:88-99).
This is the Spark-native counterpart: a threaded socket server where
each accepted connection gets its own engine Session (per-connection
schema/variables, reference src/core/session_context.rs), commands
execute under a global lock (the reference serializes on its
GlobalContext mutex the same way). A result set is fetched
columnar, as Arrow (`DataFrame.toArrow()`, under the engine lock),
like the reference's result sets built from DataFusion `RecordBatch`es
(src/mysql/). It is then encoded column by column into protocol-41
rows (text for COM_QUERY, binary for COM_STMT_EXECUTE) and sent in one
buffered write. The only schemas that `toArrow` rejects (year-month
and calendar intervals, structs with duplicate field names) are
fetched with `collect()` and transposed into columns for the same
encoder.

Command coverage (command ids as in handle.rs:174-241):
  0x01 COM_QUIT, 0x02 COM_INIT_DB, 0x03 COM_QUERY, 0x04 COM_FIELD_LIST,
  0x0e COM_PING, 0x16 COM_STMT_PREPARE, 0x17 COM_STMT_EXECUTE,
  0x19 COM_STMT_CLOSE.
The binary prepared-statement codec (NULL bitmap + MYSQL_TYPE_* values
in both directions) follows src/mysql/mysql_util.rs:41-130: parameters
decode per their type tags, result rows encode per the declared column
type (ints little-endian, floats IEEE, temporal as length-prefixed
component structs, strings length-encoded).
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import PySparkTypeError, UnsupportedOperationException
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructField, StructType

from sparrow_spark.engine import Engine, Result, Session, SparrowError

# MYSQL_TYPE_* codes (public protocol constants)
T_TINY, T_SHORT, T_LONG, T_FLOAT, T_DOUBLE, T_NULL = 1, 2, 3, 4, 5, 6
T_LONGLONG, T_INT24 = 8, 9
T_DATE, T_TIME, T_DATETIME, T_TIMESTAMP = 10, 11, 12, 7
T_VARCHAR, T_NEWDECIMAL = 15, 246
T_BLOB_TYPES = (249, 250, 251, 252)
T_VAR_STRING, T_STRING = 253, 254

CLIENT_PROTOCOL_41 = 0x0200
CLIENT_SECURE_CONNECTION = 0x8000
CLIENT_PLUGIN_AUTH = 0x00080000
CLIENT_CONNECT_WITH_DB = 0x0008
SERVER_STATUS_AUTOCOMMIT = 0x0002
MAX_PACKET = 0xFFFFFF

_SPARK_TO_MYSQL = {
    "tinyint": T_TINY,
    "smallint": T_SHORT,
    "int": T_LONG,
    "bigint": T_LONGLONG,
    "float": T_FLOAT,
    "double": T_DOUBLE,
    "date": T_DATE,
    "timestamp": T_DATETIME,
    "boolean": T_TINY,
}
# Binary-protocol types sent as fixed-width little-endian values.
_PACKED = {
    T_TINY: "<i1",
    T_SHORT: "<i2",
    T_LONG: "<i4",
    T_LONGLONG: "<i8",
    T_FLOAT: "<f4",
    T_DOUBLE: "<f8",
}
_EOF = b"\xfe" + struct.pack("<HH", 0, SERVER_STATUS_AUTOCOMMIT)
_EMPTY = pa.scalar(b"", pa.large_binary())


def _change_user_schema(payload: bytes) -> str:
    """Extract the database name from a COM_CHANGE_USER packet:
    cmd(1), user NUL-terminated, auth response (1-byte length-prefixed
    under CLIENT_SECURE_CONNECTION — what our handshake advertises —
    else NUL-terminated), then schema NUL-terminated. Returns '' when
    absent or malformed (schema switch is then skipped)."""
    try:
        pos = payload.index(b"\x00", 1) + 1  # skip cmd + user
        if pos >= len(payload):
            return ""
        auth_len = payload[pos]
        secure_end = pos + 1 + auth_len
        if secure_end <= len(payload):
            pos = secure_end  # length-prefixed auth (secure connection)
        else:
            pos = payload.index(b"\x00", pos) + 1  # legacy NUL-terminated
        end = payload.find(b"\x00", pos)
        raw = payload[pos:] if end == -1 else payload[pos:end]
        return raw.decode("utf-8", errors="replace")
    except (ValueError, IndexError):
        return ""


def _bytes_or_str(b: bytes):
    """Decode a wire parameter as UTF-8 text when it is text, else keep
    raw bytes (BLOB semantics) for the engine to render as a hex
    literal. MySQL's wire format does not distinguish — the declared
    type does, but clients routinely send blobs as VAR_STRING."""
    try:
        return b.decode()
    except UnicodeDecodeError:
        return b


def _lenenc_int(n: int) -> bytes:
    if n < 251:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def _lenenc_str(s: bytes) -> bytes:
    return _lenenc_int(len(s)) + s


def _read_lenenc(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if first == 0xFD:
        return struct.unpack("<I", buf[pos + 1 : pos + 4] + b"\x00")[0], pos + 4
    return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9


def _frame(payload: bytes, seq: int) -> tuple[bytes, int]:
    """`payload` framed as packets (3-byte length + 1-byte sequence id)
    from sequence id `seq`, and the next id. A payload of MAX_PACKET
    bytes or more splits at MAX_PACKET; one that ends a full packet is
    followed by an empty packet."""
    out = []
    while True:
        chunk, payload = payload[:MAX_PACKET], payload[MAX_PACKET:]
        out += [len(chunk).to_bytes(3, "little"), bytes([seq & 0xFF]), chunk]
        seq += 1
        if len(chunk) < MAX_PACKET:
            return b"".join(out), seq


def _column_def(name: str, mysql_type: int) -> bytes:
    return (
        _lenenc_str(b"def")  # catalog
        + _lenenc_str(b"")  # schema
        + _lenenc_str(b"")  # table
        + _lenenc_str(b"")  # org_table
        + _lenenc_str(name.encode())
        + _lenenc_str(name.encode())  # org_name
        + b"\x0c"  # fixed-length fields marker
        + struct.pack("<H", 33)  # charset utf8_general_ci
        + struct.pack("<I", 1024)  # display length
        + bytes([mysql_type])
        + struct.pack("<H", 0)  # flags
        + b"\x00"  # decimals
        + b"\x00\x00"
    )


class _Conn:
    """One client connection: packet framing + command dispatch."""

    def __init__(self, sock: socket.socket, session: Session, lock: threading.Lock):
        self.sock = sock
        self.session = session
        self.lock = lock
        self.seq = 0
        # Per-statement parameter types from the FIRST execute: clients
        # send new_params_bound_flag=1 once, then 0 on re-execute —
        # servers must reuse the first execute's types (a re-execute
        # decoded as VAR_STRING would mis-read fixed-width payloads).
        self._stmt_types: dict[int, list[tuple[int, bool]]] = {}
        # COM_STMT_SEND_LONG_DATA accumulator: (stmt_id, param_id) ->
        # streamed bytes; consumed by the next execute, cleared by
        # COM_STMT_RESET/CLOSE (MySQL long-data lifecycle).
        self._long_data: dict[tuple[int, int], bytearray] = {}

    # -- packet framing (3-byte length + 1-byte sequence id) -----------
    def _recv_exact(self, n: int) -> bytes | None:
        data = bytearray(n)
        view, got = memoryview(data), 0
        while got < n:
            k = self.sock.recv_into(view[got:])
            if not k:
                return None
            got += k
        return bytes(data)

    def read_packet(self) -> bytes | None:
        head = self._recv_exact(4)
        if head is None:
            return None
        length = int.from_bytes(head[:3], "little")
        self.seq = head[3] + 1
        payload = self._recv_exact(length) if length else b""
        return payload

    def write_packet(self, payload: bytes) -> None:
        data, self.seq = _frame(payload, self.seq)
        self.sock.sendall(data)

    # -- protocol messages ---------------------------------------------
    def send_ok(self, affected: int = 0, info: str = "") -> None:
        self.write_packet(
            b"\x00"
            + _lenenc_int(affected)
            + _lenenc_int(0)
            + struct.pack("<HH", SERVER_STATUS_AUTOCOMMIT, 0)
            + info.encode()
        )

    def send_err(self, code: int, message: str, sql_state: str = "HY000") -> None:
        self.write_packet(
            b"\xff"
            + struct.pack("<H", code)
            + b"#"
            + sql_state.encode()[:5].ljust(5, b"0")
            + message.encode()[:512]
        )

    def send_eof(self) -> None:
        self.write_packet(_EOF)

    def send_column_def(self, name: str, mysql_type: int) -> None:
        self.write_packet(_column_def(name, mysql_type))

    # -- result delivery -----------------------------------------------
    @staticmethod
    def _materialize(result: Result):
        """Fetch a resultset's rows (called under the engine lock so
        execution cannot race another connection's in-place rewrite):
        an Arrow table, or collect()'s rows for the schemas that have no
        Arrow type."""
        if result.kind != "resultset" or result.df is None:
            return None
        schema = result.df.schema
        if _has_arrow_type(schema):
            return schema, result.df.toArrow()
        return schema, result.df.collect()

    def send_resultset(
        self, result: Result, materialized, binary: bool = False
    ) -> None:
        """Send `materialized` (the (schema, rows) that _materialize
        fetched under the engine lock), or an OK packet when the
        statement produced no resultset (materialized is None). The
        whole result set is encoded before its first byte is sent, so
        an encoding error leaves only the ERR packet on the wire."""
        if materialized is None:
            self.send_ok(result.affected_rows)
            return
        data, seq = _encode_resultset(*materialized, binary, self.seq)
        self.sock.sendall(data)
        self.seq = seq

    # -- handshake (reference handle.rs:87-145: credentials accepted
    # unconditionally, auth result is always OK) -----------------------
    def handshake(self) -> bool:
        caps = (
            CLIENT_PROTOCOL_41
            | CLIENT_SECURE_CONNECTION
            | CLIENT_PLUGIN_AUTH
            | CLIENT_CONNECT_WITH_DB
        )
        nonce = b"0123456789abcdefghij"  # fixed: auth is not checked
        payload = (
            b"\x0a"  # protocol version 10
            + b"8.0.26-sparrow-spark\x00"
            + struct.pack("<I", 1)  # thread id
            + nonce[:8]
            + b"\x00"
            + struct.pack("<H", caps & 0xFFFF)
            + bytes([33])  # utf8_general_ci
            + struct.pack("<H", SERVER_STATUS_AUTOCOMMIT)
            + struct.pack("<H", caps >> 16)
            + bytes([21])  # auth data len
            + b"\x00" * 10
            + nonce[8:] + b"\x00"
            + b"mysql_native_password\x00"
        )
        self.seq = 0
        self.write_packet(payload)
        resp = self.read_packet()
        if resp is None:
            return False
        # HandshakeResponse41: caps(4) max_packet(4) charset(1) filler(23)
        # user\0 auth... [db\0] — only the optional database is used.
        try:
            client_caps = struct.unpack_from("<I", resp, 0)[0]
            pos = 32
            end = resp.index(b"\x00", pos)
            pos = end + 1  # past username
            if client_caps & CLIENT_SECURE_CONNECTION:
                alen = resp[pos]
                pos += 1 + alen
            else:
                pos = resp.index(b"\x00", pos) + 1
            if client_caps & CLIENT_CONNECT_WITH_DB and pos < len(resp):
                db = resp[pos : resp.index(b"\x00", pos)].decode()
                if db:
                    with self.lock:
                        self.session.sql(f"USE {db}")
        except (ValueError, IndexError, SparrowError):
            pass
        self.send_ok(info="success")
        return True

    # -- command loop ----------------------------------------------------
    def run(self) -> None:
        if not self.handshake():
            return
        while True:
            payload = self.read_packet()
            if payload is None or not payload:
                break
            cmd = payload[0]
            try:
                if cmd == 0x01:  # COM_QUIT
                    break
                elif cmd == 0x02:  # COM_INIT_DB
                    db = payload[1:].rstrip(b"\x00").decode()
                    with self.lock:
                        self.session.sql(f"USE {db}")
                    self.send_ok()
                elif cmd == 0x03:  # COM_QUERY
                    sql = payload[1:].decode()
                    # Materialize rows while still holding the engine
                    # lock: the engine rewrites table parquet in place,
                    # so a collect racing another connection's DDL/DML
                    # could scan half-rewritten files. Only wire
                    # encoding happens outside the lock (the reference
                    # serializes execution under its global mutex too).
                    with self.lock:
                        result = self.session.sql(sql)
                        mat = self._materialize(result)
                    self.send_resultset(result, mat)
                elif cmd == 0x04:  # COM_FIELD_LIST
                    table = payload[1:].split(b"\x00")[0].decode()
                    with self.lock:
                        result = self.session.sql(f"SHOW COLUMNS FROM {table}")
                        field_rows = result.rows()
                    for row in field_rows:
                        self.send_column_def(row.Field, T_VAR_STRING)
                    self.send_eof()
                elif cmd == 0x0E:  # COM_PING
                    self.send_ok()
                elif cmd == 0x16:  # COM_STMT_PREPARE
                    sql = payload[1:].decode()
                    with self.lock:
                        stmt_id, n_params = self.session.prepare(sql)
                    self.write_packet(
                        b"\x00"
                        + struct.pack("<I", stmt_id)
                        + struct.pack("<H", 0)  # columns unknown pre-exec
                        + struct.pack("<H", n_params)
                        + b"\x00"
                        + struct.pack("<H", 0)
                    )
                    for i in range(n_params):
                        self.send_column_def("?", T_VAR_STRING)
                    if n_params:
                        self.send_eof()
                elif cmd == 0x17:  # COM_STMT_EXECUTE
                    stmt_id, params = self._decode_execute(payload)
                    with self.lock:
                        result = self.session.execute_prepared(stmt_id, params)
                        mat = self._materialize(result)
                    self.send_resultset(result, mat, binary=True)
                elif cmd == 0x18:  # COM_STMT_SEND_LONG_DATA (no response)
                    stmt_id = struct.unpack_from("<I", payload, 1)[0]
                    param_id = struct.unpack_from("<H", payload, 5)[0]
                    self._long_data.setdefault(
                        (stmt_id, param_id), bytearray()
                    ).extend(payload[7:])
                elif cmd == 0x19:  # COM_STMT_CLOSE (no response)
                    stmt_id = struct.unpack_from("<I", payload, 1)[0]
                    self._stmt_types.pop(stmt_id, None)
                    self._drop_long_data(stmt_id)
                    with self.lock:
                        self.session.close_prepared(stmt_id)
                elif cmd == 0x1A:  # COM_STMT_RESET: drop streamed long data
                    stmt_id = struct.unpack_from("<I", payload, 1)[0]
                    self._drop_long_data(stmt_id)
                    self.send_ok()
                elif cmd == 0x1F:  # COM_RESET_CONNECTION (pool recycle)
                    # Reset session state without re-auth: user vars,
                    # prepared statements, streamed long data.
                    with self.lock:
                        self.session.user_vars.clear()
                        for sid in list(self.session._stmt_cache):
                            self.session.close_prepared(sid)
                    self._stmt_types.clear()
                    self._long_data.clear()
                    self.send_ok()
                elif cmd == 0x11:  # COM_CHANGE_USER: re-auth + full reset
                    with self.lock:
                        self.session.user_vars.clear()
                        for sid in list(self.session._stmt_cache):
                            self.session.close_prepared(sid)
                    self._stmt_types.clear()
                    self._long_data.clear()
                    # credentials accepted unconditionally, like the
                    # handshake (reference handle.rs:87-145) — but the
                    # schema field DOES matter: MySQL switches the
                    # default database to the one in the packet, and a
                    # pool that recycles via change-user relies on it.
                    db = _change_user_schema(payload)
                    if db:
                        with self.lock:
                            self.session.sql(f"USE {db}")
                    self.send_ok()
                elif cmd == 0x09:  # COM_STATISTICS: raw human string
                    self.write_packet(
                        b"Uptime: 0  Threads: 1  Questions: 0  "
                        b"Slow queries: 0  Opens: 0  Flush tables: 0"
                    )
                else:
                    self.send_err(1047, f"Unknown command 0x{cmd:02x}", "08S01")
            except SparrowError as e:
                self.send_err(e.code, str(e))
            except Exception as e:  # noqa: BLE001 — connection must survive
                self.send_err(1105, f"Unknown error: {e}")
            self.seq = 0

    def _decode_execute(self, payload: bytes) -> tuple[int, list]:
        """Binary parameter decoding (reference mysql_util.rs:41-130):
        NULL bitmap then MYSQL_TYPE_*-tagged little-endian values."""
        stmt_id = struct.unpack_from("<I", payload, 1)[0]
        n_params = self._param_count(stmt_id)
        pos = 10  # cmd(1) stmt_id(4) flags(1) iteration_count(4)
        if not n_params:
            return stmt_id, []
        nullmap = payload[pos : pos + (n_params + 7) // 8]
        pos += (n_params + 7) // 8
        bound = payload[pos]
        pos += 1
        if bound:
            types: list[tuple[int, bool]] = []
            for _ in range(n_params):
                types.append((payload[pos], bool(payload[pos + 1] & 0x80)))
                pos += 2
            self._stmt_types[stmt_id] = types
        else:
            # new_params_bound_flag=0: reuse the types from the first
            # execute (MySQL/libmysqlclient semantics; the reference
            # does the same). Executing without ever sending types is a
            # malformed packet — fail loudly rather than mis-decode.
            cached = self._stmt_types.get(stmt_id)
            if cached is None or len(cached) != n_params:
                raise SparrowError(
                    1210,
                    "Incorrect arguments to mysqld_stmt_execute: "
                    "parameter types were never bound",
                )
            types = cached
        params: list = []
        for i in range(n_params):
            # Long-data params were streamed via COM_STMT_SEND_LONG_DATA
            # and are absent from the row body (MySQL: long data takes
            # precedence over the bitmap/body value for that param).
            ld = self._long_data.pop((stmt_id, i), None)
            if ld is not None:
                # Long data is the protocol's BLOB-streaming mechanism:
                # non-UTF-8 payloads are legitimate (images, pickles).
                # Keep them as bytes — the engine renders bytes as a
                # hex literal — instead of a strict decode that would
                # raise UnicodeDecodeError and kill the thread.
                params.append(_bytes_or_str(bytes(ld)))
                continue
            if nullmap[i // 8] & (1 << (i % 8)):
                params.append(None)
                continue
            t, unsigned = types[i] if i < len(types) else (T_VAR_STRING, False)
            if t == T_NULL:
                params.append(None)
            elif t == T_TINY:
                params.append(
                    int.from_bytes(payload[pos : pos + 1], "little", signed=not unsigned)
                )
                pos += 1
            elif t == T_SHORT:
                params.append(
                    int.from_bytes(payload[pos : pos + 2], "little", signed=not unsigned)
                )
                pos += 2
            elif t in (T_LONG, T_INT24):
                params.append(
                    int.from_bytes(payload[pos : pos + 4], "little", signed=not unsigned)
                )
                pos += 4
            elif t == T_LONGLONG:
                params.append(
                    int.from_bytes(payload[pos : pos + 8], "little", signed=not unsigned)
                )
                pos += 8
            elif t == T_FLOAT:
                params.append(struct.unpack_from("<f", payload, pos)[0])
                pos += 4
            elif t == T_DOUBLE:
                params.append(struct.unpack_from("<d", payload, pos)[0])
                pos += 8
            else:  # strings, decimals, blobs: length-encoded bytes
                ln, pos = _read_lenenc(payload, pos)
                params.append(_bytes_or_str(payload[pos : pos + ln]))
                pos += ln
        return stmt_id, params

    def _drop_long_data(self, stmt_id: int) -> None:
        for k in [k for k in self._long_data if k[0] == stmt_id]:
            del self._long_data[k]

    def _param_count(self, stmt_id: int) -> int:
        sql = self.session._stmt_cache.get(stmt_id, "")
        n, quote = 0, None
        for ch in sql:
            if quote:
                if ch == quote:
                    quote = None
            elif ch in ("'", '"'):
                quote = ch
            elif ch == "?":
                n += 1
        return n


def _text(v) -> bytes:
    if isinstance(v, bool):
        return b"1" if v else b"0"
    if isinstance(v, float):
        return repr(v).encode()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return str(v).encode()


def _binary_value(v, mysql_type: int) -> bytes:
    """Binary-protocol value for a non-NULL cell of the declared type."""
    if mysql_type == T_TINY:
        return struct.pack("<b", int(v))
    if mysql_type == T_SHORT:
        return struct.pack("<h", int(v))
    if mysql_type == T_LONG:
        return struct.pack("<i", int(v))
    if mysql_type == T_LONGLONG:
        return struct.pack("<q", int(v))
    if mysql_type == T_FLOAT:
        return struct.pack("<f", float(v))
    if mysql_type == T_DOUBLE:
        return struct.pack("<d", float(v))
    if mysql_type == T_DATE:
        return bytes([4]) + struct.pack("<HBB", v.year, v.month, v.day)
    if mysql_type == T_DATETIME:
        return bytes([11]) + struct.pack(
            "<HBBBBBI", v.year, v.month, v.day, v.hour, v.minute, v.second,
            v.microsecond,
        )
    return _lenenc_str(_text(v))


# -- columnar result-set encoding ------------------------------------------
# A column encodes to one large_binary array of cells, null where the
# value is NULL: a text row writes 0xfb there, a binary row sets the
# column's bit in its NULL bitmap and writes nothing.


def _has_arrow_type(schema: StructType) -> bool:
    try:
        to_arrow_schema(schema, error_on_duplicated_field_names_in_struct=True)
    except (PySparkTypeError, UnsupportedOperationException):
        return False
    return True


def _binary_array(data: np.ndarray, widths: np.ndarray, valid=None) -> pa.Array:
    """A large_binary array whose i-th value is the next widths[i]
    bytes of `data`; null where `valid` is False."""
    offsets = np.zeros(len(widths) + 1, np.int64)
    np.cumsum(widths, out=offsets[1:])
    validity = None if valid is None else pa.array(valid).buffers()[1]
    return pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        len(widths),
        [validity, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(data))],
    )


def _lenenc_cells(col: pa.Array) -> pa.Array:
    """Length-encoded cells of a string or binary column."""
    col = col.cast(pa.large_binary())
    length = pc.binary_length(col).fill_null(0).to_numpy().astype("<i8")
    # 1 byte below 251, else 0xfc/0xfd/0xfe and 2/3/8 bytes
    big, over16, over24 = length >= 251, length >= 1 << 16, length >= 1 << 24
    width = np.where(big, 3 + over16 + 5 * over24, 1)
    prefix = np.empty((len(col), 9), np.uint8)
    prefix[:, 0] = np.where(big, 0xFC + over16 + over24, length)
    prefix[:, 1:] = length.view(np.uint8).reshape(-1, 8)
    prefix = _binary_array(prefix[np.arange(9) < width[:, None]], width)
    return pc.binary_join_element_wise(prefix, col, _EMPTY)


def _packed_cells(col: pa.Array, dtype: str) -> pa.Array:
    """Fixed-width little-endian cells of a numeric or boolean column."""
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    zero = False if pa.types.is_boolean(col.type) else 0
    values = col.fill_null(zero).to_numpy(zero_copy_only=False).astype(dtype)
    raw = values.view(np.uint8).reshape(len(col), values.itemsize)
    return _binary_array(raw[valid], np.where(valid, values.itemsize, 0), valid)


def _value_cells(values, mysql_type: int, binary: bool) -> pa.Array:
    """Cells of Python values (collect()'s types), one value at a time."""
    if binary:
        cells = [None if v is None else _binary_value(v, mysql_type) for v in values]
    else:
        cells = [None if v is None else _lenenc_str(_text(v)) for v in values]
    return pa.array(cells, pa.large_binary())


def _python_values(col: pa.Array, dtype: DataType) -> list:
    """The values collect() returns for an Arrow column of `dtype`
    (structs as Rows, timestamps as naive local datetimes)."""
    table = pa.table([col], names=["c"])
    schema = StructType([StructField("c", dtype)])
    rows = ArrowTableToRowsConversion.convert(table, schema, return_as_tuples=True)
    return [r[0] for r in rows]


def _cells(col, dtype: DataType, mysql_type: int, binary: bool) -> pa.Array:
    if isinstance(col, list):  # collect() rows, transposed
        return _value_cells(col, mysql_type, binary)
    t = col.type
    if binary and mysql_type in _PACKED:
        return _packed_cells(col, _PACKED[mysql_type])
    if pa.types.is_boolean(t):
        return _lenenc_cells(pc.if_else(col, b"1", b"0"))
    if pa.types.is_floating(t):
        # repr, as collect()'s float: Arrow's cast prints 1.0 as "1"
        text = list(map(repr, col.fill_null(0).to_numpy(zero_copy_only=False).tolist()))
        mask = col.is_null().to_numpy(zero_copy_only=False)
        return _lenenc_cells(pa.array(text, pa.large_string(), mask=mask))
    if (
        pa.types.is_integer(t)
        or (pa.types.is_date32(t) and not binary)
        # Decimal's str turns exponential only below 1e-6
        or (pa.types.is_decimal(t) and t.scale <= 6)
    ):
        return _lenenc_cells(col.cast(pa.large_string()))
    if t in (pa.string(), pa.large_string(), pa.binary(), pa.large_binary()):
        return _lenenc_cells(col)
    return _value_cells(_python_values(col, dtype), mysql_type, binary)


def _row_payloads(cells: list, binary: bool, nrows: int) -> pa.Array:
    if binary:
        # ProtocolBinary::Resultset row: 0x00 header, NULL bitmap
        # (offset 2), then the non-NULL values (mysql_util.rs:41-130).
        nbytes = (len(cells) + 7 + 2) // 8
        head = np.zeros((nrows, 1 + nbytes), np.uint8)
        for i, c in enumerate(cells):
            null = c.is_null().to_numpy(zero_copy_only=False).astype(np.uint8)
            head[:, 1 + (i + 2) // 8] |= null << ((i + 2) % 8)
        cells = [_binary_array(head.ravel(), np.full(nrows, 1 + nbytes))] + cells
    if not cells:
        return _binary_array(np.empty(0, np.uint8), np.zeros(nrows, np.int64))
    return pc.binary_join_element_wise(
        *cells, _EMPTY, null_handling="replace",
        null_replacement=b"" if binary else b"\xfb",
    )


def _frame_rows(payloads: pa.Array, seq: int) -> tuple[bytes, int]:
    """Every row payload framed as in _frame, as one buffer."""
    n = len(payloads)
    if n == 0:
        return b"", seq
    length = pc.binary_length(payloads).to_numpy().astype("<i8")
    packets = length // MAX_PACKET + 1
    first = seq + np.cumsum(packets) - packets  # each row's first sequence id
    head = np.empty((n, 4), np.uint8)
    head[:, :3] = length.view(np.uint8).reshape(n, 8)[:, :3]
    head[:, 3] = first & 0xFF
    split = length >= MAX_PACKET
    if split.any():
        # rare (a row of 16 MiB or more): frame those rows one at a time
        # in place of their payloads, with no head of their own
        framed = [
            _frame(payloads[int(i)].as_py(), int(first[i]))[0]
            for i in np.flatnonzero(split)
        ]
        payloads = pc.replace_with_mask(
            payloads, pa.array(split), pa.array(framed, pa.large_binary())
        )
        head = head[~split]
    heads = _binary_array(head.ravel(), np.where(split, 0, 4))
    framed_rows = pc.binary_join_element_wise(heads, payloads, _EMPTY)
    offsets = np.frombuffer(framed_rows.buffers()[1], np.int64)
    start = framed_rows.offset
    return (
        framed_rows.buffers()[2][offsets[start] : offsets[start + n]],
        seq + int(packets.sum()),
    )


def _columns(data, ncols: int) -> list:
    """An Arrow table's columns as arrays, or collect()'s rows as one
    list of values per column."""
    if isinstance(data, pa.Table):
        return [c.combine_chunks() for c in data.columns]
    return [list(c) for c in zip(*data)] if data else [[] for _ in range(ncols)]


def _encode_resultset(
    schema: StructType, data, binary: bool, seq: int
) -> tuple[bytes, int]:
    """A whole result set as wire bytes (column count, column
    definitions, EOF, rows, EOF) from sequence id `seq`, and the next
    id. `data` is what _materialize fetched."""
    fields = schema.fields
    mysql_types = [
        _SPARK_TO_MYSQL.get(f.dataType.simpleString(), T_VAR_STRING) for f in fields
    ]
    head = [_lenenc_int(len(fields))]
    head += [_column_def(f.name, mt) for f, mt in zip(fields, mysql_types)]
    out = []
    for payload in head + [_EOF]:
        framed, seq = _frame(payload, seq)
        out.append(framed)
    cells = [
        _cells(col, f.dataType, mt, binary)
        for col, f, mt in zip(_columns(data, len(fields)), fields, mysql_types)
    ]
    rows, seq = _frame_rows(_row_payloads(cells, binary, len(data)), seq)
    eof, seq = _frame(_EOF, seq)
    return b"".join(out + [rows, eof]), seq


class SparrowServer:
    """Threaded TCP server: one engine, one Session per connection."""

    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        self.lock = threading.Lock()
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                # Some responses (COM_STMT_PREPARE, COM_FIELD_LIST) are
                # one sendall per packet; with Nagle on, each packet
                # after the first waits for the client's delayed ACK
                # (~40 ms per statement).
                self.request.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                conn = _Conn(self.request, outer.engine.new_session(), outer.lock)
                try:
                    conn.run()
                finally:
                    try:
                        self.request.close()
                    except OSError:
                        pass

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        self.host, self.port = self._server.server_address
        self._thread: threading.Thread | None = None

    def start(self) -> "SparrowServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def main() -> None:  # pragma: no cover - manual entrypoint
    """`python -m sparrow_spark.server [port]` — serve a warehouse on
    the MySQL protocol (reference src/main.rs:88-99)."""
    import os
    import sys

    from sparrow_spark.session import get_spark

    port = int(sys.argv[1]) if len(sys.argv) > 1 else 3307
    warehouse = os.environ.get("SPARROW_WAREHOUSE", "./spark-warehouse/sparrow")
    engine = Engine(get_spark("sparrow-server"), warehouse)
    fixture = os.environ.get("SPARROW_FIXTURE_DIR")
    if fixture:
        engine.attach_fixture(fixture)
    server = SparrowServer(engine, port=port).start()
    print(f"sparrow-spark listening on {server.host}:{server.port}")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
