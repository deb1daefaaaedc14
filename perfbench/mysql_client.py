"""A small MySQL protocol-41 client: handshake, COM_QUERY (text result
sets) and COM_STMT_PREPARE/EXECUTE (binary result sets). Values come
back as Python values decoded from the declared column types."""

from __future__ import annotations

import datetime
import socket
import struct

T_TINY, T_SHORT, T_LONG, T_FLOAT, T_DOUBLE = 1, 2, 3, 4, 5
T_LONGLONG, T_INT24, T_DATE, T_DATETIME = 8, 9, 10, 12
INT_TYPES = {T_TINY, T_SHORT, T_LONG, T_LONGLONG, T_INT24}
FLOAT_TYPES = {T_FLOAT, T_DOUBLE}
_FIXED = {T_TINY: "<b", T_SHORT: "<h", T_LONG: "<i", T_INT24: "<i",
          T_LONGLONG: "<q", T_FLOAT: "<f", T_DOUBLE: "<d"}


class ServerError(Exception):
    pass


def _lenenc(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1:pos + 4], "little"), pos + 4
    return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9


def _lenenc_bytes(b: bytes) -> bytes:
    n = len(b)
    if n < 251:
        head = bytes([n])
    elif n < 1 << 16:
        head = b"\xfc" + struct.pack("<H", n)
    else:
        head = b"\xfd" + n.to_bytes(3, "little")
    return head + b


def _text_value(raw: bytes, mtype: int):
    s = raw.decode()
    if mtype in INT_TYPES:
        return int(s)
    if mtype in FLOAT_TYPES:
        return float(s)
    return s


def _temporal(buf: bytes, pos: int, mtype: int):
    n = buf[pos]
    f = buf[pos + 1:pos + 1 + n]
    y, mo, d = struct.unpack_from("<HBB", f, 0) if n >= 4 else (0, 0, 0)
    if mtype == T_DATE:
        return datetime.date(y, mo, d), pos + 1 + n
    h, mi, s = struct.unpack_from("<BBB", f, 4) if n >= 7 else (0, 0, 0)
    us = struct.unpack_from("<I", f, 7)[0] if n >= 11 else 0
    return datetime.datetime(y, mo, d, h, mi, s, us), pos + 1 + n


class Client:
    def __init__(self, host: str, port: int, timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.seq = 0
        self.bytes_in = 0
        self._handshake()

    def close(self) -> None:
        try:
            self._command(b"\x01")
        except OSError:
            pass
        self.sock.close()

    # -- framing ----------------------------------------------------------
    def _recv(self, n: int) -> bytes:
        chunks, got = [], 0
        while got < n:
            c = self.sock.recv(n - got)
            if not c:
                raise ServerError("server closed the connection")
            chunks.append(c)
            got += len(c)
        return b"".join(chunks)

    def _read(self) -> bytes:
        head = self._recv(4)
        n = int.from_bytes(head[:3], "little")
        self.seq = head[3] + 1
        self.bytes_in += 4 + n
        return self._recv(n) if n else b""

    def _write(self, payload: bytes) -> None:
        self.sock.sendall(len(payload).to_bytes(3, "little")
                          + bytes([self.seq & 0xFF]) + payload)
        self.seq += 1

    def _command(self, payload: bytes) -> None:
        self.seq = 0
        self._write(payload)

    def _handshake(self) -> None:
        greeting = self._read()
        if greeting[0] != 10:
            raise ServerError("not a protocol-10 server")
        caps = 0x0200 | 0x8000  # PROTOCOL_41 | SECURE_CONNECTION
        self._write(struct.pack("<II", caps, 1 << 24) + bytes([33])
                    + b"\x00" * 23 + b"bench\x00" + b"\x00")
        self._ok_or_raise(self._read())

    # -- responses ----------------------------------------------------------
    @staticmethod
    def _ok_or_raise(pkt: bytes) -> int:
        if pkt[0] == 0xFF:
            code = struct.unpack_from("<H", pkt, 1)[0]
            raise ServerError(f"{code}: {pkt[9:].decode(errors='replace')}")
        return _lenenc(pkt, 1)[0] if pkt[0] == 0x00 else 0

    def _columns(self, pkt: bytes) -> tuple[list[str], list[int]]:
        ncols = _lenenc(pkt, 0)[0]
        names, types = [], []
        for _ in range(ncols):
            c = self._read()
            pos = 0
            for _ in range(4):  # catalog, schema, table, org_table
                n, pos = _lenenc(c, pos)
                pos += n
            n, pos = _lenenc(c, pos)
            names.append(c[pos:pos + n].decode())
            pos += n
            n, pos = _lenenc(c, pos)  # org_name
            pos += n + 1 + 2 + 4  # 0x0c marker, charset, display length
            types.append(c[pos])
        self._read()  # EOF after the column definitions
        return names, types

    def _result(self, binary: bool):
        """('ok', affected) or (columns, rows)."""
        pkt = self._read()
        if pkt[0] in (0x00, 0xFF):
            return "ok", self._ok_or_raise(pkt)
        names, types = self._columns(pkt)
        rows = []
        while True:
            pkt = self._read()
            if pkt[0] == 0xFE and len(pkt) < 9:
                return names, rows
            rows.append(self._binary_row(pkt, types) if binary
                        else self._text_row(pkt, types))

    @staticmethod
    def _text_row(pkt: bytes, types: list[int]) -> tuple:
        vals, pos = [], 0
        for t in types:
            if pkt[pos] == 0xFB:
                vals.append(None)
                pos += 1
            else:
                n, pos = _lenenc(pkt, pos)
                vals.append(_text_value(pkt[pos:pos + n], t))
                pos += n
        return tuple(vals)

    @staticmethod
    def _binary_row(pkt: bytes, types: list[int]) -> tuple:
        nb = (len(types) + 7 + 2) // 8
        bitmap, pos, vals = pkt[1:1 + nb], 1 + nb, []
        for i, t in enumerate(types):
            if bitmap[(i + 2) // 8] & (1 << ((i + 2) % 8)):
                vals.append(None)
            elif t in _FIXED:
                vals.append(struct.unpack_from(_FIXED[t], pkt, pos)[0])
                pos += struct.calcsize(_FIXED[t])
            elif t in (T_DATE, T_DATETIME):
                v, pos = _temporal(pkt, pos, t)
                vals.append(v)
            else:
                n, pos = _lenenc(pkt, pos)
                vals.append(pkt[pos:pos + n].decode())
                pos += n
        return tuple(vals)

    # -- commands -----------------------------------------------------------
    def query(self, sql: str):
        self._command(b"\x03" + sql.encode())
        return self._result(binary=False)

    def prepare(self, sql: str) -> tuple[int, int]:
        self._command(b"\x16" + sql.encode())
        pkt = self._read()
        self._ok_or_raise(pkt)
        stmt_id = struct.unpack_from("<I", pkt, 1)[0]
        n_params = struct.unpack_from("<H", pkt, 7)[0]
        for _ in range(n_params):
            self._read()
        if n_params:
            self._read()  # EOF
        return stmt_id, n_params

    def execute(self, stmt_id: int, params: list):
        nullmap = bytearray((len(params) + 7) // 8)
        types, body = b"", b""
        for i, p in enumerate(params):
            if p is None:
                nullmap[i // 8] |= 1 << (i % 8)
                types += bytes([6, 0])
            elif isinstance(p, int):
                types += bytes([T_LONGLONG, 0])
                body += struct.pack("<q", p)
            elif isinstance(p, float):
                types += bytes([T_DOUBLE, 0])
                body += struct.pack("<d", p)
            else:
                types += bytes([253, 0])
                body += _lenenc_bytes(str(p).encode())
        payload = b"\x17" + struct.pack("<IBI", stmt_id, 0, 1)
        if params:
            payload += bytes(nullmap) + b"\x01" + types + body
        self._command(payload)
        return self._result(binary=True)
