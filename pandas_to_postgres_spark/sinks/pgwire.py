"""Minimal pure-Python PostgreSQL client (frontend/backend protocol v3).

This container ships Postgres **server** binaries but no client library
(no psycopg2, no libpq, no JDBC jar), and installing packages is off-limits
— so the COPY sink's integration evidence comes from this ~200-line client
speaking the published wire protocol directly
(https://www.postgresql.org/docs/current/protocol.html). It implements
exactly what `sinks/postgres_copy.py` needs, behind a psycopg2-shaped
facade (``connect() → Connection.cursor() → execute/fetchall/copy_expert``):

- startup + trust authentication (the throwaway test server is initdb'ed
  with ``-A trust``; md5/SASL are deliberately out of scope),
- the simple query protocol ('Q' → RowDescription/DataRow/CommandComplete),
- COPY FROM STDIN ('G' CopyInResponse → 'd' CopyData stream → 'c' CopyDone),
- psycopg2-style lazy transactions: ``autocommit=False`` issues BEGIN
  before the first statement and ``with conn:`` commits on clean exit /
  rolls back on exception — which is what makes the single-transaction
  TRUNCATE+COPY FREEZE path (`_base_copy.py:130-144`, comment
  `copy_hdf.py:70`) actually exercise FREEZE semantics.

Values travel in the text protocol and are returned as Python strings
(None for NULL); the sink only reads catalog strings, so no type mapping
is needed. Not a general-purpose driver — a verification instrument.
"""

from __future__ import annotations

import socket
import struct
from typing import Optional, Sequence


class PgError(Exception):
    """Server ErrorResponse, message fields flattened into the text."""


def _literal(v) -> str:
    """Render one Python value as a SQL literal (for the %s substitution
    psycopg2 call sites use; identifiers/strings get ''-doubling)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


class Cursor:
    def __init__(self, conn: "Connection"):
        self._conn = conn
        self._rows: list = []
        self.description: Optional[list] = None
        self.rowcount = -1

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def execute(self, sql: str, params: Optional[Sequence] = None) -> None:
        if params is not None:
            sql = sql % tuple(_literal(p) for p in params)
        self._conn._maybe_begin()
        cols, rows, self.rowcount = self._conn._query(sql)
        self.description = [(c,) for c in cols] if cols else None
        self._rows = rows

    def fetchall(self) -> list:
        return list(self._rows)

    def copy_expert(self, sql: str, file) -> None:
        self._conn._maybe_begin()
        self._conn._copy_in(sql, file)


class Connection:
    def __init__(
        self,
        host: str,
        port: int = 5432,
        user: str = "postgres",
        dbname: str = "postgres",
        connect_timeout: float = 10.0,
    ):
        if host.startswith("/"):
            # libpq convention: host that is a path = unix-socket directory
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            self._sock.settimeout(connect_timeout)
            self._sock.connect(f"{host}/.s.PGSQL.{port}")
        else:
            self._sock = socket.create_connection((host, port), connect_timeout)
        self._sock.settimeout(None)
        self.autocommit = False
        self._in_tx = False
        self._closed = False
        params = f"user\0{user}\0database\0{dbname}\0\0".encode()
        head = struct.pack("!II", 8 + len(params), 196608)  # protocol 3.0
        self._sock.sendall(head + params)
        while True:
            t, payload = self._recv()
            if t == b"R":
                (code,) = struct.unpack("!I", payload[:4])
                if code != 0:
                    raise PgError(
                        f"server requested auth method {code}; only trust "
                        "(AuthenticationOk) is supported"
                    )
            elif t == b"E":
                raise PgError(self._error_text(payload))
            elif t == b"Z":
                break
            # 'S' ParameterStatus / 'K' BackendKeyData / 'N' Notice: ignore

    # ------------------------------------------------------------- transport

    def _read_exact(self, n: int) -> bytes:
        chunks = []
        while n:
            b = self._sock.recv(n)
            if not b:
                raise PgError("server closed the connection")
            chunks.append(b)
            n -= len(b)
        return b"".join(chunks)

    def _recv(self) -> tuple[bytes, bytes]:
        head = self._read_exact(5)
        (ln,) = struct.unpack("!I", head[1:5])
        return head[:1], self._read_exact(ln - 4)

    def _send(self, type_byte: bytes, payload: bytes) -> None:
        self._sock.sendall(type_byte + struct.pack("!I", len(payload) + 4) + payload)

    @staticmethod
    def _error_text(payload: bytes) -> str:
        fields = {}
        for part in payload.split(b"\0"):
            if part:
                fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
        return f"{fields.get('S', 'ERROR')}: {fields.get('M', '?')} ({fields.get('C', '')})"

    # ---------------------------------------------------------------- queries

    def _query(self, sql: str) -> tuple[list, list, int]:
        """Run ``sql``; returns its columns, its rows and the row count of
        its CommandComplete tag (``INSERT 0 5`` → 5; -1 for a tag without
        one, such as ``CREATE TABLE``), as psycopg2's ``rowcount``."""
        self._send(b"Q", sql.encode() + b"\0")
        cols: list = []
        rows: list = []
        rowcount = -1
        err: Optional[str] = None
        while True:
            t, payload = self._recv()
            if t == b"T":
                cols = []
                (nf,) = struct.unpack("!H", payload[:2])
                off = 2
                for _ in range(nf):
                    end = payload.index(b"\0", off)
                    cols.append(payload[off:end].decode())
                    off = end + 1 + 18  # tableoid+attnum+typoid+typlen+typmod+fmt
            elif t == b"D":
                (nc,) = struct.unpack("!H", payload[:2])
                off = 2
                row = []
                for _ in range(nc):
                    (ln,) = struct.unpack("!i", payload[off : off + 4])
                    off += 4
                    if ln == -1:
                        row.append(None)
                    else:
                        row.append(payload[off : off + ln].decode())
                        off += ln
                rows.append(tuple(row))
            elif t == b"C":
                last = payload.rstrip(b"\0").rsplit(b" ", 1)[-1]
                rowcount = int(last) if last.isdigit() else -1
            elif t == b"E":
                err = self._error_text(payload)
            elif t == b"Z":
                self._in_tx = payload == b"T"
                break
            # 'N' Notice / 'I' Empty / 'S' Parameter: skip
        if err:
            raise PgError(f"{err} -- while running: {sql[:200]}")
        return cols, rows, rowcount

    def _copy_in(self, sql: str, file, chunk_bytes: int = 1 << 20) -> None:
        self._send(b"Q", sql.encode() + b"\0")
        t, payload = self._recv()
        while t in (b"N", b"S"):  # a Notice may precede CopyInResponse
            t, payload = self._recv()
        if t == b"E":
            # drain to ReadyForQuery, then raise
            while self._recv()[0] != b"Z":
                pass
            raise PgError(self._error_text(payload))
        if t != b"G":
            raise PgError(f"expected CopyInResponse, got {t!r}")
        while True:
            data = file.read(chunk_bytes)
            if not data:
                break
            if isinstance(data, str):
                data = data.encode()
            self._send(b"d", data)
        self._send(b"c", b"")
        err = None
        while True:
            t, payload = self._recv()
            if t == b"E":
                err = self._error_text(payload)
            elif t == b"Z":
                self._in_tx = payload == b"T"
                break
        if err:
            raise PgError(err)

    # ------------------------------------------------------------ tx facade

    def _maybe_begin(self) -> None:
        if not self.autocommit and not self._in_tx:
            self._query("BEGIN")

    def cursor(self) -> Cursor:
        return Cursor(self)

    def commit(self) -> None:
        if self._in_tx:
            self._query("COMMIT")

    def rollback(self) -> None:
        if self._in_tx:
            self._query("ROLLBACK")

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        # psycopg2 semantics: commit on clean exit, roll back on exception,
        # connection stays open either way
        if exc_type is None:
            self.commit()
        else:
            self.rollback()
        return False

    def close(self) -> None:
        if not self._closed:
            try:
                self._sock.sendall(b"X" + struct.pack("!I", 4))
            except OSError:
                pass
            self._sock.close()
            self._closed = True


def connect(
    host: str = "/tmp",
    port: int = 5432,
    user: str = "postgres",
    dbname: Optional[str] = None,
    database: Optional[str] = None,
    **_ignored,
) -> Connection:
    """psycopg2-shaped entry point (``password``/extra kwargs ignored —
    trust auth only)."""
    return Connection(
        host=host, port=int(port), user=user, dbname=dbname or database or user
    )


def server_version(conn: Connection) -> str:
    cur = conn.cursor()
    cur.execute("SHOW server_version")
    return cur.fetchall()[0][0]
