"""Minimal clean-room ClickHouse client over the public HTTP interface.

The reference's ``clickhouse_scan`` ships SQL over the native TCP
protocol via the clickhouse-rs crate (/root/reference/src/
clickhouse_scan.rs:47-265). We use the equally-public HTTP interface
(default port 8123) and ask the server for ``FORMAT Native`` — so the
response is parsed by the same codec as our file reader, typed
end-to-end. This deliberately avoids the reference's
stringify-then-reparse path (clickhouse_scan.rs:134-157,212-240).
The other HTTP wire formats go through the two generic methods
``execute_format`` / ``insert_format``, which look the format up in
the ``native.wireformats`` table.

Connection resolution mirrors the reference (clickhouse_scan.rs:55-71):
explicit option > ``CLICKHOUSE_URL`` / ``CLICKHOUSE_USER`` /
``CLICKHOUSE_PASSWORD`` env vars > default localhost. ``tcp://`` and
``clickhouse://`` URLs (the reference's scheme) select the native TCP
transport (``tcp_client.py``, port 9000 / TLS 9440); ``http(s)://``
selects this HTTP client. Both speak Native blocks end-to-end.
"""

from __future__ import annotations

import io
import os
import urllib.parse
import urllib.request
from dataclasses import dataclass
from typing import BinaryIO, Optional

from ..native.wireformats import load, lookup

DEFAULT_URL = "http://localhost:8123"


@dataclass
class ConnectionInfo:
    base_url: str
    user: Optional[str] = None
    password: Optional[str] = None
    database: Optional[str] = None
    transport: str = "http"  # "http" | "tcp"
    host: str = "localhost"
    port: int = 8123
    secure: bool = False
    verify: bool = True
    compression: bool | str = False  # False | "lz4" | "zstd"


def resolve_connection(options: dict) -> ConnectionInfo:
    url = options.get("url")
    if not url and options.get("cluster"):
        # cluster reads probe schema/plan against the FIRST shard; the
        # per-partition reader overrides url shard by shard
        url = str(options["cluster"]).split(",")[0].strip()
    url = url or os.environ.get("CLICKHOUSE_URL") or DEFAULT_URL
    database = options.get("database")

    if "://" not in url:
        # scheme-less 'host:port' would otherwise parse as scheme='host'
        # with an empty hostname and silently fall back to localhost
        url = "http://" + url
    parsed = urllib.parse.urlsplit(url)
    scheme = parsed.scheme or "http"
    host = parsed.hostname or "localhost"
    port = parsed.port
    qs = dict(urllib.parse.parse_qsl(parsed.query))
    secure = qs.get("secure", "false").lower() == "true" or port == 9440
    # per-field precedence: explicit option > URL-embedded > env — env
    # must never override credentials the user wrote into the URL
    user = (
        options.get("user") or parsed.username or os.environ.get("CLICKHOUSE_USER")
    )
    password = (
        options.get("password")
        or parsed.password
        or os.environ.get("CLICKHOUSE_PASSWORD")
    )
    # two accepted spellings: verify=false (this repo's) and
    # skip_verify=true (the reference's documented URL — README.md:22
    # `tcp://...:9440/?secure=true&skip_verify=true`); a user pasting
    # the reference's own URL must get CERT_NONE, not silent verify-on
    skip_raw = str(
        options.get("skip_verify", qs.get("skip_verify", "false"))
    ).lower() in ("true", "1")
    verify = (
        str(options.get("verify", qs.get("verify", "true"))).lower() != "false"
    ) and not skip_raw
    # "true" -> LZ4 (the reference's clickhouse-rs default); "lz4" /
    # "zstd" pick the frame codec for client-sent packets — received
    # frames always dispatch on their per-frame method byte
    comp_raw = str(
        options.get("compression", qs.get("compression", "false"))
    ).lower()
    compression = (
        "lz4" if comp_raw == "true" else comp_raw
        if comp_raw in ("lz4", "zstd") else False
    )

    if scheme in ("tcp", "clickhouse"):
        # the reference's native-protocol scheme (clickhouse_scan.rs:73-78):
        # honored as a real TCP connection, TLS on 9440 (README.md:22)
        if port is None:
            port = 9440 if secure else 9000
        return ConnectionInfo(
            base_url=f"tcp://{host}:{port}",
            user=user,
            password=password,
            database=database,
            transport="tcp",
            host=host,
            port=port,
            secure=secure,
            verify=verify,
            compression=compression,
        )
    if scheme == "https":
        secure = True
    if port is None:
        port = 8443 if scheme == "https" else 8123
    return ConnectionInfo(
        base_url=f"{scheme}://{host}:{port}",
        user=user,
        password=password,
        database=database,
        transport="http",
        host=host,
        port=port,
        secure=secure,
        verify=verify,
        compression=compression,
    )


class ClickHouseHTTPClient:
    def __init__(self, conn: ConnectionInfo, timeout: float = 300.0):
        self.conn = conn
        self.timeout = timeout

    def _request(self, query: str, body: Optional[bytes] = None) -> BinaryIO:
        params: dict[str, str] = {}
        if self.conn.database:
            params["database"] = self.conn.database
        if body is not None:
            params["query"] = query
        url = self.conn.base_url + "/"
        if params:
            url += "?" + urllib.parse.urlencode(params)
        data = body if body is not None else query.encode("utf-8")
        req = urllib.request.Request(url, data=data, method="POST")
        if self.conn.user:
            req.add_header("X-ClickHouse-User", self.conn.user)
        if self.conn.password:
            req.add_header("X-ClickHouse-Key", self.conn.password)
        return urllib.request.urlopen(req, timeout=self.timeout)

    def _with_format(self, query: str, fmt: str) -> str:
        import re

        q = query.rstrip().rstrip(";").rstrip()
        # only a trailing "FORMAT <name>" clause counts — a substring
        # match would false-positive on formatDateTime(...), a column
        # named "format", etc., and the server would answer TabSeparated
        if not re.search(r"\bFORMAT\s+\w+$", q, re.IGNORECASE):
            q = f"{q} FORMAT {fmt}"
        return q

    def execute_format(
        self, query: str, wire_format: str, names_types=None, *,
        lossy_uint64: bool = False,
    ):
        """Run a SELECT in ``wire_format`` (a ``native.wireformats``
        name); returns that format's block iterator. Formats whose
        stream lacks names or types take ``names_types`` from the
        caller's planning probe."""
        fmt = lookup(wire_format)
        stream = self._request(self._with_format(query, fmt.clause))
        read = load(fmt.reader)
        if fmt.needs_schema:
            return read(stream, names_types, lossy_uint64=lossy_uint64)
        return read(stream, lossy_uint64=lossy_uint64)

    def insert_format(
        self, table: str, wire_format: str, batches, ch_types=None
    ) -> int:
        """INSERT ``batches`` as one ``wire_format`` body; returns the
        rows written."""
        fmt = lookup(wire_format)
        buf = io.BytesIO()
        rows = load(fmt.writer)(buf, batches, ch_types=ch_types)
        self._request(
            f"INSERT INTO {table} FORMAT {fmt.clause}", body=buf.getvalue()
        ).read()
        return rows

    def ping(self) -> bool:
        try:
            req = urllib.request.Request(self.conn.base_url + "/ping")
            with urllib.request.urlopen(req, timeout=5.0) as r:
                return r.read().strip() == b"Ok."
        except Exception:
            return False

    # -- transport-neutral interface (shared with ClickHouseTCPClient) ------

    def close(self) -> None:
        """No persistent connection — urllib opens one per request."""

    def execute_blocks(self, query: str, *, lossy_uint64: bool = False):
        return self.execute_format(query, "native", lossy_uint64=lossy_uint64)

    def probe_schema(self, query: str):
        """(name, CHType) pairs from a zero-row execution of ``query``."""
        from ..native.codec import read_block

        stream = self._request(self._with_format(query, lookup("native").clause))
        blk = read_block(io.BytesIO(stream.read()), columns=set())
        return [] if blk is None else blk.header

    def insert_batches(self, table: str, batches, ch_types=None) -> int:
        # without ch_types, the Native writer types every block from the
        # first batch's Arrow schema
        return self.insert_format(table, "native", batches, ch_types)


def probe_schema_pairs(options: dict, query: str):
    """Schema probe with the subquery-wrapper fallback (servers that
    reject it — e.g. non-SELECT statements — get the query itself, as
    the reference runs unconditionally, clickhouse_scan.rs:78). Each
    attempt uses a FRESH, deterministically-closed client: after a
    failure mid-stream a TCP connection may be desynchronized, so
    reconnecting is the only safe retry. Transient transport failures
    (connect reset, timeout) get bounded jittered reconnects before
    falling through — the probe runs once per query at plan time, so
    a dropped SYN must not fail the whole plan."""
    from .retry import RETRYABLE_EXC, RetryPolicy

    policy = RetryPolicy.from_options(options)

    def _attempt(q: str, reraise_transport: bool):
        for delay in policy.backoffs():
            client = make_client(resolve_connection(options))
            try:
                return client.probe_schema(q)
            except RETRYABLE_EXC:
                if delay is None:
                    if reraise_transport:
                        raise
                    return None
                policy.sleep(delay)
            finally:
                client.close()

    out = None
    try:
        out = _attempt(schema_probe_query(query), reraise_transport=False)
    except Exception:
        out = None
    if out is not None:
        return out
    # wrapper rejected (e.g. non-SELECT) — run the query itself, as the
    # reference does unconditionally (clickhouse_scan.rs:78)
    result = _attempt(query, reraise_transport=True)
    if result is None:
        raise ConnectionError("schema probe failed after retries")
    return result


def make_client(conn: ConnectionInfo, timeout: float = 300.0):
    """Transport factory: ``tcp://`` / ``clickhouse://`` URLs get the
    native TCP client (the reference's transport), ``http(s)://`` the
    HTTP client. Both expose execute_blocks / probe_schema /
    insert_batches over the same Native codec."""
    if conn.transport == "tcp":
        from .tcp_client import ClickHouseTCPClient

        return ClickHouseTCPClient(
            conn.host,
            conn.port,
            database=conn.database or "default",
            user=conn.user or "default",
            password=conn.password or "",
            secure=conn.secure,
            verify=conn.verify,
            compression=conn.compression,
            timeout=timeout,
        )
    return ClickHouseHTTPClient(conn, timeout=timeout)


def schema_probe_query(query: str) -> str:
    """Zero-row schema probe — fixes the reference's execute-twice
    lifecycle (clickhouse_scan.rs:78 + :131)."""
    q = query.rstrip().rstrip(";")
    return f"SELECT * FROM ({q}) AS __schema_probe WHERE 0 = 1"
