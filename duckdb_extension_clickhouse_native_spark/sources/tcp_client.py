"""ClickHouse native TCP client (port 9000, TLS on 9440).

Transport parity with the reference, which connects over the native
protocol via clickhouse-rs (/root/reference/src/clickhouse_scan.rs:73-78)
and supports TLS per /root/reference/README.md:22. ``tcp://`` URLs are
now honored as real native-protocol connections instead of being
remapped to the HTTP ports.

The payload format on this transport is the same Native block codec
the file source uses (``native/codec.py``) — the TCP layer only adds
the handshake, packet framing and BlockInfo envelope
(``tcp_protocol.py``). Optional LZ4 frame compression reuses
``native/compress.py``.
"""

from __future__ import annotations

import socket
import ssl
import uuid
from typing import BinaryIO, Iterator, List, Optional

from ..native.codec import Block
from ..native.compress import PushbackReader
from ..native.types import CHType
from . import tcp_protocol as proto


class ClickHouseTCPClient:
    """One connection, sequential queries (matching the reference's
    one-stream-per-scan model; Spark-side parallelism comes from one
    client per input partition, see scan_datasource)."""

    def __init__(
        self,
        host: str,
        port: int = 9000,
        *,
        database: str = "default",
        user: str = "default",
        password: str = "",
        secure: bool = False,
        verify: bool = True,
        compression: bool | str = False,
        timeout: float = 300.0,
    ):
        self.host = host
        self.port = port
        self.database = database or "default"
        self.user = user or "default"
        self.password = password or ""
        self.secure = secure
        self.verify = verify
        # the protocol flag is boolean; the CODEC is per-frame.
        # compression may be True/"true" (-> LZ4, the reference's
        # clickhouse-rs default), "lz4", or "zstd" — the method only
        # affects frames WE send; received frames dispatch on their
        # method byte regardless
        self.compression = (
            proto.COMPRESSION_ENABLED if compression else proto.COMPRESSION_DISABLED
        )
        self.compression_method = (
            compression if compression in ("lz4", "zstd") else "lz4"
        )
        self.timeout = timeout
        self._sock: Optional[socket.socket] = None
        self._rfile = None
        self._wfile = None
        self.server_hello: Optional[proto.ServerHello] = None

    # -- connection lifecycle ------------------------------------------------

    def connect(self) -> "ClickHouseTCPClient":
        if self._sock is not None:
            return self
        sock = socket.create_connection((self.host, self.port), timeout=self.timeout)
        if self.secure:
            ctx = ssl.create_default_context()
            if not self.verify:
                ctx.check_hostname = False
                ctx.verify_mode = ssl.CERT_NONE
            sock = ctx.wrap_socket(sock, server_hostname=self.host)
        self._sock = sock
        self._rfile = sock.makefile("rb")
        self._wfile = sock.makefile("wb")
        proto.write_client_hello(self._wfile, self.database, self.user, self.password)
        self._wfile.flush()
        self.server_hello = proto.read_server_hello(self._rfile)
        return self

    @property
    def revision(self) -> int:
        if self.server_hello is None:
            raise RuntimeError("not connected")
        return self.server_hello.negotiated_revision

    def close(self) -> None:
        for f in (self._rfile, self._wfile):
            try:
                if f is not None:
                    f.close()
            except Exception:
                pass
        if self._sock is not None:
            try:
                self._sock.close()
            except Exception:
                pass
        self._sock = self._rfile = self._wfile = None
        self.server_hello = None

    def __enter__(self) -> "ClickHouseTCPClient":
        return self.connect()

    def __exit__(self, *exc) -> None:
        self.close()

    # -- queries --------------------------------------------------------------

    def ping(self) -> bool:
        try:
            self.connect()
            proto.write_varuint(self._wfile, proto.CLIENT_PING)
            self._wfile.flush()
            code = proto.read_varuint(self._rfile)
            return code == proto.SERVER_PONG
        except Exception:
            return False

    def _send_query(self, query: str) -> None:
        self.connect()
        proto.write_query_packet(
            self._wfile,
            self.revision,
            query,
            user=self.user,
            query_id=uuid.uuid4().hex,
            compression=self.compression,
        )
        # end of external-table data: one empty client Data block
        proto.write_data_packet(
            self._wfile, None, None, self.revision,
            compression=self.compression, method=self.compression_method,
        )
        self._wfile.flush()

    def _data_packets(self) -> Iterator[BinaryIO]:
        """The single server-packet state machine: yields the response
        stream once per SERVER_DATA packet, positioned at its payload
        (caller consumes it before advancing), silently consuming
        Totals/Extremes/Log/Progress/ProfileInfo/TableColumns, raising
        on Exception, returning on EndOfStream. Every query flow
        (execute, probe, insert) drives this one pump, so a protocol
        addition lands in exactly one place.

        One response is read through one ``PushbackReader``, so plain
        (uncompressed) String columns take the codec's chunk scan. The
        server sends nothing after a response until the client's next
        request, so no byte that reader buffers outlives it."""
        rf = PushbackReader(self._rfile)
        while True:
            code = proto.read_varuint(rf)
            if code == proto.SERVER_DATA:
                yield rf
            elif code in (proto.SERVER_TOTALS, proto.SERVER_EXTREMES):
                proto.read_data_packet(
                    rf, self.revision, compression=self.compression
                )
            elif code == proto.SERVER_LOG:
                # server logs are never compressed
                proto.read_data_packet(rf, self.revision)
            elif code == proto.SERVER_PROGRESS:
                proto.read_progress(rf, self.revision)
            elif code == proto.SERVER_PROFILE_INFO:
                proto.read_profile_info(rf)
            elif code == proto.SERVER_TABLE_COLUMNS:
                proto.read_str(rf)
                proto.read_str(rf)
            elif code == proto.SERVER_EXCEPTION:
                raise proto.read_exception(rf)
            elif code == proto.SERVER_END_OF_STREAM:
                return
            else:
                raise ValueError(f"unexpected server packet type {code}")

    def execute_blocks(
        self, query: str, *, lossy_uint64: bool = False
    ) -> Iterator[Block]:
        """Run a SELECT; yield non-empty result Blocks until the server's
        EndOfStream. Progress/ProfileInfo/Log/Totals/Extremes packets are
        consumed and discarded."""
        self._send_query(query)
        for rf in self._data_packets():
            blk = proto.read_data_packet(
                rf,
                self.revision,
                compression=self.compression,
                lossy_uint64=lossy_uint64,
            )
            if blk is not None and blk.n_rows > 0:
                yield blk

    def probe_schema(self, query: str) -> list[tuple[str, CHType]]:
        """Schema from the server's leading header block (0 rows) —
        the TCP twin of the HTTP zero-row probe."""
        self._send_query(query)
        schema: list[tuple[str, CHType]] = []
        for rf in self._data_packets():
            blk = proto.read_data_packet(
                rf, self.revision, compression=self.compression, columns=set()
            )
            if blk is not None and not schema:
                schema = blk.header
        return schema

    def insert_batches(self, table: str, batches, ch_types: Optional[List[CHType]] = None) -> int:
        """INSERT over the native protocol: the server answers the
        insert query with its table-structure header block, then the
        client streams data blocks and a terminating empty block."""
        from ..native.types import from_arrow

        self._send_query(f"INSERT INTO {table} VALUES")
        # wait for the server's structure block (or an exception)
        structure_seen = False
        for rf in self._data_packets():
            proto.read_data_packet(rf, self.revision, compression=self.compression)
            structure_seen = True
            break
        if not structure_seen:
            raise ValueError("server closed the stream before the INSERT structure block")
        rows = 0
        types = ch_types
        for batch in batches:
            if types is None:  # derive once, from the first batch
                types = [from_arrow(f.type) for f in batch.schema]
            proto.write_data_packet(
                self._wfile,
                batch,
                types,
                self.revision,
                compression=self.compression,
                method=self.compression_method,
            )
            rows += batch.num_rows
        proto.write_data_packet(
            self._wfile, None, None, self.revision,
            compression=self.compression, method=self.compression_method,
        )
        self._wfile.flush()
        for _ in self._data_packets():
            raise ValueError("unexpected data packet after INSERT data")
        return rows


# -- connection pool ---------------------------------------------------------
#
# The reference keeps a clickhouse-rs Pool per scan
# (/root/reference/src/clickhouse_scan.rs:76-77). The Spark analogue: a
# Python DataSource worker process reads its partitions sequentially,
# so a per-process pool keyed by connection parameters lets partition
# N+1 reuse partition N's already-handshaken socket instead of paying a
# fresh TCP+TLS+Hello round trip per partition (thousands of cold
# connects at 100 TB fan-out). Only connections that finished their
# query cleanly are returned to the pool; anything that errored is
# closed (a desynchronized native-protocol stream is unrecoverable).

_POOL: dict[tuple, list["ClickHouseTCPClient"]] = {}
_POOL_MAX_PER_KEY = 4
# DataSource workers are single-threaded processes, but a threaded
# driver (or tests) may hit the pool concurrently — guard the buckets
_POOL_LOCK = __import__("threading").Lock()


def _pool_key(c: "ClickHouseTCPClient") -> tuple:
    return (
        c.host, c.port, c.database, c.user, c.secure,
        c.compression, c.compression_method,
    )


def acquire_pooled(make: "callable") -> "ClickHouseTCPClient":
    """Take an idle pooled connection matching ``make()``'s parameters,
    or a freshly built (unconnected) client. ``make`` must return a
    ClickHouseTCPClient."""
    fresh = make()
    with _POOL_LOCK:
        bucket = _POOL.get(_pool_key(fresh))
        if bucket:
            return bucket.pop()
    return fresh


def release_pooled(client: "ClickHouseTCPClient", *, healthy: bool) -> None:
    """Return a connection to the pool (healthy end-of-query) or close
    it (any error / pool full)."""
    if not healthy or client._sock is None:
        client.close()
        return
    with _POOL_LOCK:
        bucket = _POOL.setdefault(_pool_key(client), [])
        if len(bucket) < _POOL_MAX_PER_KEY:
            bucket.append(client)
            return
    client.close()


def clear_pool() -> None:
    with _POOL_LOCK:
        buckets = list(_POOL.values())
        _POOL.clear()
    for bucket in buckets:
        while bucket:
            bucket.pop().close()
