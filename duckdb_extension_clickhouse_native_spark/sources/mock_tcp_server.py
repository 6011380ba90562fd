"""In-process mock ClickHouse server speaking the native TCP protocol,
backed by DuckDB over the driver's parquet tables — the TCP twin of
``mock_server.py`` (HTTP).

Purpose: exercise the ``clickhouse_scan`` source over the transport
the reference actually uses (/root/reference/src/clickhouse_scan.rs:73-78)
inside the driver's correctness gate, with no live ClickHouse.
Implements the server side of the protocol slice in
``tcp_protocol.py``: Hello handshake, Query -> header block + data
blocks + EndOfStream, INSERT -> structure block + client blocks,
Ping -> Pong, errors -> Exception packets. Honors the client's
requested compression (LZ4 frames with CityHash128 checksums).
"""

from __future__ import annotations

import io
import socketserver
import struct
import threading

from ..native.compress import CHECKSUM_SIZE, HEADER_SIZE
from ..native.types import from_arrow
from . import tcp_protocol as proto

_SERVERS: dict[tuple, tuple[str, int]] = {}
_LOCK = threading.Lock()

SERVER_REVISION = proto.CLIENT_REVISION  # negotiate the documented slice

from ..plans.base import TABLES  # noqa: E402


def _empty_batch(schema):
    """A 0-row RecordBatch with the given schema (``Table.to_batches``
    on an empty table can return no batches at all)."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([], type=f.type) for f in schema], schema=schema
    )


def build_tcp_handler(
    con, insert_hook=None, execute_inserts=True, codec="lz4", interleave=False,
    query_hook=None, server_revision=None, fail_after_blocks=None,
    corrupt_frame=None,
):
    """Handler factory over a DuckDB connection (mirrors
    ``mock_server.build_handler``). ``codec`` picks the frame method
    for compressed SERVER packets (lz4 | zstd) — real servers choose
    their own codec per network_compression_method, the client must
    decode either.  ``interleave`` makes the SELECT path emit the
    auxiliary packets a real server sends mid-stream — Totals (7),
    Extremes (8), Log (10, never compressed), TableColumns (11),
    Progress — between and around data blocks, so the client's packet
    pump is exercised on every dispatch arm, not just Data/Progress.

    ``server_revision`` overrides the advertised revision (default
    SERVER_REVISION = 54429) — pass an older value (e.g. 54058) to
    drive the client's downgrade gates, or a newer one (e.g. 54454) to
    prove the negotiated min() caps the wire at the client's slice.
    ``fail_after_blocks=N`` makes the SELECT path throw a mid-stream
    server Exception packet after N data blocks — the
    partial-data-then-error shape a real server produces on
    MEMORY_LIMIT_EXCEEDED. ``corrupt_frame=N`` flips one payload byte
    of the N-th (1-based) compressed frame the server sends in each
    response and keeps its stored CityHash128 — a frame damaged on
    the wire."""
    qlock = threading.Lock()
    srv_revision = SERVER_REVISION if server_revision is None else server_revision

    class Handler(socketserver.StreamRequestHandler):
        def handle(self):  # noqa: C901 — the protocol state machine
            try:
                code = proto.read_varuint(self.rfile)
                if code != proto.CLIENT_HELLO:
                    return
                _name, client_rev, _db, _user, _pw = proto.read_client_hello(self.rfile)
                revision = min(client_rev, srv_revision)
                proto.write_server_hello(self.wfile, srv_revision)
                self.wfile.flush()
                while True:
                    try:
                        code = proto.read_varuint(self.rfile)
                    except EOFError:
                        return
                    if code == proto.CLIENT_PING:
                        proto.write_varuint(self.wfile, proto.SERVER_PONG)
                        self.wfile.flush()
                    elif code == proto.CLIENT_QUERY:
                        self._handle_query(revision)
                    elif code == proto.CLIENT_CANCEL:
                        continue
                    else:
                        return
            except Exception:
                return  # connection-level failure: drop, client reconnects

        def _read_client_blocks(self, revision: int, compression: int):
            """Drain client Data packets until the empty terminator."""
            batches = []
            while True:
                code = proto.read_varuint(self.rfile)
                if code != proto.CLIENT_DATA:
                    raise ValueError(f"expected client Data, got {code}")
                blk = proto.read_data_packet(
                    self.rfile, revision, compression=compression
                )
                if blk is None:
                    return batches
                if blk.n_rows:
                    batches.append(blk.to_record_batch())

        def _send(self, batch, ch_types, revision, compression, packet_type):
            """Write one server Data/Totals/Extremes packet."""
            damage = (
                corrupt_frame is not None
                and compression == proto.COMPRESSION_ENABLED
            )
            out = io.BytesIO() if damage else self.wfile
            proto.write_data_packet(
                out, batch, ch_types, revision,
                compression=compression, method=codec, packet_type=packet_type,
            )
            if not damage:
                return
            packet = bytearray(out.getvalue())
            # frames follow the packet type (one varint byte) and, from
            # REV_TEMPORARY_TABLES on, the empty table name (one byte)
            pos = 1 + (revision >= proto.REV_TEMPORARY_TABLES)
            while pos < len(packet):
                self._frames_sent += 1
                if self._frames_sent == corrupt_frame:
                    packet[pos + CHECKSUM_SIZE + HEADER_SIZE] ^= 0xFF
                size_at = pos + CHECKSUM_SIZE + 1  # after the method byte
                pos += CHECKSUM_SIZE + struct.unpack_from("<I", packet, size_at)[0]
            self.wfile.write(packet)

        def _handle_query(self, revision: int) -> None:
            self._frames_sent = 0  # corrupt_frame counts per response
            try:
                _qid, query, compression = proto.read_query_packet(self.rfile, revision)
            except Exception as e:
                proto.write_exception(self.wfile, 1002, "ProtocolError", str(e))
                self.wfile.flush()
                return
            q = query.strip().rstrip(";").strip()
            if query_hook is not None:
                query_hook(q)
            try:
                if q.upper().startswith("INSERT"):
                    table = q.split()[2].split("(")[0]
                    # end-of-external-tables block from the query packet
                    self._read_client_blocks(revision, compression)
                    # answer with the destination structure (header block)
                    with qlock:
                        probe = con.execute(
                            f"SELECT * FROM {table} WHERE 1=0"
                        ).fetch_arrow_table()
                    self._send(
                        _empty_batch(probe.schema),
                        [from_arrow(f.type) for f in probe.schema],
                        revision,
                        compression,
                        proto.SERVER_DATA,
                    )
                    self.wfile.flush()
                    batches = self._read_client_blocks(revision, compression)
                    n = 0
                    import pyarrow as pa

                    with qlock:
                        for rb in batches:
                            n += rb.num_rows
                            if execute_inserts:
                                rb = pa.Table.from_batches([rb])
                                con.register("_tcp_ins", rb)
                                con.execute(
                                    f"INSERT INTO {table} SELECT * FROM _tcp_ins"
                                )
                                con.unregister("_tcp_ins")
                    if insert_hook is not None:
                        insert_hook(table, batches)
                    proto.write_varuint(self.wfile, proto.SERVER_END_OF_STREAM)
                    self.wfile.flush()
                    return
                # SELECT path: drain the end-of-external-tables block first
                self._read_client_blocks(revision, compression)
                if q.endswith("FORMAT Native"):
                    q = q[: -len("FORMAT Native")].rstrip()
                with qlock:
                    tbl = con.execute(q).fetch_arrow_table()
                ch_types = [from_arrow(f.type) for f in tbl.schema]
                # leading header block: schema, zero rows (real-server shape)
                self._send(
                    _empty_batch(tbl.schema) if tbl.schema.names else None,
                    ch_types if tbl.schema.names else None,
                    revision,
                    compression,
                    proto.SERVER_DATA,
                )
                def aux_packets():
                    """The mid-stream packets a real server interleaves."""
                    import pyarrow as pa

                    # Log: a text block, NEVER compressed even when the
                    # connection negotiated compression (matches the
                    # client's dispatch, which reads it plain)
                    log_rb = pa.RecordBatch.from_arrays(
                        [pa.array(["mock log line"])], names=["text"]
                    )
                    proto.write_data_packet(
                        self.wfile,
                        log_rb,
                        [from_arrow(f.type) for f in log_rb.schema],
                        revision,
                        compression=proto.COMPRESSION_DISABLED,
                        packet_type=proto.SERVER_LOG,
                    )
                    # TableColumns: two strings (name, columns dump)
                    proto.write_varuint(self.wfile, proto.SERVER_TABLE_COLUMNS)
                    proto.write_str(self.wfile, "")
                    proto.write_str(self.wfile, "columns format version: 1\n")
                    # Totals: 1-row block, Extremes: 2-row block — both
                    # carried with the connection's compression setting
                    if tbl.num_rows and tbl.schema.names:
                        one = tbl.slice(0, 1).to_batches()[0]
                        self._send(
                            one, ch_types, revision, compression, proto.SERVER_TOTALS
                        )
                        two = tbl.slice(0, min(2, tbl.num_rows)).to_batches()[0]
                        self._send(
                            two, ch_types, revision, compression, proto.SERVER_EXTREMES
                        )
                    proto.write_progress(self.wfile, revision, 0, 0)

                total = 0
                n_blocks = 0
                if interleave:
                    aux_packets()  # before the first data block
                for rb in tbl.to_batches(max_chunksize=65_409):
                    if rb.num_rows == 0:
                        continue
                    if (
                        fail_after_blocks is not None
                        and n_blocks >= fail_after_blocks
                    ):
                        # mid-stream server failure AFTER partial data:
                        # exception packet, no EndOfStream — the client
                        # must surface the error, never the partial rows
                        proto.write_exception(
                            self.wfile,
                            241,
                            "MEMORY_LIMIT_EXCEEDED",
                            "mock: memory limit exceeded mid-stream",
                        )
                        self.wfile.flush()
                        return
                    self._send(
                        rb, ch_types, revision, compression, proto.SERVER_DATA
                    )
                    total += rb.num_rows
                    n_blocks += 1
                    if interleave:
                        aux_packets()  # between/after data blocks
                if fail_after_blocks is not None:
                    # fewer blocks than the trigger: still fail before
                    # EndOfStream (a set trigger ALWAYS errors the query)
                    proto.write_exception(
                        self.wfile,
                        241,
                        "MEMORY_LIMIT_EXCEEDED",
                        "mock: memory limit exceeded before EndOfStream",
                    )
                    self.wfile.flush()
                    return
                proto.write_progress(self.wfile, revision, total, 0)
                proto.write_varuint(self.wfile, proto.SERVER_END_OF_STREAM)
                self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError):
                raise
            except Exception as e:
                try:
                    proto.write_exception(
                        self.wfile, 1001, type(e).__name__, str(e)
                    )
                    self.wfile.flush()
                except Exception:
                    pass

    return Handler


class _ThreadingTCPServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


def serve_tcp(handler) -> tuple[str, int]:
    """Start a daemon TCP server on an ephemeral port; returns (host, port)."""
    srv = _ThreadingTCPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv.server_address[0], srv.server_address[1]


def mock_clickhouse_tcp_url(sf_dir: str, server_revision=None) -> str:
    """Start (once per process per (sf_dir, server_revision)) a
    DuckDB-backed mock ClickHouse native-TCP server over
    ``{sf_dir}/*.parquet``; returns a ``tcp://host:port`` URL for the
    scan DataSource. ``server_revision`` drives the cross-revision
    negotiation matrix (None = the default 54429)."""
    key = (sf_dir, server_revision)
    with _LOCK:
        if key in _SERVERS:
            host, port = _SERVERS[key]
            return f"tcp://{host}:{port}"

        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        con.execute("CREATE TABLE IF NOT EXISTS _ingest (k BIGINT, v VARCHAR)")
        host, port = serve_tcp(
            build_tcp_handler(con, server_revision=server_revision)
        )
        _SERVERS[key] = (host, port)
        return f"tcp://{host}:{port}"
