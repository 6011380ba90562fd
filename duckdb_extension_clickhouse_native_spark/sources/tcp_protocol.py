"""Clean-room implementation of the ClickHouse native TCP wire protocol
(client side + the subset a mock server needs).

The reference's ``clickhouse_scan`` speaks this protocol via the
clickhouse-rs crate (/root/reference/src/clickhouse_scan.rs:73-78;
TLS on 9440 per /root/reference/README.md:22). This module is written
from the publicly documented protocol (ClickHouse's published native
protocol description and the wire behavior of its public clients):
varint-framed packets, a Hello handshake that negotiates a protocol
revision, Query packets carrying client info + settings, and Data
packets that reuse the exact Native block format our file codec
already speaks — block payloads are delegated to ``native.codec``.

Revision choice: we advertise ``CLIENT_REVISION = 54429`` (settings
serialized as strings). The negotiated revision is
``min(server, client)``, so a modern server talks to us without
interserver secrets (>= 54441), ProfileEvents packets (>= 54451),
custom column serialization flags (>= 54454) or the post-hello
addendum (>= 54458) — the minimal stable slice of the protocol.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import BinaryIO, Iterator, List, Optional, Tuple

from ..native.codec import (
    Block,
    read_block,
    read_str,
    read_varuint,
    write_block,
    write_str,
    write_varuint,
)
from ..native.types import CHType

# --- client -> server packet codes -----------------------------------------
CLIENT_HELLO = 0
CLIENT_QUERY = 1
CLIENT_DATA = 2
CLIENT_CANCEL = 3
CLIENT_PING = 4

# --- server -> client packet codes -----------------------------------------
SERVER_HELLO = 0
SERVER_DATA = 1
SERVER_EXCEPTION = 2
SERVER_PROGRESS = 3
SERVER_PONG = 4
SERVER_END_OF_STREAM = 5
SERVER_PROFILE_INFO = 6
SERVER_TOTALS = 7
SERVER_EXTREMES = 8
SERVER_LOG = 10
SERVER_TABLE_COLUMNS = 11

# --- protocol revision gates (public constants) ----------------------------
REV_TEMPORARY_TABLES = 50264  # data packets carry a table-name string
REV_TOTAL_ROWS_IN_PROGRESS = 51554
REV_CLIENT_INFO = 54032
REV_SERVER_TIMEZONE = 54058
REV_QUOTA_KEY_IN_CLIENT_INFO = 54060
REV_SERVER_DISPLAY_NAME = 54372
REV_CLIENT_WRITE_INFO = 54372  # written_rows/bytes in Progress
REV_VERSION_PATCH = 54401
REV_SETTINGS_SERIALIZED_AS_STRINGS = 54429
REV_INTERSERVER_SECRET = 54441
REV_OPENTELEMETRY = 54442
REV_DISTRIBUTED_DEPTH = 54448
REV_INITIAL_QUERY_START_TIME = 54449
REV_PROFILE_EVENTS = 54451
REV_CUSTOM_SERIALIZATION = 54454

CLIENT_NAME = "chsql-native-spark"
CLIENT_VERSION_MAJOR = 1
CLIENT_VERSION_MINOR = 0
CLIENT_VERSION_PATCH = 0
CLIENT_REVISION = REV_SETTINGS_SERIALIZED_AS_STRINGS  # 54429, see module doc

# query processing stage
STAGE_COMPLETE = 2

COMPRESSION_DISABLED = 0
COMPRESSION_ENABLED = 1

QUERY_KIND_INITIAL = 1
INTERFACE_TCP = 1


class ClickHouseServerException(RuntimeError):
    """Server-side error relayed over the wire (code + name + message)."""

    def __init__(self, code: int, name: str, message: str, stack: str = ""):
        super().__init__(f"ClickHouse server exception [{code}] {name}: {message}")
        self.code = code
        self.name = name
        self.message = message
        self.stack = stack


# ---------------------------------------------------------------------------
# fixed-width helpers (the protocol mixes varints with little-endian fixed)
# ---------------------------------------------------------------------------


def _read_exact(buf: BinaryIO, n: int) -> bytes:
    out = b""
    while len(out) < n:
        chunk = buf.read(n - len(out))
        if not chunk:
            raise EOFError(f"connection closed mid-packet ({len(out)}/{n} bytes)")
        out += chunk
    return out


def read_u8(buf: BinaryIO) -> int:
    return _read_exact(buf, 1)[0]


def write_u8(buf: BinaryIO, v: int) -> None:
    buf.write(bytes([v & 0xFF]))


def read_i32(buf: BinaryIO) -> int:
    return struct.unpack("<i", _read_exact(buf, 4))[0]


def write_i32(buf: BinaryIO, v: int) -> None:
    buf.write(struct.pack("<i", v))


# ---------------------------------------------------------------------------
# Hello handshake
# ---------------------------------------------------------------------------


@dataclass
class ServerHello:
    name: str
    version_major: int
    version_minor: int
    revision: int
    timezone: Optional[str] = None
    display_name: Optional[str] = None
    version_patch: Optional[int] = None

    @property
    def negotiated_revision(self) -> int:
        return min(self.revision, CLIENT_REVISION)


def write_client_hello(buf: BinaryIO, database: str, user: str, password: str) -> None:
    write_varuint(buf, CLIENT_HELLO)
    write_str(buf, f"ClickHouse {CLIENT_NAME}")
    write_varuint(buf, CLIENT_VERSION_MAJOR)
    write_varuint(buf, CLIENT_VERSION_MINOR)
    write_varuint(buf, CLIENT_REVISION)
    write_str(buf, database)
    write_str(buf, user)
    write_str(buf, password)


def read_client_hello(buf: BinaryIO) -> Tuple[str, int, str, str, str]:
    """Mock-server side: returns (client_name, client_revision,
    database, user, password)."""
    name = read_str(buf)
    read_varuint(buf)  # version major
    read_varuint(buf)  # version minor
    revision = read_varuint(buf)
    database = read_str(buf)
    user = read_str(buf)
    password = read_str(buf)
    return name, revision, database, user, password


def write_server_hello(
    buf: BinaryIO, revision: int, *, name: str = "ClickHouse mock", timezone: str = "UTC"
) -> None:
    """Mock-server side. ``revision`` is the server's own revision; the
    optional fields are gated on it (the client applies min())."""
    write_varuint(buf, SERVER_HELLO)
    write_str(buf, name)
    write_varuint(buf, 23)  # displayed major/minor are informational
    write_varuint(buf, 8)
    write_varuint(buf, revision)
    if revision >= REV_SERVER_TIMEZONE:
        write_str(buf, timezone)
    if revision >= REV_SERVER_DISPLAY_NAME:
        write_str(buf, name)
    if revision >= REV_VERSION_PATCH:
        write_varuint(buf, 0)


def read_server_hello(buf: BinaryIO) -> ServerHello:
    code = read_varuint(buf)
    if code == SERVER_EXCEPTION:
        raise read_exception(buf)
    if code != SERVER_HELLO:
        raise ValueError(f"expected server Hello, got packet type {code}")
    name = read_str(buf)
    major = read_varuint(buf)
    minor = read_varuint(buf)
    revision = read_varuint(buf)
    hello = ServerHello(name=name, version_major=major, version_minor=minor, revision=revision)
    eff = min(revision, CLIENT_REVISION)
    if eff >= REV_SERVER_TIMEZONE:
        hello.timezone = read_str(buf)
    if eff >= REV_SERVER_DISPLAY_NAME:
        hello.display_name = read_str(buf)
    if eff >= REV_VERSION_PATCH:
        hello.version_patch = read_varuint(buf)
    return hello


# ---------------------------------------------------------------------------
# ClientInfo (required in Query packets once revision >= 54032)
# ---------------------------------------------------------------------------


def write_client_info(buf: BinaryIO, revision: int, user: str, query_id: str) -> None:
    write_u8(buf, QUERY_KIND_INITIAL)
    write_str(buf, user)  # initial_user
    write_str(buf, query_id)  # initial_query_id
    write_str(buf, "0.0.0.0:0")  # initial_address
    if revision >= REV_INITIAL_QUERY_START_TIME:
        buf.write(struct.pack("<q", 0))
    write_u8(buf, INTERFACE_TCP)
    write_str(buf, "spark")  # os_user
    write_str(buf, "localhost")  # client_hostname
    write_str(buf, CLIENT_NAME)
    write_varuint(buf, CLIENT_VERSION_MAJOR)
    write_varuint(buf, CLIENT_VERSION_MINOR)
    write_varuint(buf, CLIENT_REVISION)
    if revision >= REV_QUOTA_KEY_IN_CLIENT_INFO:
        write_str(buf, "")  # quota key
    if revision >= REV_DISTRIBUTED_DEPTH:
        write_varuint(buf, 0)
    if revision >= REV_VERSION_PATCH:
        write_varuint(buf, CLIENT_VERSION_PATCH)
    if revision >= REV_OPENTELEMETRY:
        write_u8(buf, 0)


def read_client_info(buf: BinaryIO, revision: int) -> dict:
    kind = read_u8(buf)
    info = {"query_kind": kind}
    if kind == 0:  # no client info serialized
        return info
    info["initial_user"] = read_str(buf)
    info["initial_query_id"] = read_str(buf)
    info["initial_address"] = read_str(buf)
    if revision >= REV_INITIAL_QUERY_START_TIME:
        _read_exact(buf, 8)
    info["interface"] = read_u8(buf)
    info["os_user"] = read_str(buf)
    info["client_hostname"] = read_str(buf)
    info["client_name"] = read_str(buf)
    read_varuint(buf)  # major
    read_varuint(buf)  # minor
    info["client_revision"] = read_varuint(buf)
    if revision >= REV_QUOTA_KEY_IN_CLIENT_INFO:
        read_str(buf)
    if revision >= REV_DISTRIBUTED_DEPTH:
        read_varuint(buf)
    if revision >= REV_VERSION_PATCH:
        read_varuint(buf)
    if revision >= REV_OPENTELEMETRY:
        read_u8(buf)
    return info


# ---------------------------------------------------------------------------
# Query packet
# ---------------------------------------------------------------------------


def write_query_packet(
    buf: BinaryIO,
    revision: int,
    query: str,
    *,
    user: str = "default",
    query_id: str = "",
    compression: int = COMPRESSION_DISABLED,
) -> None:
    write_varuint(buf, CLIENT_QUERY)
    write_str(buf, query_id)
    if revision >= REV_CLIENT_INFO:
        write_client_info(buf, revision, user, query_id)
    # settings: (name, flags, value) triples, empty name terminates —
    # an EMPTY settings list is the same single empty string whether or
    # not the revision serializes setting values as strings
    write_str(buf, "")
    if revision >= REV_INTERSERVER_SECRET:
        write_str(buf, "")
    write_varuint(buf, STAGE_COMPLETE)
    write_varuint(buf, compression)
    write_str(buf, query)


def read_query_packet(buf: BinaryIO, revision: int) -> Tuple[str, str, int]:
    """Mock-server side: returns (query_id, query, compression)."""
    query_id = read_str(buf)
    if revision >= REV_CLIENT_INFO:
        read_client_info(buf, revision)
    # settings (strings format): name, flags varint, value — until empty name
    while True:
        name = read_str(buf)
        if not name:
            break
        if revision >= REV_SETTINGS_SERIALIZED_AS_STRINGS:
            read_varuint(buf)  # flags
            read_str(buf)  # value
        else:  # legacy typed settings are not supported by the mock
            raise ValueError("legacy settings serialization not supported")
    if revision >= REV_INTERSERVER_SECRET:
        read_str(buf)
    read_varuint(buf)  # stage
    compression = read_varuint(buf)
    query = read_str(buf)
    return query_id, query, compression


# ---------------------------------------------------------------------------
# Data packets (BlockInfo + Native block, optionally compressed)
# ---------------------------------------------------------------------------


def write_block_info(buf: BinaryIO) -> None:
    write_varuint(buf, 1)
    write_u8(buf, 0)  # is_overflows
    write_varuint(buf, 2)
    write_i32(buf, -1)  # bucket_num
    write_varuint(buf, 0)  # end of field pairs


def read_block_info(buf: BinaryIO) -> dict:
    info: dict = {}
    while True:
        field = read_varuint(buf)
        if field == 0:
            return info
        if field == 1:
            info["is_overflows"] = read_u8(buf)
        elif field == 2:
            info["bucket_num"] = read_i32(buf)
        else:
            raise ValueError(f"unknown BlockInfo field {field}")


def write_data_packet(
    buf: BinaryIO,
    batch,  # Optional[pa.RecordBatch]; None -> empty end-of-data block
    ch_types: Optional[List[CHType]],
    revision: int,
    *,
    compression: int = COMPRESSION_DISABLED,
    packet_type: int = CLIENT_DATA,
    method: str = "lz4",
) -> None:
    """Serialize one Data packet. Works for both directions (client
    data packets use type 2, server ones type 1 — pass packet_type).
    ``method`` picks the frame codec when compression is enabled: the
    protocol's compression flag is a boolean, the codec is per-frame
    (method byte 0x82 LZ4 / 0x90 ZSTD), so either side may send
    either; the reader dispatches on the byte."""
    import io

    write_varuint(buf, packet_type)
    if revision >= REV_TEMPORARY_TABLES:
        write_str(buf, "")  # external/temporary table name
    body = io.BytesIO()
    write_block_info(body)
    if batch is None or batch.num_rows == 0 and batch.num_columns == 0:
        write_varuint(body, 0)  # n_columns
        write_varuint(body, 0)  # n_rows
    else:
        write_block(body, batch, ch_types)
    payload = body.getvalue()
    if compression == COMPRESSION_ENABLED:
        from ..native.compress import CompressedWriter

        cw = CompressedWriter(buf, method=method)
        cw.write(payload)
        cw.flush()
    else:
        buf.write(payload)


def read_data_packet(
    buf: BinaryIO,
    revision: int,
    *,
    compression: int = COMPRESSION_DISABLED,
    lossy_uint64: bool = False,
    columns: Optional[set] = None,
) -> Optional[Block]:
    """Read the payload of a Data packet (the packet-type varint has
    already been consumed). Returns None for the empty end block.
    ``columns`` projects like ``codec.read_block``; ``set()`` reads
    the header only."""
    if revision >= REV_TEMPORARY_TABLES:
        read_str(buf)  # external table name
    src: BinaryIO = buf
    if compression == COMPRESSION_ENABLED:
        from ..native.compress import CompressedReader

        src = CompressedReader(buf, verify_checksum=True)
    read_block_info(src)
    return read_block(src, columns=columns, lossy_uint64=lossy_uint64)


# ---------------------------------------------------------------------------
# Exception / Progress / ProfileInfo
# ---------------------------------------------------------------------------


def read_exception(buf: BinaryIO) -> ClickHouseServerException:
    code = read_i32(buf)
    name = read_str(buf)
    message = read_str(buf)
    stack = read_str(buf)
    has_nested = read_u8(buf)
    if has_nested:
        nested = read_exception(buf)
        message = f"{message}; nested: {nested.message}"
    return ClickHouseServerException(code, name, message, stack)


def write_exception(buf: BinaryIO, code: int, name: str, message: str) -> None:
    write_varuint(buf, SERVER_EXCEPTION)
    write_i32(buf, code)
    write_str(buf, name)
    write_str(buf, message)
    write_str(buf, "")  # stack trace
    write_u8(buf, 0)  # no nested exception


def read_progress(buf: BinaryIO, revision: int) -> dict:
    p = {"rows": read_varuint(buf), "bytes": read_varuint(buf)}
    if revision >= REV_TOTAL_ROWS_IN_PROGRESS:
        p["total_rows"] = read_varuint(buf)
    if revision >= REV_CLIENT_WRITE_INFO:
        p["written_rows"] = read_varuint(buf)
        p["written_bytes"] = read_varuint(buf)
    return p


def write_progress(buf: BinaryIO, revision: int, rows: int, nbytes: int) -> None:
    write_varuint(buf, SERVER_PROGRESS)
    write_varuint(buf, rows)
    write_varuint(buf, nbytes)
    if revision >= REV_TOTAL_ROWS_IN_PROGRESS:
        write_varuint(buf, rows)
    if revision >= REV_CLIENT_WRITE_INFO:
        write_varuint(buf, 0)
        write_varuint(buf, 0)


def read_profile_info(buf: BinaryIO) -> dict:
    info = {
        "rows": read_varuint(buf),
        "blocks": read_varuint(buf),
        "bytes": read_varuint(buf),
        "applied_limit": read_u8(buf),
        "rows_before_limit": read_varuint(buf),
        "calculated_rows_before_limit": read_u8(buf),
    }
    return info
