"""Compressed-frame codec tests: LZ4/ZSTD/None frames, CityHash128
checksums, auto-detection, and the Spark DataSource path.

The reference leaves compression explicitly unimplemented
(/root/reference/README.md:133); this is the M6 addition from
SURVEY.md §7.
"""

from __future__ import annotations

import io
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMALL
from duckdb_extension_clickhouse_native_spark.native.codec import (
    iter_blocks,
    read_file_schema,
)
from duckdb_extension_clickhouse_native_spark.native.compress import (
    ChecksumError,
    CompressedReader,
    CompressedWriter,
    cityhash128,
    is_compressed_file,
    maybe_compressed_reader,
)
from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file


def test_cityhash128_deterministic_and_length_sensitive():
    assert cityhash128(b"") == cityhash128(b"")
    seen = set()
    for n in [0, 1, 3, 4, 7, 8, 9, 15, 16, 17, 63, 64, 127, 128, 129, 255, 1024]:
        h = cityhash128(bytes(range(256))[:n] * (n // 256 + 1))
        seen.add(h)
    assert len(seen) == 17  # every length hashes differently
    # single-bit change flips the hash
    a = bytearray(os.urandom(512))
    h1 = cityhash128(bytes(a))
    a[200] ^= 1
    assert cityhash128(bytes(a)) != h1


@pytest.mark.parametrize("method", ["lz4", "zstd", "none"])
def test_frame_stream_roundtrip(method):
    payload = os.urandom(100_000) + b"compressible " * 50_000
    raw = io.BytesIO()
    w = CompressedWriter(raw, method=method, frame_bytes=64 * 1024)
    w.write(payload)
    w.flush()
    raw.seek(0)
    r = CompressedReader(raw, verify_checksum=True)
    assert r.read() == payload


def test_checksum_detects_corruption():
    raw = io.BytesIO()
    w = CompressedWriter(raw, method="lz4")
    w.write(b"hello frame " * 1000)
    w.flush()
    data = bytearray(raw.getvalue())
    data[30] ^= 0xFF  # flip a payload byte, keep stored checksum
    r = CompressedReader(io.BytesIO(bytes(data)), verify_checksum=True)
    with pytest.raises((ChecksumError, Exception)):
        r.read()


@pytest.mark.parametrize("method", ["lz4", "zstd"])
def test_native_file_compressed_roundtrip(method, tmp_path):
    t = pq.read_table(f"{SF_SMALL}/orders.parquet")
    path = str(tmp_path / f"orders.{method}.clickhouse")
    write_native_file(path, t, block_rows=700, compression=method)
    assert is_compressed_file(path)
    assert os.path.getsize(path) < t.nbytes  # actually compressed
    names = [n for n, _ in read_file_schema(path)]
    assert names == t.schema.names
    with open(path, "rb") as f:
        buf = maybe_compressed_reader(io.BufferedReader(f), verify_checksum=True)
        blocks = list(iter_blocks(buf))
    assert sum(b.n_rows for b in blocks) == t.num_rows
    got = pa.Table.from_batches([b.to_record_batch() for b in blocks])
    assert got.column("o_orderkey").to_pylist() == t.column("o_orderkey").to_pylist()
    assert got.column("o_orderstatus").to_pylist() == t.column("o_orderstatus").to_pylist()


def test_plain_file_passes_auto_detection(tmp_path):
    t = pq.read_table(f"{SF_SMALL}/nation.parquet")
    path = str(tmp_path / "nation.clickhouse")
    write_native_file(path, t)
    assert not is_compressed_file(path)
    with open(path, "rb") as f:
        buf = maybe_compressed_reader(io.BufferedReader(f))
        rows = sum(b.n_rows for b in iter_blocks(buf))
    assert rows == t.num_rows


class _NonSeekable(io.RawIOBase):
    def __init__(self, data: bytes):
        self._src = io.BytesIO(data)

    def readable(self) -> bool:
        return True

    def read(self, n: int = -1) -> bytes:
        return self._src.read(n)


def test_plain_file_with_method_byte_at_offset_16_stays_plain(tmp_path):
    """An Int64 value 0x0010_8200_0000_0000 puts the LZ4 method byte at
    offset 16 and a plausible compressed_size after it. The head parses
    as a plain block header with a known type, so auto-detection must
    keep the file plain (seekable, non-seekable and the schema probe)."""
    values = [0x0010_8200_0000_0000, 7]
    path = str(tmp_path / "trap.clickhouse")
    write_native_file(path, pa.table({"id": pa.array(values, type=pa.int64())}))
    with open(path, "rb") as f:
        raw = f.read()
    assert raw[16] == 0x82 and int.from_bytes(raw[17:21], "little") >= 9
    assert not is_compressed_file(path)
    assert [(n, t.base) for n, t in read_file_schema(path)] == [("id", "Int64")]
    with open(path, "rb") as f:
        blocks = list(iter_blocks(maybe_compressed_reader(io.BufferedReader(f))))
    assert blocks[0].columns[0].array.to_pylist() == values
    blocks = list(iter_blocks(maybe_compressed_reader(_NonSeekable(raw))))
    assert blocks[0].columns[0].array.to_pylist() == values


def test_spark_datasource_compressed_roundtrip(spark, tmp_path):
    src = spark.read.parquet(f"{SF_SMALL}/supplier.parquet")
    out = str(tmp_path / "supplier_lz4")
    (
        src.write.format("clickhouse_native")
        .option("compression", "lz4")
        .mode("overwrite")
        .save(out)
    )
    assert any(
        is_compressed_file(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".clickhouse")
    )
    back = spark.read.format("clickhouse_native").load(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


class _OneShotSocketSim(io.RawIOBase):
    """Byte source that, like a socket, BLOCKS (here: raises) if read
    past the bytes currently 'sent' — proves the chunk-scanning string
    paths never over-read an interactive stream."""

    def __init__(self, data: bytes):
        self._data = data
        self._pos = 0

    def readable(self) -> bool:
        return True

    def read(self, n: int = -1) -> bytes:
        if self._pos >= len(self._data):
            raise AssertionError(
                "read past the end of the sent bytes: the codec "
                "over-read an interactive stream (would hang a socket)"
            )
        if n is None or n < 0:
            n = len(self._data) - self._pos
        out = self._data[self._pos : self._pos + n]
        self._pos += len(out)
        return out


def _frame_bytes(payload: bytes, frame_bytes: int, method: str = "lz4") -> bytes:
    sink = io.BytesIO()
    w = CompressedWriter(sink, method=method, frame_bytes=frame_bytes)
    w.write(payload)
    w.flush()
    return sink.getvalue()


def test_string_decode_across_tiny_frames_no_overread():
    """Strings straddling frame boundaries decode exactly, and the
    decode consumes ONLY the column's bytes — nothing of the next
    column, and never a byte past what was 'sent'. Exercises the
    bounds-exact scanner + read1 + pushback (round-6 TCP-hang fix)."""
    from duckdb_extension_clickhouse_native_spark.native.codec import (
        _decode_strings,
        _decode_fixed,
    )
    from duckdb_extension_clickhouse_native_spark.native.types import parse_type

    vals = ["", "a", "xy" * 40, "é中" * 9, "tail"] * 13
    col = bytearray()
    for v in vals:
        b = v.encode("utf-8")
        # varuint length (all < 128 here) + payload
        col.append(len(b))
        col += b
    trailer = (123456789).to_bytes(8, "little")  # next column: one Int64
    # frame size far smaller than the column: many straddles
    for frame in (7, 16, 64, 1 << 20):
        framed = _frame_bytes(bytes(col) + trailer, frame)
        src = CompressedReader(_OneShotSocketSim(framed), verify_checksum=True)
        arr = _decode_strings(src, len(vals), scrub=False)
        assert arr.to_pylist() == vals, f"frame={frame}"
        nxt = _decode_fixed(src, parse_type("Int64"), 1, lossy_uint64=False)
        assert nxt.to_pylist() == [123456789], f"frame={frame}"


def test_string_skip_across_tiny_frames_no_overread():
    from duckdb_extension_clickhouse_native_spark.native.codec import (
        _decode_fixed,
        skip_column,
    )
    from duckdb_extension_clickhouse_native_spark.native.types import parse_type

    vals = ["skip me", "", "x" * 130, "end"] * 9  # includes 2-byte varint (130)
    col = bytearray()
    for v in vals:
        b = v.encode()
        n = len(b)
        while n >= 0x80:
            col.append((n & 0x7F) | 0x80)
            n >>= 7
        col.append(n)
        col += b
    trailer = (-7).to_bytes(8, "little", signed=True)
    for frame in (5, 33, 1 << 20):
        framed = _frame_bytes(bytes(col) + trailer, frame)
        src = CompressedReader(_OneShotSocketSim(framed), verify_checksum=True)
        skip_column(src, parse_type("String"), len(vals))
        nxt = _decode_fixed(src, parse_type("Int64"), 1, lossy_uint64=False)
        assert nxt.to_pylist() == [-7], f"frame={frame}"


def test_pushback_then_read_and_read1():
    framed = _frame_bytes(b"hello world, this is frame data", 8)
    r = CompressedReader(io.BytesIO(framed))
    first = r.read(5)
    assert first == b"hello"
    r.pushback(b"hello")
    assert r.read(11) == b"hello world"
    r.pushback(b"XY")
    assert r.read1(1) == b"X"
    # read1 serves the buffered content (pushback + current-frame
    # remainder) without loading further frames
    chunk = r.read1(100)
    assert chunk.startswith(b"Y")
    rest = chunk[1:] + r.read()
    assert rest == b", this is frame data"
