"""Compressed-frame codec tests: LZ4/ZSTD/None frames, CityHash128
checksums, auto-detection, and the Spark DataSource path.

The reference leaves compression explicitly unimplemented
(/root/reference/README.md:133); this is the M6 addition from
SURVEY.md §7.
"""

from __future__ import annotations

import io
import os
import random
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMALL
from duckdb_extension_clickhouse_native_spark.native.codec import (
    iter_blocks,
    read_file_schema,
)
from duckdb_extension_clickhouse_native_spark.native import compress, kernels
from duckdb_extension_clickhouse_native_spark.native.compress import (
    ChecksumError,
    CompressedReader,
    CompressedWriter,
    _cityhash128_py,
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


# (lo, hi) of cityhash128 over bytes((i * 131 + 7) % 251 for i in range(n)),
# pinned from the byte-at-a-time implementation; the lengths cover every
# branch: empty, 1-3, 4-8, 9-16, the 17-127 murmur path, exactly one
# 128-byte round, rounds plus a tail, and a multi-round tail
CITYHASH128_GOLDEN = {
    0: (0x3DF09DFC64C09A2B, 0x3CB540C392E51E29),
    1: (0x8BE55B379CCE0E40, 0x05AB4744478B1CBA),
    4: (0xCE096AA5F604755C, 0x5E5C623C1F725410),
    8: (0xB271590FD7F3E18B, 0x2A6BDD5549BBA80C),
    9: (0x00B4ADA22538C7CC, 0x9709E82195F3344B),
    16: (0xFA48737E683403CC, 0x70C62FFBF6592EA2),
    17: (0xB737C05BCA33FDA7, 0x9F8DFB9E13B6E2BD),
    64: (0x85552978A6EFF0B9, 0xEEE1502D2FDDC1D9),
    127: (0x72E7ACB1118699B6, 0xE2400179E145B5D2),
    128: (0x0945539E340F5FC0, 0x020F7BE2421D906E),
    129: (0x8F9D9E99332D3E49, 0xAFD51C362A19BB23),
    255: (0x3BF523F774050B94, 0x5054380C07606984),
    1000: (0xB0F747A2EC3B54F4, 0xA127239D421DC352),
    4173: (0x1775CF029A654AC5, 0xA59F9DAC1E9B91FA),
}


def _golden_input(n: int) -> bytes:
    return bytes((i * 131 + 7) % 251 for i in range(n))


@pytest.mark.parametrize("n", sorted(CITYHASH128_GOLDEN))
def test_cityhash128_golden_vectors(n):
    assert cityhash128(_golden_input(n)) == CITYHASH128_GOLDEN[n]


@pytest.mark.parametrize("n", sorted(CITYHASH128_GOLDEN))
def test_cityhash128_py_golden_vectors(n):
    assert _cityhash128_py(_golden_input(n)) == CITYHASH128_GOLDEN[n]


# ---------------------------------------------------------------------------
# the compiled kernels (kernels.c) and their pure-Python fallbacks
# ---------------------------------------------------------------------------

needs_cc = pytest.mark.skipif(shutil.which("cc") is None, reason="no C compiler")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KERNEL_SRC = os.path.join(
    REPO, "duckdb_extension_clickhouse_native_spark", "native", "kernels.c"
)


@pytest.fixture
def kernel_cache(monkeypatch, tmp_path):
    """An empty cache home for the compiled kernel; the process forgets
    its loaded kernel before and after the test."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    kernels.load.cache_clear()
    yield tmp_path / "cache" / "duckdb_extension_clickhouse_native_spark"
    kernels.load.cache_clear()


@needs_cc
def test_compiled_kernel_is_in_use(monkeypatch):
    """With a compiler on the host, frames are hashed and String
    columns walked by the compiled kernels: a broken build must fail
    here, not quietly fall back."""
    from duckdb_extension_clickhouse_native_spark.native import codec
    from duckdb_extension_clickhouse_native_spark.native.types import parse_type

    k = kernels.load()
    assert k is not None

    def refuse(*_a, **_kw):
        raise AssertionError("a pure-Python fallback ran")

    monkeypatch.setattr(compress, "_cityhash128_py", refuse)
    monkeypatch.setattr(codec, "_decode_strings_scan_py", refuse)
    monkeypatch.setattr(codec, "_skip_scan_py", refuse)
    assert cityhash128(_golden_input(4173)) == CITYHASH128_GOLDEN[4173]

    calls = []
    for name in ("strings_decode", "strings_skip"):
        def spy(*a, _f=getattr(k, name), _name=name, **kw):
            calls.append(_name)
            return _f(*a, **kw)
        monkeypatch.setattr(k, name, spy)
    t = parse_type("String")
    vals = ["", "a" * 127, "b" * 128, "c" * 16384] * 50
    col = io.BytesIO()
    codec.encode_column(col, t, pa.array(vals))
    raw = col.getvalue()
    assert codec.decode_column(io.BytesIO(raw), t, len(vals)).to_pylist() == vals
    assert calls.count("strings_decode") >= 2  # offsets, then payload
    calls.clear()
    codec.skip_column(io.BytesIO(raw), t, len(vals))
    assert calls and set(calls) == {"strings_skip"}
    calls.clear()
    got = codec._decode_marked_strings(io.BytesIO(raw), t, len(vals), len(raw), scrub=False)
    assert got.to_pylist() == vals
    # the marked span is one window: offsets, then payload
    assert calls == ["strings_decode", "strings_decode"]


@needs_cc
def test_compiled_matches_python():
    assert kernels.load() is not None
    rng = random.Random(15)
    for n in range(601):
        data = rng.randbytes(n)
        assert cityhash128(data) == _cityhash128_py(data), n
    # >= 1 MiB: exact multiples of 128 (a tail of 16 and of 0 bytes after
    # the 16 seed bytes) and a ragged length
    for n in (1 << 20, (1 << 20) + 16, (1 << 20) + 77, 128 * 8200):
        data = rng.randbytes(n)
        assert cityhash128(data) == _cityhash128_py(data), n


@pytest.mark.parametrize("fault", ["missing_compiler", "unwritable_cache"])
def test_failed_build_falls_back_to_python(kernel_cache, monkeypatch, tmp_path, fault):
    if fault == "missing_compiler":
        monkeypatch.setattr(kernels, "_CC", str(tmp_path / "no-such-cc"))
    else:  # neither the cache home nor the temp dir can hold a directory
        blocker = tmp_path / "a-file"
        blocker.write_bytes(b"")
        monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
        monkeypatch.setattr(tempfile, "tempdir", str(blocker))
    for n, want in CITYHASH128_GOLDEN.items():
        assert cityhash128(_golden_input(n)) == want
    assert kernels.load() is None
    if fault == "missing_compiler":
        assert os.listdir(kernel_cache) == []  # the build's temp file is gone


@needs_cc
def test_shared_cache_dir_falls_back_to_user_temp_dir(
    kernel_cache, monkeypatch, tmp_path
):
    """A cache directory others can enter is not used: the library is
    built under a per-user directory in the temp dir instead."""
    kernel_cache.mkdir(parents=True)
    kernel_cache.chmod(0o755)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert kernels.load() is not None
    assert os.listdir(kernel_cache) == []
    user_dir = tmp_path / f"duckdb_extension_clickhouse_native_spark-{os.getuid()}"
    assert len(os.listdir(user_dir)) == 1
    assert user_dir.stat().st_mode & 0o777 == 0o700


@needs_cc
@pytest.mark.parametrize(
    "corruption", ["not_a_library", "wrong_hash", "wrong_string_skip"]
)
def test_corrupt_cached_library_is_rejected(kernel_cache, tmp_path, corruption):
    assert kernels.load() is not None
    (name,) = os.listdir(kernel_cache)
    path = kernel_cache / name
    bad = tmp_path / "bad.so"
    if corruption == "not_a_library":
        bad.write_bytes(b"not a shared object")
    else:  # loads fine, exports every symbol, one of them is wrong
        entry = {"wrong_hash": "cityhash128", "wrong_string_skip": "ch_strings_skip"}[
            corruption
        ]
        wrong = {
            "cityhash128": "void cityhash128(const unsigned char *s, size_t n,"
            " uint64_t out[2]) { (void)s; out[0] = n; out[1] = 0; }",
            "ch_strings_skip": "int64_t ch_strings_skip(const unsigned char *s,"
            " size_t n, int64_t rows, size_t *used)"
            " { (void)s; (void)rows; *used = n; return 0; }",
        }[entry]
        src = tmp_path / "bad.c"
        src.write_text(
            f"#define {entry} {entry}_good\n"
            f'#include "{KERNEL_SRC}"\n'
            f"#undef {entry}\n{wrong}\n"
        )
        subprocess.run(
            ["cc", "-O2", "-shared", "-fPIC", "-o", str(bad), str(src)],
            check=True, timeout=120,
        )
    bad_bytes = bad.read_bytes()
    # a new inode: this process still has the good library mapped
    os.replace(bad, path)
    kernels.load.cache_clear()
    assert kernels.load() is not None  # rejected, then rebuilt
    for n, want in CITYHASH128_GOLDEN.items():
        assert cityhash128(_golden_input(n)) == want
    assert os.listdir(kernel_cache) == [name]
    assert path.read_bytes() != bad_bytes


_BUILDER = """
import os, sys, time
from duckdb_extension_clickhouse_native_spark.native import compress, kernels
print("ready", flush=True)
while not os.path.exists(sys.argv[1]):
    time.sleep(0.005)
assert kernels.load() is not None
print(compress.cityhash128(bytes(range(256)) * 4096))
"""


@needs_cc
def test_concurrent_builds_into_one_empty_cache_agree(kernel_cache, tmp_path):
    """Four processes (no more) build into one empty cache directory at
    the same moment: each loads a checked library, all agree, and one
    library is left behind."""
    go = tmp_path / "go"
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _BUILDER, str(go)],
            cwd=REPO, stdout=subprocess.PIPE, text=True,
        )
        for _ in range(4)
    ]
    try:
        for p in procs:
            assert p.stdout.readline().strip() == "ready"
        go.write_bytes(b"")
        outs = [p.communicate(timeout=120)[0] for p in procs]
    finally:
        for p in procs:
            p.kill()
            p.wait(timeout=30)
    assert [p.returncode for p in procs] == [0] * 4
    want = str(_cityhash128_py(bytes(range(256)) * 4096))
    assert [o.strip() for o in outs] == [want] * 4
    assert len(os.listdir(kernel_cache)) == 1  # no temp file left over


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
