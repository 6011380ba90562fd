"""The compiled String column walk (``kernels.c`` ``ch_strings_decode`` /
``ch_strings_skip``) against its pure-Python fallback: same arrays,
same bytes consumed, same errors, on seekable files, pushback sockets
and marked columns. Every test runs once per implementation; the
kernel half is skipped on a host without a C compiler."""

from __future__ import annotations

import io
import random
import shutil
import socket
import subprocess
import threading
import time

import pyarrow as pa
import pytest

from duckdb_extension_clickhouse_native_spark.native import codec, kernels
from duckdb_extension_clickhouse_native_spark.native.compress import PushbackReader
from duckdb_extension_clickhouse_native_spark.native.types import parse_type

STRING = parse_type("String")
INT64 = parse_type("Int64")
# 1-, 2- and 3-byte length prefixes, on both sides of each boundary
EDGE_LENGTHS = [0, 1, 127, 128, 16383, 16384]
TRAILER = (987654321).to_bytes(8, "little")  # the next column: one Int64


def _values(lengths, seed=17) -> list[str]:
    rng = random.Random(seed)
    return ["".join(rng.choice("abcé中\x00") for _ in range(n)) for n in lengths]


def _wire(vals) -> bytes:
    buf = io.BytesIO()
    codec.encode_column(buf, STRING, pa.array(vals, pa.string()))
    return buf.getvalue()


def _decode_both_ways(raw: bytes, rows: int):
    """Decode and skip ``raw`` + TRAILER; both must leave the stream at
    the trailer."""
    src = io.BytesIO(raw + TRAILER)
    arr = codec.decode_column(src, STRING, rows)
    assert codec.decode_column(src, INT64, 1).to_pylist() == [987654321]
    src = io.BytesIO(raw + TRAILER)
    codec.skip_column(src, STRING, rows)
    assert src.read() == TRAILER
    return arr


@pytest.mark.parametrize("n", EDGE_LENGTHS)
def test_prefix_widths_roundtrip(impl, n):
    vals = _values([n, 0, n, 3, n])
    raw = _wire(vals)
    arr = _decode_both_ways(raw, len(vals))
    assert arr.type == pa.string()
    assert arr.to_pylist() == vals
    again = io.BytesIO()
    codec.encode_column(again, STRING, arr)
    assert again.getvalue() == raw


def test_kernel_matches_fallback(monkeypatch):
    if kernels.load() is None:
        pytest.skip("no compiled kernels on this host")
    rng = random.Random(3)
    lengths = [rng.choice(EDGE_LENGTHS + [rng.randrange(300)]) for _ in range(3000)]
    vals = _values(lengths, seed=4)
    raw = _wire(vals)
    for scrub in (False, True):
        fast = codec.decode_column(io.BytesIO(raw), STRING, len(vals), scrub_strings=scrub)
        with monkeypatch.context() as m:
            m.setattr(kernels, "load", lambda: None)
            slow = codec.decode_column(
                io.BytesIO(raw), STRING, len(vals), scrub_strings=scrub
            )
        assert fast.type == slow.type == pa.string()
        assert fast.equals(slow)


def test_column_spans_refills_and_scan_window(impl, monkeypatch):
    """Tiny first read and window: the walk crosses many refills and
    copies its payload out in several exactly sized pieces."""
    monkeypatch.setattr(codec, "_SCAN_FIRST", 100)
    monkeypatch.setattr(codec, "_SCAN_WINDOW", 5000)
    vals = _values([i % 400 for i in range(700)] + [16384, 3])
    raw = _wire(vals)
    assert len(raw) > 20 * 5000
    codec._SCAN_STATS["peak_buffer"] = 0
    assert _decode_both_ways(raw, len(vals)).to_pylist() == vals
    assert 0 < codec._SCAN_STATS["peak_buffer"] <= 5000 + (4 << 20) + 16384 + 16


def _socket_reader(payload: bytes, cuts: list[int]):
    """A PushbackReader over one end of a socketpair; a thread sends
    ``payload`` split at ``cuts``, pausing between sends, and then
    keeps the socket open, so reading past ``payload`` would block
    (5 s timeout)."""
    a, b = socket.socketpair()
    a.settimeout(5)
    done = threading.Event()

    def feed():
        bounds = [0, *cuts, len(payload)]
        for lo, hi in zip(bounds, bounds[1:]):
            b.sendall(payload[lo:hi])
            time.sleep(0.002)
        done.wait(10)
        b.close()

    t = threading.Thread(target=feed, daemon=True)
    t.start()

    def close():
        done.set()
        t.join(10)
        a.close()

    return PushbackReader(a.makefile("rb")), close


@pytest.mark.parametrize("seed", range(4))
def test_socket_fed_piece_by_piece_hands_back_the_surplus(impl, seed):
    vals = _values([5, 130, 0, 16384, 2, 127, 128] * 6)
    raw = _wire(vals)
    second = _values([9, 200, 1] * 4, seed=5)
    payload = raw + _wire(second) + TRAILER
    rng = random.Random(seed)
    # single bytes at the start (every prefix straddles), then 40
    # random cuts, one of them inside the trailer
    cuts = sorted(
        set(range(1, 12)) | set(rng.sample(range(12, len(payload)), 40))
        | {len(payload) - 3}
    )
    rf, close = _socket_reader(payload, cuts)
    try:
        assert codec.decode_column(rf, STRING, len(vals)).to_pylist() == vals
        codec.skip_column(rf, STRING, len(second))
        assert codec.decode_column(rf, INT64, 1).to_pylist() == [987654321]
    finally:
        close()


def test_stale_marks_fall_back_to_the_stream_decode(impl):
    vals = _values([4, 200, 0, 9, 16384, 1])
    raw = _wire(vals)
    span = len(raw)
    src = io.BytesIO(raw + TRAILER)
    got = codec._decode_marked_strings(src, STRING, len(vals), span, scrub=False)
    assert got.to_pylist() == vals and src.read() == TRAILER
    for stale in (span - 1, span + 1, 0, 1, span + len(TRAILER), 100000):
        src = io.BytesIO(raw + TRAILER)
        assert (
            codec._decode_marked_strings(src, STRING, len(vals), stale, scrub=False)
            is None
        )
        assert src.tell() == 0  # every byte it read went back
        assert codec.decode_column(src, STRING, len(vals)).to_pylist() == vals
        assert src.read() == TRAILER
    # the same through a pushback stream
    rf = PushbackReader(io.BufferedReader(io.BytesIO(raw + TRAILER)))
    assert codec._decode_marked_strings(rf, STRING, len(vals), span + 1, scrub=False) is None
    assert codec.decode_column(rf, STRING, len(vals)).to_pylist() == vals
    assert rf.read() == TRAILER


# a valid value, then a 12-byte prefix whose every byte continues
OVERLONG = b"\x03abc" + b"\x80" * 12 + b"\x01" + b"x" * 64


@pytest.mark.parametrize("op", ["decode", "skip"])
def test_overlong_prefix_fails_at_once_on_a_file(impl, op):
    src = io.BytesIO(OVERLONG)
    with pytest.raises(ValueError, match="varint too long"):
        if op == "decode":
            codec.decode_column(src, STRING, 2)
        else:
            codec.skip_column(src, STRING, 2)


@pytest.mark.parametrize("op", ["decode", "skip"])
def test_overlong_prefix_fails_at_once_on_a_socket(impl, op):
    """The server sent the bad prefix and then nothing: the walk must
    fail on what it has, not wait for more bytes."""
    rf, close = _socket_reader(OVERLONG, [])
    try:
        t0 = time.monotonic()
        with pytest.raises(ValueError, match="varint too long"):
            if op == "decode":
                codec.decode_column(rf, STRING, 2)
            else:
                codec.skip_column(rf, STRING, 2)
        assert time.monotonic() - t0 < 1.0
    finally:
        close()


def test_truncated_column_is_eof(impl):
    raw = _wire(_values([10, 200, 30]))
    for cut in (1, 12, len(raw) - 1):
        with pytest.raises(EOFError):
            codec.decode_column(io.BytesIO(raw[:cut]), STRING, 3)
        with pytest.raises(EOFError):
            codec.skip_column(io.BytesIO(raw[:cut]), STRING, 3)


def test_kernel_source_compiles_without_warnings(tmp_path):
    cc = shutil.which("cc")
    if cc is None:
        pytest.skip("no C compiler")
    src = kernels.__file__.replace("kernels.py", "kernels.c")
    subprocess.run(
        [cc, "-O2", "-shared", "-fPIC", "-Wall", "-Wextra", "-Werror", src,
         "-o", str(tmp_path / "k.so")],
        check=True, capture_output=True, timeout=120,
    )


def test_http_native_bodies_take_the_chunk_scan(mock_ch_server, monkeypatch):
    """An HTTP ``FORMAT Native`` body can neither seek nor push back;
    ``iter_blocks`` reads it through a PushbackReader, so its String
    columns take the chunk scan instead of the per-row loop."""
    from duckdb_extension_clickhouse_native_spark.sources.http_client import (
        ClickHouseHTTPClient,
        resolve_connection,
    )

    scans = []
    orig = codec._decode_strings_seekable

    def counting(buf, rows, **kw):
        scans.append(rows)
        return orig(buf, rows, **kw)

    monkeypatch.setattr(codec, "_decode_strings_seekable", counting)
    client = ClickHouseHTTPClient(resolve_connection({"url": mock_ch_server["url"]}))
    query = (
        "SELECT range AS k, 'v' || range::VARCHAR AS s, "
        "repeat('x', (range % 300)::INT) AS t FROM range(200000) ORDER BY k"
    )
    table = pa.Table.from_batches(
        [b.to_record_batch() for b in client.execute_format(query, "native")]
    )
    assert table.num_rows == 200000
    assert sum(scans) == 2 * 200000
    assert table.column("s")[199999].as_py() == "v199999"
    assert table.column("t")[299].as_py() == "x" * 299
