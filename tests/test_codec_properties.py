"""Property-based codec tests (hypothesis): encode/decode round-trips
hold for arbitrary values — the randomized coverage the reference's
two-assertion sqllogictest never had (SURVEY.md §5)."""

from __future__ import annotations

import io

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_extension_clickhouse_native_spark.native.codec import (
    decode_column,
    encode_column,
    iter_blocks,
    read_varuint,
    write_varuint,
)
from duckdb_extension_clickhouse_native_spark.native.types import parse_type
from duckdb_extension_clickhouse_native_spark.native.writer import arrow_to_native_bytes


@given(st.integers(min_value=0, max_value=2**64 - 1))
@settings(deadline=None)
def test_varuint_roundtrip(v):
    buf = io.BytesIO()
    write_varuint(buf, v)
    buf.seek(0)
    assert read_varuint(buf) == v


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
@settings(deadline=None)
def test_int64_column_roundtrip(vals):
    t = parse_type("Int64")
    arr = pa.array(vals, type=pa.int64())
    buf = io.BytesIO()
    encode_column(buf, t, arr)
    buf.seek(0)
    assert decode_column(buf, t, len(vals)).to_pylist() == vals


@given(
    st.lists(
        st.one_of(st.none(), st.text(max_size=40)),
        max_size=100,
    )
)
@settings(deadline=None)
def test_nullable_string_column_roundtrip(vals):
    t = parse_type("Nullable(String)")
    arr = pa.array(vals, type=pa.string())
    buf = io.BytesIO()
    encode_column(buf, t, arr)
    buf.seek(0)
    # nulls survive; values byte-identical
    assert decode_column(buf, t, len(vals)).to_pylist() == vals


@given(
    st.lists(
        st.sampled_from(["a", "bb", "ccc", "dddd", "é", ""]) ,
        min_size=1,
        max_size=300,
    )
)
@settings(deadline=None)
def test_lowcardinality_roundtrip_property(vals):
    t = parse_type("LowCardinality(String)")
    arr = pa.array(vals, type=pa.string())
    buf = io.BytesIO()
    encode_column(buf, t, arr)
    buf.seek(0)
    assert decode_column(buf, t, len(vals)).to_pylist() == vals


@given(
    st.lists(st.floats(allow_nan=False, allow_infinity=True), max_size=100),
    st.integers(min_value=1, max_value=50),
)
@settings(deadline=None)
def test_block_stream_roundtrip_float(vals, block_rows):
    tbl = pa.table({"x": pa.array(vals, type=pa.float64())})
    blob = arrow_to_native_bytes(tbl, block_rows=block_rows)
    blocks = list(iter_blocks(io.BytesIO(blob)))
    got = [v for b in blocks for v in b.to_record_batch().column(0).to_pylist()]
    assert got == vals


@given(
    st.binary(max_size=5000),
    st.integers(min_value=1, max_value=512),
    st.sampled_from(["lz4", "zstd", "none"]),
)
@settings(deadline=None, max_examples=40)
def test_compressed_frames_roundtrip_property(data, frame_bytes, method):
    from duckdb_extension_clickhouse_native_spark.native.compress import (
        CompressedReader,
        CompressedWriter,
    )

    raw = io.BytesIO()
    w = CompressedWriter(raw, method=method, frame_bytes=frame_bytes)
    w.write(data)
    w.flush()
    raw.seek(0)
    assert CompressedReader(raw, verify_checksum=True).read() == data


@given(st.integers(min_value=0, max_value=400), st.integers(min_value=2, max_value=25))
@settings(deadline=None, max_examples=40)
def test_truncated_file_counts_only_complete_blocks(cut, block_rows):
    # a mid-write file must never crash offset discovery, and only
    # fully-written blocks may be counted
    import pyarrow as pa  # noqa: F811

    from pyspark.sql.types import StructType

    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        ClickHouseNativeStreamReader,
    )
    import os
    import tempfile

    tbl = pa.table({"x": pa.array(list(range(50)), type=pa.int64())})
    blob = arrow_to_native_bytes(tbl, block_rows=block_rows)
    cut = min(cut, len(blob))
    d = tempfile.mkdtemp()
    p = os.path.join(d, "t.clickhouse")
    with open(p, "wb") as f:
        f.write(blob[:cut])
    r = ClickHouseNativeStreamReader(StructType([]), {"path": d})
    off = r.latestOffset()
    ent = off["files"].get(p, {"n": 0, "bytes": 0})
    assert 0 <= ent["n"] <= -(-50 // block_rows)
    assert 0 <= ent["bytes"] <= cut
    # exact: the consumed bytes end at the last block boundary <= cut
    ends, pos = [], 0
    for start in range(0, 50, block_rows):
        pos += len(arrow_to_native_bytes(tbl.slice(start, block_rows)))
        ends.append(pos)
    assert ends[-1] == len(blob)  # blocks are self-delimiting, no trailer
    complete = [e for e in ends if e <= cut]
    assert ent["n"] == len(complete)
    assert ent["bytes"] == (complete[-1] if complete else 0)


@settings(deadline=None, max_examples=60)
@given(
    vals=st.lists(st.text(max_size=300), min_size=1, max_size=60),
    frame=st.integers(min_value=1, max_value=4096),
)
def test_string_decode_property_any_frame_size(vals, frame):
    """Strings of any content/length decode exactly through compressed
    frames of ANY size (including 1-byte frames that split every varint
    and every UTF-8 sequence), and the scanner leaves the stream
    positioned exactly after the column."""
    from duckdb_extension_clickhouse_native_spark.native.codec import (
        _decode_fixed,
        _decode_strings,
    )
    from duckdb_extension_clickhouse_native_spark.native.compress import (
        CompressedReader,
        CompressedWriter,
    )

    col = bytearray()
    for v in vals:
        b = v.encode("utf-8")
        n = len(b)
        while n >= 0x80:
            col.append((n & 0x7F) | 0x80)
            n >>= 7
        col.append(n)
        col += b
    col += (42).to_bytes(8, "little")  # trailing Int64 sentinel
    sink = io.BytesIO()
    w = CompressedWriter(sink, method="lz4", frame_bytes=frame)
    w.write(bytes(col))
    w.flush()
    r = CompressedReader(io.BytesIO(sink.getvalue()), verify_checksum=True)
    arr = _decode_strings(r, len(vals), scrub=False)
    assert arr.to_pylist() == vals
    assert _decode_fixed(r, parse_type("Int64"), 1, lossy_uint64=False).to_pylist() == [42]


@settings(deadline=None, max_examples=100)
@given(
    mn=st.text(max_size=200),
    mx=st.text(max_size=200),
)
def test_truncated_string_stats_bound_invariants(mn, mx):
    """Truncated sidecar stats must stay valid bounds: min' <= min and
    (when kept) max' >= max — pruning may get weaker, never wrong."""
    from duckdb_extension_clickhouse_native_spark.native.writer import (
        _STR_STATS_MAX,
        _truncated_string_stats,
    )

    lo, hi = (mn, mx) if mn <= mx else (mx, mn)
    lo2, hi2 = _truncated_string_stats(lo, hi)
    assert lo2 <= lo
    assert len(lo2) <= _STR_STATS_MAX
    if hi2 is not None:
        assert hi2 >= hi
        assert len(hi2) <= _STR_STATS_MAX


def test_string_decode_residency_bounded():
    """Decoding a >64 MiB string column keeps the raw scan buffer under
    the flush window + one refill chunk + one max-string overrun: the
    consumed prefix is dropped as payload is flushed, so a huge block
    cannot hold 2x its bytes resident (VERDICT r6 item 4)."""
    from duckdb_extension_clickhouse_native_spark.native import codec

    rows = 4400
    val = b"x" * 16384  # ~72 MiB total payload
    t = parse_type("String")
    arr = pa.array([val.decode()] * rows, type=pa.string())
    buf = io.BytesIO()
    encode_column(buf, t, arr)
    assert buf.tell() > (64 << 20)
    buf.seek(0)
    codec._SCAN_STATS["peak_buffer"] = 0
    out = decode_column(buf, t, rows)
    assert out.to_pylist() == [val.decode()] * rows
    bound = codec._SCAN_WINDOW + (4 << 20) + len(val) + 16
    assert codec._SCAN_STATS["peak_buffer"] <= bound, (
        codec._SCAN_STATS["peak_buffer"],
        bound,
    )


_COLUMN_KINDS = st.sampled_from(
    ["Int64", "Int32", "UInt8", "Float64", "String", "NString", "Bool", "Date"]
)


def _values_for(kind, n, draw_ints, draw_text):
    import datetime

    if kind == "Int64":
        return [draw_ints(i) for i in range(n)], pa.int64(), "Int64"
    if kind == "Int32":
        return [draw_ints(i) % 2**31 for i in range(n)], pa.int32(), "Int32"
    if kind == "UInt8":
        return [abs(draw_ints(i)) % 256 for i in range(n)], pa.uint8(), "UInt8"
    if kind == "Float64":
        return (
            [float(draw_ints(i)) / 7.0 for i in range(n)],
            pa.float64(),
            "Float64",
        )
    if kind == "String":
        return [draw_text(i) for i in range(n)], pa.string(), "String"
    if kind == "NString":
        return (
            [None if draw_ints(i) % 3 == 0 else draw_text(i) for i in range(n)],
            pa.string(),
            "Nullable(String)",
        )
    if kind == "Bool":
        return [bool(draw_ints(i) % 2) for i in range(n)], pa.bool_(), "Bool"
    return (
        [datetime.date(2020, 1, 1) + datetime.timedelta(days=abs(draw_ints(i)) % 3000)
         for i in range(n)],
        pa.date32(),
        "Date",
    )


@given(
    st.lists(_COLUMN_KINDS, min_size=1, max_size=5),
    st.integers(min_value=0, max_value=60),         # rows
    st.integers(min_value=1, max_value=17),         # block_rows (multi-block)
    st.integers(min_value=-(2**40), max_value=2**40),
    st.text(max_size=12),
)
@settings(deadline=None, max_examples=60)
def test_random_table_roundtrip(kinds, n_rows, block_rows, int_seed, text_seed):
    """Composite writer->codec round trip: a random MIX of column
    types, deterministic pseudo-random values (seeded by hypothesis
    inputs), null masks and multi-block splits must all survive
    byte-exact — the whole-table property on top of the per-column
    ones above."""
    import os
    import tempfile

    from duckdb_extension_clickhouse_native_spark.native.writer import (
        write_native_file,
    )

    def draw_ints(i):
        return (int_seed * 1_000_003 + i * 7919) % (2**41) - 2**40

    def draw_text(i):
        return f"{text_seed}-{(int_seed + i) % 997}"

    cols, arrays, ch = {}, [], []
    for ci, kind in enumerate(kinds):
        vals, at, ct = _values_for(kind, n_rows, draw_ints, draw_text)
        cols[f"c{ci}"] = vals
        arrays.append(pa.array(vals, type=at))
        ch.append(parse_type(ct))
    tbl = pa.table(dict(zip(cols, arrays)))
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t.clickhouse")
        write_native_file(path, tbl, ch_types=ch, block_rows=block_rows)
        with open(path, "rb") as rf:
            got = [blk.to_record_batch() for blk in iter_blocks(rf)]
    if n_rows == 0:
        assert sum(b.num_rows for b in got) == 0
        return
    back = pa.Table.from_batches(got)
    assert back.num_rows == n_rows
    for ci, kind in enumerate(kinds):
        out = back.column(f"c{ci}").to_pylist()
        assert out == cols[f"c{ci}"], (kind, ci)


@given(
    st.sampled_from(["Int128", "Int256"]),
    st.lists(
        st.integers(min_value=-(10**38) + 1, max_value=10**38 - 1),
        max_size=60,
    ),
)
@settings(deadline=None)
def test_bigint_signed_roundtrip_property(base, vals):
    t = parse_type(base)
    arr = pa.array(vals, type=pa.decimal128(38, 0))
    buf = io.BytesIO()
    encode_column(buf, t, arr)
    buf.seek(0)
    assert [int(v) for v in decode_column(buf, t, len(vals)).to_pylist()] == vals


@given(
    st.sampled_from(["UInt128", "UInt256"]),
    st.lists(st.integers(min_value=0, max_value=10**38 - 1), max_size=60),
)
@settings(deadline=None)
def test_bigint_unsigned_roundtrip_property(base, vals):
    t = parse_type(base)
    arr = pa.array(vals, type=pa.decimal128(38, 0))
    buf = io.BytesIO()
    encode_column(buf, t, arr)
    buf.seek(0)
    assert [int(v) for v in decode_column(buf, t, len(vals)).to_pylist()] == vals


@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
                st.one_of(st.none(), st.text(max_size=12)),
            ),
            max_size=6,
        ),
        max_size=30,
    )
)
@settings(deadline=None)
def test_nested_roundtrip_property(rows):
    from duckdb_extension_clickhouse_native_spark.native.codec import (
        _promote_nullable,
    )
    from duckdb_extension_clickhouse_native_spark.native.types import to_arrow

    t = parse_type("Nested(k Int64, v String)")
    vals = [[{"k": k, "v": v} for k, v in row] for row in rows]
    arr = pa.array(vals, type=to_arrow(t))
    eff = _promote_nullable(t, arr)
    buf = io.BytesIO()
    encode_column(buf, eff, arr)
    buf.seek(0)
    assert decode_column(buf, eff, len(vals)).to_pylist() == vals
