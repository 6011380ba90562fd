"""Unit tests for the Native format codec (pure Python, no Spark)."""

from __future__ import annotations

import io
import os

import numpy as np
import pyarrow as pa
import pytest

from duckdb_extension_clickhouse_native_spark.native import (
    UnsupportedTypeError,
    arrow_to_native_bytes,
    iter_blocks,
    parse_enum_values,
    parse_type,
    read_block,
    read_file_schema,
    read_str,
    read_varuint,
    scan_block_offsets,
    write_str,
    write_varuint,
)
from duckdb_extension_clickhouse_native_spark.native.codec import _with_nulls

REF_FIXTURE = "/root/reference/numbers.clickhouse"


@pytest.mark.parametrize("v", [0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1])
def test_varint_roundtrip(v):
    buf = io.BytesIO()
    write_varuint(buf, v)
    buf.seek(0)
    assert read_varuint(buf) == v


def test_varint_eof():
    with pytest.raises(EOFError):
        read_varuint(io.BytesIO(b""))
    with pytest.raises(EOFError):
        read_varuint(io.BytesIO(b"\x80"))  # continuation bit then EOF


def test_string_roundtrip_and_scrub():
    buf = io.BytesIO()
    write_str(buf, "héllo\x00wörld")
    buf.seek(0)
    assert read_str(buf) == "héllo\x00wörld"
    buf.seek(0)
    assert read_str(buf, scrub=True) == "héllowörld"  # reference lib.rs:68-76


def test_parse_enum_values():
    m = parse_enum_values("'ok' = 1, 'warn' = 2, 'err' = -3")
    assert m == {1: "ok", 2: "warn", -3: "err"}


def test_parse_type_matrix():
    assert parse_type("String").base == "String"
    assert parse_type("Nullable(Int64)").nullable and parse_type("Nullable(Int64)").base == "Int64"
    assert parse_type("Array(Float32)").inner.base == "Float32"
    assert parse_type("FixedString(16)").fixed_len == 16
    assert parse_type("DateTime64(3)").scale == 3
    e = parse_type("Enum8('a' = 1, 'b' = 2)")
    assert e.enum_map == {1: "a", 2: "b"}
    # r15: the common agg-state family DECODES now (native/aggstate.py)
    assert parse_type("AggregateFunction(sum, UInt64)").base == "AggregateFunction"
    with pytest.raises(UnsupportedTypeError):
        parse_type("AggregateFunction(uniq, String)")  # sketch states refuse


@pytest.mark.skipif(not os.path.exists(REF_FIXTURE), reason="reference fixture absent")
def test_reference_fixture_decode():
    """The reference's only committed fixture (54 bytes, asserted in
    test/sql/chsql_native.test:17-20): 1 row, version String + number
    UInt64."""
    data = open(REF_FIXTURE, "rb").read()
    blk = read_block(io.BytesIO(data))
    assert blk.n_rows == 1
    assert [c.name for c in blk.columns] == ["version()", "number"]
    assert blk.columns[0].array.to_pylist() == ["24.12.1.1273"]
    assert blk.columns[1].array.to_pylist() == [0]


@pytest.mark.skipif(not os.path.exists(REF_FIXTURE), reason="reference fixture absent")
def test_writer_matches_reference_bytes():
    t = pa.table(
        {"version()": ["24.12.1.1273"], "number": pa.array([0], type=pa.uint64())}
    )
    ours = arrow_to_native_bytes(
        t, ch_types=[parse_type("String"), parse_type("UInt64")]
    )
    assert ours == open(REF_FIXTURE, "rb").read()


def test_multiblock_roundtrip_mixed_types():
    import numpy as np

    n = 10_000
    t = pa.table(
        {
            "i64": pa.array(np.arange(n), type=pa.int64()),
            "u64big": pa.array([2**40 + i for i in range(n)], type=pa.uint64()),
            "s": pa.array([f"row {i} é" for i in range(n)]),
            "f32": pa.array(np.linspace(0, 1, n), type=pa.float32()),
            "arr": pa.array([[1, 2], [3]] * (n // 2), type=pa.list_(pa.int32())),
            "d": pa.array([18000 + i % 365 for i in range(n)], type=pa.date32()),
            "nul": pa.array([None if i % 7 == 0 else i for i in range(n)], type=pa.int64()),
            "b": pa.array([i % 3 == 0 for i in range(n)]),
        }
    )
    raw = arrow_to_native_bytes(t, block_rows=3000)
    blocks = list(iter_blocks(io.BytesIO(raw)))
    assert len(blocks) == 4
    back = pa.Table.from_batches([b.to_record_batch() for b in blocks])
    for col in t.column_names:
        assert back[col].to_pylist() == t[col].to_pylist(), col


def test_zero_row_block_preserves_schema():
    t = pa.table({"a": pa.array([], type=pa.int64()), "b": pa.array([], type=pa.string())})
    raw = arrow_to_native_bytes(t)
    assert len(raw) > 0
    blk = read_block(io.BytesIO(raw))
    assert blk.n_rows == 0
    assert [c.name for c in blk.columns] == ["a", "b"]


def test_enum8_decode_with_unknown():
    # Enum8('ok'=1,'warn'=2): byte 9 must render Unknown(9) like the
    # reference (lib.rs:157-166)
    buf = io.BytesIO()
    write_varuint(buf, 1)  # cols
    write_varuint(buf, 3)  # rows
    write_str(buf, "status")
    write_str(buf, "Enum8('ok' = 1, 'warn' = 2)")
    buf.write(bytes([1, 2, 9]))
    blk = read_block(io.BytesIO(buf.getvalue()))
    assert blk.columns[0].array.to_pylist() == ["ok", "warn", "Unknown(9)"]


def test_schema_scan_and_offsets(tmp_path):
    t = pa.table({"x": pa.array(range(5000), type=pa.int64()), "s": pa.array(["ab"] * 5000)})
    p = str(tmp_path / "t.clickhouse")
    from duckdb_extension_clickhouse_native_spark.native import write_native_file

    write_native_file(p, t, block_rows=1000)
    schema = read_file_schema(p)
    assert [(n, ct.base) for n, ct in schema] == [("x", "Int64"), ("s", "String")]
    offsets = scan_block_offsets(p)
    assert len(offsets) == 5
    assert offsets[0][0] == 0 and all(r == 1000 for _, r in offsets)


@pytest.mark.parametrize(
    "compression, marks", [(None, False), (None, True), ("lz4", False), ("zstd", False)]
)
def test_header_only_read_block_matches_file_schema(tmp_path, compression, marks):
    """read_block(columns=set()) walks every block's header without
    decoding a payload; its (name, type) pairs are read_file_schema's,
    on plain, lz4, zstd and marks-sidecar files alike."""
    from duckdb_extension_clickhouse_native_spark.native import write_native_file
    from duckdb_extension_clickhouse_native_spark.native.compress import (
        maybe_compressed_reader,
    )
    from duckdb_extension_clickhouse_native_spark.native.marks import (
        MarksReader,
        marks_sidecar_path,
    )

    n = 5000
    t = pa.table(
        {
            "x": pa.array(range(n), type=pa.int64()),
            "s": pa.array([f"v{i}" for i in range(n)]),
            "ns": pa.array([None if i % 7 == 0 else "n" * (i % 5) for i in range(n)]),
            "f": pa.array([i / 4 for i in range(n)], type=pa.float64()),
        }
    )
    p = str(tmp_path / "t.clickhouse")
    write_native_file(p, t, block_rows=1000, compression=compression)
    if marks:
        assert MarksReader.open(p) is not None
    elif os.path.exists(marks_sidecar_path(p)):
        os.remove(marks_sidecar_path(p))
    want = [
        ("x", "Int64", False),
        ("s", "String", False),
        ("ns", "String", True),
        ("f", "Float64", False),
    ]
    assert [(nm, ct.name, ct.nullable) for nm, ct in read_file_schema(p)] == want
    with open(p, "rb") as f:
        buf = maybe_compressed_reader(f)
        mr = MarksReader.open(p) if buf is f else None
        blocks = list(iter_blocks(buf, columns=set(), marks_reader=mr))
    assert [b.n_rows for b in blocks] == [1000] * 5
    for b in blocks:
        assert b.columns == [] and not b.dead
        assert [(nm, ct.name, ct.nullable) for nm, ct in b.header] == want


def test_lossy_uint64_compat():
    t = pa.table({"number": pa.array([2**33, 5], type=pa.uint64())})
    raw = arrow_to_native_bytes(t)
    lossless = next(iter_blocks(io.BytesIO(raw))).columns[0].array.to_pylist()
    lossy = next(iter_blocks(io.BytesIO(raw), lossy_uint64=True)).columns[0].array.to_pylist()
    assert lossless == [2**33, 5]
    assert lossy == [0, 5]  # reference truncation lib.rs:336-344


def test_projection_skips_columns():
    t = pa.table({"a": pa.array(range(100), type=pa.int64()), "s": pa.array(["x"] * 100)})
    raw = arrow_to_native_bytes(t)
    blk = read_block(io.BytesIO(raw), columns={"s"})
    assert [c.name for c in blk.columns] == ["s"]


def test_fixedstring_vectorized_decode_identity():
    """The vectorized FixedString decode (trailing-NUL strip + masked
    gather + arrow utf8 validation) must match the per-row
    rstrip/decode('replace') semantics exactly — including interior
    NULs, all-NUL rows, multibyte UTF-8, and INVALID UTF-8 (which
    routes through the per-row replace fallback)."""
    import io as _io

    from duckdb_extension_clickhouse_native_spark.native.codec import (
        decode_column,
    )
    from duckdb_extension_clickhouse_native_spark.native.types import (
        parse_type,
    )

    cases = [
        b"abc\x00\x00",
        b"\x00\x00\x00\x00\x00",
        b"ab\x00cd",
        b"\xc3\xa9\x00\x00\x00",  # é then padding
        b"hello",
        b"\xff\xfe\x00\x00\x00",  # invalid UTF-8 -> replace path
        b"a\xc3\x00\x00\x29",  # truncated sequence + interior NUL
    ]
    raw = b"".join(cases)
    expected = [
        c.rstrip(b"\x00").decode("utf-8", "replace") for c in cases
    ]
    got = decode_column(
        _io.BytesIO(raw), parse_type("FixedString(5)"), len(cases)
    ).to_pylist()
    assert got == expected


def test_uuid_vectorized_decode_identity():
    """Vectorized UUID decode (half-reversed hexlify + slice scatter)
    == the canonical (hi<<64|lo) 8-4-4-4-12 rendering, on random and
    boundary byte patterns."""
    import io as _io
    import struct as _struct

    import numpy as _np

    from duckdb_extension_clickhouse_native_spark.native.codec import (
        decode_column,
    )
    from duckdb_extension_clickhouse_native_spark.native.types import (
        parse_type,
    )

    rng = _np.random.default_rng(11)
    raw = (
        b"\x00" * 16
        + b"\xff" * 16
        + rng.integers(0, 256, size=16 * 500, dtype=_np.uint8).tobytes()
    )
    rows = 502
    expected = []
    for i in range(rows):
        hi, lo = _struct.unpack_from("<QQ", raw, i * 16)
        h = f"{(hi << 64) | lo:032x}"
        expected.append(
            f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
        )
    got = decode_column(_io.BytesIO(raw), parse_type("UUID"), rows).to_pylist()
    assert got == expected


@pytest.mark.parametrize(
    "values",
    [
        pa.array(["a", "", "ccc", "dd"] * 3, pa.string()),
        pa.array([b"\x00", b"", b"zz", b"q"] * 3, pa.binary()),
        pa.array(range(12), pa.int64()),
        pa.array([0.5 * i for i in range(12)], pa.float64()),
        pa.array([i % 2 == 0 for i in range(12)]),
        pa.array([i * 1000 for i in range(12)], pa.timestamp("us")),
    ],
    ids=["string", "binary", "int64", "float64", "bool", "timestamp"],
)
def test_null_mask_becomes_the_validity_bitmap(values):
    """A flat array takes a Nullable column's null mask as its validity
    bitmap: the same array ``if_else`` builds, with the values buffer
    shared instead of copied."""
    is_null = np.array([i % 3 == 0 for i in range(len(values))])
    got = _with_nulls(values, is_null)
    want = pa.compute.if_else(
        pa.array(~is_null), values, pa.scalar(None, values.type)
    )
    assert got.equals(want) and got.null_count == int(is_null.sum()) == 4
    assert got.buffers()[-1].address == values.buffers()[-1].address
    assert _with_nulls(values, np.zeros(len(values), dtype=bool)) is values


def test_null_mask_on_nested_and_sliced_arrays():
    is_null = np.array([True, False, False, True])
    for values in (
        pa.array([[1], [], [2, 3], [4]]),
        pa.array(["w", "x", "y", "z", "v"]).slice(1),
    ):
        got = _with_nulls(values, is_null)
        assert got.to_pylist() == [
            None if n else v for n, v in zip(is_null, values.to_pylist())
        ]
