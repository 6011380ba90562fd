"""RowBinaryWithNamesAndTypes — the scan source's second wire format.

Includes a recorded-bytes decode (the transcript-test discipline: the
wire bytes are assembled from raw struct/varint literals in THIS file,
so a symmetric encode/decode bug in the package codec cannot hide
behind the mock's shared writer).
"""

from __future__ import annotations

import io
import struct

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from duckdb_extension_clickhouse_native_spark.native.rowbinary import (
    iter_rowbinary_blocks,
    write_rowbinary,
)
from duckdb_extension_clickhouse_native_spark.native.types import (
    UnsupportedTypeError,
)


# -- recorded bytes (independent literals) ----------------------------------


def v(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def s(t: str) -> bytes:
    b = t.encode()
    return v(len(b)) + b


RECORDED = (
    v(4)
    + s("id") + s("name") + s("score") + s("tags")
    + s("UInt64") + s("String") + s("Nullable(Float64)") + s("Array(Int32)")
    # row 1: 7, "alpha", 2.5, [1, 2]
    + struct.pack("<Q", 7) + s("alpha")
    + b"\x00" + struct.pack("<d", 2.5)
    + v(2) + struct.pack("<i", 1) + struct.pack("<i", 2)
    # row 2: 8, "", NULL, []
    + struct.pack("<Q", 8) + s("")
    + b"\x01"
    + v(0)
)


def test_recorded_bytes_decode():
    blocks = list(iter_rowbinary_blocks(io.BytesIO(RECORDED)))
    rb = blocks[0].to_record_batch()
    assert rb.column("id").to_pylist() == [7, 8]
    assert rb.column("name").to_pylist() == ["alpha", ""]
    assert rb.column("score").to_pylist() == [2.5, None]
    assert rb.column("tags").to_pylist() == [[1, 2], []]


def test_unsupported_type_names_native_path():
    # Map/Tuple/LowCardinality joined the matrix in round 9; the
    # reject-with-FORMAT-Native-pointer path now guards only types the
    # parser can produce but this codec has no layout for
    from duckdb_extension_clickhouse_native_spark.native.rowbinary import (
        _check_supported,
    )
    from duckdb_extension_clickhouse_native_spark.native.types import CHType

    with pytest.raises(UnsupportedTypeError, match="Native"):
        _check_supported(CHType("AggregateFunction"))


def test_uuid_and_ip_recorded_bytes():
    """UUID/IPv4/IPv6 share their per-value layout with the Native
    columns — decoded from raw literals here."""
    uuid_hi = 0x0123456789ABCDEF
    uuid_lo = 0xFEDCBA9876543210
    rec = (
        v(3) + s("u") + s("a4") + s("a6")
        + s("UUID") + s("IPv4") + s("IPv6")
        + struct.pack("<QQ", uuid_hi, uuid_lo)
        + struct.pack("<I", (10 << 24) | (0 << 16) | (0 << 8) | 7)
        + bytes.fromhex("20010db8000000000000000000000001")
    )
    rb = list(iter_rowbinary_blocks(io.BytesIO(rec)))[0].to_record_batch()
    assert rb.column("u").to_pylist() == [
        "01234567-89ab-cdef-fedc-ba9876543210"
    ]
    assert rb.column("a4").to_pylist() == ["10.0.0.7"]
    assert rb.column("a6").to_pylist() == ["2001:db8::1"]


# -- hypothesis round trip --------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-(2**62), 2**62),
            st.text(max_size=12),
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
            st.lists(st.integers(-(2**31), 2**31 - 1), max_size=5),
        ),
        max_size=30,
    )
)
def test_roundtrip_property(rows):
    import pyarrow as pa

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.int64()),
            pa.array([r[1] for r in rows], pa.string()),
            pa.array([r[2] for r in rows], pa.float32()),
            pa.array([r[3] for r in rows], pa.list_(pa.int32())),
        ],
        names=["a", "b", "c", "d"],
    )
    buf = io.BytesIO()
    write_rowbinary(buf, [batch])
    buf.seek(0)
    out = [b.to_record_batch() for b in iter_rowbinary_blocks(buf)]
    got = pa.Table.from_batches(out) if out else None
    if not rows:
        assert got is None or got.num_rows == 0
        return
    assert got.column("a").to_pylist() == [r[0] for r in rows]
    assert got.column("b").to_pylist() == [r[1] for r in rows]
    assert got.column("d").to_pylist() == [r[3] for r in rows]
    exp_c = [r[2] for r in rows]
    got_c = got.column("c").to_pylist()
    assert [
        (x is None, None if x is None else struct.pack("<f", x))
        for x in got_c
    ] == [
        (x is None, None if x is None else struct.pack("<f", x))
        for x in exp_c
    ]


# -- through Spark against the HTTP mock ------------------------------------


def test_scan_rowbinary_matches_native(spark, mock_ch_server):
    url = mock_ch_server["url"]
    q = "SELECT i, f, s, b FROM typed WHERE i < 50"

    def load(fmt):
        return (
            spark.read.format("clickhouse_scan")
            .option("query", q)
            .option("url", url)
            .option("wire_format", fmt)
            .load()
        )

    native = {tuple(r) for r in load("native").collect()}
    rowbin = {tuple(r) for r in load("rowbinary").collect()}
    assert rowbin == native and len(rowbin) == 50


def test_rowbinary_requires_http():
    from duckdb_extension_clickhouse_native_spark.sources.scan_datasource import (
        ClickHouseScanReader,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    with pytest.raises(ValueError, match="http"):
        ClickHouseScanReader(
            StructType([StructField("x", LongType())]),
            {"query": "SELECT 1", "url": "tcp://h:9000",
             "wire_format": "rowbinary"},
        )


def test_rowbinary_insert_roundtrip(spark, mock_ch_server):
    """Writer path: df.write over wire_format=rowbinary lands rows
    the mock records (decoded from the RowBinary body)."""
    import pandas as pd

    url = mock_ch_server["url"]
    state = mock_ch_server["state"]
    before = len(state["inserted"])
    df = spark.createDataFrame(
        pd.DataFrame({"x": [10, 20, 30], "name": ["a", "b", "c"]})
    ).coalesce(1)
    (
        df.write.format("clickhouse_scan")
        .option("table", "rb_sink")
        .option("url", url)
        .option("wire_format", "rowbinary")
        .mode("append")
        .save()
    )
    new = state["inserted"][before:]
    assert new and new[0][0] == "rb_sink"
    rows = []
    for _table, batches in new:
        for rb in batches:
            rows.extend(zip(rb.column("x").to_pylist(), rb.column("name").to_pylist()))
    assert sorted(rows) == [(10, "a"), (20, "b"), (30, "c")]


# -- Map / Tuple / LowCardinality (round-9 completion of the matrix) --------


def _b(*parts) -> bytes:
    out = b""
    for p in parts:
        out += p if isinstance(p, bytes) else bytes(p)
    return out


def _s(text: str) -> bytes:
    raw = text.encode()
    return bytes([len(raw)]) + raw


RECORDED_NESTED = _b(
    [3],  # column count
    _s("m"), _s("t"), _s("lc"),
    _s("Map(String, Int32)"),
    _s("Tuple(Int32, String)"),
    _s("LowCardinality(String)"),
    # row 1: m={a:1, bb:2}, t=(7,'x'), lc='hello'
    [2], _s("a"), (1).to_bytes(4, "little"), _s("bb"), (2).to_bytes(4, "little"),
    (7).to_bytes(4, "little"), _s("x"),
    _s("hello"),
    # row 2: m={}, t=(-1,''), lc='hello'
    [0],
    (-1).to_bytes(4, "little", signed=True), _s(""),
    _s("hello"),
)


def test_recorded_nested_decode():
    """Hand-authored bytes pin the Map (LEB128 size + pairs), Tuple
    (concatenated values) and LowCardinality (plain values — the
    dictionary is a Native-format concern) RowBinary layouts."""
    import io

    from duckdb_extension_clickhouse_native_spark.native.rowbinary import (
        iter_rowbinary_blocks,
    )

    rb = list(iter_rowbinary_blocks(io.BytesIO(RECORDED_NESTED)))[0].to_record_batch()
    assert rb.column("m").to_pylist() == [[("a", 1), ("bb", 2)], []]
    assert rb.column("t").to_pylist() == [
        {"_1": 7, "_2": "x"},
        {"_1": -1, "_2": ""},
    ]
    assert rb.column("lc").to_pylist() == ["hello", "hello"]


def test_nested_roundtrip():
    import io

    import pyarrow as pa

    from duckdb_extension_clickhouse_native_spark.native.rowbinary import (
        iter_rowbinary_blocks,
        write_rowbinary,
    )
    from duckdb_extension_clickhouse_native_spark.native.types import parse_type

    types = [
        parse_type("Map(String, Int64)"),
        parse_type("Tuple(Int64, String)"),
        parse_type("LowCardinality(String)"),
        parse_type("Array(Map(String, Int64))"),
    ]
    m = pa.array(
        [[("k", 1)], [], [("a", -5), ("b", 7)]],
        type=pa.map_(pa.string(), pa.int64()),
    )
    t = pa.array(
        [{"_1": 1, "_2": "a"}, {"_1": 2, "_2": ""}, {"_1": -3, "_2": "z"}],
        type=pa.struct([("_1", pa.int64()), ("_2", pa.string())]),
    )
    lc = pa.array(["x", "x", "y"])
    am = pa.array(
        [[[("q", 9)]], [], [[("r", 1)], [("s", 2)]]],
        type=pa.list_(pa.map_(pa.string(), pa.int64())),
    )
    batch = pa.RecordBatch.from_arrays([m, t, lc, am], names=["m", "t", "lc", "am"])
    buf = io.BytesIO()
    write_rowbinary(buf, [batch], types)
    buf.seek(0)
    out = list(iter_rowbinary_blocks(buf))[0].to_record_batch()
    assert out.column("m").to_pylist() == m.to_pylist()
    assert out.column("t").to_pylist() == t.to_pylist()
    assert out.column("lc").to_pylist() == lc.to_pylist()
    assert out.column("am").to_pylist() == am.to_pylist()


def test_nested_fetch_via_mock(mock_ch_server):
    """Client-level fetch of MAP/STRUCT columns over FORMAT
    RowBinaryWithNamesAndTypes (DuckDB arrow -> from_arrow Map/Tuple
    derivation on the mock's write side, this codec on the read side)."""
    from duckdb_extension_clickhouse_native_spark.sources.http_client import (
        ClickHouseHTTPClient,
        resolve_connection,
    )

    client = ClickHouseHTTPClient(
        resolve_connection({"url": mock_ch_server["url"]})
    )
    blocks = list(
        client.execute_format(
            "SELECT i, MAP(['a'], [i]) AS m, {'x': i, 'y': 'v'} AS t "
            "FROM typed WHERE i < 3 ORDER BY i",
            "rowbinary",
        )
    )
    rb = blocks[0].to_record_batch()
    assert rb.column("i").to_pylist() == [0, 1, 2]
    assert rb.column("m").to_pylist() == [[("a", 0)], [("a", 1)], [("a", 2)]]
    assert [tuple(d.values()) for d in rb.column("t").to_pylist()] == [
        (0, "v"), (1, "v"), (2, "v"),
    ]
