"""FORMAT ORC (eleventh) and FORMAT Npy (twelfth) wire formats.

The Npy decodes use a hand-composed v1.0 header transcript (the
recorded-bytes discipline: the header dict is typed here byte-for-byte
from the public .npy format spec, so a symmetric encode/decode bug
cannot hide behind numpy on both sides).  Contract pins: single column
only (read, write, and the server's 500 on a multi-column SELECT),
no-null refusal, uint64 >= 2^63 raises unless lossy, S/U string
decode, 2-D and structured-dtype refusal.
"""

from __future__ import annotations

import io
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from duckdb_extension_clickhouse_native_spark.native.npyformat import (
    _parse_npy_header,
    iter_npy_blocks,
    write_npy,
)
from duckdb_extension_clickhouse_native_spark.native.arrowwire import (
    iter_orc_blocks,
    write_orc,
)
from duckdb_extension_clickhouse_native_spark.native.types import parse_type


def _nt(name="v", t="Int64"):
    return [(name, parse_type(t))]


def _npy_bytes(dict_literal: str, payload: bytes) -> bytes:
    """Hand-compose a v1.0 .npy: magic, version, LE u16 header length,
    header padded with spaces to a 64-byte boundary ending in \\n."""
    header = dict_literal.encode("latin1")
    total = 10 + len(header) + 1
    pad = (64 - total % 64) % 64
    header = header + b" " * pad + b"\n"
    return b"\x93NUMPY\x01\x00" + struct.pack("<H", len(header)) + header + payload


RECORDED_I64 = _npy_bytes(
    "{'descr': '<i8', 'fortran_order': False, 'shape': (3,), }",
    struct.pack("<3q", 3, -1, 7),
)


def test_recorded_npy_decode():
    blocks = list(iter_npy_blocks(io.BytesIO(RECORDED_I64), _nt()))
    rb = blocks[0].to_record_batch()
    assert rb.schema.names == ["v"]
    assert rb.column(0).to_pylist() == [3, -1, 7]
    # numpy's own writer must produce an equivalent payload
    buf = io.BytesIO()
    np.save(buf, np.array([3, -1, 7], dtype="<i8"), allow_pickle=False)
    dt, shape, fortran, off = _parse_npy_header(buf.getvalue())
    assert (str(dt), shape, fortran) == ("int64", (3,), False)
    assert buf.getvalue()[off:] == RECORDED_I64[-24:]


def test_npy_header_refusals():
    with pytest.raises(ValueError, match="bad magic"):
        _parse_npy_header(b"NOTNPY\x01\x00")
    with pytest.raises(ValueError, match="structured"):
        list(
            iter_npy_blocks(
                io.BytesIO(
                    _npy_bytes(
                        "{'descr': [('a', '<i8')], 'fortran_order': False,"
                        " 'shape': (1,), }",
                        b"\x00" * 8,
                    )
                ),
                _nt(),
            )
        )
    with pytest.raises(ValueError, match="1-D"):
        list(
            iter_npy_blocks(
                io.BytesIO(
                    _npy_bytes(
                        "{'descr': '<i4', 'fortran_order': False, "
                        "'shape': (2, 2), }",
                        b"\x00" * 16,
                    )
                ),
                _nt(),
            )
        )
    with pytest.raises(ValueError, match="exactly one column"):
        list(
            iter_npy_blocks(
                io.BytesIO(RECORDED_I64), _nt() + [("w", parse_type("Int64"))]
            )
        )


def test_npy_string_and_bool_decode():
    s = _npy_bytes(
        "{'descr': '|S5', 'fortran_order': False, 'shape': (3,), }",
        b"ab\x00\x00\x00hello\x00\x00\x00\x00\x00",
    )
    rb = list(iter_npy_blocks(io.BytesIO(s), _nt("s", "String")))[0]
    assert rb.to_record_batch().column(0).to_pylist() == ["ab", "hello", ""]
    b = _npy_bytes(
        "{'descr': '|b1', 'fortran_order': False, 'shape': (2,), }",
        b"\x01\x00",
    )
    rb = list(iter_npy_blocks(io.BytesIO(b), _nt("b", "Bool")))[0]
    assert rb.to_record_batch().column(0).to_pylist() == [True, False]


def test_npy_uint64_contract():
    payload = struct.pack("<2Q", 2**63 + 5, 1)
    raw = _npy_bytes(
        "{'descr': '<u8', 'fortran_order': False, 'shape': (2,), }", payload
    )
    with pytest.raises(ValueError, match="2\\^63"):
        list(iter_npy_blocks(io.BytesIO(raw), _nt()))
    rb = list(
        iter_npy_blocks(io.BytesIO(raw), _nt(), lossy_uint64=True)
    )[0].to_record_batch()
    # reference lib.rs:336-344 wrap: low 32 bits, sign-extended
    assert rb.column(0).to_pylist() == [5, 1]


def test_write_npy_contract():
    buf = io.BytesIO()
    n = write_npy(
        buf, [pa.RecordBatch.from_arrays([pa.array([1, 2, 3])], names=["v"])]
    )
    assert n == 3
    got = np.load(io.BytesIO(buf.getvalue()), allow_pickle=False)
    assert got.tolist() == [1, 2, 3]
    with pytest.raises(ValueError, match="exactly one column"):
        write_npy(
            io.BytesIO(),
            [
                pa.RecordBatch.from_arrays(
                    [pa.array([1]), pa.array([2])], names=["a", "b"]
                )
            ],
        )
    with pytest.raises(ValueError, match="null"):
        write_npy(
            io.BytesIO(),
            [pa.RecordBatch.from_arrays([pa.array([1, None])], names=["v"])],
        )
    # a LATER wide batch must raise the contract error too (columns
    # beyond the first were silently dropped before the ADVICE fix)
    with pytest.raises(ValueError, match="exactly one column"):
        write_npy(
            io.BytesIO(),
            [
                pa.RecordBatch.from_arrays([pa.array([1])], names=["a"]),
                pa.RecordBatch.from_arrays(
                    [pa.array([2]), pa.array([3])], names=["a", "b"]
                ),
            ],
        )
    # a later-batch TYPE drift names the contract, not a pyarrow error
    with pytest.raises(ValueError, match="uniform column type"):
        write_npy(
            io.BytesIO(),
            [
                pa.RecordBatch.from_arrays([pa.array([1])], names=["a"]),
                pa.RecordBatch.from_arrays(
                    [pa.array(["x"])], names=["a"]
                ),
            ],
        )
    # strings go out as fixed-width S bytes
    buf = io.BytesIO()
    write_npy(
        buf,
        [pa.RecordBatch.from_arrays([pa.array(["a", "ccc"])], names=["s"])],
    )
    got = np.load(io.BytesIO(buf.getvalue()), allow_pickle=False)
    assert got.dtype == np.dtype("S3") and got.tolist() == [b"a", b"ccc"]


def test_orc_roundtrip_unit():
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([1, None, 3], type=pa.int64()),
            pa.array(["x", "", None], type=pa.string()),
            pa.array([1.5, float("nan"), -2.0], type=pa.float64()),
        ],
        names=["i", "s", "f"],
    )
    buf = io.BytesIO()
    assert write_orc(buf, [rb]) == 3
    out = list(iter_orc_blocks(io.BytesIO(buf.getvalue())))
    got = out[0].to_record_batch()
    assert got.column(0).to_pylist() == [1, None, 3]
    assert got.column(1).to_pylist() == ["x", "", None]
    vals = got.column(2).to_pylist()
    assert vals[0] == 1.5 and vals[2] == -2.0 and vals[1] != vals[1]


@pytest.fixture(scope="module")
def npy_mock():
    from duckdb_extension_clickhouse_native_spark.sources.mock_server import (
        build_handler,
        serve,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE vec (v BIGINT)")
    con.execute("CREATE TABLE wide (a BIGINT, b BIGINT)")
    con.execute("INSERT INTO wide VALUES (1, 2)")
    url = serve(build_handler(con))
    return url, con


def test_npy_http_roundtrip(npy_mock):
    from duckdb_extension_clickhouse_native_spark.sources.http_client import (
        ClickHouseHTTPClient,
        resolve_connection,
    )

    url, con = npy_mock
    client = ClickHouseHTTPClient(resolve_connection({"url": url}))
    rb = pa.RecordBatch.from_arrays(
        [pa.array([10, 20, 30], type=pa.int64())], names=["v"]
    )
    assert client.insert_format("vec", "npy", [rb]) == 3
    got = list(
        client.execute_format("SELECT v FROM vec ORDER BY v", "npy", _nt())
    )
    assert got[0].to_record_batch().column(0).to_pylist() == [10, 20, 30]
    # a multi-column SELECT under FORMAT Npy is a server-side error
    with pytest.raises(Exception, match="one column|500"):
        list(client.execute_format("SELECT a, b FROM wide", "npy", _nt()))


def test_orc_http_roundtrip(npy_mock):
    from duckdb_extension_clickhouse_native_spark.sources.http_client import (
        ClickHouseHTTPClient,
        resolve_connection,
    )

    url, con = npy_mock
    client = ClickHouseHTTPClient(resolve_connection({"url": url}))
    got = list(
        client.execute_format(
            "SELECT range AS r, 'v' || CAST(range AS VARCHAR) AS s "
            "FROM range(5)",
            "orc",
        )
    )
    rb = got[0].to_record_batch()
    assert rb.column(0).to_pylist() == [0, 1, 2, 3, 4]
    assert rb.column(1).to_pylist() == ["v0", "v1", "v2", "v3", "v4"]


def test_spark_reads_orc_and_npy_match_native(spark, npy_mock):
    url, con = npy_mock
    con.execute(
        "CREATE OR REPLACE VIEW nums AS "
        "SELECT range * 3 - 7 AS x FROM range(100)"
    )
    q = "SELECT CAST(x AS BIGINT) AS x FROM nums"
    frames = {}
    for wf in ("native", "orc", "npy"):
        frames[wf] = sorted(
            r["x"]
            for r in (
                spark.read.format("clickhouse_scan")
                .option("query", q)
                .option("url", url)
                .option("wire_format", wf)
                .load()
                .collect()
            )
        )
    assert frames["orc"] == frames["native"]
    assert frames["npy"] == frames["native"]
    assert len(frames["native"]) == 100


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=200
    )
)
def test_npy_int_roundtrip_property(vals):
    buf = io.BytesIO()
    n = write_npy(
        buf,
        [pa.RecordBatch.from_arrays([pa.array(vals, type=pa.int64())], names=["v"])]
        if vals
        else [],
    )
    got = []
    for b in iter_npy_blocks(io.BytesIO(buf.getvalue()), _nt()):
        got.extend(b.to_record_batch().column(0).to_pylist())
    assert n == len(vals) and got == vals


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**31), max_value=2**31),
            st.one_of(st.none(), st.text(max_size=20)),
            st.one_of(
                st.none(),
                st.floats(allow_nan=False, allow_infinity=True, width=64),
            ),
        ),
        min_size=1,
        max_size=120,
    )
)
def test_orc_roundtrip_property(rows):
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], type=pa.int64()),
            pa.array([r[1] for r in rows], type=pa.string()),
            pa.array([r[2] for r in rows], type=pa.float64()),
        ],
        names=["i", "s", "f"],
    )
    buf = io.BytesIO()
    assert write_orc(buf, [rb]) == len(rows)
    got = []
    for b in iter_orc_blocks(io.BytesIO(buf.getvalue())):
        g = b.to_record_batch()
        got.extend(
            zip(
                g.column(0).to_pylist(),
                g.column(1).to_pylist(),
                g.column(2).to_pylist(),
            )
        )
    assert got == rows


def test_npy_trailing_nul_refused_and_malformed_dict_header():
    from duckdb_extension_clickhouse_native_spark.native.npyformat import (
        _parse_npy_header,
        write_npy,
    )

    with pytest.raises(ValueError, match="trailing"):
        write_npy(
            io.BytesIO(),
            [pa.RecordBatch.from_arrays([pa.array(["ab\x00"])], names=["s"])],
        )
    # interior NULs round-trip fine
    buf = io.BytesIO()
    write_npy(
        buf,
        [pa.RecordBatch.from_arrays([pa.array(["a\x00b"])], names=["s"])],
    )
    got = list(iter_npy_blocks(io.BytesIO(buf.getvalue()), _nt("s", "String")))
    assert got[0].to_record_batch().column(0).to_pylist() == ["a\x00b"]
    # header dict missing a key / non-dict literal: named ValueError,
    # never a bare KeyError/TypeError (review finding)
    for lit in (
        "{'descr': '<i8', 'shape': (3,), }",  # no fortran_order
        "[1, 2]",
    ):
        with pytest.raises(ValueError):
            _parse_npy_header(_npy_bytes(lit, b"\x00" * 24))
