"""Regression tests for the code-review findings: decimal context,
write_block nullable headers, stream-restart recovery, FORMAT
heuristic, overwrite mode, missing-column guard, seekable passthrough,
UInt64 overflow."""

from __future__ import annotations

import decimal
import io
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMALL
from duckdb_extension_clickhouse_native_spark.native.codec import (
    decode_column,
    encode_column,
    iter_blocks,
    write_block,
)
from duckdb_extension_clickhouse_native_spark.native.compress import (
    maybe_compressed_reader,
)
from duckdb_extension_clickhouse_native_spark.native.types import parse_type
from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file


def test_decimal38_beyond_default_context_roundtrip():
    t = parse_type("Decimal(38, 2)")
    big = decimal.Decimal(10) ** 30 + decimal.Decimal("0.01")
    vals = [big, decimal.Decimal("-1.25"), None]
    arr = pa.array(vals, type=pa.decimal128(38, 2))
    buf = io.BytesIO()
    nt = parse_type("Nullable(Decimal(38, 2))")
    encode_column(buf, nt, arr)
    buf.seek(0)
    out = decode_column(buf, nt, 3)
    assert out.to_pylist() == [big, decimal.Decimal("-1.25"), None]


def test_public_write_block_promotes_nullable_header():
    batch = pa.record_batch([pa.array([1, None, 3], type=pa.int64())], names=["x"])
    buf = io.BytesIO()
    write_block(buf, batch, [parse_type("Int64")])
    buf.seek(0)
    blocks = list(iter_blocks(buf))
    assert blocks[0].columns[0].type_str == "Nullable(Int64)"
    assert blocks[0].to_record_batch().column(0).to_pylist() == [1, None, 3]


def test_stream_offsets_survive_reader_restart(tmp_path):
    # recovery: a FRESH stream reader instance must plan a partition
    # purely from the checkpointed offset dicts
    from pyspark.sql.types import StructType

    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        ClickHouseNativeStreamReader,
    )

    t = pq.read_table(f"{SF_SMALL}/nation.parquet")
    src = str(tmp_path / "s")
    os.makedirs(src)
    p = os.path.join(src, "a.clickhouse")
    write_native_file(p, t.slice(0, 10), block_rows=5)  # 2 blocks

    r1 = ClickHouseNativeStreamReader(StructType([]), {"path": src})
    off1 = r1.latestOffset()
    assert off1["files"][p]["n"] == 2

    # grow by 1 block
    from duckdb_extension_clickhouse_native_spark.native.writer import (
        arrow_to_native_bytes,
    )

    with open(p, "ab") as f:
        f.write(arrow_to_native_bytes(t.slice(10, 5)))

    r2 = ClickHouseNativeStreamReader(StructType([]), {"path": src})  # restart
    off2 = r2.latestOffset()
    parts = r2.partitions(off1, off2)
    assert len(parts) == 1
    assert parts[0].path == p
    assert parts[0].n_blocks == 1
    assert parts[0].start_offset == off1["files"][p]["bytes"] > 0


def test_format_heuristic_only_matches_trailing_clause():
    from duckdb_extension_clickhouse_native_spark.sources.http_client import (
        ClickHouseHTTPClient,
        ConnectionInfo,
    )

    seen = {}

    client = ClickHouseHTTPClient(ConnectionInfo(base_url="http://x"))
    client._request = lambda q, body=None: seen.setdefault("q", q)  # type: ignore

    client.execute_blocks("SELECT formatDateTime(now(), '%Y') AS m FROM t")
    assert seen["q"].endswith("FORMAT Native")
    seen.clear()
    client.execute_blocks("SELECT 1 FORMAT Native")
    assert seen["q"].count("FORMAT") == 1


def test_overwrite_removes_stale_part_files(spark, tmp_path):
    out = str(tmp_path / "ow")
    df1 = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    df1.write.format("clickhouse_native").mode("overwrite").save(out)
    df2 = df1.limit(5)
    df2.write.format("clickhouse_native").mode("overwrite").save(out)
    back = spark.read.format("clickhouse_native").load(out)
    assert back.count() == 5  # not 25+5


def test_missing_column_raises_not_silent(tmp_path):
    # two files with different schemas in one load
    d = str(tmp_path / "mix")
    os.makedirs(d)
    write_native_file(
        os.path.join(d, "a.clickhouse"),
        pa.table({"x": pa.array([1, 2], type=pa.int64()), "y": pa.array(["a", "b"])}),
    )
    write_native_file(
        os.path.join(d, "b.clickhouse"),
        pa.table({"x": pa.array([3], type=pa.int64()), "z": pa.array(["c"])}),
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        ClickHouseNativeReader,
        NativeFilePartition,
    )

    schema = StructType([StructField("x", LongType()), StructField("y", StringType())])
    reader = ClickHouseNativeReader(schema, {"path": d})
    with pytest.raises(ValueError, match="missing from block"):
        list(reader.read(NativeFilePartition(os.path.join(d, "b.clickhouse"))))


def test_plain_seekable_file_passthrough(tmp_path):
    p = str(tmp_path / "p.clickhouse")
    write_native_file(p, pa.table({"x": pa.array([1, 2, 3], type=pa.int64())}))
    with open(p, "rb") as f:
        buf = io.BufferedReader(f)
        out = maybe_compressed_reader(buf)
        assert out is buf  # fast path preserved
        assert sum(b.n_rows for b in iter_blocks(out)) == 3


def test_uint64_overflow_raises_unless_lossy():
    t = parse_type("UInt64")
    buf = io.BytesIO((2**64 - 1).to_bytes(8, "little") + (7).to_bytes(8, "little"))
    with pytest.raises(ValueError, match="2\\^63"):
        decode_column(io.BytesIO(buf.getvalue()), t, 2)
    out = decode_column(io.BytesIO(buf.getvalue()), t, 2, lossy_uint64=True)
    assert out.to_pylist() == [-1, 7]  # the reference's i32 truncation
