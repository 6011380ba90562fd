"""Tests for the clickhouse_scan DataSource against the DuckDB-backed
mock ClickHouse HTTP server (conftest.mock_ch_server)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_extension_clickhouse_native_spark.sources.http_client import (
    resolve_connection,
    schema_probe_query,
)


def test_resolve_connection_tcp_transport(monkeypatch):
    # tcp:// URLs are honored as native-protocol connections (the
    # reference's transport, clickhouse_scan.rs:73-78), not remapped
    monkeypatch.delenv("CLICKHOUSE_URL", raising=False)
    c = resolve_connection({"url": "tcp://myhost:9000"})
    assert c.transport == "tcp" and (c.host, c.port) == ("myhost", 9000)
    c = resolve_connection({"url": "tcp://u:p@remote:9440/?secure=true"})
    assert c.transport == "tcp" and c.port == 9440 and c.secure
    assert c.user == "u" and c.password == "p"


def test_resolve_connection_env_fallback(monkeypatch):
    # reference behavior: named param > env var > default
    # (clickhouse_scan.rs:55-71, README.md:19-23)
    monkeypatch.setenv("CLICKHOUSE_URL", "http://envhost:8123")
    monkeypatch.setenv("CLICKHOUSE_USER", "envuser")
    c = resolve_connection({})
    assert c.base_url == "http://envhost:8123"
    assert c.user == "envuser"
    c = resolve_connection({"url": "http://opthost:8123", "user": "optuser"})
    assert c.base_url == "http://opthost:8123" and c.user == "optuser"


def test_schema_probe_query_wraps():
    q = schema_probe_query("SELECT 1 AS x; ")
    assert "WHERE 0 = 1" in q and "SELECT 1 AS x" in q


def test_scan_basic(spark, mock_ch_server):
    df = (
        spark.read.format("clickhouse_scan")
        .option("query", "SELECT number, number * 2 AS dbl FROM numbers WHERE number < 10")
        .option("url", mock_ch_server["url"])
        .load()
    )
    assert df.schema.simpleString() == "struct<number:bigint,dbl:bigint>"
    rows = {r["number"]: r["dbl"] for r in df.collect()}
    assert rows == {i: 2 * i for i in range(10)}


def test_scan_typed_columns(spark, mock_ch_server):
    df = (
        spark.read.format("clickhouse_scan")
        .option("query", "SELECT i, f, s, b FROM typed")
        .option("url", mock_ch_server["url"])
        .load()
    )
    row = df.orderBy("i").collect()[3]
    assert row["i"] == 3 and row["s"] == "row3" and row["b"] is False
    assert abs(row["f"] - 3 / 7) < 1e-12


def test_scan_split_partitions(spark, mock_ch_server):
    df = (
        spark.read.format("clickhouse_scan")
        .option("query", "SELECT number FROM numbers")
        .option("partition_column", "number")
        .option("num_partitions", "4")
        .option("lower_bound", "0")
        .option("upper_bound", "10000")
        .option("url", mock_ch_server["url"])
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 10000
    assert df.agg(F.sum("number")).collect()[0][0] == 9999 * 10000 // 2


def test_scan_insert_writer(spark, mock_ch_server):
    src = spark.range(100).select(
        F.col("id").alias("n"), (F.col("id") * 2).cast("double").alias("v")
    )
    (
        src.write.format("clickhouse_scan")
        .option("table", "target_table")
        .option("url", mock_ch_server["url"])
        .mode("append")
        .save()
    )
    inserted = mock_ch_server["state"]["inserted"]
    assert inserted
    total = sum(
        b.num_rows for table, batches in inserted for b in batches if table == "target_table"
    )
    assert total == 100


# ClickHouse's own spelling of each wire_format's FORMAT name
_CLICKHOUSE_SPELLING = {
    "native": "Native",
    "rowbinary": "RowBinaryWithNamesAndTypes",
    "jsoneachrow": "JSONCompactEachRowWithNamesAndTypes",
    "jsonobjects": "JSONEachRow",
    "tsv": "TabSeparatedWithNamesAndTypes",
    "csv": "CSVWithNamesAndTypes",
    "arrowstream": "ArrowStream",
    "parquet": "Parquet",
    "values": "Values",
    "tskv": "TSKV",
    "orc": "ORC",
    "npy": "Npy",
}


def test_format_surfaces_accept_exactly_their_names(tmp_path):
    """Each surface that takes a format name accepts exactly this set —
    clickhouse_scan reads and writes, INTO OUTFILE, url() INSERT — and
    the HTTP client sends ClickHouse's spelling of each FORMAT clause.
    The expected sets are literals, not reads of the format table."""
    import io

    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from duckdb_extension_clickhouse_native_spark.native.types import parse_type
    from duckdb_extension_clickhouse_native_spark.operators.outfile import (
        into_outfile,
    )
    from duckdb_extension_clickhouse_native_spark.sources.http_client import (
        ClickHouseHTTPClient,
        ConnectionInfo,
    )
    from duckdb_extension_clickhouse_native_spark.sources.scan_datasource import (
        ClickHouseScanReader,
        ClickHouseScanWriter,
    )
    from duckdb_extension_clickhouse_native_spark.sources.url_table import (
        url_insert,
    )

    candidates = {
        *_CLICKHOUSE_SPELLING, "avro", "json", "parquetmetadata", "bogus",
        "csvwithnamesandtypes", "tabseparatedwithnamesandtypes",
        "tsvwithnamesandtypes", "rowbinarywithnamesandtypes",
        "jsoncompacteachrowwithnamesandtypes", "tabseparated",
        "jsoncompacteachrow", "csvwithnames", "jsonlines", "regexp",
    }
    scan_names = {
        "native", "rowbinary", "jsoneachrow", "jsonobjects", "tsv", "csv",
        "arrowstream", "parquet", "values", "tskv", "orc", "npy",
    }
    schema = StructType([StructField("v", LongType())])

    def accepted(make) -> set:
        names = set()
        for n in candidates:
            try:
                make(n)
            except ValueError:
                continue
            names.add(n)
        return names

    http = {"query": "SELECT 1", "table": "t", "url": "http://127.0.0.1:1"}
    for source in (ClickHouseScanReader, ClickHouseScanWriter):
        assert accepted(
            lambda n: source(schema, {**http, "wire_format": n})
        ) == scan_names, source

    # INTO OUTFILE checks the format before the path: an existing file
    # answers FileExistsError only for an accepted format
    taken = tmp_path / "taken"
    taken.write_text("")
    outfile = set()
    for n in candidates:
        try:
            into_outfile(None, str(taken), n)
        except FileExistsError:
            outfile.add(n)
        except ValueError:
            pass
    assert outfile == scan_names | {"avro"}

    # url() INSERT checks the format before the URL scheme
    url_ok = set()
    for n in candidates:
        try:
            url_insert(None, "ftp://x/y", n)
        except ValueError as e:
            if "needs an http(s)" in str(e):
                url_ok.add(n)
    assert url_ok == {
        "native", "csvwithnamesandtypes", "tabseparatedwithnamesandtypes",
        "tsvwithnamesandtypes", "rowbinarywithnamesandtypes",
        "jsoncompacteachrowwithnamesandtypes", "arrowstream", "parquet",
        "orc", "avro",
    }

    # the FORMAT clause on the wire, INSERT then SELECT; the SELECT is
    # answered with the body the INSERT sent
    sent, bodies = [], []
    client = ClickHouseHTTPClient(ConnectionInfo(base_url="http://x"))

    def fake_request(q, body=None):
        sent.append(q)
        if body is not None:
            bodies.append(body)
        return io.BytesIO(bodies[-1])

    client._request = fake_request  # type: ignore[method-assign]
    rb = pa.RecordBatch.from_arrays([pa.array([7], pa.int64())], names=["v"])
    for name, clause in _CLICKHOUSE_SPELLING.items():
        sent.clear()
        assert client.insert_format("t", name, [rb]) == 1
        blocks = client.execute_format(
            "SELECT v FROM t", name, [("v", parse_type("Int64"))]
        )
        got = [v for b in blocks for v in b.to_record_batch().column(0).to_pylist()]
        assert got == [7], name
        assert sent == [
            f"INSERT INTO t FORMAT {clause}",
            f"SELECT v FROM t FORMAT {clause}",
        ], name
