"""url() / format() table functions (r13): executor-side HTTP GET
decoded by the shared wire-format decoders, one partition per URL;
inline literals decode driver-side into a local relation.  The
conformance entries (tf_url_csv_scan / tf_format_inline) grade values
against oracles; these pins cover the contracts around them."""

from __future__ import annotations

import io
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
import pytest

from duckdb_extension_clickhouse_native_spark.sources.url_table import (
    format_table,
    url_table,
)


def _serve(bodies: dict) -> str:
    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            body = bodies.get(self.path)
            if body is None:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address
    return f"http://{host}:{port}"


def _native_body() -> bytes:
    from duckdb_extension_clickhouse_native_spark.native.types import parse_type
    from duckdb_extension_clickhouse_native_spark.native.codec import write_block

    rb = pa.RecordBatch.from_arrays(
        [pa.array([1, 2, 3], type=pa.int64()), pa.array(["a", "b", "c"])],
        names=["k", "v"],
    )
    buf = io.BytesIO()
    write_block(buf, rb, [parse_type("Int64"), parse_type("String")])
    return buf.getvalue()


def test_url_native_roundtrip(spark):
    base = _serve({"/t.native": _native_body()})
    df = url_table(spark, f"{base}/t.native", "Native")
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


def test_url_multi_url_fanout(spark):
    base = _serve({"/a": _native_body(), "/b": _native_body()})
    df = url_table(spark, f"{base}/a,{base}/b", "Native")
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 6


def test_url_refuses_non_http():
    from duckdb_extension_clickhouse_native_spark.sources.url_table import (
        _http_get,
    )

    with pytest.raises(ValueError, match="http"):
        _http_get("file:///etc/passwd")


def test_format_refuses_structureless_formats(spark):
    # r15: JSONEachRow schema-INFERS without a structure now (matching
    # ClickHouse); Values remains structure-needed
    df = format_table(spark, "JSONEachRow", '{"a": 1}')
    assert [tuple(r) for r in df.collect()] == [(1,)]
    with pytest.raises(ValueError, match="not self-describing"):
        format_table(spark, "Values", "(1),(2)")
    with pytest.raises(ValueError, match="unsupported"):
        format_table(spark, "NoSuchFormat", "x")


def test_format_csv_with_names_and_types(spark):
    lit = "\"k\",\"v\"\n\"Int64\",\"String\"\n1,\"x\"\n2,\"y\"\n"
    df = format_table(spark, "CSVWithNamesAndTypes", lit)
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]


def _serve_rw() -> tuple:
    """Server that stores POST bodies and serves them back on GET."""
    store: dict = {}

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            body = store.get(self.path)
            if body is None:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length", 0))
            store[self.path] = self.rfile.read(n)
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address
    return f"http://{host}:{port}", store


@pytest.mark.parametrize(
    "fmt", ["Native", "CSVWithNamesAndTypes", "RowBinaryWithNamesAndTypes",
            "ArrowStream", "Parquet"]
)
def test_url_insert_roundtrip(spark, fmt):
    from duckdb_extension_clickhouse_native_spark.sources.url_table import (
        url_insert,
    )

    base, store = _serve_rw()
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "k long, v string"
    )
    n = url_insert(df, f"{base}/out", fmt)
    assert n == 3
    assert store["/out"]  # body arrived
    back = url_table(spark, f"{base}/out", fmt)
    assert sorted(map(tuple, back.collect()), key=lambda r: r[0]) == [
        (1, "a"), (2, "b"), (3, None),
    ]


def test_url_insert_refuses_structureless(spark):
    from duckdb_extension_clickhouse_native_spark.sources.url_table import (
        url_insert,
    )

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="unsupported"):
        url_insert(df, "http://127.0.0.1:1/x", "Npy")


def test_url_sql_udtf(spark):
    """Pure-SQL invocation: SELECT * FROM clickhouse_url('http://...',
    'Native') — the reference's SQL table-function shape."""
    base = _serve({"/t.native": _native_body()})
    rows = spark.sql(
        f"SELECT k, v FROM clickhouse_url('{base}/t.native', 'Native') "
        "ORDER BY k"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "b"), (3, "c")]


def test_url_structure_plain_csv(spark):
    """The three-argument url(url, 'CSV', structure): headerless CSV
    with an out-of-band 'name Type' structure — ClickHouse's plain-CSV
    contract (WithNamesAndTypes is the self-describing spelling)."""
    base = _serve({"/p.csv": b'1,"a"\n2,"\\N"\n3,"c"\n'})
    df = url_table(
        spark, f"{base}/p.csv", "CSV", structure="k Int64, v String"
    )
    assert [f.name for f in df.schema.fields] == ["k", "v"]
    rows = sorted(map(tuple, df.collect()))
    # quoted "\N" is the literal string, per the CSV NULL contract
    assert rows == [(1, "a"), (2, "\\N"), (3, "c")]


def test_url_structure_jsoneachrow(spark):
    body = b'{"k": 1, "v": "x"}\n{"k": 2, "v": null}\n'
    base = _serve({"/j": body})
    df = url_table(
        spark, f"{base}/j", "JSONEachRow",
        structure="k Int64, v Nullable(String)",
    )
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, None)]


def test_format_structure_values(spark):
    from duckdb_extension_clickhouse_native_spark.sources.url_table import (
        format_table,
    )

    df = format_table(
        spark, "Values", "(1, 'a'), (2, 'b')", structure="k Int64, v String"
    )
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]


def test_structure_rejected_for_selfdescribing(spark):
    from duckdb_extension_clickhouse_native_spark.sources.object_source import (
        _structured_decoder_for,
    )

    with pytest.raises(ValueError, match="does not take a structure"):
        _structured_decoder_for("Native", "k Int64")
    with pytest.raises(ValueError, match="'name Type'"):
        _structured_decoder_for("CSV", "Int64")


def test_format_sql_udtf(spark):
    rows = spark.sql(
        "SELECT * FROM clickhouse_format('Values', '(1, ''a''), (2, ''b'')',"
        " 'k Int64, v String') ORDER BY k"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")]
