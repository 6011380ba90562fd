"""*WithNames middle spellings (r14): a NAMES row in-stream, NO types
row (docs: interfaces/formats#csvwithnames).  Types come from a
structure matched BY NAME (streams may order columns differently) or
from ClickHouse-style inference (Int64 -> Float64 -> Date -> DateTime
-> String; \\N forces Nullable; any empty field forces String;
RowBinaryWithNames refuses without a structure — binary payloads are
uninferable)."""

from __future__ import annotations

import io

import pytest

from duckdb_extension_clickhouse_native_spark.native.textformats import (
    infer_column_type,
)
from duckdb_extension_clickhouse_native_spark.sources.url_table import (
    _decode_stream,
)


def _dec(body: bytes, fmt: str, structure=None):
    blocks = list(_decode_stream(io.BytesIO(body), fmt, structure))
    rb = blocks[0].to_record_batch()
    return rb.schema, rb.to_pydict()


def test_inference_rules():
    assert infer_column_type(["1", "2"]).base == "Int64"
    assert infer_column_type(["1", "2.5"]).base == "Float64"
    # beyond-int64 integers widen to Float64, not a crash
    assert infer_column_type(["1", str(2**70)]).base == "Float64"
    assert infer_column_type(["2020-01-02"]).base == "Date"
    assert infer_column_type(["2020-01-02 03:04:05"]).base == "DateTime"
    assert infer_column_type(["x", "1"]).base == "String"
    t = infer_column_type(["1", None])
    assert t.base == "Int64" and t.nullable
    # empty field => String (a numeric column never serializes empty)
    assert infer_column_type(["1", ""]).base == "String"
    assert infer_column_type([None]).base == "String"


def test_csv_withnames_inference():
    body = b'"k","price","name","day"\n1,1.5,"a",2020-01-02\n2,\\N,"b",2020-02-03\n'
    schema, d = _dec(body, "CSVWithNames")
    assert [f.name for f in schema] == ["k", "price", "name", "day"]
    assert str(schema.field("k").type) == "int64"
    assert str(schema.field("price").type) == "double"
    assert d["price"] == [1.5, None]
    assert str(d["day"][0]) == "2020-01-02"


def test_csv_withnames_quoted_null_is_literal():
    body = b'"s"\n"\\N"\n'
    _schema, d = _dec(body, "CSVWithNames")
    assert d["s"] == ["\\N"]  # quoted => the two-char string, not NULL


def test_tsv_withnames_structure_reorders_by_name():
    body = b"v\tk\nx\t1\ny\t2\n"
    schema, d = _dec(body, "TSVWithNames", "k Int64, v String")
    # stream order (v, k) wins; types matched by NAME from the structure
    assert [f.name for f in schema] == ["v", "k"]
    assert d == {"v": ["x", "y"], "k": [1, 2]}


def test_withnames_structure_missing_column_named_error():
    body = b"v\tk\nx\t1\n"
    with pytest.raises(ValueError, match="not in the declared structure"):
        _dec(body, "TSVWithNames", "k Int64")


def test_jsoncompact_withnames_inference():
    body = b'["a", "b", "c"]\n[1, "x", true]\n[2.5, null, false]\n'
    schema, d = _dec(body, "JSONCompactEachRowWithNames")
    assert str(schema.field("a").type) == "double"
    assert str(schema.field("c").type) == "bool"
    assert d["b"] == ["x", None]


def test_jsoncompact_withnames_nested_named_refusal():
    body = b'["a"]\n[[1, 2]]\n'
    with pytest.raises(Exception, match="declare a structure"):
        _dec(body, "JSONCompactEachRowWithNames")


def test_rowbinary_withnames_requires_structure():
    with pytest.raises(ValueError, match="RowBinaryWithNames"):
        _dec(b"", "RowBinaryWithNames")


def test_rowbinary_withnames_with_structure():
    import struct

    body = (
        bytes([2]) + bytes([1]) + b"k" + bytes([1]) + b"v"
        + struct.pack("<q", 7) + bytes([2]) + b"hi"
    )
    schema, d = _dec(body, "RowBinaryWithNames", "v String, k Int64")
    assert d == {"k": [7], "v": ["hi"]}


def test_url_and_file_withnames_end_to_end(spark, tmp_path):
    from duckdb_extension_clickhouse_native_spark.sources.file_table import (
        file_table,
    )

    (tmp_path / "w.csv").write_bytes(b'"k","v"\n1,"a"\n2,"b"\n')
    df = file_table(spark, f"{tmp_path}/w.csv", "CSVWithNames")
    assert df.schema.simpleString() == "struct<k:bigint,v:string>"
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]
    # SQL UDTF path
    rows = spark.sql(
        f"SELECT * FROM clickhouse_file('{tmp_path}/w.csv', 'CSVWithNames') "
        "ORDER BY k"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")]


def test_withnames_entry_matches_oracle(spark):
    import duckdb

    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'")
    name = "tf_url_withnames_scan"
    srows = sorted(map(tuple, e.queries()[name](spark, sf).collect()))
    orows = sorted(map(tuple, con.execute(e.oracle_sql()[name]).fetchall()))
    assert srows == orows and len(srows) >= 1


# --- schema_inference_mode='union' (r15) ------------------------------


def test_union_mode_merges_columns_and_widens_types(spark, tmp_path):
    """ClickHouse schema_inference_mode='union': columns union across
    elements (missing -> NULL-filled nullable), conflicting types widen
    (Int64+Float64 -> Float64); 'default' keeps the first-element probe
    and refuses differing column sets with a pointer at union mode."""
    from duckdb_extension_clickhouse_native_spark.sources.file_table import (
        file_table,
    )

    (tmp_path / "a.csv").write_bytes(b"k,v\n1,10\n")
    (tmp_path / "b.csv").write_bytes(b"k,v,extra\n2,2.5,x\n")
    spec = f"{tmp_path}/a.csv,{tmp_path}/b.csv"

    with pytest.raises(Exception, match="union"):
        file_table(spark, spec, "CSVWithNames").collect()

    df = file_table(
        spark, spec, "CSVWithNames", schema_inference_mode="union"
    )
    assert dict(df.dtypes) == {"k": "bigint", "v": "double",
                               "extra": "string"}
    rows = sorted((r["k"], r["v"], r["extra"]) for r in df.collect())
    assert rows == [(1, 10.0, None), (2, 2.5, "x")]


def test_union_mode_parquet_through_s3(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_extension_clickhouse_native_spark.sources.s3_table import (
        s3_table,
    )

    pq.write_table(pa.table({"x": [1]}), str(tmp_path / "p1.parquet"))
    pq.write_table(
        pa.table({"x": [2], "y": ["b"]}), str(tmp_path / "p2.parquet")
    )
    df = s3_table(
        spark, f"file://{tmp_path}/p*.parquet", "Parquet",
        schema_inference_mode="union",
    )
    assert sorted((r["x"], r["y"]) for r in df.collect()) == [
        (1, None), (2, "b"),
    ]


def test_union_mode_url_and_refusals(spark, tmp_path):
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from duckdb_extension_clickhouse_native_spark.sources.file_table import (
        file_table,
    )
    from duckdb_extension_clickhouse_native_spark.sources.url_table import (
        merge_inferred_schemas,
        url_table,
    )

    bodies = {"/a.csv": b"k\n1\n", "/b.csv": b"k,w\n2,true\n"}

    class H(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            b = bodies.get(self.path)
            if b is None:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(b)))
            self.end_headers()
            self.wfile.write(b)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    df = url_table(
        spark, f"{base}/a.csv,{base}/b.csv", "CSVWithNames",
        schema_inference_mode="union",
    )
    # CSV inference has no Bool arm (JSON's does): w infers String
    assert sorted((r["k"], r["w"]) for r in df.collect()) == [
        (1, None), (2, "true"),
    ]

    (tmp_path / "one.csv").write_bytes(b"k\n1\n")
    with pytest.raises(Exception, match="schema_inference_mode"):
        file_table(
            spark, f"{tmp_path}/one.csv", "CSVWithNames",
            schema_inference_mode="bogus",
        )

    # widening lattice unit pins (Bool vs Int64 -> String)
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    merged = merge_inferred_schemas(
        [
            StructType([StructField("a", BooleanType(), False)]),
            StructType([StructField("a", LongType(), False)]),
        ]
    )
    assert isinstance(merged["a"].dataType, StringType)


def test_union_probe_runs_threaded(spark, tmp_path):
    """probe_many: the union bind probes elements through a bounded
    pool (order preserved, first failure loud)."""
    from duckdb_extension_clickhouse_native_spark.sources.object_source import (
        probe_many,
    )

    import threading

    seen = []

    def probe(x):
        seen.append(threading.current_thread().name)
        if x == "boom":
            raise RuntimeError("probe failed for boom")
        return x * 2

    assert probe_many(probe, ["a", "b", "c"]) == ["aa", "bb", "cc"]
    assert len({t for t in seen}) >= 1
    with pytest.raises(RuntimeError, match="boom"):
        probe_many(probe, ["a", "boom", "c"])
    # single element stays inline (no pool spin-up)
    assert probe_many(probe, ["z"]) == ["zz"]


def test_url_get_retries_transient_failures(spark):
    """The url() GET retries transport faults on OPEN (kill-first-
    connection mock, the scan-source precedent); HTTP statuses are
    answers, never retried."""
    import socket
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from duckdb_extension_clickhouse_native_spark.sources.url_table import (
        url_table,
    )

    state = {"n": 0}

    class H(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            state["n"] += 1
            if state["n"] == 1:
                # kill the first connection mid-handshake
                self.connection.setsockopt(
                    socket.SOL_SOCKET, socket.SO_LINGER,
                    b"\x01\x00\x00\x00\x00\x00\x00\x00",
                )
                self.connection.close()
                return
            body = b"k,v\n1,10\n"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    df = url_table(spark, f"{base}/d.csv", "CSVWithNames")
    assert [tuple(r) for r in df.collect()] == [(1, 10)]
    assert state["n"] >= 2  # first connection died, retry succeeded
