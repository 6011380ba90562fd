"""Raw-text + whole-document JSON input formats (r15 fourth tranche,
native/rawtext.py): LineAsString, JSONAsString, RawBLOB, JSON,
JSONColumns, JSONCompactColumns, JSONObjectEachRow, Regexp, and
JSONEachRow schema inference (with NDJSON/JSONLines aliases)."""

from __future__ import annotations

import io

import pyarrow as pa
import pytest

from duckdb_extension_clickhouse_native_spark.sources.object_source import (
    _decode_stream,
    structure_is_authoritative,
)
from duckdb_extension_clickhouse_native_spark.sources.url_table import (
    format_table,
)


def _decode(fmt, data, structure=None, settings=None):
    blocks = list(_decode_stream(io.BytesIO(data), fmt, structure, settings))
    t = pa.Table.from_batches([b.to_record_batch() for b in blocks])
    return t


# ------------------------------------------------------------ decoders


def test_lineasstring_rows_and_rename():
    t = _decode("LineAsString", b"hello\nwor,ld\n\nend")
    assert t.schema.names == ["line"]
    assert t.column("line").to_pylist() == ["hello", "wor,ld", "", "end"]
    t2 = _decode("LineAsString", b"a\nb", "text String")
    assert t2.schema.names == ["text"]
    with pytest.raises(ValueError, match="single column is String"):
        _decode("LineAsString", b"a", "x Int64")
    with pytest.raises(ValueError, match="exactly one column"):
        _decode("LineAsString", b"a", "x String, y String")


def test_jsonasstring_objects_and_array_unwrap():
    raw = b'{"a":1} {"s":"br}ace \\" esc"}\n{"n":{"x":[1,2]}}'
    t = _decode("JSONAsString", raw)
    assert t.schema.names == ["json"]
    vals = t.column("json").to_pylist()
    assert vals[0] == '{"a":1}'
    assert "br}ace" in vals[1]
    assert vals[2] == '{"n":{"x":[1,2]}}'
    arr = _decode("JSONAsString", b' [ {"a":1}, {"b":2} ] ')
    assert arr.num_rows == 2
    with pytest.raises(ValueError, match="top-level JSON objects"):
        _decode("JSONAsString", b"[1, 2]")
    with pytest.raises(EOFError):
        _decode("JSONAsString", b'{"a": {"unclosed": 1}')


def test_rawblob_single_row():
    t = _decode("RawBLOB", b"entire\nfile\ncontents")
    assert t.schema.names == ["raw_blob"]
    assert t.column("raw_blob").to_pylist() == ["entire\nfile\ncontents"]


def test_json_full_format_is_self_describing():
    doc = (
        b'{"meta":[{"name":"n","type":"UInt32"},'
        b'{"name":"d","type":"Date"},'
        b'{"name":"s","type":"Nullable(String)"}],'
        b'"data":[{"n":1,"d":"2024-03-01","s":"a"},'
        b'{"n":2,"d":"2024-03-02","s":null}],"rows":2}'
    )
    t = _decode("JSON", doc)
    assert t.schema.names == ["n", "d", "s"]
    assert t.column("n").to_pylist() == [1, 2]
    assert str(t.column("d").type) == "date32[day]"
    assert t.column("s").to_pylist() == ["a", None]
    with pytest.raises(ValueError, match="meta"):
        _decode("JSON", b'{"data": []}')


def test_jsoncolumns_by_name_and_inference():
    raw = b'{"x":[1,2,3],"y":["a",null,"c"]}'
    t = _decode("JSONColumns", raw)
    assert t.column("x").to_pylist() == [1, 2, 3]
    assert t.column("y").to_pylist() == ["a", None, "c"]
    t2 = _decode("JSONColumns", raw, "y String, x Int16")
    # stream order wins; types match BY NAME
    assert t2.schema.names == ["x", "y"]
    assert str(t2.column("x").type) == "int16"
    with pytest.raises(ValueError, match="not in the declared structure"):
        _decode("JSONColumns", raw, "x Int64")
    with pytest.raises(ValueError, match="differing lengths"):
        _decode("JSONColumns", b'{"x":[1],"y":[1,2]}')


def test_jsoncompactcolumns_positional_and_generated_names():
    raw = b"[[1,2],[3.5,4.5]]"
    t = _decode("JSONCompactColumns", raw)
    assert t.schema.names == ["c1", "c2"]
    assert str(t.column("c2").type) == "double"
    t2 = _decode("JSONCompactColumns", raw, "k Int64, v Float64")
    assert t2.schema.names == ["k", "v"]
    with pytest.raises(ValueError, match="structure declares"):
        _decode("JSONCompactColumns", raw, "k Int64")


def test_jsonobjecteachrow_rows_from_member_values():
    raw = b'{"r1":{"a":1,"b":"x"},"r2":{"a":2}}'
    t = _decode("JSONObjectEachRow", raw)
    assert t.schema.names == ["a", "b"]
    assert t.column("a").to_pylist() == [1, 2]
    assert t.column("b").to_pylist() == ["x", None]


def test_jsoneachrow_inference_and_aliases():
    raw = b'{"a":1,"b":2.5}\n{"a":2}\n{"a":3,"b":null}\n'
    for fmt in ("JSONEachRow", "NDJSON", "JSONLines"):
        t = _decode(fmt, raw)
        assert t.schema.names == ["a", "b"]
        assert str(t.column("b").type) == "double"
        assert t.column("a").to_pylist() == [1, 2, 3]
    # with a structure, the classic zero-fetch structured path
    assert structure_is_authoritative("JSONEachRow", "a Int64")
    assert not structure_is_authoritative("JSONEachRow", None)
    assert not structure_is_authoritative("CSVWithNames", "a Int64")
    t = _decode("NDJSON", b'{"a":7}\n', "a Int64")
    assert t.column("a").to_pylist() == [7]


def test_regexp_format_groups_and_skip():
    raw = b"2024-01-01 GET /x 200\nnoise\n2024-01-02 POST /y 404\n"
    st = "d Date, verb String, p String, code UInt16"
    rx = r"(\S+) (\S+) (\S+) (\d+)"
    with pytest.raises(ValueError, match="does not match format_regexp"):
        _decode("Regexp", raw, st, {"format_regexp": rx})
    t = _decode(
        "Regexp", raw, st,
        {"format_regexp": rx, "format_regexp_skip_unmatched": "true"},
    )
    assert t.num_rows == 2
    assert t.column("verb").to_pylist() == ["GET", "POST"]
    assert t.column("code").to_pylist() == [200, 404]
    with pytest.raises(ValueError, match="capture groups"):
        _decode("Regexp", raw, st, {"format_regexp": r"(\S+) (\S+)"})
    with pytest.raises(ValueError, match="format_regexp option"):
        _decode("Regexp", raw, st)
    with pytest.raises(ValueError, match="not self-describing"):
        _decode("Regexp", raw, None, {"format_regexp": rx})


# -------------------------------------------------- through the sources


def test_file_table_lineasstring_and_regexp(spark, tmp_path):
    from duckdb_extension_clickhouse_native_spark.sources.file_table import (
        file_table,
    )

    p = tmp_path / "log.txt"
    p.write_bytes(b"alpha 1\nbeta 2\ngamma 3\n")
    df = file_table(spark, str(p), "LineAsString")
    assert df.columns == ["line"]
    assert df.count() == 3

    df2 = file_table(
        spark, str(p), "Regexp", structure="w String, n Int32",
        format_regexp=r"(\w+) (\d+)",
    )
    rows = sorted(map(tuple, df2.collect()))
    assert rows == [("alpha", 1), ("beta", 2), ("gamma", 3)]


def test_file_table_ndjson_inference(spark, tmp_path):
    from duckdb_extension_clickhouse_native_spark.sources.file_table import (
        file_table,
    )

    p = tmp_path / "d.ndjson"
    p.write_bytes(b'{"k":1,"v":"a"}\n{"k":2,"v":"b"}\n')
    df = file_table(spark, str(p), "NDJSON")
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]


def _serve(bodies: dict) -> str:
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

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


def test_url_table_jsonasstring(spark):
    from duckdb_extension_clickhouse_native_spark.sources.url_table import (
        url_table,
    )

    base = _serve({"/d.json": b'{"a":1}\n{"b":2}'})
    df = url_table(spark, f"{base}/d.json", "JSONAsString")
    vals = sorted(r.json for r in df.collect())
    assert vals == ['{"a":1}', '{"b":2}']


def test_format_table_json_family(spark):
    df = format_table(
        spark, "JSONColumns", '{"x":[10,20],"y":["u","v"]}'
    )
    assert sorted(map(tuple, df.collect())) == [(10, "u"), (20, "v")]
    df2 = format_table(spark, "LineAsString", "a\nb\nc")
    assert df2.count() == 3


def test_json_read_only_for_insert(spark):
    from duckdb_extension_clickhouse_native_spark.sources.url_table import (
        url_insert,
    )

    df = spark.range(3)
    with pytest.raises(ValueError, match="read-only"):
        url_insert(df, "http://127.0.0.1:1/x.json", "JSON")
