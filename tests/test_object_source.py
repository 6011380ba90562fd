"""The url() / file() / s3() surfaces share one object source
(sources/object_source.py): one reader, one schema probe, one SQL UDTF
and one INSERT path behind a three-row opener table.  These pins
cover what sharing must keep — each surface's name, options and
signatures — and two contracts every surface now gets from the shared
path: UDTF rows arrive in the analyzed types, and an empty INSERT
writes its schema."""

from __future__ import annotations

import inspect
import io
import types

import pyarrow.parquet as pq
import pytest

from duckdb_extension_clickhouse_native_spark.sources import (
    file_table,
    s3_table,
    url_table,
)
from test_url_table import _serve, _serve_rw

SURFACES = ["file", "s3", "url"]


def _spec(surface: str, tmp_path, names: list, bodies: dict) -> str:
    """A comma list naming ``names`` on ``surface``, serving ``bodies``
    (name -> bytes): tmp files for file()/s3() (s3 through file://),
    a local HTTP server for url()."""
    if surface == "url":
        base = _serve({f"/{n}": b for n, b in bodies.items()})
        return ",".join(f"{base}/{n}" for n in names)
    for n, b in bodies.items():
        (tmp_path / n).write_bytes(b)
    prefix = "file://" if surface == "s3" else ""
    return ",".join(f"{prefix}{tmp_path}/{n}" for n in names)


@pytest.mark.parametrize("surface", SURFACES)
def test_udtf_rows_conform_to_analyzed_types(spark, tmp_path, surface):
    """analyze() probes the first element (x: Float64); the second
    element's stream infers Int64.  The UDTF must cast it like the
    DataSource does, not emit NULLs for the mismatched values."""
    spec = _spec(
        surface, tmp_path, ["a.csv", "b.csv"],
        {"a.csv": b"x\n1.5\n2.5\n", "b.csv": b"x\n1\n2\n"},
    )
    df = spark.sql(
        f"SELECT x FROM clickhouse_{surface}('{spec}', 'CSVWithNames')"
    )
    assert df.schema.simpleString() == "struct<x:double>"
    vals = [r["x"] for r in df.collect()]
    assert None not in vals
    assert sorted(vals) == [1.0, 1.5, 2.0, 2.5]


@pytest.mark.parametrize("fmt", ["Parquet", "CSVWithNamesAndTypes"])
@pytest.mark.parametrize("surface", SURFACES)
def test_empty_insert_writes_schema(spark, tmp_path, surface, fmt):
    """A 0-row INSERT writes a valid object carrying the schema, like
    INTO OUTFILE: the names and types rows for CSV, a footer for
    Parquet."""
    df = spark.createDataFrame([], "id bigint, s string")
    name = "out.parquet" if fmt == "Parquet" else "out.csv"
    if surface == "url":
        base, store = _serve_rw()
        assert url_table.url_insert(df, f"{base}/{name}", fmt) == 0
        body = store[f"/{name}"]
    else:
        if surface == "file":
            n = file_table.file_insert(df, f"{tmp_path}/{name}", fmt)
        else:
            n = s3_table.s3_insert(df, f"file://{tmp_path}/{name}", fmt)
        assert n == 0
        body = (tmp_path / name).read_bytes()
    if fmt == "Parquet":
        t = pq.read_table(io.BytesIO(body))
        assert t.column_names == ["id", "s"] and t.num_rows == 0
    else:
        assert body.startswith(b'"id","s"\n"Int64","String"\n')


@pytest.mark.parametrize(
    "fmt",
    [
        "CSVWithNamesAndTypes",
        "TSVWithNamesAndTypes",
        "JSONCompactEachRowWithNamesAndTypes",
        "RowBinaryWithNamesAndTypes",
    ],
)
def test_empty_insert_reads_back(spark, tmp_path, fmt):
    """The header of a WithNamesAndTypes object names every column and
    its type, so the object an empty INSERT writes reads back as 0 rows
    with the written schema."""
    df = spark.createDataFrame([], "id bigint, s string")
    path = f"{tmp_path}/out.bin"
    assert file_table.file_insert(df, path, fmt) == 0
    back = file_table.file_table(spark, path, fmt)
    assert back.schema.simpleString() == "struct<id:bigint,s:string>"
    assert back.count() == 0


def test_names_only_header_cannot_be_read(spark, tmp_path):
    """CSVWithNames carries no types row: a header-only object has
    nothing to infer types from and keeps its refusal."""
    (tmp_path / "names.csv").write_bytes(b"id,s\n")
    with pytest.raises(Exception, match="zero-block"):
        file_table.file_table(spark, f"{tmp_path}/names.csv", "CSVWithNames")


class _Recorder(dict):
    """Options mapping that records every key read through ``get`` or
    ``[]``."""

    reads: set = set()

    def get(self, key, default=None):
        _Recorder.reads.add(key)
        return super().get(key, default)

    def __getitem__(self, key):
        _Recorder.reads.add(key)
        return super().__getitem__(key)


_COMMON_KEYS = {
    "format", "structure", "compression", "format_regexp",
    "format_regexp_skip_unmatched", "schema_inference_mode",
    "virtual_columns",
}
_FS_KEYS = {
    "access_key_id", "secret_access_key", "session_token", "nosign",
    "region", "endpoint",
}

_SIGNATURES = {
    url_table.url_table: (
        "(spark, url: 'str', fmt: 'str' = 'CSVWithNamesAndTypes', "
        "structure: 'Optional[str]' = None, compression: 'Optional[str]' "
        "= None, virtual_columns: 'bool' = False, headers=None, "
        "schema_inference_mode: 'Optional[str]' = None, format_regexp: "
        "'Optional[str]' = None, format_regexp_skip_unmatched: 'bool' = "
        "False)"
    ),
    file_table.file_table: (
        "(spark: 'SparkSession', path: 'str', fmt: 'str' = "
        "'CSVWithNamesAndTypes', structure: 'Optional[str]' = None, "
        "compression: 'Optional[str]' = None, virtual_columns: 'bool' = "
        "False, schema_inference_mode: 'Optional[str]' = None, "
        "format_regexp: 'Optional[str]' = None, "
        "format_regexp_skip_unmatched: 'bool' = False) -> 'DataFrame'"
    ),
    s3_table.s3_table: (
        "(spark: 'SparkSession', path: 'str', fmt: 'str' = "
        "'CSVWithNamesAndTypes', structure: 'Optional[str]' = None, "
        "compression: 'Optional[str]' = None, *, access_key_id: "
        "'Optional[str]' = None, secret_access_key: 'Optional[str]' = "
        "None, session_token: 'Optional[str]' = None, nosign: 'bool' = "
        "False, region: 'Optional[str]' = None, endpoint: "
        "'Optional[str]' = None, virtual_columns: 'bool' = False, "
        "schema_inference_mode: 'Optional[str]' = None, format_regexp: "
        "'Optional[str]' = None, format_regexp_skip_unmatched: 'bool' = "
        "False) -> 'DataFrame'"
    ),
    file_table.file_cluster_table: (
        "(spark: 'SparkSession', cluster: 'str', path: 'str', *args, "
        "**kwargs) -> 'DataFrame'"
    ),
    s3_table.s3_cluster_table: (
        "(spark: 'SparkSession', cluster: 'str', path: 'str', *args, "
        "**kwargs) -> 'DataFrame'"
    ),
    s3_table.hdfs_cluster_table: (
        "(spark: 'SparkSession', cluster: 'str', path: 'str', *args, "
        "**kwargs) -> 'DataFrame'"
    ),
    s3_table.gcs_table: (
        "(spark: 'SparkSession', path: 'str', *args, **kwargs) -> "
        "'DataFrame'"
    ),
    s3_table.oss_table: (
        "(spark: 'SparkSession', path: 'str', *args, **kwargs) -> "
        "'DataFrame'"
    ),
    s3_table.hdfs_table: (
        "(spark: 'SparkSession', path: 'str', *args, **kwargs) -> "
        "'DataFrame'"
    ),
    url_table.url_insert: (
        "(df, url: 'str', fmt: 'str' = 'CSVWithNamesAndTypes') -> 'int'"
    ),
    s3_table.s3_insert: (
        "(df, path: 'str', fmt: 'str' = 'CSVWithNamesAndTypes', *, "
        "partition_by: 'Optional[str]' = None, access_key_id: "
        "'Optional[str]' = None, secret_access_key: 'Optional[str]' = "
        "None, session_token: 'Optional[str]' = None, nosign: 'bool' = "
        "False, region: 'Optional[str]' = None, endpoint: "
        "'Optional[str]' = None) -> 'int'"
    ),
    file_table.file_insert: (
        "(df, path: 'str', fmt: 'str' = 'CSVWithNamesAndTypes', *, "
        "partition_by: 'Optional[str]' = None) -> 'int'"
    ),
    url_table.format_table: (
        "(spark, fmt: 'str', data, structure: 'Optional[str]' = None, "
        "settings: 'Optional[dict]' = None)"
    ),
    url_table.expand_url_globs: "(url: 'str') -> 'list'",
    url_table.expand_urls: "(spec: 'str') -> 'list'",
    file_table.expand_file_paths: "(spec: 'str') -> 'list'",
    s3_table.expand_s3_paths: (
        "(spec: 'str', fs_opts: 'Optional[dict]' = None) -> 'list'"
    ),
    url_table.parse_structure: "(structure: 'str')",
    url_table.merge_inferred_schemas: (
        "(schemas: 'list') -> \"'StructType'\""
    ),
}


def test_object_surfaces_keep_their_identity(spark, tmp_path, monkeypatch):
    """Each surface keeps its DataSource name, reads exactly its own
    option keys (recorded through schema() + reader() + every
    partition's read), and keeps every public signature; the three SQL
    UDTFs share one parameter list, named after each path option."""
    from duckdb_extension_clickhouse_native_spark.sources.table_functions import (
        register_table_functions,
    )

    # the sources may copy their options with dict(...); shadowing the
    # name in their modules keeps the copies recording
    for mod in (url_table, file_table, s3_table):
        monkeypatch.setattr(mod, "dict", _Recorder, raising=False)
    (tmp_path / "t.csv").write_bytes(b'1,"a"\n2,"b"\n')
    base = _serve({"/t.csv": b'1,"a"\n2,"b"\n'})
    options = {
        **{k: "" for k in _COMMON_KEYS | _FS_KEYS},
        "format": "CSV",
        "structure": "k Int64, v String",
        "schema_inference_mode": "default",
        "virtual_columns": "true",
        "headers": "X-Probe=1",
        "bogus": "1",
    }
    expected = {
        url_table.ClickHouseURLDataSource: (
            "clickhouse_url", {"url": f"{base}/t.csv"},
            _COMMON_KEYS | {"url", "headers"},
        ),
        file_table.ClickHouseFileDataSource: (
            "clickhouse_file", {"path": f"{tmp_path}/t.csv"},
            _COMMON_KEYS | {"path"},
        ),
        s3_table.ClickHouseS3DataSource: (
            "clickhouse_s3", {"path": f"file://{tmp_path}/t.csv"},
            _COMMON_KEYS | _FS_KEYS | {"path"},
        ),
    }
    for source, (name, path_opt, keys) in expected.items():
        assert source.name() == name
        _Recorder.reads = set()
        ds = source(_Recorder({**options, **path_opt}))
        schema = ds.schema()
        assert schema.fieldNames() == ["k", "v", "_path", "_file"]
        reader = ds.reader(schema)
        rows = [
            r for p in reader.partitions() for rb in reader.read(p)
            for r in rb.to_pylist()
        ]
        assert [(r["k"], r["v"]) for r in rows] == [(1, "a"), (2, "b")]
        assert _Recorder.reads == keys, name

    for fn, sig in _SIGNATURES.items():
        assert str(inspect.signature(fn)) == sig, fn.__name__

    registered: dict = {}
    register_table_functions(
        types.SimpleNamespace(
            udtf=types.SimpleNamespace(register=registered.__setitem__)
        )
    )
    for name, first in [
        ("clickhouse_url", "url"), ("clickhouse_file", "path"),
        ("clickhouse_s3", "path"),
    ]:
        analyze = registered[name].func.analyze
        assert list(inspect.signature(analyze).parameters) == [
            first, "fmt", "structure", "compression",
        ], name
