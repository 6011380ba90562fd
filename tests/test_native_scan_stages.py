"""The Native scan's two stages and its one schema probe.

* Plan stage: ``partitions()`` of the batch reader and of one stream
  micro-batch on fixed fixtures, pinned as (path, start_offset,
  n_blocks, part_vals, part_keys, start_row) tuples with group members
  expanded.
* Read stage: the ``clickhouse_native(path)`` SQL UDTF returns exactly
  the DataSource's rows and columns (delete masks, hive keys, renamed
  columns, lz4 frames), and ``clickhouse_native_columns`` describes the
  same columns.
* Option keys: the probe and the readers read the same option keys.
* One constructor: ``read_native`` returns what a bare ``.load()``
  returns, and it is the package's only batch Native read.
"""

from __future__ import annotations

import ast
import os
import pathlib

import pyarrow as pa
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

from duckdb_extension_clickhouse_native_spark.native.delmask import write_delmask
from duckdb_extension_clickhouse_native_spark.native.tableschema import (
    alter_rename_column,
)
from duckdb_extension_clickhouse_native_spark.native.writer import (
    arrow_to_native_bytes,
    write_native_file,
)
from duckdb_extension_clickhouse_native_spark.sources import native_datasource as nds


def _table(lo: int, n: int) -> pa.Table:
    return pa.table(
        {
            "k": pa.array(range(lo, lo + n), pa.int64()),
            "s": pa.array([f"v{i % 7}" for i in range(lo, lo + n)]),
        }
    )


def _flat(d: str, n_files: int = 6, rows: int = 50, **kw) -> str:
    os.makedirs(d, exist_ok=True)
    for i in range(n_files):
        write_native_file(
            os.path.join(d, f"p{i}.clickhouse"), _table(i * rows, rows), **kw
        )
    return d


def _hive(d: str) -> str:
    for day in (1, 2, 3):
        for j, cat in enumerate(("a", "b")):
            sub = os.path.join(d, f"day={day}", f"cat={cat}")
            os.makedirs(sub)
            lo = (day * 2 + j) * 100
            write_native_file(os.path.join(sub, "part.clickhouse"), _table(lo, 100))
    return d


def _rel(root: str, p) -> tuple:
    return (
        os.path.relpath(p.path, root) if p.path else "",
        p.start_offset,
        p.n_blocks,
        tuple(p.part_vals),
        tuple(p.part_keys),
        p.start_row,
    )


def _plan(root: str, parts) -> list:
    return [
        tuple(_rel(root, m) for m in (getattr(p, "parts", None) or (p,)))
        for p in parts
    ]


def _batch_plan(d: str, filters=(), **opts) -> list:
    options = {"path": d, **opts}
    reader = nds.ClickHouseNativeDataSource(options).reader(
        nds.infer_native_schema(options)
    )
    assert list(reader.pushFilters(list(filters))) == []
    return _plan(d, reader.partitions())


def test_plan_stage_is_pinned(tmp_path):
    flat = _flat(str(tmp_path / "flat"))
    assert _batch_plan(flat, min_partitions="2") == [
        tuple((f"p{i}.clickhouse", 0, -1, (), (), 0) for i in (0, 1, 2)),
        tuple((f"p{i}.clickhouse", 0, -1, (), (), 0) for i in (3, 4, 5)),
    ]
    assert _batch_plan(flat, max_partition_bytes="0") == [
        ((f"p{i}.clickhouse", 0, -1, (), (), 0),) for i in range(6)
    ]

    hive = _hive(str(tmp_path / "hive"))
    assert _batch_plan(
        hive,
        [EqualTo(("day",), 2), GreaterThan(("k",), 520)],
        max_partition_bytes="0",
    ) == [(("day=2/cat=b/part.clickhouse", 0, -1, ("2", "b"), ("day", "cat"), 0),)]
    assert _batch_plan(hive, [EqualTo(("day",), 3)], min_partitions="1") == [
        (
            ("day=3/cat=a/part.clickhouse", 0, -1, ("3", "a"), ("day", "cat"), 0),
            ("day=3/cat=b/part.clickhouse", 0, -1, ("3", "b"), ("day", "cat"), 0),
        )
    ]

    split = str(tmp_path / "split")
    os.makedirs(split)
    sp = os.path.join(split, "s.clickhouse")
    write_native_file(sp, _table(0, 400), block_rows=50)
    write_delmask(sp, [3, 120, 399], 400)
    plan = _batch_plan(
        split,
        [GreaterThan(("k",), 120), LessThan(("k",), 330)],
        split_blocks="true",
        target_partition_bytes="1",
    )
    # 50-row blocks of 569 bytes; blocks 0-1 and 7 are pruned by range
    assert plan == [
        (("s.clickhouse", 569 * b, 1, (), (), 50 * b),) for b in range(2, 7)
    ]

    lz4 = _flat(str(tmp_path / "lz4"), n_files=2, compression="lz4")
    assert _batch_plan(lz4, split_blocks="true", max_partition_bytes="0") == [
        (("p0.clickhouse", 0, -1, (), (), 0),),
        (("p1.clickhouse", 0, -1, (), (), 0),),
    ]


def test_stream_micro_batch_plan_is_pinned(tmp_path):
    from pyspark.sql.types import StructType

    d = _flat(str(tmp_path / "stream"), n_files=2, rows=20, block_rows=10)
    r = nds.ClickHouseNativeStreamReader(StructType([]), {"path": d})
    start = r.latestOffset()
    with open(os.path.join(d, "p1.clickhouse"), "ab") as f:
        f.write(arrow_to_native_bytes(_table(40, 10)))
    write_native_file(os.path.join(d, "p2.clickhouse"), _table(50, 10))
    write_native_file(
        os.path.join(d, "p3.clickhouse"), _table(60, 10), compression="lz4"
    )
    end = r.latestOffset()
    first = start["files"][os.path.join(d, "p1.clickhouse")]["bytes"]
    assert _plan(d, r.partitions(r.initialOffset(), start)) == [
        (("p0.clickhouse", 0, 2, (), (), -1),),
        (("p1.clickhouse", 0, 2, (), (), -1),),
    ]
    assert _plan(d, r.partitions(start, end)) == [
        (("p1.clickhouse", first, 1, (), (), -1),),
        (("p2.clickhouse", 0, 1, (), (), -1),),
        (("p3.clickhouse", 0, -1, (), (), -1),),
    ]
    assert _plan(d, r.partitions(end, end)) == [(("", 0, 0, (), (), -1),)]


def test_read_stage_projects_hive_keys_alone(tmp_path):
    """A projection of hive key columns only still reads every row (the
    keys come from the path, the row count from the file)."""
    hive = _hive(str(tmp_path / "hive"))
    for cols in ("day", "day,cat"):
        options = {"path": hive, "columns": cols}
        reader = nds.ClickHouseNativeDataSource(options).reader(
            nds.infer_native_schema(options)
        )
        rows = [
            r for p in reader.partitions() for b in reader.read(p)
            for r in b.to_pylist()
        ]
        assert len(rows) == 600, cols
        assert sorted({r["day"] for r in rows}) == [1, 2, 3]


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


# every option key the schema probe, the batch reader and the stream
# reader read (writer keys are the writer's own)
_READ_KEYS = {
    "path", "columns", "compression", "lossy_uint64", "scrub_strings",
    "unsupported_as_varchar", "verify_checksum", "split_blocks",
    "target_partition_bytes", "skipping", "allow_missing_columns",
    "prewhere", "max_partition_bytes", "min_partitions",
    "max_rows_to_read", "max_bytes_to_read", "file_column",
    "row_index_column", "sample", "sample_offset",
}


def test_probe_and_readers_read_the_same_option_keys(tmp_path):
    d = str(tmp_path / "t")
    os.makedirs(d)
    write_native_file(os.path.join(d, "a.clickhouse"), _table(0, 64), sample_by="k")
    options = _Recorder({"path": d, "sample": "0.5", "bogus": "1"})
    schema = nds.infer_native_schema(options)
    reader = nds.ClickHouseNativeReader(schema, options)
    rows = sum(b.num_rows for p in reader.partitions() for b in reader.read(p))
    assert 0 < rows < 64
    stream = nds.ClickHouseNativeStreamReader(schema, options)
    stream.partitions(stream.initialOffset(), stream.latestOffset())
    assert _Recorder.reads == _READ_KEYS


def _parity_dirs(root) -> dict:
    masked = _flat(str(root / "masked"), n_files=2, rows=100)
    write_delmask(os.path.join(masked, "p0.clickhouse"), range(0, 100, 5), 100)
    evolved = _flat(str(root / "evolved"), n_files=2)
    alter_rename_column(evolved, "s", "label")
    write_native_file(
        os.path.join(evolved, "p9.clickhouse"),
        _table(900, 10).rename_columns(["k", "label"]),
    )
    return {
        "masked": masked,
        "hive": _hive(str(root / "hive")),
        "evolved": evolved,
        "lz4": _flat(str(root / "lz4"), n_files=2, compression="lz4"),
    }


def test_native_udtf_returns_the_datasource_rows(spark, tmp_path):
    for name, d in _parity_dirs(tmp_path).items():
        ds = spark.read.format("clickhouse_native").load(d)
        udtf = spark.sql(f"SELECT * FROM clickhouse_native('{d}')")
        assert udtf.columns == ds.columns, name
        assert udtf.schema == ds.schema, name
        assert sorted(udtf.collect()) == sorted(ds.collect()), name
    n = spark.sql(f"SELECT count(*) FROM clickhouse_native('{tmp_path}/masked')")
    assert n.collect()[0][0] == 180
    cols = {
        d: [
            (r.column_name, r.ch_type, r.spark_type, r.is_nullable)
            for r in spark.sql(
                f"SELECT * FROM clickhouse_native_columns('{tmp_path}/{d}') "
                "ORDER BY position"
            ).collect()
        ]
        for d in ("hive", "evolved")
    }
    assert cols == {
        "hive": [
            ("k", "Int64", "bigint", False),
            ("s", "String", "string", False),
            ("day", "Int64", "bigint", False),
            ("cat", "String", "string", False),
        ],
        "evolved": [
            ("k", "Int64", "bigint", False),
            ("label", "String", "string", False),
        ],
    }


def _read_native_cases(root) -> dict:
    glob_root = str(root / "stream")
    for b in range(3):
        _flat(os.path.join(glob_root, f"batch-{b:04d}"), n_files=2, rows=20)
    return {
        "hive_columns": (_hive(str(root / "hive")), {"columns": "k,day"}),
        "file_and_row_index": (
            _flat(str(root / "flat"), n_files=3),
            {"file_column": "_src", "row_index_column": "_row"},
        ),
        "batch_glob": (os.path.join(glob_root, "batch-*"), {}),
    }


def test_read_native_matches_a_bare_load(spark, tmp_path):
    for name, (path, opts) in _read_native_cases(tmp_path).items():
        ours = nds.read_native(spark, path, **opts)
        bare = spark.read.format("clickhouse_native").options(**opts).load(path)
        assert ours.schema == bare.schema, name
        assert sorted(ours.collect()) == sorted(bare.collect()), name
        assert ours.count() > 0, name


def _batch_native_reads(tree: ast.AST):
    """(call, enclosing function name) for every
    ``<x>.read.format("clickhouse_native" | FORMAT_NAME)`` call."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, ast.FunctionDef) else fn
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "format"
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "read"
                and child.args
                and (
                    (isinstance(child.args[0], ast.Constant)
                     and child.args[0].value == "clickhouse_native")
                    or (isinstance(child.args[0], ast.Name)
                        and child.args[0].id == "FORMAT_NAME")
                )
            ):
                yield child, fn
            yield from walk(child, name)

    return walk(tree, None)


def test_read_native_is_the_only_batch_native_read():
    pkg = pathlib.Path(nds.__file__).parent.parent
    sites = [
        (str(f.relative_to(pkg)), fn)
        for f in sorted(pkg.rglob("*.py"))
        for _call, fn in _batch_native_reads(ast.parse(f.read_text()))
    ]
    assert sites == [("sources/native_datasource.py", "read_native")]
