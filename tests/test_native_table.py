"""The ``NativeTable`` snapshot: one constructor works out a table's
parts, hive layout and ``_table_schema.json``, and the schema probe,
the reader and every mutation get them from it.

* ``NativeTable.open`` over a flat directory, a hive tree, a
  ``batch-*`` glob, an empty directory, a missing path and an evolved
  table, pinned field by field.
* Only ``NativeTable.open`` derives a hive layout or loads table
  metadata for a read (``tableschema``'s ALTER functions load their own).
* Corrupt metadata stops a mutation before it touches ``out_dir``.
* A new DataFrame lists its table again: a part appended after one
  DataFrame's first action shows up in the next DataFrame.
"""

from __future__ import annotations

import ast
import os
import pathlib
import re

import pyarrow as pa
import pytest

from duckdb_extension_clickhouse_native_spark.native.tableschema import (
    alter_add_column,
    alter_rename_column,
    table_schema_path,
)
from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file
from duckdb_extension_clickhouse_native_spark.operators.mutations import (
    mutate_native_dir,
)
from duckdb_extension_clickhouse_native_spark.sources import native_datasource as nds
from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
    NativeTable,
    read_native,
)


def _table(lo: int, n: int) -> pa.Table:
    return pa.table(
        {
            "k": pa.array(range(lo, lo + n), pa.int64()),
            "s": pa.array([f"v{i % 7}" for i in range(lo, lo + n)]),
        }
    )


def _flat(d: str, n_files: int = 3, rows: int = 10) -> str:
    os.makedirs(d, exist_ok=True)
    for i in range(n_files):
        write_native_file(os.path.join(d, f"p{i}.clickhouse"), _table(i * rows, rows))
    return d


def _cases(root: str) -> dict:
    """{case: (path, expected fields with paths relative to root)}."""
    flat = _flat(os.path.join(root, "flat"))
    hive = os.path.join(root, "hive")
    for day in (1, 2):
        for cat in ("a", "b"):
            sub = os.path.join(hive, f"day={day}", f"cat={cat}")
            os.makedirs(sub)
            write_native_file(os.path.join(sub, "part.clickhouse"), _table(day, 5))
    for b in range(2):
        _flat(os.path.join(root, "stream", f"batch-{b:04d}"), n_files=2)
    empty = os.path.join(root, "empty")
    os.makedirs(empty)
    evolved = _flat(os.path.join(root, "evolved"), n_files=2)
    alter_rename_column(evolved, "s", "label")
    alter_add_column(evolved, "channel", "String", default="web")

    none = dict(keys=[], part_vals={}, key_types={}, meta_columns=None,
                aliases={}, defaults={}, known=frozenset())
    hive_parts = [f"hive/day={d}/cat={c}/part.clickhouse" for d in (1, 2) for c in "ab"]
    return {
        "flat": (flat, dict(none, paths=[f"flat/p{i}.clickhouse" for i in range(3)])),
        "hive": (
            hive,
            dict(
                none,
                paths=hive_parts,
                keys=["day", "cat"],
                part_vals={p: tuple(re.findall(r"=(\w+)", p)) for p in hive_parts},
                key_types={"day": int, "cat": str},
            ),
        ),
        "batch_glob": (
            os.path.join(root, "stream", "batch-*"),
            dict(
                none,
                paths=[
                    f"stream/batch-{b:04d}/p{i}.clickhouse"
                    for b in range(2)
                    for i in range(2)
                ],
            ),
        ),
        "empty": (empty, dict(none, paths=[])),
        "missing": (os.path.join(root, "missing"), dict(none, paths=["missing"])),
        "evolved": (
            evolved,
            dict(
                none,
                paths=[f"evolved/p{i}.clickhouse" for i in range(2)],
                meta_columns=["k", "label", "channel"],
                aliases={"k": [], "label": ["s"], "channel": []},
                defaults={"channel": "web"},
                known=frozenset({"k", "label", "channel"}),
            ),
        ),
    }


def test_open_lists_the_layout_and_metadata(tmp_path):
    root = str(tmp_path)

    def rel(p: str) -> str:
        return os.path.relpath(p, root)

    for case, (path, want) in _cases(root).items():
        t = NativeTable.open(path)
        got = dict(
            paths=[rel(p) for p in t.paths],
            keys=list(t.keys),
            part_vals={rel(p): tuple(v) for p, v in t.part_vals.items()},
            key_types=dict(t.key_types),
            meta_columns=t.meta and [c["name"] for c in t.meta["columns"]],
            aliases=t.aliases,
            defaults=t.defaults,
            known=t.known,
        )
        assert t.path == path, case
        assert got == want, case


def test_open_lists_through_the_module_global(tmp_path, monkeypatch):
    d = _flat(str(tmp_path / "t"))
    calls = []
    real = nds._resolve_paths
    monkeypatch.setattr(nds, "_resolve_paths", lambda p: calls.append(p) or real(p))
    assert len(NativeTable.open(d).paths) == 3
    assert calls == [d]

    def refuse(p):
        raise OSError("listing failed")

    monkeypatch.setattr(nds, "_resolve_paths", refuse)
    assert NativeTable.open(d).paths == []
    with pytest.raises(FileNotFoundError, match="no ClickHouse Native files"):
        nds.describe_native({"path": d})


def _calls(tree: ast.AST, names: set):
    """(called name, enclosing 'Class.function' path) for every call of
    one of ``names``."""
    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in names:
                    yield name, scope
            yield from walk(child, inner)

    return walk(tree, "")


def test_only_native_table_derives_layout_and_loads_metadata():
    pkg = pathlib.Path(nds.__file__).parent.parent
    sites = sorted(
        (str(f.relative_to(pkg)), name, scope)
        for f in sorted(pkg.rglob("*.py"))
        if f.name != "tableschema.py"
        for name, scope in _calls(
            ast.parse(f.read_text()), {"_partition_spec", "load_table_schema"}
        )
    )
    assert sites == [
        ("sources/native_datasource.py", "_partition_spec", "NativeTable.open"),
        ("sources/native_datasource.py", "load_table_schema", "NativeTable.open"),
    ]


def test_corrupt_metadata_stops_a_mutation_before_out_dir(spark, tmp_path):
    src = _flat(str(tmp_path / "src"))
    with open(table_schema_path(src), "w") as f:
        f.write("{not json")
    out = str(tmp_path / "out")
    os.makedirs(out)
    with open(os.path.join(out, "earlier.clickhouse"), "wb") as f:
        f.write(b"earlier")
    before = sorted(os.listdir(out))
    with pytest.raises(ValueError, match=re.escape(repr(table_schema_path(src)))):
        mutate_native_dir(spark, src, out, delete_where=[("k", "=", 5)])
    assert sorted(os.listdir(out)) == before == ["earlier.clickhouse"]
    with open(os.path.join(out, "earlier.clickhouse"), "rb") as f:
        assert f.read() == b"earlier"


def test_a_new_dataframe_lists_again(spark, tmp_path):
    """Each ``read_native`` DataFrame opens its own table, so it sees a
    part appended before its first action. Repeating an action on the
    same DataFrame reuses the read Spark planned for it (like a file
    source's cached listing), so that repeat does not."""
    d = _flat(str(tmp_path / "t"), n_files=2)
    df = read_native(spark, d)
    assert len(df.collect()) == 20
    write_native_file(os.path.join(d, "p9.clickhouse"), _table(900, 5))
    assert len(df.collect()) == 20
    rows = read_native(spark, d).collect()
    assert len(rows) == 25
    assert sorted(r.k for r in rows)[-5:] == list(range(900, 905))
