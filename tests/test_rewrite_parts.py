"""The one part-rewrite primitive (operators/mutations.rewrite_parts):
every mutation, TTL and MATERIALIZE COLUMN takes the same triage ->
link -> stage -> read -> write path, so a flat directory and the same
rows laid out hive on one key give identical answers and counts, a
staged tree never outlives its call, and an empty expiry conjunction
is refused on every path."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from duckdb_extension_clickhouse_native_spark.native.tableschema import (
    alter_add_column,
)
from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file
from duckdb_extension_clickhouse_native_spark.operators.mutations import (
    apply_column_ttl,
    apply_ttl,
    materialize_column,
    mutate_native_dir,
)
from duckdb_extension_clickhouse_native_spark.operators.projections import (
    add_projection,
    refresh_projection,
)


def _table(layout: str, d: str) -> None:
    """Key g in {0, 1, 2}, two 10-row parts per key, x unique
    (g*100 + part*10 + i), v = 1. ``flat`` stores g in every part (one
    g value per part, so sidecars prove what hive directories do);
    ``hive`` stores it as the ``g=<value>`` directory."""
    for g in range(3):
        for j in range(2):
            lo = g * 100 + j * 10
            cols = {
                "x": pa.array(range(lo, lo + 10), type=pa.int64()),
                "v": pa.array([1] * 10, type=pa.int64()),
            }
            if layout == "flat":
                path = os.path.join(d, f"part-{g}-{j}.clickhouse")
                cols = {"g": pa.array([g] * 10, type=pa.int64()), **cols}
            else:
                path = os.path.join(d, f"g={g}", f"part-{j}.clickhouse")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            write_native_file(path, pa.table(cols))


def _rows(spark, d: str, cols=("g", "x", "v")) -> list:
    df = spark.read.format("clickhouse_native").load(d)
    return sorted(tuple(r) for r in df.select(*cols).collect())


OPS = {
    "delete": lambda s, src, out: mutate_native_dir(
        s, src, out, delete_where=[("g", "=", 1), ("x", "<", 105)]
    ),
    "update": lambda s, src, out: mutate_native_dir(
        s, src, out, update_set={"v": "v * 10"}, update_where=[("x", ">=", 205)]
    ),
    "ttl_delete": lambda s, src, out: apply_ttl(
        s, src, out, ttl_where=[("g", "<", 1)]
    ),
    "ttl_rollup": lambda s, src, out: apply_ttl(
        s,
        src,
        out,
        ttl_where=[("x", "<", 115)],
        group_by=["g"],
        set_exprs={"v": "SUM(v)", "x": "MAX(x)"},
    ),
    "column_ttl": lambda s, src, out: apply_column_ttl(
        s, src, out, column="v", default_expr="0", ttl_where=[("x", "<", 10)]
    ),
}


def test_flat_and_hive_agree(spark, tmp_path, monkeypatch):
    saves = []
    real_save = DataFrameWriter.save

    def counting_save(self, *a, **kw):
        saves.append(1)
        return real_save(self, *a, **kw)

    got = {}
    for layout in ("flat", "hive"):
        src = str(tmp_path / layout)
        _table(layout, src)
        for op, run in OPS.items():
            out = str(tmp_path / f"{layout}-{op}")
            res = run(spark, src, out)
            got[layout, op] = (
                _rows(spark, out),
                res["untouched_parts"],
                res["rewritten_parts"],
            )
        alter_add_column(src, "score", "Int64", default=7)
        out = str(tmp_path / f"{layout}-materialize")
        saves.clear()
        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "save", counting_save)
            res = materialize_column(spark, src, out, column="score")
        # one Spark write job whatever the number of partition dirs
        assert len(saves) == 1
        got[layout, "materialize"] = (
            _rows(spark, out, ("g", "x", "v", "score")),
            res["untouched_parts"],
            res["rewritten_parts"],
        )
    for op in [*OPS, "materialize"]:
        assert got["flat", op] == got["hive", op], op
    # the triage really split the work: links and rewrites both occur
    assert got["hive", "delete"][1:] == (5, 1)
    assert got["hive", "ttl_delete"][1:] == (4, 2)
    assert got["hive", "materialize"][1:] == (0, 6)
    assert len(got["hive", "ttl_delete"][0]) == 40
    assert (0, 19, 20) in got["hive", "ttl_rollup"][0]


@pytest.mark.parametrize("layout", ["flat", "hive"])
@pytest.mark.parametrize("group_by", [None, ["g"]], ids=["delete", "rollup"])
def test_empty_ttl_where_refused(spark, tmp_path, layout, group_by):
    src = str(tmp_path / "src")
    _table(layout, src)
    with pytest.raises(ValueError, match="empty ttl_where"):
        apply_ttl(
            spark, src, str(tmp_path / "out"), ttl_where=[], group_by=group_by
        )


def test_no_stage_left_behind(spark, tmp_path, monkeypatch):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    flat, hive = str(tmp_path / "flat"), str(tmp_path / "hive")
    _table("flat", flat)
    _table("hive", hive)

    res = mutate_native_dir(
        spark, flat, str(tmp_path / "m"), delete_where=[("x", "<", 5)]
    )
    assert res["rewritten_parts"] == 1
    res = apply_ttl(
        spark,
        hive,
        str(tmp_path / "r"),
        ttl_where=[("x", "<", 5)],
        group_by=["g"],
    )
    assert res["rewritten_parts"] == 1
    alter_add_column(hive, "score", "Int64", default=7)
    res = materialize_column(spark, hive, str(tmp_path / "mc"), column="score")
    assert res["rewritten_parts"] == 6

    add_projection(spark, flat, "p", group_by=["g"], aggs={"n": ("count", None)})
    write_native_file(
        os.path.join(flat, "part-9.clickhouse"),
        pa.table(
            {
                "g": pa.array([9], type=pa.int64()),
                "x": pa.array([900], type=pa.int64()),
                "v": pa.array([1], type=pa.int64()),
            }
        ),
    )
    assert refresh_projection(spark, flat, "p")["new_parts"] == 1

    assert os.listdir(tmp) == []
