"""ALTER MATERIALIZE COLUMN (operators/mutations.materialize_column):
flat and hive layouts, triage counts, default baking, sidecar gain."""

from __future__ import annotations

import json
import os

import pytest

from duckdb_extension_clickhouse_native_spark.native.tableschema import (
    alter_add_column,
)
from duckdb_extension_clickhouse_native_spark.operators.mutations import (
    materialize_column,
)


def _write_events(spark, path, partition_by=None, n=200):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .limit(n)
        .coalesce(2)
    )
    w = df.write.format("clickhouse_native").mode("overwrite")
    if partition_by:
        w = w.option("partition_by", partition_by)
    w.save(path)
    return df


def test_flat_materialize_bakes_default(spark, tmp_path):
    src = str(tmp_path / "t")
    _write_events(spark, src)
    alter_add_column(src, "score", "Int64", default=42)
    out = str(tmp_path / "out")
    res = materialize_column(spark, src, out, column="score")
    assert res["rewritten_parts"] >= 1 and res["untouched_parts"] == 0
    df = spark.read.format("clickhouse_native").load(out)
    vals = {r.score for r in df.select("score").distinct().collect()}
    assert vals == {42}
    # the materialized column now has sidecar stats in every part
    sides = [
        f for f in os.listdir(out) if f.endswith(".stats.json")
    ]
    assert sides
    for f in sides:
        st = json.load(open(os.path.join(out, f)))
        assert st["columns"]["score"]["min"] == 42


def test_hive_materialize_per_directory(spark, tmp_path):
    src = str(tmp_path / "t")
    _write_events(spark, src, partition_by="event_type")
    alter_add_column(src, "score", "Int64", default=7)
    out = str(tmp_path / "out")
    res = materialize_column(spark, src, out, column="score")
    assert res["rewritten_parts"] >= 1
    # the key=value tree is mirrored
    src_dirs = sorted(
        d for d in os.listdir(src) if d.startswith("event_type=")
    )
    out_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("event_type=")
    )
    assert out_dirs == src_dirs
    df = spark.read.format("clickhouse_native").load(out)
    assert {r.score for r in df.select("score").distinct().collect()} == {7}
    # partition values survive via the path
    n_types = df.select("event_type").distinct().count()
    assert n_types == len(src_dirs)


def test_unknown_column_rejected(spark, tmp_path):
    src = str(tmp_path / "t")
    _write_events(spark, src)
    with pytest.raises(ValueError, match="not in the table schema"):
        materialize_column(
            spark, src, str(tmp_path / "out"), column="nope"
        )


def test_hive_rerun_drops_partitions_gone_from_source(spark, tmp_path):
    import shutil

    import pyarrow as pa

    from duckdb_extension_clickhouse_native_spark.native.writer import (
        write_native_file,
    )

    src, out = str(tmp_path / "t"), str(tmp_path / "out")
    for k in range(3):
        os.makedirs(os.path.join(src, f"k={k}"))
        write_native_file(
            os.path.join(src, f"k={k}", "part-0.clickhouse"),
            pa.table({"v": pa.array(range(100), type=pa.int64())}),
        )
    alter_add_column(src, "score", "Int64", default=1)
    materialize_column(spark, src, out, column="score")
    shutil.rmtree(os.path.join(src, "k=2"))
    materialize_column(spark, src, out, column="score")

    def count(d):
        return spark.read.format("clickhouse_native").load(d).count()

    assert count(out) == count(src) == 200
    assert sorted(d for d in os.listdir(out) if "=" in d) == ["k=0", "k=1"]
