"""The one Native part writer (native/writer.py NativePartSink): both
entry points — ``write_native_file`` and the DataSource writer —
produce the same part, and a compressed part keeps its skip indexes."""

from __future__ import annotations

import json
import os

import pyarrow as pa

from duckdb_extension_clickhouse_native_spark.native.marks import marks_sidecar_path
from duckdb_extension_clickhouse_native_spark.native.writer import (
    stats_sidecar_path,
    write_native_file,
)
from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
    ClickHouseNativeReader,
    ClickHouseNativeWriter,
    infer_native_schema,
)
from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual
from pyspark.sql.pandas.types import from_arrow_schema


def _table(n: int = 3000) -> pa.Table:
    return pa.table(
        {
            "k": pa.array([(i * 7919) % 100_003 for i in range(n)], pa.int64()),
            "cat": pa.array([f"c{i % 5}" for i in range(n)]),
            "note": pa.array(
                [None if i % 11 == 0 else f"row {i} text" for i in range(n)]
            ),
            "x": pa.array([i / 4 for i in range(n)], pa.float64()),
        }
    )


def _sidecar(path: str) -> dict:
    with open(stats_sidecar_path(path)) as f:
        side = json.load(f)
    side.pop("file_bytes", None)
    return side


def test_both_entry_points_write_the_same_part(tmp_path):
    t = _table()
    direct = str(tmp_path / "direct.clickhouse")
    write_native_file(
        direct, t, block_rows=700, index_bloom=["k"], index_set=["cat"]
    )

    out = str(tmp_path / "ds")
    w = ClickHouseNativeWriter(
        from_arrow_schema(t.schema),
        {"path": out, "block_rows": "700", "index_bloom": "k", "index_set": "cat"},
        False,
    )
    msg = w.write(iter(t.to_batches(max_chunksize=700)))
    w.commit([msg])
    (via_ds,) = msg.paths
    assert msg.rows == t.num_rows

    with open(direct, "rb") as a, open(via_ds, "rb") as b:
        assert a.read() == b.read()
    side = _sidecar(direct)
    assert side == _sidecar(via_ds)
    assert set(side) == {"rows", "columns", "blocks", "bloom", "set"}
    assert len(side["blocks"]) == 5
    with open(marks_sidecar_path(direct), "rb") as a, open(
        marks_sidecar_path(via_ds), "rb"
    ) as b:
        assert a.read() == b.read()


def test_compressed_part_prunes_on_its_set_index(tmp_path):
    d = str(tmp_path)
    # min/max 2..34 cannot disprove 5 <= g <= 10; the set {2, 18, 34} can
    write_native_file(
        os.path.join(d, "a.clickhouse"),
        pa.table({"g": pa.array([2, 18, 34], pa.int64())}),
        compression="lz4",
        index_set=["g"],
    )
    write_native_file(
        os.path.join(d, "b.clickhouse"),
        pa.table({"g": pa.array([6, 7, 40], pa.int64())}),
        compression="lz4",
        index_set=["g"],
    )
    assert _sidecar(os.path.join(d, "a.clickhouse"))["set"] == {"g": [2, 18, 34]}

    opts = {"path": d, "max_partition_bytes": "0"}
    reader = ClickHouseNativeReader(infer_native_schema(opts), opts)
    list(
        reader.pushFilters(
            [GreaterThanOrEqual(("g",), 5), LessThanOrEqual(("g",), 10)]
        )
    )
    parts = reader.partitions()
    assert [os.path.basename(p.path) for p in parts] == ["b.clickhouse"]
    rows = [v for b in reader.read(parts[0]) for v in b.column("g").to_pylist()]
    assert rows == [6, 7]
