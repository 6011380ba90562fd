"""``data_sized_shuffle`` sizes a table by its bytes on disk, whether
the table is one parquet file or a directory of part files.

The part files are sparse (``truncate`` writes no blocks), so a few
hundred MiB of "table" costs nothing to create.
"""

from __future__ import annotations

import math

from duckdb_extension_clickhouse_native_spark.plans import base

KEY = "spark.sql.shuffle.partitions"
PART_SIZES = [150 << 20, 100 << 20, 50 << 20]


def _sized(spark, sf_dir: str) -> int:
    try:
        base.data_sized_shuffle(spark, sf_dir, ["documents"])
        return int(spark.conf.get(KEY))
    finally:
        base.restore_scoped_confs()


def _expected(spark, total: int) -> int:
    floor = max(2, spark.sparkContext.defaultParallelism // 4)
    return max(
        floor,
        math.ceil(total * base.SHUFFLE_EXPANSION / base.SHUFFLE_BYTES_PER_PARTITION),
    )


def test_directory_table_sized_by_its_files(spark, tmp_path):
    table = tmp_path / "documents.parquet"
    table.mkdir()
    for i, n in enumerate(PART_SIZES):
        with open(table / f"part-{i:05d}.parquet", "wb") as f:
            f.truncate(n)
    floor = max(2, spark.sparkContext.defaultParallelism // 4)
    n = _sized(spark, str(tmp_path))
    assert n > floor, f"directory table sized to the floor ({n})"
    assert n == _expected(spark, sum(PART_SIZES))


def test_file_and_directory_forms_size_alike(spark, tmp_path):
    flat = tmp_path / "flat"
    flat.mkdir()
    with open(flat / "documents.parquet", "wb") as f:
        f.truncate(sum(PART_SIZES))
    nested = tmp_path / "nested" / "documents.parquet" / "day=1"
    nested.mkdir(parents=True)
    for i, n in enumerate(PART_SIZES):
        with open(nested / f"part-{i:05d}.parquet", "wb") as f:
            f.truncate(n)
    assert base.table_bytes(str(flat), "documents") == sum(PART_SIZES)
    assert base.table_bytes(str(tmp_path / "nested"), "documents") == sum(PART_SIZES)
    assert base.table_bytes(str(tmp_path), "missing") == 0
    assert _sized(spark, str(flat)) == _sized(spark, str(tmp_path / "nested"))
