"""Partition packing: the ``max_partition_bytes`` reader option bins
small whole files into one input partition, exactly the Spark
FilePartition model (maxPartitionBytes + openCostInBytes + parallelism
floor).  DEFAULT ON since r14 at Spark's 128 MiB (r13 measured the
packed scan at ~1.4x the per-file one, SCALE.md; the r13 verdict
ordered the flip); ``max_partition_bytes=0`` opts out to
one-partition-per-file.  The parallelism floor (``min_partitions``,
default max(1, cores // 2)) keeps a directory at one file per
partition only while it has at most that many files, so partition
counts depend on the host: tests that pin a plan either set
``max_partition_bytes`` / ``min_partitions`` or compare the planned
files with groups expanded."""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

SRC = "/root/testdata/sf0.001/nation.parquet"


@pytest.fixture()
def many_files_dir(tmp_path):
    from duckdb_extension_clickhouse_native_spark.native.writer import (
        write_native_file,
    )

    t = pq.read_table(SRC)
    d = str(tmp_path / "many")
    os.makedirs(d)
    for i in range(8):
        write_native_file(
            os.path.join(d, f"part-{i:02d}.clickhouse"), t.slice(i * 3, 3)
        )
    return d, t


def test_packed_matches_per_file(spark, many_files_dir):
    d, t = many_files_dir
    plain = (
        spark.read.format("clickhouse_native")
        .option("max_partition_bytes", "0")
        .load(d)
    )
    packed = (
        spark.read.format("clickhouse_native")
        .option("max_partition_bytes", str(128 * 1024 * 1024))
        .option("min_partitions", "1")
        .load(d)
    )
    assert plain.rdd.getNumPartitions() == 8
    # min_partitions=1 -> target = total weight -> exactly one bin
    assert packed.rdd.getNumPartitions() == 1
    assert sorted(map(tuple, packed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_packing_composes_after_pruning(spark, many_files_dir):
    """Sidecar-pruned files must never join a bin: with a filter that
    keeps a single file's key range, the packed plan reads exactly the
    surviving rows."""
    d, _t = many_files_dir
    packed = (
        spark.read.format("clickhouse_native")
        .option("max_partition_bytes", str(128 * 1024 * 1024))
        .option("min_partitions", "2")
        .load(d)
        .filter("n_nationkey BETWEEN 0 AND 2")
    )
    rows = packed.collect()
    assert sorted(r["n_nationkey"] for r in rows) == [0, 1, 2]


def test_packed_hive_layout_keeps_partition_values(spark, tmp_path):
    """Grouped files from DIFFERENT hive directories keep their own
    partition-column values (each member partition carries its own
    key/value pairs through the group)."""
    from duckdb_extension_clickhouse_native_spark.native.writer import (
        write_native_file,
    )

    t = pq.read_table(SRC)
    d = str(tmp_path / "hive")
    for reg in range(5):
        sub = os.path.join(d, f"n_regionkey={reg}")
        os.makedirs(sub)
        piece = t.filter(
            pc.equal(t.column("n_regionkey"), reg)
        ).drop_columns(["n_regionkey"])
        write_native_file(os.path.join(sub, "p.clickhouse"), piece)
    plain = spark.read.format("clickhouse_native").load(d)
    packed = (
        spark.read.format("clickhouse_native")
        .option("max_partition_bytes", str(128 * 1024 * 1024))
        .option("min_partitions", "1")
        .load(d)
    )
    assert packed.rdd.getNumPartitions() < plain.rdd.getNumPartitions()
    assert sorted(map(tuple, packed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_default_small_dir_keeps_per_file(spark, many_files_dir):
    """The parallelism floor defaults to max(1, cores // 2), and a
    directory with no more files than the floor keeps one partition
    per file under the default packing."""
    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        ClickHouseNativeReader,
        infer_native_schema,
    )

    d, _ = many_files_dir
    options = {"path": d}
    reader = ClickHouseNativeReader(infer_native_schema(options), options)
    assert reader.min_partitions == max(1, os.cpu_count() // 2)
    df = (
        spark.read.format("clickhouse_native")
        .option("min_partitions", "8")
        .load(d)
    )
    assert df.rdd.getNumPartitions() == 8


def test_default_packs_many_tiny_files(spark, tmp_path):
    """DEFAULT-ON packing (r14): many tiny files bin to ~min_partitions
    tasks without any option, and values match the per-file opt-out."""
    from duckdb_extension_clickhouse_native_spark.native.writer import (
        write_native_file,
    )

    t = pq.read_table(SRC)
    d = str(tmp_path / "many48")
    os.makedirs(d)
    for i in range(48):
        write_native_file(
            os.path.join(d, f"part-{i:02d}.clickhouse"), t.slice(i % 8 * 3, 3)
        )
    packed = (
        spark.read.format("clickhouse_native")
        .option("min_partitions", "4")  # host-independent floor
        .load(d)
    )
    perfile = (
        spark.read.format("clickhouse_native")
        .option("max_partition_bytes", "0")
        .load(d)
    )
    assert perfile.rdd.getNumPartitions() == 48
    assert packed.rdd.getNumPartitions() <= 8
    assert sorted(map(tuple, packed.collect())) == sorted(
        map(tuple, perfile.collect())
    )
