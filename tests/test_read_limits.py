"""max_rows_to_read / max_bytes_to_read — the ClickHouse
query-complexity guards, enforced at planning over the
post-file-pruning estimate. Contract: a runaway scan raises before
its first task; a pushed filter the sidecar can prune on makes the
same query admissible (exactly the ClickHouse index-makes-it-legal
behavior); sidecar-less files count 0 rows (no false refusal) but
their bytes still count.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_extension_clickhouse_native_spark.native.writer import (
    stats_sidecar_path,
    write_native_file,
)

SRC = "/root/testdata/sf0.001/orders.parquet"


@pytest.fixture(scope="module")
def limits_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("limits"))
    t = pq.read_table(SRC).sort_by("o_orderkey")
    n = t.num_rows
    per = n // 4
    for i in range(4):
        write_native_file(
            os.path.join(d, f"part-{i}.clickhouse"), t.slice(i * per, per)
        )
    return d, per


def test_row_limit_blocks_full_scan(spark, limits_dir):
    d, per = limits_dir
    df = (
        spark.read.format("clickhouse_native")
        .option("max_rows_to_read", str(per))
        .load(d)
    )
    with pytest.raises(Exception, match="max_rows_to_read"):
        df.count()


def test_pruning_filter_makes_query_admissible(spark, limits_dir):
    d, per = limits_dir
    # key-sorted parts: a tight key range prunes to ONE file, under
    # the limit — the filter legalizes the query, ClickHouse-style
    lo = 0
    df = (
        spark.read.format("clickhouse_native")
        .option("max_rows_to_read", str(per))
        .load(d)
        .filter(f"o_orderkey <= {per // 2}")
    )
    assert df.count() > 0


def test_byte_limit_and_admissible_full_scan(spark, limits_dir):
    d, per = limits_dir
    with pytest.raises(Exception, match="max_bytes_to_read"):
        (
            spark.read.format("clickhouse_native")
            .option("max_bytes_to_read", "1024")
            .load(d)
            .count()
        )
    # generous limits: the same scans pass
    n = (
        spark.read.format("clickhouse_native")
        .option("max_rows_to_read", "10000000")
        .option("max_bytes_to_read", str(1 << 30))
        .load(d)
        .count()
    )
    assert n == per * 4


def test_sidecarless_files_count_zero_rows(spark, tmp_path):
    d = str(tmp_path / "nostats")
    os.makedirs(d)
    t = pq.read_table(SRC)
    p = os.path.join(d, "p.clickhouse")
    write_native_file(p, t)
    os.remove(stats_sidecar_path(p))
    # rows unknown -> no false refusal on the row guard...
    n = (
        spark.read.format("clickhouse_native")
        .option("max_rows_to_read", "1")
        .load(d)
        .count()
    )
    assert n == t.num_rows
    # ...but bytes are always known
    with pytest.raises(Exception, match="max_bytes_to_read"):
        (
            spark.read.format("clickhouse_native")
            .option("max_bytes_to_read", "16")
            .load(d)
            .count()
        )
