"""Cursor-based streaming over clickhouse_scan
(sources/scan_datasource.ClickHouseScanStreamReader): incremental
micro-batches, offset semantics, cluster fan-out, and option
validation."""

from __future__ import annotations

import uuid

import pytest


@pytest.fixture()
def growing_mock():
    """A mutable DuckDB-backed mock whose `src` table tests append to.
    Appends go through ``con.cursor()``: the server threads use ``con``
    under their own lock while the stream polls, and one DuckDB
    connection object must not run two statements at once."""
    import duckdb

    from duckdb_extension_clickhouse_native_spark.sources.mock_server import (
        build_handler,
        serve,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE src (id BIGINT, v VARCHAR)")
    con.execute("INSERT INTO src SELECT range, 'a' || range FROM range(40)")
    return {"con": con, "url": serve(build_handler(con))}


def _start(spark, url, **opts):
    r = (
        spark.readStream.format("clickhouse_scan")
        .option("table", "src")
        .option("url", url)
        .option("cursor_column", "id")
    )
    for k, v in opts.items():
        r = r.option(k, v)
    name = f"cursor_{uuid.uuid4().hex[:10]}"
    q = (
        r.load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    return q, name


def test_incremental_micro_batches(spark, growing_mock):
    q, name = _start(spark, growing_mock["url"])
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 40
        growing_mock["con"].cursor().execute(
            "INSERT INTO src SELECT range + 40, 'b' || range FROM range(15)"
        )
        q.processAllAvailable()
        got = spark.table(name)
        assert got.count() == 55
        # no duplicates: each id exactly once across micro-batches
        assert got.select("id").distinct().count() == 55
    finally:
        q.stop()


def test_start_cursor_skips_history(spark, growing_mock):
    q, name = _start(spark, growing_mock["url"], start_cursor="29")
    try:
        q.processAllAvailable()
        ids = sorted(r.id for r in spark.table(name).collect())
        assert ids == list(range(30, 40))  # strictly > start_cursor
    finally:
        q.stop()


def _expect_stream_error(spark, url, match, **opts):
    # stream construction errors surface on the query thread, not at
    # start() — drain to observe them
    r = (
        spark.readStream.format("clickhouse_scan")
        .option("table", "src")
        .option("url", url)
    )
    for k, v in opts.items():
        r = r.option(k, v)
    q = r.load().writeStream.format("noop").start()
    try:
        with pytest.raises(Exception, match=match):
            q.processAllAvailable()
    finally:
        q.stop()


def test_missing_cursor_option_rejected(spark, growing_mock):
    _expect_stream_error(spark, growing_mock["url"], "cursor_column")


def test_non_monotonic_type_rejected(spark, growing_mock):
    _expect_stream_error(
        spark,
        growing_mock["url"],
        "integer or timestamp",
        cursor_column="v",  # a string column
    )


def test_fetch_partitions_splits_window_exactly(spark, growing_mock):
    """fetch_partitions=N splits an integer-cursor window into N
    disjoint sub-ranges whose union is exactly the committed range —
    same rows, no duplicates, across two micro-batches."""
    q, name = _start(spark, growing_mock["url"], fetch_partitions="3")
    try:
        q.processAllAvailable()
        assert spark.table(name).count() == 40
        growing_mock["con"].cursor().execute(
            "INSERT INTO src SELECT range + 40, 'b' || range FROM range(15)"
        )
        q.processAllAvailable()
        got = spark.table(name)
        assert got.count() == 55
        assert got.select("id").distinct().count() == 55
        ids = sorted(r.id for r in got.collect())
        assert ids == list(range(55))
    finally:
        q.stop()


def test_fetch_partitions_unit_ranges():
    """partitions() with fetch_partitions emits disjoint (a, b] windows
    covering exactly (s, e], and probes min() for the unbounded first
    batch."""
    from pyspark.sql.types import LongType, StructField, StructType

    from duckdb_extension_clickhouse_native_spark.sources.scan_datasource import (
        ClickHouseScanStreamReader,
    )

    schema = StructType([StructField("id", LongType())])
    r = ClickHouseScanStreamReader(
        schema,
        {"query": "SELECT id FROM t", "cursor_column": "id",
         "fetch_partitions": "4", "url": "http://unused:1"},
    )
    parts = r.partitions({"cursor": 10}, {"cursor": 50})
    assert len(parts) == 4
    joined = " | ".join(p.query for p in parts)
    for bound in ("> 10", "<= 20", "> 20", "<= 30", "> 30", "<= 40",
                  "> 40", "<= 50"):
        assert f"id {bound}" in joined, (bound, joined)
    # tiny window: falls back to one partition (span <= n)
    parts = r.partitions({"cursor": 10}, {"cursor": 12})
    assert len(parts) == 1


@pytest.mark.parametrize("bad", ["0", "-2", "2.5", "many"])
def test_fetch_partitions_rejected_at_construction(bad):
    """A fetch_partitions value that is not an integer >= 1 fails when
    the stream reader is built, naming the option — not at the first
    micro-batch with a bare int() error."""
    from pyspark.sql.types import LongType, StructField, StructType

    from duckdb_extension_clickhouse_native_spark.sources.scan_datasource import (
        ClickHouseScanStreamReader,
    )

    schema = StructType([StructField("id", LongType())])
    with pytest.raises(ValueError, match="fetch_partitions"):
        ClickHouseScanStreamReader(
            schema,
            {"query": "SELECT id FROM t", "cursor_column": "id",
             "fetch_partitions": bad, "url": "http://unused:1"},
        )


def test_cluster_cursor_polls_every_shard(spark):
    """With `cluster`, each micro-batch window fans out to every shard
    (the Distributed read path under streaming)."""
    import duckdb

    from duckdb_extension_clickhouse_native_spark.sources.mock_server import (
        build_handler,
        serve,
    )

    urls = []
    for shard in range(2):
        con = duckdb.connect()
        con.execute("CREATE TABLE src (id BIGINT, v VARCHAR)")
        con.execute(
            f"INSERT INTO src SELECT range, 's{shard}' FROM range(30) "
            f"WHERE range % 2 = {shard}"
        )
        urls.append(serve(build_handler(con)))
    name = f"cursor_{uuid.uuid4().hex[:10]}"
    q = (
        spark.readStream.format("clickhouse_scan")
        .option("table", "src")
        .option("cluster", ",".join(urls))
        .option("cursor_column", "id")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table(name)
        assert got.count() == 30
        assert got.select("v").distinct().count() == 2  # both shards seen
    finally:
        q.stop()
