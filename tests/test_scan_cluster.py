"""cluster() / Distributed-engine semantics for the scan source:

* READ — the `cluster` option (comma-separated shard endpoints) runs
  the shard-local query on EVERY shard and unions the streams, one
  Spark partition per shard (× split queries if both are set).
* WRITE — a cluster INSERT routes every row to the shard selected by
  `sharding_key % n_shards` (integer column, the Distributed
  sharding-expression contract); rand() routing is refused because
  writes must stay deterministic.
"""

from __future__ import annotations

import threading

import pytest


@pytest.fixture(scope="module")
def two_shards():
    """Two DuckDB-backed mock servers: shard i holds events rows with
    user_id % 2 == i plus a recording insert sink."""
    import duckdb

    from duckdb_extension_clickhouse_native_spark.sources.mock_server import (
        build_handler,
        serve,
    )

    sf = "/root/testdata/sf0.001"
    state = {"inserted": [[], []]}
    lock = threading.Lock()
    urls = []
    for shard in range(2):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet' "
            f"WHERE user_id % 2 = {shard}"
        )

        def record(table, batches, _shard=shard):
            with lock:
                state["inserted"][_shard].append((table, batches))

        urls.append(
            serve(build_handler(con, insert_hook=record, execute_inserts=False))
        )
    return {"urls": urls, "state": state, "sf": sf}


def _read_cluster(spark, urls, query, **opts):
    r = (
        spark.read.format("clickhouse_scan")
        .option("query", query)
        .option("cluster", ",".join(urls))
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_cluster_read_unions_disjoint_shards(spark, two_shards):
    import duckdb

    df = _read_cluster(
        spark,
        two_shards["urls"],
        "SELECT event_id, user_id FROM events",
    )
    assert df.rdd.getNumPartitions() == 2
    got = sorted((r.event_id, r.user_id) for r in df.collect())
    want = duckdb.sql(
        f"SELECT event_id, user_id FROM '{two_shards['sf']}/events.parquet' "
        "ORDER BY event_id"
    ).fetchall()
    assert got == [tuple(r) for r in want]


def test_cluster_read_composes_with_split(spark, two_shards):
    df = _read_cluster(
        spark,
        two_shards["urls"],
        "SELECT event_id, user_id FROM events",
        partition_column="event_id",
        num_partitions="3",
        lower_bound="0",
        upper_bound="10000",
    )
    # shards x splits
    assert df.rdd.getNumPartitions() == 6
    assert df.count() == 1000  # sf0.001 events row count, all present


def test_cluster_read_pushdown_reaches_every_shard(spark, two_shards):
    df = _read_cluster(
        spark,
        two_shards["urls"],
        "SELECT event_id, user_id, event_type FROM events",
    ).filter("event_type = 'click'")
    rows = df.collect()
    assert rows and {r.event_type for r in rows} == {"click"}
    assert {r.user_id % 2 for r in rows} == {0, 1}


def test_cluster_write_routes_by_sharding_key(spark, two_shards):
    import pandas as pd

    state = two_shards["state"]
    before = [len(state["inserted"][i]) for i in range(2)]
    df = spark.createDataFrame(
        pd.DataFrame({"k": [0, 1, 2, 3, 4, -3], "v": list("abcdef")})
    ).coalesce(1)
    (
        df.write.format("clickhouse_scan")
        .option("table", "routed")
        .option("cluster", ",".join(two_shards["urls"]))
        .option("sharding_key", "k")
        .mode("append")
        .save()
    )
    landed = [[], []]
    for shard in range(2):
        for _t, batches in state["inserted"][shard][before[shard]:]:
            for rb in batches:
                landed[shard].extend(rb.column("k").to_pylist())
    # -3 % 2 == 1 in the (k % n + n) % n contract
    assert sorted(landed[0]) == [0, 2, 4]
    assert sorted(landed[1]) == [-3, 1, 3]


def test_cluster_write_requires_sharding_key(spark, two_shards):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"k": [1]}))
    with pytest.raises(Exception, match="sharding_key"):
        (
            df.write.format("clickhouse_scan")
            .option("table", "routed")
            .option("cluster", ",".join(two_shards["urls"]))
            .mode("append")
            .save()
        )


def test_cluster_write_rejects_non_integer_key(spark, two_shards):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"k": ["x"], "v": [1]}))
    with pytest.raises(Exception, match="integer"):
        (
            df.write.format("clickhouse_scan")
            .option("table", "routed")
            .option("cluster", ",".join(two_shards["urls"]))
            .option("sharding_key", "k")
            .mode("append")
            .save()
        )


@pytest.mark.parametrize("cluster", [False, True])
def test_write_flushes_every_batch_at_max_insert_bytes(spark, two_shards, cluster):
    """max_insert_bytes=1 flushes after every Arrow batch: a plain write
    (one destination) and a cluster write (one per shard) run the same
    buffer-and-flush loop, and every row arrives exactly once."""
    state = two_shards["state"]
    before = [len(state["inserted"][i]) for i in range(2)]
    df = spark.range(0, 2000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    w = (
        df.coalesce(1)
        .write.format("clickhouse_scan")
        .option("table", "flushed")
        .option("max_insert_bytes", "1")
        .mode("append")
    )
    if cluster:
        w = w.option("cluster", ",".join(two_shards["urls"]))
        w = w.option("sharding_key", "k")
    else:
        w = w.option("url", two_shards["urls"][0])
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        w.save()
    finally:
        spark.conf.set(key, old)
    landed = [[], []]
    inserts = [0, 0]
    for shard in range(2):
        for _t, batches in state["inserted"][shard][before[shard]:]:
            inserts[shard] += 1
            for rb in batches:
                landed[shard].extend(rb.column("k").to_pylist())
    if cluster:
        assert sorted(landed[0]) == list(range(0, 2000, 2))
        assert sorted(landed[1]) == list(range(1, 2000, 2))
        assert min(inserts) >= 4  # one INSERT per batch and shard
    else:
        assert sorted(landed[0]) == list(range(2000))
        assert landed[1] == []
        assert inserts[0] >= 4
