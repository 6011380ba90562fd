"""Scan-client robustness: bounded reconnect-with-jitter + TCP
connection pooling (VERDICT r8 #4 — the reference rides clickhouse-rs's
Pool, clickhouse_scan.rs:76-77; this is the Spark-worker analogue).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from duckdb_extension_clickhouse_native_spark.sources import tcp_client
from duckdb_extension_clickhouse_native_spark.sources.mock_tcp_server import (
    build_tcp_handler,
    serve_tcp,
)
from duckdb_extension_clickhouse_native_spark.sources.retry import RetryPolicy
from duckdb_extension_clickhouse_native_spark.sources.scan_datasource import (
    ClickHouseScanReader,
    ScanPartition,
)

from conftest import SF_SMALL


@pytest.fixture(scope="module")
def flaky_tcp():
    """Mock native-TCP server that hard-kills the next N connections
    (before the server Hello) when ``state['kill']`` > 0."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS x FROM range(1000)")
    state = {"kill": 0, "connections": 0}
    Inner = build_tcp_handler(con)

    class FlakyHandler(Inner):
        def handle(self):
            state["connections"] += 1
            if state["kill"] > 0:
                state["kill"] -= 1
                self.connection.close()  # client sees EOF mid-handshake
                return
            super().handle()

    host, port = serve_tcp(FlakyHandler)
    yield {"url": f"tcp://{host}:{port}", "state": state}


def _reader(url: str, **extra) -> ClickHouseScanReader:
    schema = StructType([StructField("x", LongType())])
    opts = {"query": "SELECT x FROM t ORDER BY x", "url": url,
            "retry_base_delay": "0.01", **extra}
    return ClickHouseScanReader(schema, opts)


def _drain(reader) -> list[int]:
    out = []
    for rb in reader.read(ScanPartition(reader.query)):
        out.extend(rb.column(0).to_pylist())
    return out


def test_read_retries_killed_first_connection(flaky_tcp):
    tcp_client.clear_pool()
    flaky_tcp["state"]["kill"] = 1
    rows = _drain(_reader(flaky_tcp["url"]))
    assert rows == list(range(1000))
    assert flaky_tcp["state"]["kill"] == 0  # the kill was consumed


def test_read_fails_after_retry_budget(flaky_tcp):
    tcp_client.clear_pool()
    try:
        flaky_tcp["state"]["kill"] = 10
        # the kill races the client read: EOFError if the FIN wins,
        # ConnectionResetError if the RST does — both are retryable
        with pytest.raises((EOFError, OSError)):
            _drain(_reader(flaky_tcp["url"], retry_attempts="3"))
        assert flaky_tcp["state"]["kill"] == 7  # exactly 3 attempts
    finally:
        flaky_tcp["state"]["kill"] = 0  # leave the server healthy


def test_healthy_connection_is_pooled_and_reused(flaky_tcp):
    tcp_client.clear_pool()
    r = _reader(flaky_tcp["url"])
    before = flaky_tcp["state"]["connections"]
    assert _drain(r) == list(range(1000))
    assert sum(len(b) for b in tcp_client._POOL.values()) == 1
    assert _drain(r) == list(range(1000))  # second read reuses the socket
    assert flaky_tcp["state"]["connections"] == before + 1
    tcp_client.clear_pool()
    assert sum(len(b) for b in tcp_client._POOL.values()) == 0


def test_no_retry_after_partial_yield(monkeypatch):
    """Once a batch reached the consumer, a transport failure must
    propagate (re-running would append a second full result)."""
    from duckdb_extension_clickhouse_native_spark.sources import scan_datasource

    calls = {"n": 0}

    class FakeBlock:
        def to_record_batch(self):
            return pa.RecordBatch.from_arrays([pa.array([1, 2])], names=["x"])

    class FakeClient:
        def execute_blocks(self, query, lossy_uint64=False):
            calls["n"] += 1
            yield FakeBlock()
            raise ConnectionResetError("mid-stream")

        def close(self):
            pass

    monkeypatch.setattr(
        scan_datasource, "_acquire_client", lambda conn: FakeClient()
    )
    monkeypatch.setattr(
        scan_datasource, "_release_client", lambda c, healthy: None
    )
    r = _reader("tcp://127.0.0.1:1")
    with pytest.raises(ConnectionResetError):
        _drain(r)
    assert calls["n"] == 1  # exactly one execution — no replay


@pytest.mark.parametrize("frame", [1, 2])
def test_bad_frame_checksum_fails_fast_and_closes(frame):
    """A compressed frame damaged on the wire (frame 1 carries the header
    block, frame 2 the first data block): the read fails within a
    bounded time with ChecksumError (computed vs stored), yields no
    rows, is not retried (a ValueError) and its connection is closed,
    not pooled."""
    import threading

    from duckdb_extension_clickhouse_native_spark.native.compress import (
        ChecksumError,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS x FROM range(1000)")
    state = {"connections": 0}
    Inner = build_tcp_handler(con, corrupt_frame=frame)

    class Counting(Inner):
        def handle(self):
            state["connections"] += 1
            super().handle()

    host, port = serve_tcp(Counting)
    tcp_client.clear_pool()
    reader = _reader(f"tcp://{host}:{port}", compression="lz4")
    rows, errors = [], []

    def read():
        try:
            for rb in reader.read(ScanPartition(reader.query)):
                rows.extend(rb.column(0).to_pylist())
        except Exception as e:  # handed to the test thread below
            errors.append(e)

    t = threading.Thread(target=read, daemon=True)
    t.start()
    t.join(timeout=30)
    assert not t.is_alive()
    assert len(errors) == 1 and isinstance(errors[0], ChecksumError)
    assert "computed" in str(errors[0]) and "stored" in str(errors[0])
    assert rows == []
    assert state["connections"] == 1
    assert sum(len(b) for b in tcp_client._POOL.values()) == 0


def test_retry_policy_backoffs_bounded():
    p = RetryPolicy(attempts=4, base_delay=0.1, max_delay=0.25)
    delays = list(p.backoffs())
    assert len(delays) == 4 and delays[-1] is None
    for i, d in enumerate(delays[:-1]):
        assert 0 <= d <= min(0.25, 0.1 * 2**i)


def test_scan_tcp_retry_through_spark(spark, flaky_tcp):
    """Full executor path: schema probe at plan time, then the
    partition read's first connection killed — the job still returns
    correct rows (the retry happens inside the DataSource worker)."""
    df = (
        spark.read.format("clickhouse_scan")
        .option("query", "SELECT x FROM t WHERE x < 50")
        .option("url", flaky_tcp["url"])
        .option("retry_base_delay", "0.01")
        .load()
    )
    flaky_tcp["state"]["kill"] = 1
    assert df.count() == 50
    assert flaky_tcp["state"]["kill"] == 0


def test_probe_retries_killed_connection(flaky_tcp):
    from duckdb_extension_clickhouse_native_spark.sources.http_client import (
        probe_schema_pairs,
    )

    flaky_tcp["state"]["kill"] = 1
    pairs = probe_schema_pairs(
        {"url": flaky_tcp["url"], "retry_base_delay": "0.01"},
        "SELECT x FROM t",
    )
    assert [name for name, _ in pairs] == ["x"]
    assert flaky_tcp["state"]["kill"] == 0


def test_http_read_retries_killed_first_connection():
    """The same retry loop covers the HTTP transport: a handler that
    hard-closes the first request's connection must not fail the
    partition read."""
    import duckdb

    from duckdb_extension_clickhouse_native_spark.sources.mock_server import (
        build_handler,
        serve,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS x FROM range(500)")
    state = {"kill": 0}
    Inner = build_handler(con)

    class FlakyHTTP(Inner):
        def do_POST(self):
            if state["kill"] > 0:
                state["kill"] -= 1
                self.connection.close()
                return
            super().do_POST()

    url = serve(FlakyHTTP)
    state["kill"] = 1
    rows = _drain(_reader(url))
    assert rows == list(range(500))
    assert state["kill"] == 0


@pytest.fixture(scope="module")
def flaky_cluster():
    """Two flaky TCP shards with disjoint halves; shard 1 kills its
    next N connections on demand."""
    urls, states = [], []
    for shard in range(2):
        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE t AS SELECT range AS x FROM range(1000) "
            f"WHERE range % 2 = {shard}"
        )
        state = {"kill": 0}
        Inner = build_tcp_handler(con)

        class FlakyHandler(Inner):  # noqa: B023 — bound via default
            def handle(self, _state=state):
                if _state["kill"] > 0:
                    _state["kill"] -= 1
                    self.connection.close()
                    return
                super().handle()

        host, port = serve_tcp(FlakyHandler)
        urls.append(f"tcp://{host}:{port}")
        states.append(state)
    return {"urls": urls, "states": states}


def test_cluster_read_retries_flaky_shard(flaky_cluster):
    """A killed connection on ONE shard retries that shard's partition
    only; the union still yields every row exactly once."""
    tcp_client.clear_pool()
    schema = StructType([StructField("x", LongType())])
    reader = ClickHouseScanReader(
        schema,
        {
            "query": "SELECT x FROM t ORDER BY x",
            "cluster": ",".join(flaky_cluster["urls"]),
            "retry_base_delay": "0.01",
        },
    )
    flaky_cluster["states"][1]["kill"] = 1
    out = []
    for part in reader.partitions():
        for rb in reader.read(part):
            out.extend(rb.column(0).to_pylist())
    assert sorted(out) == list(range(1000))
    assert flaky_cluster["states"][1]["kill"] == 0  # the kill was consumed
