from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(params=["kernel", "python"])
def impl(request, monkeypatch):
    """Runs a test once with the compiled String walks and once with the
    pure-Python fallback; the kernel half is skipped on a host without
    a C compiler."""
    from duckdb_extension_clickhouse_native_spark.native import kernels

    if request.param == "kernel":
        if kernels.load() is None:
            pytest.skip("no compiled kernels on this host")
    else:
        monkeypatch.setattr(kernels, "load", lambda: None)
    return request.param


@pytest.fixture(scope="session")
def spark():
    from duckdb_extension_clickhouse_native_spark import get_spark

    s = get_spark(app_name="chsql-tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def mock_ch_server():
    """ClickHouse-HTTP mock: executes queries in DuckDB and answers in
    Native format; INSERT bodies are recorded (not executed) so tests
    can assert on them. Protocol implementation is shared with the
    package's conformance mock (sources/mock_server.py)."""
    import duckdb

    from duckdb_extension_clickhouse_native_spark.sources.mock_server import (
        build_handler,
        serve,
    )

    state = {"inserted": []}
    con = duckdb.connect()
    con.execute("CREATE TABLE numbers AS SELECT range AS number FROM range(10000)")
    con.execute(
        "CREATE VIEW typed AS SELECT range AS i, CAST(range AS DOUBLE)/7 AS f, "
        "'row' || CAST(range AS VARCHAR) AS s, range % 2 = 0 AS b FROM range(100)"
    )
    lock = threading.Lock()

    def record(table, batches):
        with lock:
            state["inserted"].append((table, batches))

    url = serve(build_handler(con, insert_hook=record, execute_inserts=False))
    yield {"url": url, "state": state}
