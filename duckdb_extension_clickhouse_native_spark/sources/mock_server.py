"""In-process stand-in for a ClickHouse server (HTTP interface,
``FORMAT Native`` responses), backed by DuckDB over the driver's
parquet tables.

Purpose: make the ``clickhouse_scan`` source (SURVEY.md §2.1 #11-15)
exercisable inside the driver's correctness gate without a live
ClickHouse — the conformance queries spin this up lazily and point
``spark.read.format("clickhouse_scan")`` at 127.0.0.1. The protocol
surface it emulates is exactly what the real server speaks publicly:
POST body ``<sql> FORMAT Native`` -> Native-framed typed blocks, and
``?query=INSERT INTO ...`` with a Native body for writes.

Only suitable for local[-mode] conformance runs; against a real
cluster you point the same DataSource at a real ClickHouse URL and
nothing else changes.
"""

from __future__ import annotations

import io
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_SERVERS: dict[str, str] = {}
_LOCK = threading.Lock()

# the driver's table set — single source of truth in plans.base
from ..plans.base import TABLES  # noqa: E402


# the server side of each HTTP wire format, keyed by its ClickHouse
# FORMAT name: (module under native/, decoder, encoder). The spellings
# are written out here, not taken from the client's wire-format table,
# so the mock checks the client's FORMAT clauses independently. Native
# responses are encoded by arrow_to_native_bytes.
_FORMATS = {
    "Native": ("codec", "iter_blocks", None),
    "RowBinaryWithNamesAndTypes": (
        "rowbinary", "iter_rowbinary_blocks", "write_rowbinary"
    ),
    "JSONCompactEachRowWithNamesAndTypes": (
        "jsoneachrow", "iter_jsoncompact_blocks", "write_jsoncompact"
    ),
    "JSONEachRow": (
        "jsoneachrow", "iter_jsonobjects_blocks", "write_jsonobjects"
    ),
    "TabSeparatedWithNamesAndTypes": (
        "textformats", "iter_tsv_blocks", "write_tsv"
    ),
    "CSVWithNamesAndTypes": ("textformats", "iter_csv_blocks", "write_csv"),
    "ArrowStream": ("arrowwire", "iter_arrow_blocks", "write_arrow"),
    "Parquet": ("arrowwire", "iter_parquet_blocks", "write_parquet"),
    "Values": ("valuesformat", "iter_values_blocks", "write_values"),
    "TSKV": ("textformats", "iter_tskv_blocks", "write_tskv"),
    "ORC": ("arrowwire", "iter_orc_blocks", "write_orc"),
    "Npy": ("npyformat", "iter_npy_blocks", "write_npy"),
}


def _split_format(q: str) -> tuple[str, str]:
    """(query, format name) of a query ending in a known ``FORMAT
    <name>`` clause; (q, "Native") without one."""
    head, sep, name = q.rpartition("FORMAT ")
    if sep and name in _FORMATS:
        return head, name
    return q, "Native"


def _native_fn(module: str, fn: str):
    import importlib

    mod = importlib.import_module(f"..native.{module}", __package__)
    return getattr(mod, fn)


def build_handler(con, insert_hook=None, execute_inserts=True, query_hook=None):
    """Handler class factory over a DuckDB connection — the single
    implementation of the mock protocol (POST body ``<sql> FORMAT
    Native`` -> Native bytes; ``?query=INSERT INTO t`` + Native body ->
    insert). ``insert_hook(table, record_batches)`` runs after each
    INSERT (test fixtures record them); ``execute_inserts=False`` only
    records (for fixtures whose target tables aren't real)."""
    from ..native.writer import arrow_to_native_bytes

    qlock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            length = int(self.headers.get("Content-Length", "0"))
            body = self.rfile.read(length)
            qs = dict(
                urllib.parse.parse_qsl(urllib.parse.urlsplit(self.path).query)
            )
            try:
                if "query" in qs and qs["query"].upper().startswith("INSERT"):
                    q = qs["query"]
                    table = q.split()[2].split("(")[0]
                    name = _split_format(q)[1]
                    read = _native_fn(*_FORMATS[name][:2])
                    if name == "JSONEachRow":
                        # plain objects: not self-describing — derive
                        # the schema from the target table, as a real
                        # server does; a recording-only sink (table
                        # absent, execute_inserts=False) infers types
                        # from the JSON values instead
                        import json as _json

                        from ..native.types import from_arrow as _fa, parse_type

                        try:
                            with qlock:
                                tschema = con.execute(
                                    f"SELECT * FROM {table} LIMIT 0"
                                ).fetch_arrow_table().schema
                            nt = [(f.name, _fa(f.type)) for f in tschema]
                        except Exception:
                            seen: dict = {}
                            for line in body.splitlines():
                                if not line.strip():
                                    continue
                                for k, v in _json.loads(line).items():
                                    if k in seen or v is None:
                                        continue
                                    seen[k] = (
                                        "Nullable(Bool)"
                                        if isinstance(v, bool)
                                        else "Nullable(Int64)"
                                        if isinstance(v, int)
                                        else "Nullable(Float64)"
                                        if isinstance(v, float)
                                        # quote_64bit_integers=1 (the
                                        # writer's lossless spelling)
                                        # sends Int64 as digit strings
                                        else "Nullable(Int64)"
                                        if isinstance(v, str)
                                        and v.lstrip("-").isdigit()
                                        else "Nullable(String)"
                                    )
                            nt = [
                                (k, parse_type(t)) for k, t in seen.items()
                            ]
                        block_iter = read(io.BytesIO(body), nt)
                    elif name == "Values":
                        # Values has no header: derive the schema from
                        # the target table, as a real server does; a
                        # recording-only sink infers Nullable types
                        # from the literal shapes instead
                        from ..native.valuesformat import _parse_rows as _vpr
                        from ..native.types import from_arrow as _fa, parse_type

                        try:
                            with qlock:
                                tschema = con.execute(
                                    f"SELECT * FROM {table} LIMIT 0"
                                ).fetch_arrow_table().schema
                            nt = [(f.name, _fa(f.type)) for f in tschema]
                        except Exception:
                            text = body.decode("utf-8")
                            shapes: list = []
                            for rec in _vpr(text):
                                if not shapes:
                                    shapes = [None] * len(rec)
                                for ci, (raw, was_q) in enumerate(rec):
                                    if shapes[ci] is not None:
                                        continue
                                    if was_q:
                                        shapes[ci] = "Nullable(String)"
                                    elif raw.upper() == "NULL":
                                        continue
                                    elif raw in ("true", "false"):
                                        shapes[ci] = "Nullable(Bool)"
                                    elif raw.lstrip("-").isdigit():
                                        shapes[ci] = "Nullable(Int64)"
                                    else:
                                        shapes[ci] = "Nullable(Float64)"
                            nt = [
                                (f"c{ci}", parse_type(t or "Nullable(String)"))
                                for ci, t in enumerate(shapes)
                            ]
                        block_iter = read(io.BytesIO(body), nt)
                    elif name == "TSKV":
                        # names in-band, types from the target table
                        # (fallback: everything Nullable(String) is
                        # wrong for ints — infer from value shapes the
                        # way the JSONEachRow branch does, but TSKV
                        # values are untyped text, so the recording
                        # sink infers Int64/Float64/Bool/String)
                        from ..native.textformats import (
                            tsv_unescape as _tun,
                            _split_tsv_line as _stl,
                            _split_tskv_field as _stf,
                        )
                        from ..native.types import from_arrow as _fa, parse_type

                        try:
                            with qlock:
                                tschema = con.execute(
                                    f"SELECT * FROM {table} LIMIT 0"
                                ).fetch_arrow_table().schema
                            nt = [(f.name, _fa(f.type)) for f in tschema]
                        except Exception:
                            seen: dict = {}
                            for line in body.decode("utf-8").splitlines():
                                if not line.strip():
                                    continue
                                for raw in _stl(line):
                                    k, v = _stf(raw)
                                    k = _tun(k.replace("\\=", "="))
                                    if k in seen or v == "\\N":
                                        continue
                                    v = _tun(v)
                                    if v in ("true", "false"):
                                        seen[k] = "Nullable(Bool)"
                                    elif v.lstrip("-").isdigit():
                                        seen[k] = "Nullable(Int64)"
                                    else:
                                        try:
                                            float(v)
                                            seen[k] = "Nullable(Float64)"
                                        except ValueError:
                                            seen[k] = "Nullable(String)"
                            nt = [
                                (k, parse_type(t)) for k, t in seen.items()
                            ]
                        block_iter = read(io.BytesIO(body), nt)
                    elif name == "Npy":
                        # one nameless column: the name comes from the
                        # target table, as a real server resolves it
                        from ..native.types import from_arrow as _fa

                        with qlock:
                            tschema = con.execute(
                                f"SELECT * FROM {table} LIMIT 0"
                            ).fetch_arrow_table().schema
                        if len(tschema) != 1:
                            raise ValueError(
                                "FORMAT Npy INSERT requires a "
                                "single-column target table"
                            )
                        nt = [(f.name, _fa(f.type)) for f in tschema]
                        block_iter = read(io.BytesIO(body), nt)
                    else:
                        block_iter = read(io.BytesIO(body))
                    import pyarrow as _pa

                    batches = []
                    with qlock:
                        for blk in block_iter:
                            rb = blk.to_record_batch()
                            batches.append(rb)
                            if execute_inserts:
                                # duckdb registers Tables, not bare
                                # RecordBatches (mock_tcp_server.py does
                                # the same wrap)
                                con.register(
                                    "_ins_batch", _pa.Table.from_batches([rb])
                                )
                                con.execute(
                                    f"INSERT INTO {table} SELECT * FROM _ins_batch"
                                )
                                con.unregister("_ins_batch")
                    if insert_hook is not None:
                        insert_hook(table, batches)
                    self.send_response(200)
                    self.end_headers()
                    return
                q = body.decode().strip()
                if query_hook is not None:
                    query_hook(q)
                q, name = _split_format(q)
                with qlock:
                    tbl = con.execute(q).fetch_arrow_table()
                if name != "Native":
                    import pyarrow as _pa

                    batches = tbl.to_batches()
                    if not batches:  # header must go out even for 0 rows
                        batches = [
                            _pa.RecordBatch.from_arrays(
                                [
                                    _pa.array([], type=f.type)
                                    for f in tbl.schema
                                ],
                                schema=tbl.schema,
                            )
                        ]
                    out = io.BytesIO()
                    # a multi-column SELECT under FORMAT Npy raises
                    # here: a real server answers it with an error too
                    mod, _dec, enc = _FORMATS[name]
                    _native_fn(mod, enc)(out, batches)
                    payload = out.getvalue()
                else:
                    payload = arrow_to_native_bytes(tbl)
                self.send_response(200)
                self.end_headers()
                self.wfile.write(payload)
            except Exception as e:
                self.send_response(500)
                self.end_headers()
                self.wfile.write(str(e).encode())

        def log_message(self, *a):  # noqa: N802
            pass

    return Handler


def serve(handler) -> str:
    """Start a daemon ThreadingHTTPServer on an ephemeral port; returns
    its base URL."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return f"http://127.0.0.1:{srv.server_address[1]}"


def mock_clickhouse_cluster(sf_dir: str, n_shards: int = 2) -> list[str]:
    """Start (once per process per (sf_dir, n)) ``n_shards`` DuckDB-
    backed mock servers, each holding a DISJOINT slice of every table
    (sharded by the table's first column, an integer key in all ten
    driver tables, ``(key % n + n) % n = shard``) — the ClickHouse
    Distributed/cluster() topology: the union of the shards is exactly
    the whole table.  Returns the shard base URLs."""
    import duckdb

    import pyarrow.parquet as _pq

    key = f"{sf_dir}|cluster{n_shards}"
    with _LOCK:
        if key in _SERVERS:
            return list(_SERVERS[key])
        urls = []
        for shard in range(n_shards):
            con = duckdb.connect()
            for t in TABLES:
                first = _pq.read_schema(f"{sf_dir}/{t}.parquet").names[0]
                con.execute(
                    f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{sf_dir}/{t}.parquet' "
                    f"WHERE ((CAST({first} AS BIGINT) % {n_shards}) "
                    f"+ {n_shards}) % {n_shards} = {shard}"
                )
            con.execute(
                "CREATE TABLE IF NOT EXISTS _ingest (k BIGINT, v VARCHAR)"
            )
            urls.append(serve(build_handler(con)))
        _SERVERS[key] = tuple(urls)
        return urls


def mock_clickhouse_url(sf_dir: str) -> str:
    """Start (once per process per sf_dir) a DuckDB-backed mock
    ClickHouse HTTP server over ``{sf_dir}/*.parquet``; returns its
    base URL."""
    with _LOCK:
        if sf_dir in _SERVERS:
            return _SERVERS[sf_dir]

        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        con.execute("CREATE TABLE IF NOT EXISTS _ingest (k BIGINT, v VARCHAR)")
        url = serve(build_handler(con))
        _SERVERS[sf_dir] = url
        return url
