"""Round-13 source conformance: the ClickHouse type long tail.

The reference decodes 5 types (src/lib.rs:143-175) and placeholders
everything else as ``<unsupported:T>`` (lib.rs:168-170).  Rounds 1-12
extended the matrix to the full common set; these entries cover the
three types a user scanning a MODERN ClickHouse table hits first
(VERDICT r12 item 4):

* ``Nested(a T1, b T2)`` — decoded as the wire-equivalent
  Array(Tuple(...)) with the declared field NAMES carried into the
  Arrow struct, so ``items.k`` projection works in Spark.
* ``Int128 / UInt128 / Int256 / UInt256`` — little-endian
  two's-complement wire layout carried as Arrow ``decimal128(38, 0)``
  (Spark has no wider exact type); values beyond 38 digits RAISE on
  decode, the same loud-failure policy as UInt64 >= 2^63.
* ``JSON`` (and the legacy ``Object('json')`` spelling) — String
  carrier integrating with the JSONExtract scalar family
  (``get_json_object`` on the Spark side).

Each entry writes a Native fixture derived deterministically from the
driver's orders parquet, scans it back through the DataSource, and
grades against a DuckDB oracle computed DIRECTLY from the parquet —
the oracle never touches Native bytes or JSON strings, so a hash match
proves the whole encode -> bytes -> scan -> Arrow -> Spark pipeline.

Grading-type discipline: decimal/hugeint aggregates are CAST to
VARCHAR/STRING on both sides (the driver canonicalizer trap — see
tools/oracle_type_audit.py).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.native_datasource import read_native
from .base import REGISTRY
from .sources import _materialize_fixture, _write_parts


def _nested_fixture(spark: SparkSession, sf_dir: str) -> str:
    """orders -> (o_orderkey, o_orderstatus, items Nested(k Int64,
    v String)); per order, L = o_orderkey % 3 items with
    k = o_orderkey*10 + j (j = 1..L) and v = o_orderstatus."""
    import pyarrow as pa

    from ..native.types import parse_type, to_arrow

    nested_t = parse_type("Nested(k Int64, v String)")

    def write(out_dir: str, t) -> None:
        keys = t.column("o_orderkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        items = []
        for k, s in zip(keys, status):
            length = k % 3
            items.append([{"k": k * 10 + j, "v": s} for j in range(1, length + 1)])
        batch = pa.table(
            {
                "o_orderkey": pa.array(keys, type=pa.int64()),
                "o_orderstatus": pa.array(status, type=pa.string()),
                "items": pa.array(items, type=to_arrow(nested_t)),
            }
        )
        _write_parts(
            out_dir,
            batch,
            [parse_type("Int64"), parse_type("String"), nested_t],
        )

    return _materialize_fixture(sf_dir, "orders", "orders-nested-16pmk", write)


def _native_nested_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    path = _nested_fixture(spark, sf_dir)
    df = read_native(spark, path)
    return (
        df.select(
            "o_orderstatus",
            F.size("items").alias("n_i"),
            F.aggregate(
                "items", F.lit(0).cast("long"), lambda a, x: a + x["k"]
            ).alias("sum_k"),
        )
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("n_i").cast("long").alias("n_items"),
            F.sum("sum_k").cast("long").alias("sum_k"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "native_nested_scan",
    _native_nested_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey % 3) AS BIGINT) AS n_items,
           CAST(SUM((o_orderkey % 3) * o_orderkey * 10
                    + CASE o_orderkey % 3 WHEN 1 THEN 1 WHEN 2 THEN 3
                      ELSE 0 END) AS BIGINT) AS sum_k
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "native", "nested", "types"],
    description="Nested(k Int64, v String) through the full "
    "write -> Native bytes -> scan path: named struct fields survive "
    "into Spark (items.k access inside aggregate()); oracle recomputes "
    "the closed form sum_{j=1..L}(10k+j) from the raw parquet",
)


def _bigint_fixture(spark: SparkSession, sf_dir: str) -> str:
    """orders -> Int128/UInt128 columns exceeding int64:
    big  = o_orderkey * 10^20 + o_custkey           (Int128)
    ubig = o_custkey  * 10^19 + o_orderkey           (UInt128)"""
    import pyarrow as pa

    from ..native.types import parse_type

    def write(out_dir: str, t) -> None:
        keys = t.column("o_orderkey").to_pylist()
        cust = t.column("o_custkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        big = pa.array(
            [k * 10**20 + c for k, c in zip(keys, cust)],
            type=pa.decimal128(38, 0),
        )
        ubig = pa.array(
            [c * 10**19 + k for k, c in zip(keys, cust)],
            type=pa.decimal128(38, 0),
        )
        batch = pa.table(
            {
                "o_orderstatus": pa.array(status, type=pa.string()),
                "big": big,
                "ubig": ubig,
            }
        )
        _write_parts(
            out_dir,
            batch,
            [
                parse_type("String"),
                parse_type("Int128"),
                parse_type("UInt128"),
            ],
        )

    return _materialize_fixture(sf_dir, "orders", "orders-int128-16pmk", write)


def _native_int128_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    path = _bigint_fixture(spark, sf_dir)
    df = read_native(spark, path)
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum("big").cast("string").alias("sum_big"),
            F.min("big").cast("string").alias("min_big"),
            F.max("ubig").cast("string").alias("max_ubig"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "native_int128_scan",
    _native_int128_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_orderkey AS HUGEINT) * 100000000000000000000
                    + o_custkey) AS VARCHAR) AS sum_big,
           CAST(MIN(CAST(o_orderkey AS HUGEINT) * 100000000000000000000
                    + o_custkey) AS VARCHAR) AS min_big,
           CAST(MAX(CAST(o_custkey AS HUGEINT) * 10000000000000000000
                    + o_orderkey) AS VARCHAR) AS max_ubig
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "native", "bigint", "types"],
    description="Int128/UInt128 wire decode (16-byte LE two's "
    "complement) carried as decimal128(38,0): 27-digit values survive "
    "the scan, decimal aggregation in Spark vs HUGEINT arithmetic in "
    "DuckDB, both serialized to strings (canonicalizer discipline)",
)


def _json_fixture(spark: SparkSession, sf_dir: str) -> str:
    """orders -> one JSON-typed column
    {"k": o_orderkey, "p": floor(o_totalprice*100), "s": status}."""
    import pyarrow as pa

    from ..native.types import parse_type

    def write(out_dir: str, t) -> None:
        keys = t.column("o_orderkey").to_pylist()
        price = t.column("o_totalprice").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        docs = [
            f'{{"k":{k},"p":{int(math.floor(p * 100))},"s":"{s}"}}'
            for k, p, s in zip(keys, price, status)
        ]
        batch = pa.table({"j": pa.array(docs, type=pa.string())})
        _write_parts(out_dir, batch, [parse_type("JSON")])

    return _materialize_fixture(sf_dir, "orders", "orders-json-16pmk", write)


def _native_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    path = _json_fixture(spark, sf_dir)
    df = read_native(spark, path)
    return (
        df.select(
            F.get_json_object("j", "$.s").alias("status"),
            F.get_json_object("j", "$.p").cast("long").alias("cents"),
            F.get_json_object("j", "$.k").cast("long").alias("k"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.max("k").alias("max_k"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "native_json_scan",
    _native_json_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MAX(o_orderkey) AS max_k
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "native", "json", "types"],
    description="JSON column type (String carrier) through the Native "
    "scan + JSONExtract family (get_json_object): the oracle computes "
    "the same aggregates from the RAW orders columns, never touching "
    "JSON — full independence of the extraction path",
)


# --- url() / format() table functions -----------------------------------------
# ClickHouse reads remote files with url('http://...', fmt) and inline
# literals with format(fmt, '...') (docs: table-functions/url,
# /format).  The entry serves a deterministic orders subset over a
# real local HTTP server as CSVWithNamesAndTypes split across TWO urls
# (one Spark input partition per URL — the at-scale fan-out shape) and
# aggregates through the clickhouse_url DataSource; the oracle
# recomputes from the raw parquet, never touching HTTP or CSV.

_URL_SERVERS: dict = {}


def _orders_csv_urls(sf_dir: str) -> str:
    """Two-URL CSVWithNamesAndTypes export of the o_orderkey % 97 == 0
    subset of orders (even keys on one URL, odd on the other), served
    by a process-cached local HTTP server."""
    import io as _io
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    key = ("orders-csv", sf_dir)
    hit = _URL_SERVERS.get(key)
    if hit is not None:
        return hit

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..native.textformats import write_csv
    from ..native.types import from_arrow

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    keys = t.column("o_orderkey").to_numpy()
    t = t.filter(pa.array(keys % 97 == 0))
    keys = t.column("o_orderkey").to_numpy()
    bodies = {}
    for name, rem in (("/even.csv", 0), ("/odd.csv", 1)):
        piece = t.filter(pa.array((keys // 97) % 2 == rem))
        buf = _io.BytesIO()
        write_csv(
            buf,
            piece.to_batches(),
            [from_arrow(f.type) for f in piece.schema],
        )
        bodies[name] = buf.getvalue()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server contract
            body = bodies.get(self.path)
            if body is None:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address
    urls = f"http://{host}:{port}/even.csv,http://{host}:{port}/odd.csv"
    _URL_SERVERS[key] = urls
    return urls


def _tf_url_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    urls = _orders_csv_urls(sf_dir)
    df = (
        spark.read.format("clickhouse_url")
        .option("url", urls)
        .option("format", "CSVWithNamesAndTypes")
        .load()
    )
    from .base import assert_planned_partitions

    assert_planned_partitions(
        df, lambda n: n == 2,
        lambda n: f"one partition per URL regressed (planned {n})",
    )
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.max("o_orderkey").alias("max_k"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "tf_url_csv_scan",
    _tf_url_csv_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           MAX(o_orderkey) AS max_k
    FROM orders WHERE o_orderkey % 97 = 0
    GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "url", "tf", "csv"],
    description="url() table function: two-URL CSVWithNamesAndTypes "
    "fan-out (one partition per URL) over a real local HTTP server, "
    "decoded by the shared wire decoders; oracle from raw parquet",
)


def _tf_format_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # format(JSONCompactEachRowWithNamesAndTypes, <literal>): the
    # literal is built from constants (no table dependence), decoded
    # driver-side into a local relation; oracle is a VALUES list.
    from ..sources.url_table import format_table

    lit = (
        '["k", "name", "score"]\n'
        '["Int64", "String", "Float64"]\n'
        '[1, "alpha", 1.5]\n'
        '[2, "beta", -2.25]\n'
        '[3, "gamma", 0.0]\n'
        '[4, "delta", 12.625]\n'
    )
    df = format_table(spark, "JSONCompactEachRowWithNamesAndTypes", lit)
    return df.select(
        "k", "name", F.col("score").cast("double").alias("score")
    ).orderBy("k")


REGISTRY.df_query(
    "tf_format_inline",
    _tf_format_inline,
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'alpha', CAST(1.5 AS DOUBLE)),
      (2, 'beta', -2.25),
      (3, 'gamma', 0.0),
      (4, 'delta', 12.625)
    ) AS t(k, name, score)
    ORDER BY k
    """,
    tags=["source", "tf", "format", "json"],
    description="format() table function: inline "
    "JSONCompactEachRowWithNamesAndTypes literal decoded into a local "
    "relation; oracle is a literal VALUES table",
)


def _tf_url_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # INSERT INTO FUNCTION url(...) then read back: the orders subset
    # POSTs as RowBinaryWithNamesAndTypes to a store-and-serve HTTP
    # server, returns through the url() GET path, and aggregates —
    # proving the encode half against the decode half end to end.
    # The oracle recomputes from raw parquet (no HTTP, no RowBinary).
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from .base import ensure_session, load_tables
    from ..sources.url_table import url_insert, url_table

    ensure_session(spark)
    key = ("rw-server",)
    base = _URL_SERVERS.get(key)
    if base is None:
        store: dict = {}

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                body = store.get(self.path)
                if body is None:
                    self.send_error(404)
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                store[self.path] = self.rfile.read(n)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        host, port = srv.server_address
        base = f"http://{host}:{port}"
        _URL_SERVERS[key] = base

    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    subset = t.filter("o_orderkey % 101 = 0").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # unique target path per sf_dir: concurrent grades must not collide
    import hashlib as _hl

    path = "/rt-" + _hl.md5(sf_dir.encode()).hexdigest()[:8]
    url_insert(subset, base + path, "RowBinaryWithNamesAndTypes")
    back = url_table(spark, base + path, "RowBinaryWithNamesAndTypes")
    return (
        back.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.min("o_orderkey").alias("min_k"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "tf_url_insert_roundtrip",
    _tf_url_insert_roundtrip,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           MIN(o_orderkey) AS min_k
    FROM orders WHERE o_orderkey % 101 = 0
    GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "url", "tf", "rowbinary", "write"],
    description="INSERT INTO FUNCTION url(...): executor-side "
    "RowBinaryWithNamesAndTypes POST then url() read-back, aggregate "
    "vs raw-parquet oracle — encode and decode halves prove each other",
)


def _tf_url_structure_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the THREE-argument url(url, 'TSV', structure): headerless plain
    # TSV (ClickHouse's default interchange text) with the schema
    # declared out of band — nation served as raw TSV lines.
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from .base import ensure_session
    from ..sources.url_table import url_table

    ensure_session(spark)
    key = ("nation-tsv", sf_dir)
    base = _URL_SERVERS.get(key)
    if base is None:
        import pyarrow.parquet as pq

        from ..native.textformats import tsv_escape

        t = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
        lines = []
        for row in t.to_pylist():
            lines.append(
                "\t".join(
                    [
                        str(row["n_nationkey"]),
                        tsv_escape(row["n_name"]),
                        str(row["n_regionkey"]),
                    ]
                )
            )
        body = ("\n".join(lines) + "\n").encode("utf-8")

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                if self.path != "/nation.tsv":
                    self.send_error(404)
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        host, port = srv.server_address
        base = f"http://{host}:{port}"
        _URL_SERVERS[key] = base

    df = url_table(
        spark,
        f"{base}/nation.tsv",
        "TSV",
        structure="n_nationkey Int64, n_name String, n_regionkey Int64",
    )
    return (
        df.groupBy(F.col("n_regionkey").alias("region"))
        .agg(
            F.count("*").alias("n"),
            F.min("n_name").alias("first_nation"),
            F.sum(F.length("n_name")).cast("long").alias("name_chars"),
        )
        .orderBy("region")
    )


REGISTRY.df_query(
    "tf_url_structure_scan",
    _tf_url_structure_scan,
    oracle="""
    SELECT n_regionkey AS region,
           COUNT(*) AS n,
           MIN(n_name) AS first_nation,
           CAST(SUM(LENGTH(n_name)) AS BIGINT) AS name_chars
    FROM nation GROUP BY n_regionkey ORDER BY region
    """,
    tags=["source", "url", "tf", "tsv", "structure"],
    description="three-argument url(url, 'TSV', structure): headerless "
    "plain TSV decoded with an out-of-band 'name Type' structure; "
    "oracle from raw parquet",
)
