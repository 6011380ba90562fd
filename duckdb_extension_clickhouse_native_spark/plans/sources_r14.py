"""Round-14 source conformance: url() globs and geo types.

* ``tf_url_glob_scan`` — ClickHouse URL glob expansion (docs:
  sql-reference/table-functions/url, 'Globs in URL'): the entry reads
  ``.../{even,odd}/part{1..2}.csv`` — alternation × numeric range
  expanding to four URLs, one Spark input partition each (the at-scale
  fan-out a 1000-shard export would use: ``part{1..1000}.csv``).  The
  r13 url() surface took an explicit comma-separated list only; the
  ClickHouse spelling now parses (VERDICT r13 item 4).  Oracle
  recomputes from the raw parquet, never touching HTTP, CSV, or globs.

* ``native_geo_scan`` — Point / Ring / Polygon / MultiPolygon decode
  (VERDICT r13 item 3).  On the Native wire these are exactly nested
  Array/Tuple layouts (Point = Tuple(Float64, Float64), Ring =
  Array(Point), Polygon = Array(Ring), MultiPolygon = Array(Polygon) —
  ClickHouse docs: sql-reference/data-types/geo), which the codec
  already decodes; the type parser maps the names (reference analogue:
  the type-string dispatch at lib.rs:106-141, whose Unsupported arm a
  geo-enabled table previously hit).  The fixture derives
  deterministic geometry from the driver's orders parquet; the oracle
  computes the same coordinate aggregates directly from the raw
  columns, never touching geometry types.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.native_datasource import read_native
from .base import REGISTRY

_GLOB_SERVERS: dict = {}


def _orders_glob_urls(sf_dir: str) -> str:
    """Four-way CSVWithNamesAndTypes export of the o_orderkey % 89 == 0
    orders subset, served at /{even,odd}/part{1,2}.csv by a
    process-cached local HTTP server; returns the GLOB spelling."""
    import io as _io
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    key = ("orders-glob", sf_dir)
    hit = _GLOB_SERVERS.get(key)
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
    t = t.filter(pa.array(keys % 89 == 0))
    keys = t.column("o_orderkey").to_numpy()
    paths = [
        "/even/part1.csv",  # slice 0
        "/even/part2.csv",  # slice 1
        "/odd/part1.csv",  # slice 2
        "/odd/part2.csv",  # slice 3
    ]
    bodies = {}
    for idx, name in enumerate(paths):
        piece = t.filter(pa.array((keys // 89) % 4 == idx))
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
    spec = f"http://{host}:{port}/{{even,odd}}/part{{1..2}}.csv"
    _GLOB_SERVERS[key] = spec
    return spec


def _tf_url_glob_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    spec = _orders_glob_urls(sf_dir)
    df = (
        spark.read.format("clickhouse_url")
        .option("url", spec)
        .option("format", "CSVWithNamesAndTypes")
        .load()
    )
    from .base import assert_planned_partitions

    assert_planned_partitions(
        df, lambda n: n == 4,
        lambda n: "glob expansion must plan one partition per "
        f"expanded URL (planned {n})",
    )
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.min("o_orderkey").alias("min_k"),
            F.max("o_orderkey").alias("max_k"),
        )
        .orderBy("status")
    )


def _geo_fixture(spark: SparkSession, sf_dir: str) -> str:
    """orders -> geo columns, all coordinates INTEGRAL doubles so sums
    are exact and order-independent:
      x  = o_orderkey % 360 - 180;  y = (o_orderkey // 7) % 180 - 90
      pt    Point        = (x, y)
      ring  Ring         = [(x,y), (x+1,y), (x,y+1)]
      poly  Polygon      = [ring, [(x,y), (x+2,y+2)]]
      mpoly MultiPolygon = [poly] (+ [[(x,y)]] when o_orderkey is odd)
    """
    import pyarrow as pa

    from ..native.types import parse_type, to_arrow
    from .sources import _materialize_fixture

    t_pt = parse_type("Point")
    t_ring = parse_type("Ring")
    t_poly = parse_type("Polygon")
    t_mpoly = parse_type("MultiPolygon")

    def write(out_dir: str, t) -> None:
        keys = t.column("o_orderkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        pts, rings, polys, mpolys = [], [], [], []
        for k in keys:
            x = float(k % 360 - 180)
            y = float((k // 7) % 180 - 90)
            pt = {"_1": x, "_2": y}
            ring = [pt, {"_1": x + 1, "_2": y}, {"_1": x, "_2": y + 1}]
            poly = [ring, [pt, {"_1": x + 2, "_2": y + 2}]]
            pts.append(pt)
            rings.append(ring)
            polys.append(poly)
            mpolys.append([poly] if k % 2 == 0 else [poly, [[pt]]])
        batch = pa.table(
            {
                "o_orderstatus": pa.array(status, type=pa.string()),
                "pt": pa.array(pts, type=to_arrow(t_pt)),
                "ring": pa.array(rings, type=to_arrow(t_ring)),
                "poly": pa.array(polys, type=to_arrow(t_poly)),
                "mpoly": pa.array(mpolys, type=to_arrow(t_mpoly)),
            }
        )
        from .sources import _write_parts

        _write_parts(
            out_dir,
            batch,
            [parse_type("String"), t_pt, t_ring, t_poly, t_mpoly],
        )

    return _materialize_fixture(sf_dir, "orders", "orders-geo-16pmk", write)


def _native_geo_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    path = _geo_fixture(spark, sf_dir)
    df = read_native(spark, path)
    lng = lambda c: c.cast("long")  # noqa: E731 — integral doubles
    return (
        df.select(
            "o_orderstatus",
            lng(F.col("pt._1")).alias("x"),
            lng(F.col("pt._2")).alias("y"),
            F.aggregate(
                "ring",
                F.lit(0).cast("long"),
                lambda a, p: a + p["_1"].cast("long"),
            ).alias("ring_x"),
            F.size("poly").alias("n_rings"),
            F.size("mpoly").alias("n_polys"),
        )
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sum_x"),
            F.sum("y").alias("sum_y"),
            F.sum(F.col("x") * F.col("y")).alias("cross"),
            F.sum("ring_x").alias("ring_x"),
            F.sum("n_rings").cast("long").alias("rings"),
            F.sum("n_polys").cast("long").alias("polys"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "native_geo_scan",
    _native_geo_scan,
    oracle="""
    WITH g AS (
      SELECT o_orderstatus,
             (o_orderkey % 360 - 180) AS x,
             ((o_orderkey // 7) % 180 - 90) AS y,
             o_orderkey % 2 AS odd
      FROM orders
    )
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(SUM(x * y) AS BIGINT) AS cross,
           CAST(SUM(3 * x + 1) AS BIGINT) AS ring_x,
           CAST(SUM(2) AS BIGINT) AS rings,
           CAST(SUM(1 + odd) AS BIGINT) AS polys
    FROM g GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "native", "geo", "types"],
    description="Point/Ring/Polygon/MultiPolygon decode through the "
    "full write -> Native bytes (headers literally spell the geo "
    "names) -> scan path; oracle recomputes every coordinate "
    "aggregate from raw o_orderkey arithmetic, never touching "
    "geometry types",
)


def _variant_fixture(spark: SparkSession, sf_dir: str) -> str:
    """orders -> v Variant(String, UInt64):
    o_orderkey % 3 == 0 -> String(o_orderstatus), == 1 -> UInt64(key),
    == 2 -> NULL (discriminator 255)."""
    import pyarrow as pa

    from ..native.types import parse_type, to_arrow
    from .sources import _materialize_fixture

    t_v = parse_type("Variant(String, UInt64)")

    def write(out_dir: str, t) -> None:
        keys = t.column("o_orderkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        vs = []
        for k, s in zip(keys, status):
            if k % 3 == 0:
                vs.append({"String": s, "UInt64": None})
            elif k % 3 == 1:
                vs.append({"String": None, "UInt64": k})
            else:
                vs.append(None)
        batch = pa.table(
            {
                "o_orderstatus": pa.array(status, type=pa.string()),
                "v": pa.array(vs, type=to_arrow(t_v)),
            }
        )
        from .sources import _write_parts

        _write_parts(out_dir, batch, [parse_type("String"), t_v])

    return _materialize_fixture(sf_dir, "orders", "orders-variant-16pmk", write)


def _native_variant_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    path = _variant_fixture(spark, sf_dir)
    df = read_native(spark, path)
    # `v.String` / `v.UInt64` — the ClickHouse variant-subcolumn
    # access shape, carried as struct fields
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.count("v.String").alias("n_str"),
            F.count("v.UInt64").alias("n_int"),
            F.sum("v.UInt64").alias("sum_int"),
            F.sum(
                F.when(
                    F.col("v.String").isNull() & F.col("v.UInt64").isNull(), 1
                ).otherwise(0)
            ).alias("n_null"),
            F.sum(
                F.when(F.col("v.String") == F.col("o_orderstatus"), 1)
                .otherwise(0)
            ).alias("n_str_match"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "native_variant_scan",
    _native_variant_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_str,
           CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_int,
           CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN o_orderkey END)
                AS BIGINT) AS sum_int,
           CAST(SUM(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_str_match
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "native", "variant", "types"],
    description="Variant(String, UInt64) through the full write -> "
    "Native bytes (basic discriminator mode, canonical sorted variant "
    "order, 255 = NULL) -> scan path with v.String / v.UInt64 "
    "subcolumn access; oracle from raw o_orderkey arithmetic",
)


_FILE_FIXTURES: dict = {}


def _lineitem_csv_files(sf_dir: str) -> str:
    """Four-file CSVWithNamesAndTypes export of the l_orderkey % 97 == 0
    lineitem subset (split by (l_orderkey // 97) % 4), cached per
    process under a content-stamped tmp dir; returns the brace-glob
    path spec."""
    import io as _io
    import os as _os
    import tempfile

    key = ("lineitem-files", sf_dir)
    hit = _FILE_FIXTURES.get(key)
    if hit is not None:
        return hit

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..native.textformats import write_csv
    from ..native.types import from_arrow

    t = pq.read_table(
        _os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"],
    )
    keys = t.column("l_orderkey").to_numpy()
    t = t.filter(pa.array(keys % 97 == 0))
    keys = t.column("l_orderkey").to_numpy()
    d = tempfile.mkdtemp(prefix="chsql_file_tf")
    for idx in range(4):
        piece = t.filter(pa.array((keys // 97) % 4 == idx))
        buf = _io.BytesIO()
        write_csv(
            buf,
            piece.to_batches(),
            [from_arrow(f.type) for f in piece.schema],
        )
        with open(_os.path.join(d, f"part{idx + 1}.csv"), "wb") as f:
            f.write(buf.getvalue())
    spec = _os.path.join(d, "part{1..4}.csv")
    _FILE_FIXTURES[key] = spec
    return spec


def _tf_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.file_table import file_table
    from .base import ensure_session

    ensure_session(spark)
    spec = _lineitem_csv_files(sf_dir)
    df = file_table(spark, spec, "CSVWithNamesAndTypes")
    from .base import assert_planned_partitions

    assert_planned_partitions(
        df, lambda n: n == 4,
        lambda n: f"file() must plan one partition per file ({n})",
    )
    return (
        df.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents"),
        )
        .orderBy("flag")
    )


REGISTRY.df_query(
    "tf_file_scan",
    _tf_file_scan,
    oracle="""
    SELECT l_returnflag AS flag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM lineitem WHERE l_orderkey % 97 = 0
    GROUP BY l_returnflag ORDER BY flag
    """,
    tags=["source", "file", "tf", "csv", "glob"],
    description="file() table function: four-file brace-glob read "
    "(part{1..4}.csv, one partition per file) through the shared wire "
    "decoders; oracle from raw parquet",
)


_WITHNAMES_SERVERS: dict = {}


def _orders_withnames_url(sf_dir: str) -> str:
    """CSVWithNames (names row, NO types row) export of the
    o_orderkey % 83 == 0 orders subset, served by a process-cached
    local HTTP server — the entry reads it with NO structure, so the
    types must come from inference (Int64 / String / Float64)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    key = ("orders-withnames", sf_dir)
    hit = _WITHNAMES_SERVERS.get(key)
    if hit is not None:
        return hit

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    keys = t.column("o_orderkey").to_numpy()
    t = t.filter(pa.array(keys % 83 == 0))
    # status values are single letters (no quotes/commas inside);
    # repr() floats round-trip exactly through the Float64 inference
    lines = ['"o_orderkey","o_orderstatus","o_totalprice"']
    for k, s, p in zip(
        t.column("o_orderkey").to_pylist(),
        t.column("o_orderstatus").to_pylist(),
        t.column("o_totalprice").to_pylist(),
    ):
        lines.append(f'{k},"{s}",{float(p)!r}')
    body = ("\n".join(lines) + "\n").encode()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server contract
            if self.path != "/orders.csv":
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
    url = f"http://{host}:{port}/orders.csv"
    _WITHNAMES_SERVERS[key] = url
    return url


def _tf_url_withnames_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.url_table import url_table
    from .base import ensure_session

    ensure_session(spark)
    url = _orders_withnames_url(sf_dir)
    df = url_table(spark, url, "CSVWithNames")  # NO structure: inference
    got = df.schema.simpleString()
    want = (
        "struct<o_orderkey:bigint,o_orderstatus:string,"
        "o_totalprice:double>"
    )
    if got != want:
        raise AssertionError(f"inference regressed: {got} != {want}")
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("sum_k"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "tf_url_withnames_scan",
    _tf_url_withnames_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 83 = 0
    GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "url", "tf", "csv", "inference"],
    description="CSVWithNames (names row, no types) through url() with "
    "NO structure — ClickHouse-style type inference (Int64/String/"
    "Float64, asserted in-plan) then aggregation; oracle from raw "
    "parquet",
)


_GENRAND_STRUCTURE = (
    "u8 UInt8, i32 Int32, big UInt64, f Float64, s String, "
    "flag Bool, d Date, tags Array(UInt16), maybe Nullable(Int64)"
)
_GENRAND_N = 100_000
_GENRAND_SEED = 42


def _tf_generate_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    # generateRandom(structure, seed): deterministic generator, the
    # SAME expression tree rendered for Spark and (in the oracle)
    # DuckDB — the oracle regenerates the data from scratch, no stored
    # fixture. Aggregation fingerprints every column exactly (float
    # sums go through FLOOR-to-micros fixed point).
    from ..sources.generate_random import generate_random_table

    df = generate_random_table(
        spark, _GENRAND_STRUCTURE, _GENRAND_N, _GENRAND_SEED
    )
    return df.selectExpr(
        "COUNT(*) AS n",
        "CAST(SUM(u8) AS BIGINT) AS sum_u8",
        "MIN(i32) AS min_i32",
        "MAX(i32) AS max_i32",
        "CAST(SUM(big) AS BIGINT) AS sum_big",
        "CAST(SUM(CAST(FLOOR(f * 1000000) AS BIGINT)) AS BIGINT)"
        " AS f_micros",
        "CAST(SUM(CASE WHEN s LIKE '%3' THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_s3",
        "CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flag",
        "MAX(d) AS d_max",
        "CAST(SUM(size(tags)) AS BIGINT) AS n_tags",
        "CAST(SUM(AGGREGATE(tags, CAST(0 AS BIGINT), (a, x) -> a + x))"
        " AS BIGINT) AS tag_total",
        "CAST(COUNT(*) - COUNT(maybe) AS BIGINT) AS n_null",
    )


def _genrand_oracle() -> str:
    from ..sources.generate_random import genrand_oracle_source

    src = genrand_oracle_source(_GENRAND_STRUCTURE, _GENRAND_N, _GENRAND_SEED)
    return f"""
    SELECT COUNT(*) AS n,
           CAST(SUM(u8) AS BIGINT) AS sum_u8,
           MIN(i32) AS min_i32,
           MAX(i32) AS max_i32,
           CAST(SUM(big) AS BIGINT) AS sum_big,
           CAST(SUM(CAST(FLOOR(f * 1000000) AS BIGINT)) AS BIGINT)
             AS f_micros,
           CAST(SUM(CASE WHEN s LIKE '%3' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_s3,
           CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flag,
           MAX(d) AS d_max,
           CAST(SUM(len(tags)) AS BIGINT) AS n_tags,
           CAST(SUM(COALESCE(list_sum(tags), 0)) AS BIGINT) AS tag_total,
           CAST(COUNT(*) - COUNT(maybe) AS BIGINT) AS n_null
    FROM {src}
    """


REGISTRY.df_query(
    "tf_generate_random",
    _tf_generate_random,
    oracle=_genrand_oracle(),
    tags=["source", "tf", "generate", "table-function"],
    description="generateRandom(structure, seed) as a deterministic "
    "distributed generator (spark.range + codegen arithmetic, one "
    "31-bit LCG stream per column; ints/floats/strings/bools/dates/"
    "arrays/nullables); the DuckDB oracle REGENERATES the identical "
    "table from the shared expression tree and fingerprints it",
)


def _tf_remote_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # remote('addr1,addr2', orders): the ClickHouse remote() table
    # function over a two-shard mock cluster (disjoint o_orderkey % 2
    # slices) — whole-table pull per shard, one Spark input partition
    # each, initiator-side aggregation.  The address list exercises
    # the remote() spelling through the same cluster machinery
    # scan_remote_cluster grades with an explicit option.
    from ..sources.mock_server import mock_clickhouse_cluster
    from ..sources.table_functions import remote_table
    from .base import ensure_session

    ensure_session(spark)
    urls = mock_clickhouse_cluster(sf_dir, 2)
    df = remote_table(spark, ",".join(urls), "orders")
    return (
        df.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.max("o_orderkey").alias("max_k"),
        )
        .orderBy("priority")
    )


REGISTRY.df_query(
    "tf_remote_table",
    _tf_remote_table,
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           MAX(o_orderkey) AS max_k
    FROM orders GROUP BY o_orderpriority ORDER BY priority
    """,
    tags=["source", "scan", "tf", "remote", "cluster"],
    description="remote() table function: two-shard address list "
    "through the cluster scan machinery (one partition per shard, "
    "whole-table pull, initiator aggregation); oracle from raw parquet",
)


REGISTRY.df_query(
    "tf_url_glob_scan",
    _tf_url_glob_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           MIN(o_orderkey) AS min_k,
           MAX(o_orderkey) AS max_k
    FROM orders WHERE o_orderkey % 89 = 0
    GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "url", "tf", "glob"],
    description="url() glob expansion: {even,odd}/part{1..2}.csv "
    "(alternation x numeric range) -> four URLs, one partition each, "
    "through the clickhouse_url DataSource; oracle from raw parquet",
)
