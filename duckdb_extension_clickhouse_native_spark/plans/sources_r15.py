"""Round-15 source conformance: compressed url()/file() reads, the
s3() table function, and Dynamic-type decode.

* ``tf_file_compressed_scan`` — the r14 verdict's export/reimport
  asymmetry closed: ``INTO OUTFILE 'lineitem.csv.gz'`` (the engine's
  own writer, gzip sniffed from the FINAL filename) reimports
  losslessly through ``file()`` whose auto-detection now mirrors
  ClickHouse's (docs: sql-reference/table-functions/file,
  'compression').  The fixture asserts the bytes on disk really are
  gzip (magic 1f 8b) before the entry reads them back.

* ``tf_url_compressed_scan`` — ``url('.../orders.csv.zst')`` over a
  local HTTP server: extension-sniffed zstd through the streaming
  decompressor in front of the shared wire decoders.

* ``tf_s3_scan`` — the ``s3()`` table function (ClickHouse's most-used
  external source): wildcard LISTING (url() can't list), one partition
  per matched object, and the ``_path``/``_file`` virtual columns in
  the result.  In-sandbox the store is ``file://`` through
  pyarrow.fs — the same FileSystem API an ``s3://`` URI takes (the
  tests/test_filesystem.py precedent); credentials/NOSIGN wiring is
  pinned in tests/test_s3_table.py.

* ``native_dynamic_scan`` — the ``Dynamic`` type (VERDICT r14 item 5):
  versioned self-describing prefix (version + max_types + member type
  names) over the r14 Variant machinery, surfaced type-erased as
  struct<type, value> (native/types.py parse_type docstring explains
  why a header-only bind forces erasure).  The fixture writes all four
  arms (Int64 / String / Bool / NULL) through the engine's own
  encoder; typed access in the entry is the documented
  ``CAST(d.value AS T) WHERE d.type = 'T'`` shape.

Oracles recompute from the raw parquet with key arithmetic — never
touching HTTP, compression, object listing, or virtual columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.native_datasource import read_native
from .base import REGISTRY

_GZ_FIXTURES: dict = {}


def _lineitem_outfile_gz(spark: SparkSession, sf_dir: str) -> str:
    """INTO OUTFILE 'lineitem.csv.gz' of the l_orderkey % 101 == 0
    subset — the engine's own export path writes the compressed file
    the entry reads back. Cached per (sf_dir, parquet stamp)."""
    key = ("lineitem-outfile-gz", os.path.abspath(sf_dir))
    hit = _GZ_FIXTURES.get(key)
    if hit is not None and os.path.exists(hit):
        return hit

    import tempfile

    from ..operators.outfile import into_outfile

    df = (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .where(F.col("l_orderkey") % 101 == 0)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    )
    d = tempfile.mkdtemp(prefix="chsql_outfile_gz")
    path = os.path.join(d, "lineitem.csv.gz")
    into_outfile(df, path, "csv", truncate=True)
    with open(path, "rb") as f:
        magic = f.read(2)
    if magic != b"\x1f\x8b":
        raise AssertionError(
            "INTO OUTFILE '.gz' must write real gzip bytes, got "
            f"{magic!r}"
        )
    _GZ_FIXTURES[key] = path
    return path


def _tf_file_compressed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.file_table import file_table
    from .base import ensure_session

    ensure_session(spark)
    path = _lineitem_outfile_gz(spark, sf_dir)
    # NO compression argument: the extension sniff must route .gz
    df = file_table(spark, path, "CSVWithNamesAndTypes")
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
    "tf_file_compressed_scan",
    _tf_file_compressed_scan,
    oracle="""
    SELECT l_returnflag AS flag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM lineitem WHERE l_orderkey % 101 = 0
    GROUP BY l_returnflag ORDER BY flag
    """,
    tags=["source", "file", "tf", "compression", "gzip"],
    description="export/reimport symmetry: INTO OUTFILE writes "
    "lineitem.csv.gz (gzip magic asserted), file() reads it back via "
    "extension-sniffed streaming decompression; oracle from raw "
    "parquet",
)


_ZST_SERVERS: dict = {}


def _orders_zst_url(sf_dir: str) -> str:
    """zstd-compressed CSVWithNamesAndTypes export of the
    o_orderkey % 79 == 0 orders subset served at /orders.csv.zst by a
    process-cached local HTTP server."""
    import io as _io
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    key = ("orders-zst", sf_dir)
    hit = _ZST_SERVERS.get(key)
    if hit is not None:
        return hit

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..native.contentcodec import compress_bytes
    from ..native.textformats import write_csv
    from ..native.types import from_arrow

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    keys = t.column("o_orderkey").to_numpy()
    t = t.filter(pa.array(keys % 79 == 0))
    buf = _io.BytesIO()
    write_csv(buf, t.to_batches(), [from_arrow(f.type) for f in t.schema])
    body = compress_bytes(buf.getvalue(), "zstd")

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server contract
            if self.path != "/orders.csv.zst":
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
    url = f"http://{host}:{port}/orders.csv.zst"
    _ZST_SERVERS[key] = url
    return url


def _tf_url_compressed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.url_table import url_table
    from .base import ensure_session

    ensure_session(spark)
    url = _orders_zst_url(sf_dir)
    # NO compression argument: the .zst extension sniff must route it
    df = url_table(spark, url, "CSVWithNamesAndTypes")
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
    "tf_url_compressed_scan",
    _tf_url_compressed_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 79 = 0
    GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "url", "tf", "compression", "zstd"],
    description="url() over a .zst object: extension-sniffed zstd "
    "streaming decompression in front of the shared CSV decoder; "
    "oracle from raw parquet",
)


_S3_FIXTURES: dict = {}


def _orders_s3_prefix(sf_dir: str) -> str:
    """Four-object CSVWithNamesAndTypes export of the
    o_orderkey % 73 == 0 orders subset (split by (o_orderkey // 73) %
    4 into part1..4.csv) under a file:// prefix — the pyarrow.fs code
    path an s3:// bucket takes."""
    import io as _io
    import tempfile

    key = ("orders-s3", sf_dir)
    hit = _S3_FIXTURES.get(key)
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
    t = t.filter(pa.array(keys % 73 == 0))
    keys = t.column("o_orderkey").to_numpy()
    d = tempfile.mkdtemp(prefix="chsql_s3_tf")
    for idx in range(4):
        piece = t.filter(pa.array((keys // 73) % 4 == idx))
        buf = _io.BytesIO()
        write_csv(
            buf, piece.to_batches(), [from_arrow(f.type) for f in piece.schema]
        )
        with open(os.path.join(d, f"part{idx + 1}.csv"), "wb") as f:
            f.write(buf.getvalue())
    prefix = f"file://{d}"
    _S3_FIXTURES[key] = prefix
    return prefix


def _tf_s3_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.s3_table import s3_table
    from .base import ensure_session

    ensure_session(spark)
    prefix = _orders_s3_prefix(sf_dir)
    # '*' wildcard resolves by LISTING the store (the s3()-over-url()
    # differentiator); _file/_path virtuals carry provenance
    df = s3_table(
        spark, f"{prefix}/part*.csv", "CSVWithNamesAndTypes",
        virtual_columns=True,
    )
    from .base import assert_planned_partitions

    assert_planned_partitions(
        df, lambda n: n == 4,
        lambda n: f"s3() must plan one partition per object ({n})",
    )
    return (
        df.where(F.col("_path").startswith("file://"))
        .groupBy(F.col("_file").alias("f"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("sum_k"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
        .orderBy("f")
    )


def _dynamic_fixture(spark: SparkSession, sf_dir: str) -> str:
    """orders -> d Dynamic: o_orderkey % 4 == 0 -> Int64(key),
    == 1 -> String(o_orderstatus), == 2 -> Bool(o_orderkey % 8 == 2),
    == 3 -> NULL (discriminator 255)."""
    import pyarrow as pa

    from ..native.types import parse_type, to_arrow
    from .sources import _materialize_fixture

    t_d = parse_type("Dynamic")

    def write(out_dir: str, t) -> None:
        keys = t.column("o_orderkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        ds = []
        for k, s in zip(keys, status):
            m = k % 4
            if m == 0:
                ds.append({"type": "Int64", "value": str(k)})
            elif m == 1:
                ds.append({"type": "String", "value": s})
            elif m == 2:
                ds.append(
                    {
                        "type": "Bool",
                        "value": "true" if k % 8 == 2 else "false",
                    }
                )
            else:
                ds.append(None)
        batch = pa.table(
            {
                "o_orderstatus": pa.array(status, type=pa.string()),
                "d": pa.array(ds, type=to_arrow(t_d)),
            }
        )
        from .sources import _write_parts

        _write_parts(out_dir, batch, [parse_type("String"), t_d])

    return _materialize_fixture(sf_dir, "orders", "orders-dynamic-16pmk", write)


def _native_dynamic_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    path = _dynamic_fixture(spark, sf_dir)
    df = read_native(spark, path)
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("d.type") == "Int64", 1).otherwise(0)
            ).alias("n_int"),
            F.sum(
                F.when(
                    F.col("d.type") == "Int64",
                    F.col("d.value").cast("long"),
                )
            ).alias("sum_int"),
            F.sum(
                F.when(
                    (F.col("d.type") == "String")
                    & (F.col("d.value") == F.col("o_orderstatus")),
                    1,
                ).otherwise(0)
            ).alias("n_str_match"),
            F.sum(
                F.when(
                    (F.col("d.type") == "Bool")
                    & (F.col("d.value") == "true"),
                    1,
                ).otherwise(0)
            ).alias("n_true"),
            F.sum(F.when(F.col("d").isNull(), 1).otherwise(0)).alias(
                "n_null"
            ),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "native_dynamic_scan",
    _native_dynamic_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_int,
           CAST(SUM(CASE WHEN o_orderkey % 4 = 0 THEN o_orderkey END)
                AS BIGINT) AS sum_int,
           CAST(SUM(CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_str_match,
           CAST(SUM(CASE WHEN o_orderkey % 8 = 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN o_orderkey % 4 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "native", "dynamic", "types"],
    description="Dynamic type through the full write -> Native bytes "
    "(versioned self-describing prefix: V1 + max_types + member names, "
    "then the Variant body) -> scan path, surfaced type-erased as "
    "struct<type,value> with CAST-based typed access; oracle from raw "
    "o_orderkey arithmetic",
)


REGISTRY.df_query(
    "tf_s3_scan",
    _tf_s3_scan,
    oracle="""
    SELECT 'part' || CAST((o_orderkey // 73) % 4 + 1 AS VARCHAR) || '.csv'
             AS f,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 73 = 0
    GROUP BY 1 ORDER BY f
    """,
    tags=["source", "s3", "tf", "listing", "virtual-columns"],
    description="s3() table function: wildcard listing over a "
    "pyarrow.fs store (file:// in-sandbox — the s3:// code path), one "
    "partition per object, _path/_file virtual columns grouped in the "
    "result; oracle recomputes the file split from key arithmetic",
)


def _tf_s3_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO FUNCTION s3('.../part_{_partition_id}.csv.gz')
    PARTITION BY o_orderstatus, then read the objects back through
    s3() with the _file virtual — write half + read half + compression
    + partition fan-out in one graded plan.  A FRESH destination per
    build (the mutation-entry precedent: the write IS the operator)."""
    import tempfile

    from ..sources.s3_table import s3_insert, s3_table
    from .base import ensure_session, load_tables

    ensure_session(spark)
    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    sub = t.where(F.col("o_orderkey") % 71 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    d = tempfile.mkdtemp(prefix="chsql_s3_ins")
    n = s3_insert(
        sub,
        f"file://{d}/part_{{_partition_id}}.csv.gz",
        partition_by="o_orderstatus",
    )
    if n <= 0:
        raise AssertionError("s3() INSERT wrote no rows")
    df = s3_table(
        spark, f"file://{d}/part_*.csv.gz", "CSVWithNamesAndTypes",
        virtual_columns=True,
    )
    return (
        df.groupBy(F.col("_file").alias("f"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("sum_k"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
        .orderBy("f")
    )


REGISTRY.df_query(
    "tf_s3_insert_roundtrip",
    _tf_s3_insert_roundtrip,
    oracle="""
    SELECT 'part_' || o_orderstatus || '.csv.gz' AS f,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 71 = 0
    GROUP BY o_orderstatus ORDER BY f
    """,
    tags=["source", "s3", "tf", "insert", "partition-by", "compression"],
    description="s3() write half: PARTITION BY {_partition_id} fans "
    "one gzip object out per partition value (groupBy+applyInArrow, "
    "one writer task per value), read back through s3() listing with "
    "the _file virtual; oracle recomputes the object split from "
    "o_orderstatus",
)


_ARCHIVE_FIXTURES: dict = {}


def _orders_zip_archive(sf_dir: str) -> str:
    """Four-member zip (part1..4.csv, CSVWithNamesAndTypes, split by
    (o_orderkey // 67) % 4) of the o_orderkey % 67 == 0 orders subset."""
    import io as _io
    import tempfile
    import zipfile

    key = ("orders-zip", sf_dir)
    hit = _ARCHIVE_FIXTURES.get(key)
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
    t = t.filter(pa.array(keys % 67 == 0))
    keys = t.column("o_orderkey").to_numpy()
    d = tempfile.mkdtemp(prefix="chsql_zip_tf")
    path = os.path.join(d, "orders.zip")
    with zipfile.ZipFile(path, "w") as zf:
        for idx in range(4):
            piece = t.filter(pa.array((keys // 67) % 4 == idx))
            buf = _io.BytesIO()
            write_csv(
                buf,
                piece.to_batches(),
                [from_arrow(f.type) for f in piece.schema],
            )
            zf.writestr(f"part{idx + 1}.csv", buf.getvalue())
    _ARCHIVE_FIXTURES[key] = path
    return path


def _tf_file_archive_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.file_table import file_table
    from .base import ensure_session

    ensure_session(spark)
    path = _orders_zip_archive(sf_dir)
    # 'archive :: member-glob' — every matched member is one partition
    df = file_table(
        spark, f"{path} :: part*.csv", "CSVWithNamesAndTypes",
        virtual_columns=True,
    )
    from .base import assert_planned_partitions

    assert_planned_partitions(
        df, lambda n: n == 4,
        lambda n: "file() archives must plan one partition per "
        f"matched member (planned {n})",
    )
    return (
        df.groupBy(F.col("_file").alias("f"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("sum_k"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
        .orderBy("f")
    )


REGISTRY.df_query(
    "tf_file_archive_scan",
    _tf_file_archive_scan,
    oracle="""
    SELECT 'part' || CAST((o_orderkey // 67) % 4 + 1 AS VARCHAR) || '.csv'
             AS f,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 67 = 0
    GROUP BY 1 ORDER BY f
    """,
    tags=["source", "file", "tf", "archive", "zip"],
    description="file('orders.zip :: part*.csv'): archive-member "
    "reading with separator-aware member globs, one partition per "
    "member, _file = member basename; oracle recomputes the member "
    "split from key arithmetic",
)


_UNION_FIXTURES: dict = {}


def _orders_union_files(sf_dir: str) -> str:
    """Two CSVWithNames files with DIFFERENT column sets/types: part1
    has (o_orderkey, o_totalprice) for o_orderkey % 61 == 0, part2 has
    (o_orderkey, o_orderstatus) for o_orderkey % 61 == 1 — the
    schema_inference_mode='union' shape."""
    import tempfile

    key = ("orders-union", sf_dir)
    hit = _UNION_FIXTURES.get(key)
    if hit is not None:
        return hit

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    d = tempfile.mkdtemp(prefix="chsql_union_tf")
    lines1 = ["o_orderkey,o_totalprice"]
    lines2 = ["o_orderkey,o_orderstatus"]
    for k, s, p in zip(
        t.column("o_orderkey").to_pylist(),
        t.column("o_orderstatus").to_pylist(),
        t.column("o_totalprice").to_pylist(),
    ):
        if k % 61 == 0:
            lines1.append(f"{k},{float(p)!r}")
        elif k % 61 == 1:
            lines2.append(f'{k},"{s}"')
    with open(os.path.join(d, "part1.csv"), "w") as f:
        f.write("\n".join(lines1) + "\n")
    with open(os.path.join(d, "part2.csv"), "w") as f:
        f.write("\n".join(lines2) + "\n")
    _UNION_FIXTURES[key] = d
    return d


def _tf_file_union_schema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.file_table import file_table
    from .base import ensure_session

    ensure_session(spark)
    d = _orders_union_files(sf_dir)
    df = file_table(
        spark,
        f"{d}/part1.csv,{d}/part2.csv",
        "CSVWithNames",
        schema_inference_mode="union",
    )
    want = {"o_orderkey": "bigint", "o_totalprice": "double",
            "o_orderstatus": "string"}
    if dict(df.dtypes) != want:
        raise AssertionError(f"union schema regressed: {df.dtypes}")
    return df.select(
        F.count("*").alias("n"),
        F.count("o_totalprice").alias("n_price"),
        F.count("o_orderstatus").alias("n_status"),
        F.sum("o_orderkey").alias("sum_k"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("n_f"),
    )


REGISTRY.df_query(
    "tf_file_union_schema_scan",
    _tf_file_union_schema_scan,
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderkey % 61 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_price,
           CAST(SUM(CASE WHEN o_orderkey % 61 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_status,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN o_orderkey % 61 = 0
                    THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END)
                AS BIGINT) AS cents,
           CAST(SUM(CASE WHEN o_orderkey % 61 = 1 AND o_orderstatus = 'F'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_f
    FROM orders WHERE o_orderkey % 61 IN (0, 1)
    """,
    tags=["source", "file", "tf", "schema-inference", "union"],
    description="schema_inference_mode='union': two files with "
    "disjoint column extras merge (schema asserted in-plan), missing "
    "columns NULL-fill per element; oracle recomputes the per-file "
    "split from key arithmetic",
)
