"""Conformance queries that exercise the two DataSources themselves —
the part of SURVEY.md §2.1 that IS the reference's own code.

Each query materializes driver parquet into ClickHouse Native files
(cached per sf_dir under /tmp), reads them back through
``spark.read.format("clickhouse_native")``, and runs the reference's
own smoke queries above the scan (count/max — README.md:63-69,
filter+projection — README.md:72). The DuckDB oracle reads the
original parquet, so a hash match proves the full
write -> Native bytes -> partitioned scan -> Arrow pipeline is
value-faithful.
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..native.marks import MAGIC as MARKS_MAGIC
from ..sources.native_datasource import read_native
from .base import REGISTRY, assert_planned_partitions, load_tables

_LOCK = threading.Lock()


def _write_parts(out_dir: str, table, ch_types, n_files: int = 16, **kw) -> None:
    """Write a pyarrow table as ``n_files`` Native part files — the
    many-part layout every real table has. A single-file fixture plans
    ONE scan partition and serializes the whole decode on one executor
    thread (r15 optimization round: the type-long-tail scans measured
    1.9-2.7 s single-task at sf0.1; guide §2 — parallelism comes from
    the input layout, and the packing floor keeps small files at one
    bin per file)."""
    from ..native.writer import write_native_file

    per = max(1, (table.num_rows + n_files - 1) // n_files)
    for i in range(n_files):
        piece = table.slice(i * per, per)
        if piece.num_rows == 0:
            break
        write_native_file(
            os.path.join(out_dir, f"part-{i:03d}.clickhouse"),
            piece,
            ch_types=ch_types,
            **kw,
        )


def _materialize_fixture(sf_dir: str, table: str, key: str, write_fn) -> str:
    """Shared fixture scaffold: cache dir keyed on the FULL source path
    plus the parquet's (mtime, size) content stamp — a regenerated or
    differently-located dataset never reuses stale Native files — and
    the marks sidecar's format, so a format change never leaves cached
    parts with sidecars the reader refuses.
    ``write_fn(out_dir, arrow_table)`` does the actual writing; a
    ``_DONE`` marker makes the materialization appear atomic."""
    import hashlib

    import pyarrow.parquet as pq

    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    st = os.stat(src)
    stamp = f"{int(st.st_mtime)}-{st.st_size}-{MARKS_MAGIC.decode().strip()}"
    tag = hashlib.md5(src.encode()).hexdigest()[:10]
    out_dir = os.path.join(
        tempfile.gettempdir(), "chsql_native_fixtures", tag, f"{key}-{stamp}"
    )
    done = os.path.join(out_dir, "_DONE")
    with _LOCK:
        if not os.path.exists(done):
            os.makedirs(out_dir, exist_ok=True)
            write_fn(out_dir, pq.read_table(src))
            with open(done, "w") as f:
                f.write("")
    return out_dir


def native_fixture_dir(spark: SparkSession, sf_dir: str, table: str, n_files: int = 16) -> str:
    """Materialize ``{sf_dir}/{table}.parquet`` as Native files (once
    per source-content per process). 16 files by default: one Spark
    partition per file is the scan's parallelism (the 100 TB layout is
    many files, not one big one)."""
    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        n = t.num_rows
        per = max(1, (n + n_files - 1) // n_files)
        for i in range(n_files):
            piece = t.slice(i * per, per)
            if piece.num_rows == 0:
                break
            write_native_file(
                os.path.join(out_dir, f"part-{i:03d}.clickhouse"),
                piece,
                block_rows=max(4096, per // 4),
            )

    # -mk: cache-key bump so pre-marks fixture dirs (no _*.marks
    # sidecars) regenerate with string marks (native/marks.py)
    return _materialize_fixture(sf_dir, table, f"{table}-{n_files}mk", write)



def _native_count_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference's own golden assertions: count(*) + max over the scan
    # (test/sql/chsql_native.test:17-20, README.md:63-69).
    # Spark's Python DataSource API has no automatic column pruning, so
    # the projection rides the 'columns' option: the other 14 lineitem
    # columns are byte-skipped, never decoded (2x on this query).
    from .base import ensure_session

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "lineitem")
    df = read_native(spark, path, columns="l_orderkey,l_shipdate")
    return df.agg(
        F.count("*").alias("n_rows"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.min("l_shipdate").alias("min_shipdate"),
    )


REGISTRY.df_query(
    "native_scan_count_max",
    _native_count_max,
    oracle="""
    SELECT COUNT(*) AS n_rows, MAX(l_orderkey) AS max_orderkey,
           MIN(l_shipdate) AS min_shipdate
    FROM lineitem
    """,
    tags=["source", "native"],
    description="reference smoke test: aggregate above the Native scan",
)


def _native_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # filter + projection above the scan (README.md:72's WHERE/LIMIT shape,
    # made deterministic); predicate is absorbed by pushFilters and
    # evaluated on Arrow batches inside the reader
    from .base import ensure_session

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "orders")
    df = read_native(spark, path, columns="o_orderkey,o_orderstatus,o_totalprice")
    return (
        df.filter((F.col("o_orderstatus") != "O") & (F.col("o_totalprice") > 200000))
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


REGISTRY.df_query(
    "native_filter_project",
    _native_filter_project,
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderstatus <> 'O' AND o_totalprice > 200000
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
    tags=["source", "native", "pushdown"],
    description="projection (byte-skip) + filter pushdown through the Native reader",
)


def _native_join_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Native scan joined against a parquet table — mixed-source plan
    # (projection pruned at the byte level via the columns option)
    from .base import ensure_session

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "lineitem")
    li = read_native(spark, path, columns="l_partkey,l_quantity")
    t = load_tables(spark, sf_dir, ["part"])
    return (
        li.join(F.broadcast(t["part"]), li.l_partkey == t["part"].p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_qty"),
        )
    )


REGISTRY.df_query(
    "native_join_mixed_sources",
    _native_join_parquet,
    oracle="""
    SELECT p_brand, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    tags=["source", "native", "join"],
    description="Native scan joined to parquet dim (broadcast)",
)


def _native_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # string-heavy table through the Native writer/reader
    from .base import ensure_session

    ensure_session(spark)
    df = read_native(spark, native_fixture_dir(spark, sf_dir, "documents"))
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.max(F.length("text")).alias("max_len"),
    )


REGISTRY.df_query(
    "native_roundtrip_documents",
    _native_roundtrip_documents,
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MAX(LENGTH(text)) AS max_len
    FROM documents GROUP BY lang
    """,
    tags=["source", "native", "strings"],
    description="string/UTF-8 fidelity through the Native roundtrip",
)


def _native_compressed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LZ4 compressed-frame path (the feature the reference leaves
    # unimplemented, README.md:133): write once per sf_dir, scan + agg
    from .base import ensure_session

    ensure_session(spark)

    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        per = max(1, (t.num_rows + 3) // 4)
        for i in range(4):
            piece = t.slice(i * per, per)
            if piece.num_rows == 0:
                break
            write_native_file(
                os.path.join(out_dir, f"part-{i:03d}.clickhouse"),
                piece,
                block_rows=max(4096, per // 4),
                compression="lz4",
            )

    out_dir = _materialize_fixture(sf_dir, "events", "events-lz4", write)
    df = read_native(spark, out_dir, columns="event_type,value,user_id")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


REGISTRY.df_query(
    "native_compressed_scan",
    _native_compressed_scan,
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    tags=["source", "native", "compression"],
    description="LZ4 compressed-frame Native scan (frames + CityHash128 checksums)",
)


def _enum_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write events.event_type as an Enum8 Native column (value map
    fixed) plus event_id; exercises the reference's Enum8 decode
    (lib.rs:78-104,157-166) through the full scan path."""
    import pyarrow as pa

    from ..native.types import parse_type
    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        kinds = sorted(set(t.column("event_type").to_pylist()))
        pairs = ", ".join(f"'{k}' = {i + 1}" for i, k in enumerate(kinds))
        enum_t = parse_type(f"Enum8({pairs})")
        id_map = {k: i + 1 for i, k in enumerate(kinds)}
        codes = pa.array(
            [id_map[v] for v in t.column("event_type").to_pylist()], type=pa.int8()
        )
        batch = pa.table({"event_id": t.column("event_id"), "event_type": codes})
        write_native_file(
            os.path.join(out_dir, "part-000.clickhouse"),
            batch,
            ch_types=[parse_type("Int64"), enum_t],
        )

    return _materialize_fixture(sf_dir, "events", "events-enum", write)


def _native_enum_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    path = _enum_fixture(spark, sf_dir)
    df = read_native(spark, path)
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"), F.max("event_id").alias("max_id")
    )


REGISTRY.df_query(
    "native_enum_scan",
    _native_enum_scan,
    oracle="""
    SELECT event_type, COUNT(*) AS n, MAX(event_id) AS max_id
    FROM events GROUP BY event_type
    """,
    tags=["source", "native", "enum"],
    description="Enum8 value->label decode through the Native scan (lib.rs:157-166)",
)


def _native_lossy_uint64(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reference-compat flag: UInt64 emitted as i32 wraparound
    # (lib.rs:336-344 'v as i32'); oracle reproduces two's-complement
    from .base import ensure_session

    ensure_session(spark)
    path = _enum_fixture(spark, sf_dir)
    df = read_native(spark, path, columns="event_id", lossy_uint64="false")
    # the fixture stores event_id as Int64; emulate the reference's cast
    # chain u64 -> i32 on the Spark side with the SAME arithmetic as the
    # DuckDB oracle so the compat semantics themselves are what is tested
    return df.select(
        ((F.pmod(F.col("event_id") + F.lit(2**31), F.lit(2**32))) - F.lit(2**31))
        .cast("int")
        .alias("id_i32")
    ).agg(
        F.count("*").alias("n"),
        F.min("id_i32").alias("min_i32"),
        F.max("id_i32").alias("max_i32"),
        F.sum(F.col("id_i32").cast("bigint")).alias("sum_i32"),
    )


REGISTRY.df_query(
    "native_lossy_uint64_compat",
    _native_lossy_uint64,
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(MIN(((event_id + 2147483648) % 4294967296) - 2147483648) AS INT) AS min_i32,
           CAST(MAX(((event_id + 2147483648) % 4294967296) - 2147483648) AS INT) AS max_i32,
           CAST(SUM(((event_id + 2147483648) % 4294967296) - 2147483648) AS BIGINT) AS sum_i32
    FROM events
    """,
    tags=["source", "native", "compat"],
    description="reference UInt64->i32 truncation semantics (lib.rs:336-344) as a compat check",
)


def _native_split_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single huge file split into block-range partitions (the other
    # scale path: when the data is NOT many files, the reader plans
    # ranges of blocks from one header-skip pass)
    from .base import ensure_session

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "lineitem", n_files=1)
    df = read_native(
        spark,
        path,
        split_blocks="true",
        target_partition_bytes=str(1 * 1024 * 1024),
    )
    return df.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("double")
        .alias("qty"),
    )


REGISTRY.df_query(
    "native_split_blocks_scan",
    _native_split_blocks,
    oracle="""
    SELECT l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
    FROM lineitem GROUP BY l_linestatus
    """,
    tags=["source", "native", "parallel"],
    description="block-range partitioned scan of one large Native file",
)


def _type_matrix_fixture(spark: SparkSession, sf_dir: str) -> str:
    """UUID / FixedString / Tuple / Decimal columns synthesized from
    orders — the full §1.3-extended type matrix through the actual
    write -> bytes -> scan path (the reference supports none of these,
    README.md:140)."""
    import hashlib as _hl

    import pyarrow as pa

    from ..native.types import parse_type
    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        keys = t.column("o_orderkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        cust = t.column("o_custkey").to_pylist()
        price = t.column("o_totalprice").to_pylist()
        uuids = []
        ips = []
        for k in keys:
            h = _hl.md5(str(k).encode()).hexdigest()
            uuids.append(f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}")
            ips.append(f"10.{(k >> 16) & 255}.{(k >> 8) & 255}.{k & 255}")
        batch = pa.table(
            {
                "o_orderkey": pa.array(keys, type=pa.int64()),
                "order_uuid": pa.array(uuids, type=pa.string()),
                "status_fs": pa.array(status, type=pa.string()),
                "cust_price": pa.StructArray.from_arrays(
                    [
                        pa.array(cust, type=pa.int64()),
                        pa.array(price, type=pa.float64()),
                    ],
                    ["_1", "_2"],
                ),
                "price_dec": pa.array(price, type=pa.float64()).cast(
                    pa.decimal128(18, 4)
                ),
                "src_ip": pa.array(ips, type=pa.string()),
                "props_map": pa.array(
                    [{"st": s} for s in status],
                    type=pa.map_(pa.string(), pa.string()),
                ),
            }
        )
        write_native_file(
            os.path.join(out_dir, "part-000.clickhouse"),
            batch,
            ch_types=[
                parse_type("Int64"),
                parse_type("UUID"),
                parse_type("FixedString(4)"),
                parse_type("Tuple(Int64, Float64)"),
                parse_type("Decimal(18, 4)"),
                parse_type("IPv4"),
                parse_type("Map(String, String)"),
            ],
        )

    return _materialize_fixture(sf_dir, "orders", "orders-typematrix", write)


def _native_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .base import ensure_session

    ensure_session(spark)
    path = _type_matrix_fixture(spark, sf_dir)
    df = read_native(spark, path)
    return df.select(
        "o_orderkey",
        "order_uuid",
        "status_fs",
        F.col("cust_price._1").alias("custkey"),
        F.col("cust_price._2").alias("price_f"),
        "price_dec",
        "src_ip",
        F.element_at("props_map", "st").alias("map_status"),
    ).agg(
        F.count("*").alias("n"),
        F.min("order_uuid").alias("min_uuid"),
        F.max("order_uuid").alias("max_uuid"),
        F.countDistinct("status_fs").alias("n_status"),
        F.sum("custkey").alias("sum_cust"),
        F.sum("price_dec").cast("double").alias("sum_dec"),
        F.max("price_f").alias("max_price"),
        F.max("src_ip").alias("max_ip"),
        F.countDistinct("map_status").alias("n_map_status"),
    )


REGISTRY.df_query(
    "native_type_matrix",
    _native_type_matrix,
    oracle="""
    WITH u AS (
      SELECT o_orderkey,
             md5(CAST(o_orderkey AS VARCHAR)) AS h,
             o_orderstatus, o_custkey, o_totalprice
      FROM orders
    )
    SELECT COUNT(*) AS n,
           MIN(concat(substr(h,1,8),'-',substr(h,9,4),'-',substr(h,13,4),'-',
                      substr(h,17,4),'-',substr(h,21,12))) AS min_uuid,
           MAX(concat(substr(h,1,8),'-',substr(h,9,4),'-',substr(h,13,4),'-',
                      substr(h,17,4),'-',substr(h,21,12))) AS max_uuid,
           COUNT(DISTINCT o_orderstatus) AS n_status,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_dec,
           MAX(o_totalprice) AS max_price,
           MAX(concat('10.', CAST((o_orderkey >> 16) & 255 AS VARCHAR), '.',
                      CAST((o_orderkey >> 8) & 255 AS VARCHAR), '.',
                      CAST(o_orderkey & 255 AS VARCHAR))) AS max_ip,
           COUNT(DISTINCT o_orderstatus) AS n_map_status
    FROM u
    """,
    tags=["source", "native", "types"],
    description="UUID/FixedString/Tuple/Decimal/IPv4/Map fidelity through the Native scan",
)


def _native_embeddings_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array(Float32) through the full write -> Native bytes -> scan
    # path: per-label count + exact component sums over the vectors
    # component values are floats; engines round float->decimal
    # differently in the last digit, so the checksum uses exact integer
    # math: floor(x * 1e6) summed as BIGINT (floor of a double is
    # bit-deterministic everywhere)
    from .base import ensure_session

    ensure_session(spark)
    df = read_native(spark, native_fixture_dir(spark, sf_dir, "embeddings"))
    return df.select(
        "vec_id",
        "label",
        F.expr(
            "aggregate(embedding, CAST(0 AS BIGINT), "
            "(acc, x) -> acc + CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("vec_sum"),
        F.size("embedding").alias("dim"),
    ).groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.max("dim").alias("dim"),
        F.sum("vec_sum").alias("total_scaled_sum"),
    )


REGISTRY.df_query(
    "native_embeddings_roundtrip",
    _native_embeddings_roundtrip,
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             CAST(COALESCE(list_sum(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))), 0)
                  AS BIGINT) AS vec_sum,
             len(embedding) AS dim
      FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vecs, MAX(dim) AS dim,
           CAST(SUM(vec_sum) AS BIGINT) AS total_scaled_sum
    FROM v GROUP BY label
    """,
    tags=["source", "native", "array"],
    description="Array(Float32) fidelity through the Native write/scan roundtrip",
)


_SCAN_AGG_SQL = """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderstatus
"""


def _scan_remote_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # clickhouse_scan full-pushdown semantics (SURVEY.md §2.1 #11-15):
    # the ENTIRE SQL string executes server-side (here: the in-process
    # DuckDB-backed mock speaking the public Native-over-HTTP surface,
    # clickhouse_scan.rs:78 pushdown-by-construction)
    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_url

    ensure_session(spark)
    url = mock_clickhouse_url(sf_dir)
    return (
        spark.read.format("clickhouse_scan")
        .option("query", _SCAN_AGG_SQL)
        .option("url", url)
        .load()
    )


REGISTRY.df_query(
    "scan_remote_agg",
    _scan_remote_agg,
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "pushdown"],
    description="clickhouse_scan: whole query executes remotely, typed Native fetch",
)


def _scan_remote_rowbinary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same remote aggregation over the SECOND wire format
    # (RowBinaryWithNamesAndTypes — native/rowbinary.py): the result
    # must be byte-for-byte the Native fetch's, proving the row-major
    # decoder against the same oracle
    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_url

    ensure_session(spark)
    url = mock_clickhouse_url(sf_dir)
    return (
        spark.read.format("clickhouse_scan")
        .option("query", _SCAN_AGG_SQL)
        .option("url", url)
        .option("wire_format", "rowbinary")
        .load()
    )


REGISTRY.df_query(
    "scan_remote_rowbinary",
    _scan_remote_rowbinary,
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "rowbinary", "interop"],
    description="clickhouse_scan over FORMAT RowBinaryWithNamesAndTypes "
    "(second wire format; numpy fast path for all-fixed-width schemas)",
)


def _scan_remote_jsoneachrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same remote aggregation over the THIRD wire format
    # (JSONCompactEachRowWithNamesAndTypes — native/jsoneachrow.py):
    # the text interop path must reproduce the Native fetch exactly,
    # proving the JSON decoder (quoted 64-bit ints, denormals-as-null)
    # against the same oracle
    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_url

    ensure_session(spark)
    url = mock_clickhouse_url(sf_dir)
    return (
        spark.read.format("clickhouse_scan")
        .option("query", _SCAN_AGG_SQL)
        .option("url", url)
        .option("wire_format", "jsoneachrow")
        .load()
    )


REGISTRY.df_query(
    "scan_remote_jsoneachrow",
    _scan_remote_jsoneachrow,
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "jsoneachrow", "interop"],
    description="clickhouse_scan over FORMAT JSONCompactEachRowWithNamesAndTypes "
    "(third wire format; newline-delimited JSON text interop)",
)


def _scan_remote_jsonobjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the EIGHTH wire format: plain FORMAT JSONEachRow (one JSON
    # OBJECT per line, ClickHouse's most common interchange spelling).
    # It is NOT self-describing — the reader derives the schema from
    # the planning probe, the way every JSONEachRow consumer does —
    # and must reproduce the Native fetch exactly against the same
    # oracle.
    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_url

    ensure_session(spark)
    url = mock_clickhouse_url(sf_dir)
    return (
        spark.read.format("clickhouse_scan")
        .option("query", _SCAN_AGG_SQL)
        .option("url", url)
        .option("wire_format", "jsonobjects")
        .load()
    )


REGISTRY.df_query(
    "scan_remote_jsonobjects",
    _scan_remote_jsonobjects,
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "jsoneachrow", "interop"],
    description="clickhouse_scan over plain FORMAT JSONEachRow (eighth "
    "wire format; object-per-line, schema from the planning probe)",
)


def _scan_remote_textformat(wire_format: str):
    # same remote aggregation over the fourth/fifth wire formats
    # (TabSeparatedWithNamesAndTypes / CSVWithNamesAndTypes —
    # native/textformats.py): the escaped/quoted text paths must
    # reproduce the Native fetch exactly against the same oracle
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .base import ensure_session
        from ..sources.mock_server import mock_clickhouse_url

        ensure_session(spark)
        url = mock_clickhouse_url(sf_dir)
        return (
            spark.read.format("clickhouse_scan")
            .option("query", _SCAN_AGG_SQL)
            .option("url", url)
            .option("wire_format", wire_format)
            .load()
        )

    return build


REGISTRY.df_query(
    "scan_remote_tsv",
    _scan_remote_textformat("tsv"),
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "tsv", "interop"],
    description="clickhouse_scan over FORMAT TabSeparatedWithNamesAndTypes "
    "(fourth wire format; escaped-text interop)",
)

REGISTRY.df_query(
    "scan_remote_csv",
    _scan_remote_textformat("csv"),
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "csv", "interop"],
    description="clickhouse_scan over FORMAT CSVWithNamesAndTypes "
    "(fifth wire format; RFC-4180-quoted text interop)",
)

REGISTRY.df_query(
    "scan_remote_values",
    _scan_remote_textformat("values"),
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "values", "interop"],
    description="clickhouse_scan over FORMAT Values (ninth wire "
    "format; INSERT-literal tuples, no header — schema from the "
    "planning probe like plain JSONEachRow)",
)

REGISTRY.df_query(
    "scan_remote_tskv",
    _scan_remote_textformat("tskv"),
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "tskv", "interop"],
    description="clickhouse_scan over FORMAT TSKV (tenth wire format; "
    "name=value fields, names in-band, types from the planning probe)",
)

REGISTRY.df_query(
    "scan_remote_orc",
    _scan_remote_textformat("orc"),
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "orc", "interop"],
    description="clickhouse_scan over FORMAT ORC (eleventh wire "
    "format; file-shaped like Parquet — body buffered before decode, "
    "pyarrow.orc both halves)",
)


def _scan_remote_npy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FORMAT Npy carries exactly ONE nameless column (ClickHouse
    # format docs): the remote query ships a single BIGINT vector, the
    # name rides in from the planning probe, and Spark aggregates
    # locally (a multi-column remote SELECT under Npy is a server
    # error — pinned in tests/test_orc_npy_formats.py)
    from pyspark.sql import functions as F

    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_url

    ensure_session(spark)
    url = mock_clickhouse_url(sf_dir)
    df = (
        spark.read.format("clickhouse_scan")
        .option(
            "query",
            "SELECT CAST(l_partkey AS BIGINT) AS pk FROM lineitem "
            "WHERE l_partkey % 7 = 0",
        )
        .option("url", url)
        .option("wire_format", "npy")
        .load()
    )
    return df.agg(
        F.count("pk").alias("n"),
        F.sum("pk").alias("sum_pk"),
        F.min("pk").alias("min_pk"),
        F.max("pk").alias("max_pk"),
    )


REGISTRY.df_query(
    "scan_remote_npy",
    _scan_remote_npy,
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(l_partkey) AS BIGINT) AS sum_pk,
           MIN(l_partkey) AS min_pk,
           MAX(l_partkey) AS max_pk
    FROM lineitem WHERE l_partkey % 7 = 0
    """,
    tags=["source", "scan", "npy", "interop"],
    description="clickhouse_scan over FORMAT Npy (twelfth wire format; "
    "one numpy vector = one column, type self-describing, name from "
    "the planning probe)",
)


REGISTRY.df_query(
    "scan_remote_arrowstream",
    _scan_remote_textformat("arrowstream"),
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "arrow", "interop"],
    description="clickhouse_scan over FORMAT ArrowStream (sixth wire "
    "format; pyarrow IPC — the fastest interop path, zero per-value "
    "Python on either side)",
)

REGISTRY.df_query(
    "scan_remote_parquet",
    _scan_remote_textformat("parquet"),
    oracle=_SCAN_AGG_SQL,
    tags=["source", "scan", "parquet", "interop"],
    description="clickhouse_scan over FORMAT Parquet (seventh wire "
    "format; file-shaped — body buffered before decode, prefer "
    "ArrowStream for very large fetches)",
)


def _scan_remote_rowbinary_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Map/Tuple/LowCardinality joined the RowBinary matrix in round 9:
    # this drives a MAP + STRUCT result through the full Spark
    # DataSource over the rowbinary wire (schema probe is FORMAT
    # Native, so the struct field arrives as _1), then unpacks to
    # scalars for hash-stable grading (the r5 array-cell trap)
    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_url
    from pyspark.sql import functions as F

    ensure_session(spark)
    url = mock_clickhouse_url(sf_dir)
    df = (
        spark.read.format("clickhouse_scan")
        .option(
            "query",
            "SELECT n_nationkey, MAP(['k'], [n_regionkey]) AS m, "
            "{'a': n_name} AS t FROM nation",
        )
        .option("url", url)
        .option("wire_format", "rowbinary")
        .load()
    )
    return (
        df.select(
            "n_nationkey",
            F.element_at(F.col("m"), "k").alias("m_k"),
            F.col("t._1").alias("t_a"),
        )
        .orderBy("n_nationkey")
    )


REGISTRY.df_query(
    "scan_remote_rowbinary_nested",
    _scan_remote_rowbinary_nested,
    oracle="""
    SELECT n_nationkey, n_regionkey AS m_k, n_name AS t_a
    FROM nation ORDER BY n_nationkey
    """,
    tags=["source", "scan", "rowbinary", "nested", "interop"],
    description="clickhouse_scan over RowBinary with Map + Tuple "
    "columns (round-9 matrix completion; unpacked to scalars for "
    "grading)",
)


def _scan_remote_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JDBC-style split read: 4 range-partitioned fetches of one remote
    # query (the reference is strictly single-stream, README.md:51)
    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_url

    ensure_session(spark)
    url = mock_clickhouse_url(sf_dir)
    return (
        spark.read.format("clickhouse_scan")
        .option(
            "query",
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE o_totalprice > 150000",
        )
        .option("url", url)
        .option("partition_column", "o_orderkey")
        .option("num_partitions", "4")
        .option("lower_bound", "0")
        .option("upper_bound", "200000")
        .load()
    )


REGISTRY.df_query(
    "scan_remote_split",
    _scan_remote_split,
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_totalprice > 150000
    """,
    tags=["source", "scan", "parallel"],
    description="clickhouse_scan: 4-way range-partitioned parallel fetch",
)


def _scan_remote_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cluster() / Distributed-engine read: TWO mock shards each hold a
    # disjoint slice of events (user_id % 2); the shard-local query is
    # filter/project only and the initiator-side aggregation runs in
    # Spark over the union — exactly how a Distributed table executes
    # a GROUP BY it cannot fully push down.  One Spark partition per
    # shard; at scale this is N independent network streams feeding
    # one shuffle-free partial-agg stage.
    from pyspark.sql import functions as F

    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_cluster

    ensure_session(spark)
    urls = mock_clickhouse_cluster(sf_dir, 2)
    df = (
        spark.read.format("clickhouse_scan")
        .option(
            "query",
            "SELECT user_id, event_type, "
            "CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events "
            "WHERE event_type IN ('click', 'purchase')",
        )
        .option("cluster", ",".join(urls))
        .load()
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "scan_remote_cluster",
    _scan_remote_cluster,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["source", "scan", "cluster", "distributed"],
    description="cluster()/Distributed read: two disjoint mock shards, "
    "shard-local filter/project, initiator aggregation in Spark over "
    "the union (one partition per shard)",
)


_TCP_AGG_SQL = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders
    GROUP BY o_orderpriority
"""


def _scan_tcp_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same full-pushdown semantics as scan_remote_agg, but over the
    # native TCP protocol — the transport the reference actually uses
    # (clickhouse_scan.rs:73-78). The tcp:// URL is honored as a real
    # port-9000-style connection (handshake + Query + Native blocks),
    # served by the in-process mock TCP server.
    from .base import ensure_session
    from ..sources.mock_tcp_server import mock_clickhouse_tcp_url

    ensure_session(spark)
    url = mock_clickhouse_tcp_url(sf_dir)
    return (
        spark.read.format("clickhouse_scan")
        .option("query", _TCP_AGG_SQL)
        .option("url", url)
        .load()
    )


REGISTRY.df_query(
    "scan_tcp_agg",
    _scan_tcp_agg,
    oracle=_TCP_AGG_SQL,
    tags=["source", "scan", "tcp"],
    description="clickhouse_scan over the native TCP protocol (tcp:// URL, port-9000 transport)",
)


def _scan_tcp_downgrade(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-revision negotiation (r12 verdict item 6): the mock server
    # advertises rev 54058 (pre display-name, pre version-patch, pre
    # string-serialized settings); the client must downgrade every
    # revision-gated field to the server's slice and still stream
    # correct Native blocks. Same aggregation contract as scan_tcp_agg.
    from .base import ensure_session
    from ..sources.mock_tcp_server import mock_clickhouse_tcp_url

    ensure_session(spark)
    url = mock_clickhouse_tcp_url(sf_dir, server_revision=54058)
    return (
        spark.read.format("clickhouse_scan")
        .option("query", _TCP_AGG_SQL)
        .option("url", url)
        .load()
    )


REGISTRY.df_query(
    "scan_tcp_downgrade",
    _scan_tcp_downgrade,
    oracle=_TCP_AGG_SQL,
    tags=["source", "scan", "tcp", "revision"],
    description="clickhouse_scan against an OLD server (rev 54058 < "
    "client 54429): hello/query/progress packets downgrade to the "
    "negotiated min, data blocks still decode value-faithfully",
)


def _scan_tcp_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-way range-partitioned parallel fetch over the native TCP
    # protocol: one TCP connection per Spark input partition
    from .base import ensure_session
    from ..sources.mock_tcp_server import mock_clickhouse_tcp_url

    ensure_session(spark)
    url = mock_clickhouse_tcp_url(sf_dir)
    return (
        spark.read.format("clickhouse_scan")
        .option(
            "query",
            "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
            "WHERE o_totalprice > 100000",
        )
        .option("url", url)
        .option("partition_column", "o_orderkey")
        .option("num_partitions", "4")
        .option("lower_bound", "0")
        .option("upper_bound", "200000")
        .load()
    )


REGISTRY.df_query(
    "scan_tcp_split",
    _scan_tcp_split,
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    WHERE o_totalprice > 100000
    """,
    tags=["source", "scan", "tcp", "parallel"],
    description="clickhouse_scan over TCP: 4-way range-partitioned parallel fetch",
)


def _scan_tcp_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # INSERT over the native TCP protocol (structure block -> data
    # blocks -> EndOfStream), then read the table back — the write path
    # the reference does not have, over the transport it does.
    import uuid as _uuid

    from .base import ensure_session
    from ..sources.http_client import make_client, resolve_connection
    from ..sources.mock_tcp_server import mock_clickhouse_tcp_url

    ensure_session(spark)
    url = mock_clickhouse_tcp_url(sf_dir)
    table = f"rt_{_uuid.uuid4().hex[:12]}"
    admin = make_client(resolve_connection({"url": url}))
    list(admin.execute_blocks(f"CREATE TABLE {table} (k BIGINT, v VARCHAR)"))
    src = (
        load_tables(spark, sf_dir, ["orders"])["orders"]
        .filter(F.col("o_orderkey") < 200)
        .select(
            F.col("o_orderkey").cast("long").alias("k"),
            F.col("o_orderstatus").alias("v"),
        )
    )
    (
        src.repartition(2)
        .write.format("clickhouse_scan")
        .option("url", url)
        .option("table", table)
        .mode("append")
        .save()
    )
    return (
        spark.read.format("clickhouse_scan")
        .option("url", url)
        .option("query", f"SELECT k, v FROM {table}")
        .load()
    )


REGISTRY.df_query(
    "scan_tcp_write_roundtrip",
    _scan_tcp_write_roundtrip,
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS v
    FROM orders WHERE o_orderkey < 200
    """,
    tags=["source", "scan", "tcp", "write"],
    description="TCP INSERT streaming (write path) then read-back, vs the source rows",
)


def _native_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Structured Streaming over the Native file source: the fixture dir
    # is consumed as micro-batches (one file per trigger), drained to
    # completion; final state must equal the batch aggregate exactly.
    from .base import ensure_session

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "orders")
    stream = (
        spark.readStream.format("clickhouse_native")
        .option("maxFilesPerTrigger", "1")
        .load(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
        )
    )
    from .streaming_queries import _drain

    return _drain(stream, "complete")


REGISTRY.df_query(
    "native_stream_agg",
    _native_stream_agg,
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=["source", "native", "streaming"],
    description="Structured Streaming over Native files: drained micro-batches == batch group-by",
)


def register() -> None:
    """Import side effect — queries registered above."""


def _zorder_events_fixture(spark: SparkSession, sf_dir: str, n_files: int = 16) -> str:
    """events projected to (uk, mk, event_type, value), Morton-ordered
    on (uk, mk) and written as ``n_files`` Native files WITH min/max
    skipping sidecars — the layout `operators/zorder.py` plans, made
    physical. Derivation is numpy (driver-side, once per sf_dir) so the
    fixture is deterministic across engines."""
    import numpy as np

    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        import pyarrow as pa

        ts = t.column("ts")
        if pa.types.is_timestamp(ts.type):
            micros = ts.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
        else:  # nanos-as-int64 era
            micros = ts.cast(pa.int64()).to_numpy() // 1000
        uk = (t.column("user_id").to_numpy() & 255).astype(np.int64)
        mk = ((micros // 60_000_000) & 255).astype(np.int64)
        z = np.zeros(len(uk), dtype=np.int64)
        for b in range(8):  # interleave 8 bits per dimension
            z |= ((uk >> b) & 1) << (2 * b)
            z |= ((mk >> b) & 1) << (2 * b + 1)
        order = np.lexsort((t.column("event_id").to_numpy(), z))
        zt = pa.table(
            {
                "uk": pa.array(uk[order]),
                "mk": pa.array(mk[order]),
                "event_type": t.column("event_type").take(pa.array(order)),
                "value": t.column("value").take(pa.array(order)),
            }
        )
        per = (zt.num_rows + n_files - 1) // n_files
        for i in range(n_files):
            piece = zt.slice(i * per, per)
            if piece.num_rows:
                write_native_file(
                    os.path.join(out_dir, f"part-{i:03d}.clickhouse"), piece
                )

    return _materialize_fixture(sf_dir, "events", f"events-zorder-{n_files}", write)


def _native_zorder_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box predicate over the z-ordered Native layout: the pushed
    range filters prune whole files against the writer's min/max
    sidecars at planning (measured 2/32 files for a 2-D box, SCALE.md),
    then the survivors' Arrow batches are filtered executor-side. The
    oracle computes the same box on the raw events table, so the hash
    proves pruning drops no rows."""
    from .base import ensure_session

    ensure_session(spark)
    path = _zorder_events_fixture(spark, sf_dir)
    df = read_native(spark, path)
    return (
        df.filter((F.col("uk") <= 31) & (F.col("mk") >= 64) & (F.col("mk") <= 127))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


REGISTRY.df_query(
    "native_zorder_skip_scan",
    _native_zorder_skip_scan,
    oracle="""
    WITH e AS (
      SELECT user_id & 255 AS uk,
             (epoch_us(CAST(ts AS TIMESTAMP)) // 60000000) & 255 AS mk,
             event_type, value
      FROM events
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM e
    WHERE uk <= 31 AND mk BETWEEN 64 AND 127
    GROUP BY event_type
    """,
    tags=["source", "native", "zorder", "skipping", "pushdown"],
    description="z-ordered Native layout + sidecar file pruning: box predicate == raw-table oracle",
)


def _hive_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Events written as a hive-partitioned Native layout
    (event_type=X/day=N/part.clickhouse) — the directory scheme a
    100 TB deployment uses so coarse predicates never touch excluded
    data. Partition values leave the files entirely (the reader
    restores them from the path)."""
    import pyarrow.compute as pc

    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        ts = t.column("ts")
        # day number from the raw timestamp; only the units the driver
        # has ever generated are accepted — a silent wrong divisor
        # would put every row in one bogus day= directory
        unit = getattr(ts.type, "unit", None)
        if unit not in ("us", "ns"):
            raise ValueError(f"unexpected events ts unit {unit!r}")
        div = 86400_000_000 if unit == "us" else 86400_000_000_000
        day = pc.divide(pc.cast(ts, "int64"), div)
        t2 = t.append_column("day", pc.cast(day, "int64"))
        types = sorted(set(t2.column("event_type").to_pylist()))
        for ty in types:
            sub = t2.filter(pc.equal(t2.column("event_type"), ty))
            days = sorted(set(sub.column("day").to_pylist()))
            for d in days:
                piece = sub.filter(pc.equal(sub.column("day"), d)).drop(
                    ["event_type", "day", "ts", "props"]
                )
                if piece.num_rows == 0:
                    continue
                dest = os.path.join(out_dir, f"event_type={ty}", f"day={d}")
                os.makedirs(dest, exist_ok=True)
                write_native_file(
                    os.path.join(dest, "part.clickhouse"), piece
                )

    return _materialize_fixture(sf_dir, "events", "events-hivemk", write)


def _native_hive_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicates on path-derived partition columns prune whole
    directories at planning (zero tasks, zero IO for excluded
    event_type/day combinations); the oracle computes the same slice
    on the raw events table, so the hash proves the path round-trip
    (values -> directories -> restored columns) is lossless."""
    from .base import ensure_session

    ensure_session(spark)
    path = _hive_events_fixture(spark, sf_dir)
    df = read_native(spark, path)
    return (
        df.filter((F.col("event_type").isin("click", "purchase")) & (F.col("day") <= 19733))
        .groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("event_type", "day")
    )


REGISTRY.df_query(
    "native_hive_partition_scan",
    _native_hive_partition_scan,
    oracle="""
    WITH e AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             value, user_id
      FROM events
    )
    SELECT event_type, day, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM e
    WHERE event_type IN ('click', 'purchase') AND day <= 19733
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
    tags=["source", "native", "hive", "partition", "pruning"],
    description="hive-partitioned Native layout: directory pruning on path-derived columns == raw-table oracle",
)


def _block_sorted_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Events sorted by user_id in ONE Native file of many small
    blocks — the layout where PER-BLOCK sidecar stats (the parquet
    row-group analogue, written by every writer since r7) let a
    point/range predicate read a few block ranges of a single huge
    file instead of all of it."""
    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        t2 = t.drop(["props"]).sort_by(
            [("user_id", "ascending"), ("event_id", "ascending")]
        )
        n = t2.num_rows
        write_native_file(
            os.path.join(out_dir, "events-sorted.clickhouse"),
            t2,
            block_rows=max(256, n // 32),
        )

    return _materialize_fixture(sf_dir, "events", "events-blocksortedmk", write)


def _native_block_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate over the block-sorted single-file layout: the
    pushed user_id range prunes BLOCK RANGES against the per-block
    sidecar index at planning (no header scan, no IO for excluded
    blocks); the oracle computes the same slice on the raw table, so
    the hash proves block pruning drops no rows."""
    from .base import ensure_session

    ensure_session(spark)
    path = _block_sorted_events_fixture(spark, sf_dir)
    # byte-skip the unreferenced columns (event_id/props/ts): block
    # pruning composes with column pruning in the reader
    cols = "user_id,event_type,value"
    df = read_native(
        spark,
        path,
        columns=cols,
        split_blocks="true",
        target_partition_bytes=str(64 * 1024),
    )
    return (
        df.filter((F.col("user_id") >= 10) & (F.col("user_id") <= 24))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "native_block_skip_scan",
    _native_block_skip_scan,
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id BETWEEN 10 AND 24
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["source", "native", "blocks", "skipping", "pushdown"],
    description="per-block sidecar index prunes block ranges inside ONE file == raw-table oracle",
)


def _native_sql_using_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface registration (r10): the reference exposes its scan
    as a SQL table function (`FROM clickhouse_native('p')`,
    lib.rs:363-365); Spark's first-class equivalent for persistent SQL
    access is `CREATE TEMPORARY VIEW ... USING clickhouse_native` —
    the DataSource name resolves through the session catalog, so a
    pure-SQL user never touches the DataFrame API.  The view is
    (re)created per build; the aggregate then runs entirely in SQL."""
    from .base import ensure_session
    from ..sources.native_datasource import infer_native_schema

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "orders")
    # explicit column list (r16): with a user schema Spark skips the
    # python-worker schema() planning round-trip the bare USING form
    # pays on every (re)analysis of the view — the DDL is rendered
    # from the same driver-side header probe, so the schema is
    # identical by construction
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in infer_native_schema({"path": path}).fields
    )
    spark.sql("DROP VIEW IF EXISTS chsql_orders_view")
    spark.sql(
        f"CREATE TEMPORARY VIEW chsql_orders_view ({ddl}) "
        f"USING clickhouse_native OPTIONS (path '{path}')"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM chsql_orders_view
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


REGISTRY.df_query(
    "native_sql_using_view",
    _native_sql_using_view,
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=["source", "native", "sql", "catalog"],
    description="CREATE TEMPORARY VIEW ... USING clickhouse_native: the "
    "pure-SQL catalog surface of the DataSource (the reference's "
    "FROM clickhouse_native('p') shape, lib.rs:363-365)",
)


def _scan_remote_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remote filter pushdown (r10): the Spark-side .filter() is
    rendered into the remote SQL (reader pushFilters wraps the query
    as ``SELECT * FROM (q) AS __pushed WHERE ...``), so the server
    ships only matching rows — at 100 TB the egress saved by a
    selective predicate dwarfs the local scan cost.  The oracle
    applies the same WHERE to the raw table; value parity proves the
    remote filter dropped exactly the right rows."""
    from pyspark.sql import functions as F

    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_url

    ensure_session(spark)
    url = mock_clickhouse_url(sf_dir)
    df = (
        spark.read.format("clickhouse_scan")
        .option("table", "orders")
        .option("url", url)
        .load()
    )
    return (
        df.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000)
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


REGISTRY.df_query(
    "scan_remote_pushdown_filter",
    _scan_remote_pushdown,
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 150000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=["source", "scan", "pushdown", "interop"],
    description="clickhouse_scan filter pushdown: Spark predicates "
    "rendered into the remote SQL so the server filters before "
    "shipping (tests/test_scan_pushdown.py proves the WHERE reaches "
    "the wire via the mock's query log)",
)


def _native_prewhere_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREWHERE late materialization over the Native scan (ClickHouse
    reads PREWHERE predicate columns first and materializes the rest
    only for surviving granules; here the granule is the Native block:
    codec.read_block decodes the predicate columns, and a block no row
    survives comes back dead with its payload skipped). The string-equality
    predicate is exactly the shape planning-time min/max sidecars
    cannot prune; blocks it kills never decode the wide text payload.
    Default options: prewhere is on for every filtered native scan."""
    from .base import ensure_session

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "documents")
    df = read_native(spark, path, columns="doc_id,source,lang,text")
    return (
        df.filter((F.col("source") == "src7") & (F.col("doc_id") < 300))
        .select("doc_id", "lang", F.length("text").alias("n_chars_text"))
        .orderBy("doc_id")
    )


REGISTRY.df_query(
    "native_prewhere_scan",
    _native_prewhere_scan,
    oracle="""
    SELECT doc_id, lang, length(text) AS n_chars_text
    FROM documents
    WHERE source = 'src7' AND doc_id < 300
    ORDER BY doc_id
    """,
    tags=["source", "native", "prewhere"],
    description="PREWHERE-style late materialization: predicate columns "
    "decode first, dead blocks byte-skip the text payload",
)


def _mutation_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse mutation analogue (ALTER TABLE ... DELETE / UPDATE):
    delete every src7 document, add 1000 chars to German survivors,
    then aggregate the MUTATED directory. Parts whose sidecar stats
    prove zero matching rows are hard-linked into the destination
    untouched (operators/mutations.py) — the part-reuse optimization
    ClickHouse mutations perform."""
    import hashlib
    import tempfile

    from ..operators.mutations import mutate_native_dir

    src = native_fixture_dir(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(),
        "chsql_mutations",
        hashlib.md5(src.encode()).hexdigest()[:12],
    )
    mutate_native_dir(
        spark,
        src,
        out,
        delete_where=[("source", "=", "src7")],
        update_set={"n_chars": "n_chars + 1000"},
        update_where=[("lang", "=", "de")],
    )
    # final agg touches 3 of 5 columns: prune `text` (the corpus body,
    # ~95% of the bytes) out of the scan (§6 column pruning; the
    # Python DataSource API prunes via the `columns` option only)
    df = read_native(
        spark, out, columns="lang,n_chars,doc_id", min_partitions="4"
    )
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


REGISTRY.df_query(
    "mutation_delete_update",
    _mutation_delete_update,
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars + CASE WHEN lang = 'de' THEN 1000 ELSE 0 END)
                AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM documents
    WHERE source <> 'src7'
    GROUP BY lang
    """,
    tags=["source", "native", "mutation"],
    description="ALTER TABLE DELETE + UPDATE analogue over a Native "
    "directory with sidecar-proven part reuse; aggregate of the mutated "
    "table == relational oracle",
)


def _mutation_delete_update_hive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER DELETE/UPDATE over a hive-partitioned Native layout
    (r10 verdict item 3 — the writer produces ``partition_by`` trees,
    so the mutation path must consume them): partition-key predicate
    terms evaluate per directory — ``error``/``purchase``/``signup``
    directories hard-link wholesale, the ``view`` tree runs the
    residual ``value < 50`` delete, the ``click`` tree rewrites with
    the unconditional-there update — and the output mirrors the
    ``event_type=X/day=N`` tree, partition columns restored from the
    path. The entry asserts the link path actually fired."""
    import hashlib
    import tempfile

    from ..operators.mutations import mutate_native_dir

    src = _hive_events_fixture(spark, sf_dir)
    out = os.path.join(
        tempfile.gettempdir(),
        "chsql_mutations_hive",
        hashlib.md5(src.encode()).hexdigest()[:12],
    )
    st = mutate_native_dir(
        spark,
        src,
        out,
        delete_where=[("event_type", "=", "view"), ("value", "<", 50.0)],
        update_set={"value": "value * 2"},
        update_where=[("event_type", "=", "click")],
    )
    if st["untouched_parts"] == 0:
        raise AssertionError(
            "no partition directory hard-linked — per-directory "
            "predicate pruning regressed"
        )
    cols = "event_type,value,user_id"  # §6: agg needs 3 of 5 columns
    # the mutated tree is many small parts, packed by the reader's
    # default max_partition_bytes; the parallelism floor is sized to
    # the data, not the cores (r16 §2)
    df = read_native(spark, out, columns=cols, min_partitions="4")
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "mutation_delete_update_hive",
    _mutation_delete_update_hive,
    oracle="""
    WITH e AS (
      SELECT event_type, user_id,
             CASE WHEN event_type = 'click' THEN value * 2 ELSE value END
               AS value
      FROM events
      WHERE NOT (event_type = 'view' AND value < 50.0)
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM e
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["source", "native", "mutation", "hive", "partition"],
    description="hive-layout ALTER DELETE+UPDATE: partition-term "
    "directory pruning to hard-links, residual data terms mutated "
    "per directory; aggregate of the mutated tree == relational oracle",
)


def _mutation_ttl_rollup_hive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL ... GROUP BY over a hive layout (r11): expiry terms on the
    ``day`` partition key prune whole directories to hard-links, the
    data term (``value < 50``) rolls expired rows up per
    (event_type, day) inside each remaining directory, and the
    partition keys are required GROUP BY keys so no rollup group spans
    directories. SET uses an exact DECIMAL sum cast back to DOUBLE —
    engine-independent, unlike a bare float SUM."""
    import hashlib
    import tempfile

    from ..operators.mutations import apply_ttl

    src = _hive_events_fixture(spark, sf_dir)
    out = os.path.join(
        tempfile.gettempdir(),
        "chsql_ttl_hive",
        hashlib.md5(src.encode()).hexdigest()[:12],
    )
    st = apply_ttl(
        spark,
        src,
        out,
        ttl_where=[("day", "<=", 19733), ("value", "<", 50.0)],
        group_by=["event_type", "day"],
        set_exprs={
            "value": "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)",
            "event_id": "COUNT(*)",
        },
    )
    if st["untouched_parts"] == 0:
        raise AssertionError(
            "no partition directory hard-linked — day-term pruning "
            "regressed"
        )
    cols = "event_type,value,event_id"  # §6: agg needs 3 of 5 columns
    # the mutated tree is many small parts, packed by the reader's
    # default max_partition_bytes; the parallelism floor is sized to
    # the data, not the cores (r16 §2)
    df = read_native(spark, out, columns=cols, min_partitions="4")
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
            F.sum("event_id").alias("id_sum"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "mutation_ttl_rollup_hive",
    _mutation_ttl_rollup_hive,
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             value
      FROM events
    ),
    kept AS (
      SELECT event_id, event_type, value
      FROM e WHERE NOT (day <= 19733 AND value < 50.0)
    ),
    roll AS (
      SELECT COUNT(*) AS event_id, event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value
      FROM e WHERE day <= 19733 AND value < 50.0
      GROUP BY event_type, day
    ),
    u AS (
      SELECT * FROM kept UNION ALL SELECT event_id, event_type, value FROM roll
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM u
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["source", "native", "mutation", "ttl", "hive", "partition"],
    description="hive-layout TTL GROUP BY rollup: day-term directory "
    "pruning, per-(event_type, day) rollup of expired low-value rows, "
    "exact decimal SET sum; aggregate of the mutated tree == oracle",
)


def _bloom_scatter_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Documents hash-SCATTERED across 16 parts by md5(uid) with a
    bloom skip index on the synthetic high-cardinality ``uid`` column
    ('u' || doc_id): every part's min/max spans nearly the whole key
    space, so only the bloom can prune a point probe — the layout a
    100 TB table has when partitioned by some OTHER key."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        uid = pc.binary_join_element_wise(
            pa.array(["u"] * t.num_rows),
            pc.cast(t.column("doc_id"), "string"),
            "",
        )
        t2 = t.append_column("uid", uid)
        bucket = pa.array(
            [
                int(hashlib.md5(u.encode()).hexdigest(), 16) % 16
                for u in uid.to_pylist()
            ],
            type=pa.int64(),
        )
        t2 = t2.append_column("__b", bucket)
        for b in range(16):
            piece = t2.filter(pc.equal(t2.column("__b"), b)).drop(["__b"])
            if piece.num_rows == 0:
                continue
            write_native_file(
                os.path.join(out_dir, f"part-{b:03d}.clickhouse"),
                piece,
                index_bloom=["uid"],
            )

    return _materialize_fixture(sf_dir, "documents", "documents-bloom16mk", write)


def _native_bloom_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom skip index (ClickHouse ``bloom_filter`` analogue): a point
    probe on the hash-scattered ``uid`` column plans ONE partition
    because 15 of 16 sidecars prove the value absent — min/max alone
    cannot prune anything here (every part spans the key range). The
    entry asserts the pruning actually fired."""
    from .base import ensure_session

    ensure_session(spark)
    path = _bloom_scatter_fixture(spark, sf_dir)
    # prune the scan to the probed/projected columns (guide: pruning
    # must reach the source) — text is never referenced by this entry
    cols = "doc_id,uid,n_chars,lang"
    df = (
        read_native(spark, path, columns=cols)
        .filter(F.col("uid").isin("u42", "u301", "u17"))
    )
    assert_planned_partitions(
        df, lambda n: n <= 3,
        lambda n: f"bloom pruning regressed: planned {n} partitions "
        "for a 3-value probe over 16 hash-scattered parts",
    )
    return df.select(
        "doc_id",
        "uid",
        F.col("n_chars").cast("long").alias("n_chars"),
        "lang",
    ).orderBy("doc_id")


REGISTRY.df_query(
    "native_bloom_skip_scan",
    _native_bloom_skip_scan,
    oracle="""
    SELECT doc_id, 'u' || CAST(doc_id AS VARCHAR) AS uid,
           CAST(n_chars AS BIGINT) AS n_chars, lang
    FROM documents
    WHERE doc_id IN (42, 301, 17)
    ORDER BY doc_id
    """,
    tags=["source", "native", "bloom", "skipping", "pruning"],
    description="bloom skip index: point probe over hash-scattered "
    "parts plans <=3 of 16 partitions (min/max blind); rows == oracle",
)


def _tokenbf_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Documents split into 16 parts by ``doc_id % 16``, each part's
    ``text`` suffixed with a part-specific ``tag_<b>`` token and
    indexed with tokenbf.  The shared vocabulary means every part
    contains every COMMON token (ngram/minmax/bloom all blind to a
    token probe), but ``tag_7`` exists in exactly one part — only the
    token index prunes the other 15."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        doc_id = t.column("doc_id").to_numpy()
        bucket = pa.array(doc_id % 16, type=pa.int64())
        tag = pc.binary_join_element_wise(
            pc.cast(t.column("text"), "string"),
            pa.array([f" tag_{b} end" for b in (doc_id % 16)]),
            "",
        )
        t2 = t.set_column(t.schema.get_field_index("text"), "text", tag)
        for b in range(16):
            piece = t2.filter(pc.equal(bucket, b))
            if piece.num_rows == 0:
                continue
            write_native_file(
                os.path.join(out_dir, f"part-{b:03d}.clickhouse"),
                piece,
                index_tokenbf=["text"],
            )

    return _materialize_fixture(sf_dir, "documents", "documents-tokenbf16mk", write)


def _native_tokenbf_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenbf skip index (ClickHouse ``tokenbf_v1`` analogue): a
    ``contains(' tag_7 ')`` probe carries the interior-delimited token
    ``tag_7``, present in exactly 1 of 16 parts — min/max, bloom and
    even a substring ngram index are not written here, so the planned
    single partition proves the TOKEN index fired."""
    from .base import ensure_session

    ensure_session(spark)
    path = _tokenbf_fixture(spark, sf_dir)
    df = (
        read_native(spark, path)
        .filter(F.col("text").contains(" tag_7 "))
    )
    assert_planned_partitions(
        df, lambda n: n <= 1,
        lambda n: f"tokenbf pruning regressed: planned {n} partitions "
        "for a one-token probe over 16 parts",
    )
    return df.select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    ).orderBy("doc_id")


REGISTRY.df_query(
    "native_tokenbf_skip_scan",
    _native_tokenbf_skip_scan,
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id % 16 = 7
    ORDER BY doc_id
    """,
    tags=["source", "native", "tokenbf", "skipping", "pruning"],
    description="tokenbf skip index: interior-token contains-probe "
    "plans 1 of 16 partitions (tag token unique per part); rows == "
    "oracle",
)


def _merge_tables_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A mini 'database': three Native table directories —
    ``events_interact`` (click/view rows), ``events_convert``
    (purchase/signup, WITHOUT the props column: additive-evolution
    member), and the decoy ``audit_log`` (error rows) the merge regex
    must NOT match."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        groups = {
            "events_interact": ("click", "view"),
            "events_convert": ("purchase", "signup"),
            "audit_log": ("error",),
        }
        for name, kinds in groups.items():
            piece = t.filter(pc.is_in(t.column("event_type"), pa.array(kinds)))
            if name == "events_convert":
                piece = piece.drop_columns(["props"])
            os.makedirs(os.path.join(out_dir, name), exist_ok=True)
            write_native_file(
                os.path.join(out_dir, name, "part-000.clickhouse"), piece
            )

    return _materialize_fixture(sf_dir, "events", "events-mergedb", write)


def _tf_merge_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge(db, '^events_.*$'): two member tables union by name (the
    props-less member reads NULL props), the decoy stays out, and the
    virtual _table column reports provenance — one aggregation over
    the plan-level union."""
    from .base import ensure_session
    from ..sources.table_functions import merge_native_tables

    ensure_session(spark)
    base = _merge_tables_fixture(spark, sf_dir)
    df = merge_native_tables(spark, base, r"events_.*")
    return (
        df.groupBy("_table", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
            F.count("props").alias("n_props"),
        )
        .orderBy("_table", "event_type")
    )


REGISTRY.df_query(
    "tf_merge_tables",
    _tf_merge_tables,
    oracle="""
    SELECT CASE WHEN event_type IN ('click', 'view')
                THEN 'events_interact' ELSE 'events_convert' END AS _table,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(SUM(CASE WHEN event_type IN ('click', 'view')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_props
    FROM events
    WHERE event_type <> 'error'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=["source", "native", "merge", "table-function"],
    description="merge(db, regex) table function: regex-matched Native "
    "table dirs union by name (additive evolution -> NULL props), "
    "virtual _table provenance, decoy excluded",
)


def _set_index_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Documents with ``grade = doc_id % 48`` laid out so part ``b``
    holds exactly grades ``{b, b+16, b+32}`` — every part's min/max
    spans ~two-thirds of the grade range and OVERLAPS every between-
    probe, and a bloom index cannot see range predicates at all.  Only
    the set(N) index's complete value list disproves a BETWEEN against
    the non-contiguous per-part grade sets."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        doc_id = t.column("doc_id").to_numpy()
        grade = pa.array(doc_id % 48, type=pa.int64())
        t2 = t.append_column("grade", grade)
        bucket = pa.array((doc_id % 48) % 16, type=pa.int64())
        for b in range(16):
            piece = t2.filter(pc.equal(bucket, b))
            if piece.num_rows == 0:
                continue
            write_native_file(
                os.path.join(out_dir, f"part-{b:03d}.clickhouse"),
                piece,
                index_set=["grade"],
            )

    return _materialize_fixture(sf_dir, "documents", "documents-setix16mk", write)


def _native_set_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set(N) skip index (ClickHouse ``set(max_rows)`` analogue): a
    BETWEEN probe over non-contiguous per-part value sets plans 3 of
    16 partitions.  min/max cannot prune (every part's [b, b+32] range
    overlaps [14, 16]); bloom cannot prune (no equality); the
    conjunction of the two pushed range filters evaluated against each
    part's complete distinct-value list can.  The entry asserts the
    pruning fired."""
    from .base import ensure_session

    ensure_session(spark)
    path = _set_index_fixture(spark, sf_dir)
    # column pruning must reach the scan (no automatic pruning through
    # the Python DataSource API): the probe never touches text/source,
    # so byte-skip them instead of decoding ~300 chars/row for nothing
    cols = "doc_id,grade,n_chars,lang"
    df = (
        read_native(spark, path, columns=cols)
        .filter((F.col("grade") >= 14) & (F.col("grade") <= 16))
    )
    assert_planned_partitions(
        df, lambda n: n <= 3,
        lambda n: f"set-index pruning regressed: planned {n} "
        "partitions for a 3-grade BETWEEN over 16 parts with "
        "non-contiguous grade sets",
    )
    return df.select(
        "doc_id",
        "grade",
        F.col("n_chars").cast("long").alias("n_chars"),
        "lang",
    ).orderBy("doc_id")


REGISTRY.df_query(
    "native_set_skip_scan",
    _native_set_skip_scan,
    oracle="""
    SELECT doc_id, doc_id % 48 AS grade,
           CAST(n_chars AS BIGINT) AS n_chars, lang
    FROM documents
    WHERE (doc_id % 48) BETWEEN 14 AND 16
    ORDER BY doc_id
    """,
    tags=["source", "native", "set-index", "skipping", "pruning"],
    description="set(N) skip index: BETWEEN over non-contiguous "
    "per-part value sets plans 3 of 16 partitions (min/max and bloom "
    "both blind); rows == oracle",
)


def _lwdel_fixture(spark: SparkSession, sf_dir: str) -> str:
    """PRIVATE 16-part orders fixture (never the shared one — masks
    would leak into every other orders entry) with a lightweight
    DELETE of the 'F' rows applied once per materialization.  The
    masks are pure functions of the data, so a re-run is a no-op
    (already-masked rows never reappear in the hits scan)."""
    from ..native.writer import write_native_file
    from ..operators.mutations import lightweight_delete

    def write(out_dir: str, t) -> None:
        n = t.num_rows
        per = max(1, (n + 15) // 16)
        for i in range(16):
            piece = t.slice(i * per, per)
            if piece.num_rows == 0:
                break
            write_native_file(
                os.path.join(out_dir, f"part-{i:03d}.clickhouse"),
                piece,
                block_rows=max(1024, per // 4),
            )

    path = _materialize_fixture(sf_dir, "orders", "orders-lwdel16", write)
    marker = os.path.join(path, "_LWDEL_DONE")
    if not os.path.exists(marker):
        lightweight_delete(spark, path, [("o_orderstatus", "=", "F")])
        with open(marker, "w") as f:
            f.write("")
    return path


def _mutation_lightweight_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lightweight DELETE (ClickHouse ``DELETE FROM``): deletion
    bitmaps instead of part rewrites.  The fixture's 'F' orders are
    masked; the part DATA FILES are untouched (asserted: every part
    still reports its full physical row count in the sidecar while
    the scan returns only surviving rows)."""
    from .base import ensure_session
    from ..native.delmask import load_delmask
    from ..native.writer import load_stats

    ensure_session(spark)
    path = _lwdel_fixture(spark, sf_dir)
    # proof the delete was lightweight: masks exist, data files intact
    masked = 0
    for fn in sorted(os.listdir(path)):
        if not fn.endswith(".clickhouse"):
            continue
        p = os.path.join(path, fn)
        m = load_delmask(p)
        if m is None:
            continue
        masked += 1
        side = load_stats(p)
        if int(side["rows"]) != m["rows"]:
            raise AssertionError(
                f"part {fn} was rewritten under its mask "
                f"({side['rows']} != {m['rows']})"
            )
    if masked == 0:
        raise AssertionError("no delete masks found — delete did not run")
    df = read_native(spark, path)
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


REGISTRY.df_query(
    "mutation_lightweight_delete",
    _mutation_lightweight_delete,
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE o_orderstatus <> 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=["mutation", "lightweight-delete", "native"],
    description="lightweight DELETE: per-part deletion bitmaps, zero "
    "part rewrites (asserted), scans/mutations/compaction all see "
    "rows gone; masks compose by OR",
)


def _native_trivial_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """optimize_trivial_count_query analogue: count(*) answered from
    part metadata (sidecar rows minus delete-mask counts) — zero data
    decode, asserted via the plan (a LocalTableScan literal, no
    clickhouse_native scan)."""
    from .base import ensure_session
    from ..sources.table_functions import trivial_count

    ensure_session(spark)
    path = _lwdel_fixture(spark, sf_dir)
    df = trivial_count(spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "clickhouse_native" in plan.lower() and "LocalTableScan" not in plan:
        raise AssertionError(
            "trivial count fell back to a data scan on a fully-"
            f"sidecarred directory:\n{plan[:500]}"
        )
    return df


REGISTRY.df_query(
    "native_trivial_count",
    _native_trivial_count,
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderstatus <> 'F'
    """,
    tags=["source", "native", "trivial-count", "metadata"],
    description="trivial count(*): sidecar rows minus delete-mask "
    "counts, no data decode (plan asserted metadata-only); falls back "
    "to a real scan when any part lacks a sidecar",
)


def _native_projection_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-key projection (ClickHouse ``ADD PROJECTION (SELECT *
    ORDER BY user_id)``): the events fixture is time-sliced, so every
    part spans the whole user_id range and a user probe scans all 16
    parts.  The projection stores the same rows range-clustered on
    user_id — the probe then plans a fraction of the partitions via
    the tight per-file sidecars.  Both the routing (projection chosen,
    fresh) and the pruning win are asserted."""
    from .base import ensure_session
    from ..operators.projections import (
        add_sort_projection,
        sort_projection_scan,
    )

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "events")
    add_sort_projection(spark, path, "by_user", order_by=["user_id"])
    df, used = sort_projection_scan(spark, path, "user_id")
    if used != "by_user":
        raise AssertionError(f"sort projection not selected: {used!r}")
    probe = df.filter((F.col("user_id") >= 3) & (F.col("user_id") <= 5))
    assert_planned_partitions(
        probe, lambda n: n <= 6,
        lambda n: f"sort-projection pruning regressed: {n} partitions "
        "planned for a 3-user probe over a 16-file range-clustered "
        "projection",
    )
    return (
        probe.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100).cast("bigint")
            ).alias("cents"),
        )
        .orderBy("user_id")
    )


REGISTRY.df_query(
    "native_projection_sort",
    _native_projection_sort,
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE user_id BETWEEN 3 AND 5
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=["source", "native", "projection", "sort", "pruning"],
    description="sort-key projection: range-clustered row copy routes "
    "a user_id probe to <=6 of 16 partitions (time-sliced base parts "
    "are unprunable); routing + freshness + pruning asserted",
)


def _evolution_fixture(spark: SparkSession, sf_dir: str) -> str:
    """PRIVATE 8-part orders fixture evolved through the full ALTER
    matrix — RENAME (o_totalprice -> price_usd), ADD (channel String
    DEFAULT 'web'), DROP (o_custkey) — then appended to in the NEW
    schema epoch ('app' rows with shifted keys).  The alters are
    METADATA-ONLY: the old parts still physically spell
    o_totalprice/o_custkey (asserted by the entry)."""
    from ..native.tableschema import (
        alter_add_column,
        alter_drop_column,
        alter_rename_column,
    )
    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        n = t.num_rows
        per = max(1, (n + 7) // 8)
        for i in range(8):
            piece = t.slice(i * per, per)
            if piece.num_rows == 0:
                break
            write_native_file(
                os.path.join(out_dir, f"part-{i:03d}.clickhouse"),
                piece,
                block_rows=max(1024, per // 4),
            )

    path = _materialize_fixture(sf_dir, "orders", "orders-evo8", write)
    marker = os.path.join(path, "_EVO_DONE")
    if not os.path.exists(marker):
        alter_rename_column(path, "o_totalprice", "price_usd")
        alter_add_column(path, "channel", "String", default="web")
        alter_drop_column(path, "o_custkey")
        # new-epoch append in the CURRENT table schema
        from .base import load_tables

        t = load_tables(spark, sf_dir, ["orders"])["orders"]
        new = (
            t.filter(F.col("o_orderkey") < 100)
            .select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.col("o_orderstatus"),
                F.col("o_totalprice").alias("price_usd"),
                F.col("o_orderdate"),
                F.col("o_orderpriority"),
                F.lit("app").alias("channel"),
            )
        )
        new.write.format("clickhouse_native").mode("append").save(path)
        with open(marker, "w") as f:
            f.write("")
    return path


def _mutation_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER ADD/DROP/RENAME COLUMN as metadata-only operations: old
    parts resolve renames via aliases, materialize ADD defaults, and
    byte-skip dropped payloads; new-epoch appends mix freely.  The
    builder asserts the alters rewrote NOTHING (old parts still spell
    the pre-rename physical schema)."""
    from .base import ensure_session
    from ..native.codec import read_file_schema

    ensure_session(spark)
    path = _evolution_fixture(spark, sf_dir)
    old = os.path.join(path, "part-000.clickhouse")
    physical = [n for n, _t in read_file_schema(old)]
    if "o_totalprice" not in physical or "o_custkey" not in physical:
        raise AssertionError(
            f"metadata-only ALTER rewrote an old part: {physical}"
        )
    df = read_native(spark, path)
    if "o_custkey" in df.columns or "o_totalprice" in df.columns:
        raise AssertionError(f"evolved schema leaked: {df.columns}")
    return (
        df.groupBy("channel")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("price_usd") * 100).cast("bigint")
            ).alias("cents"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("channel")
    )


REGISTRY.df_query(
    "mutation_schema_evolution",
    _mutation_schema_evolution,
    oracle="""
    WITH evolved AS (
      SELECT o_orderkey, o_totalprice AS price_usd, 'web' AS channel
      FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, o_totalprice, 'app'
      FROM orders WHERE o_orderkey < 100
    )
    SELECT channel, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(price_usd * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           MAX(o_orderkey) AS max_key
    FROM evolved
    GROUP BY channel
    ORDER BY channel
    """,
    tags=["mutation", "schema-evolution", "native", "metadata-only"],
    description="ALTER ADD/DROP/RENAME COLUMN, metadata-only: renames "
    "resolve via aliases, ADD defaults materialize at read, DROP "
    "byte-skips; zero part rewrites (asserted); mixed-epoch reads",
)


def _native_parts_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system.parts analogue: per-part metadata rows from the writer's
    stats sidecars via the ``clickhouse_native_parts(path)`` UDTF —
    zero data decode. The aggregate is oracle-checkable because the
    fixture layout is deterministic: 16-way split with ceil division
    (native_fixture_dir), one block per part at these row counts."""
    from .base import ensure_session

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "documents")
    return spark.sql(
        f"""
        SELECT COUNT(*) AS n_parts,
               CAST(SUM(rows) AS BIGINT) AS total_rows,
               MIN(n_cols) AS min_cols,
               MAX(n_cols) AS max_cols,
               CAST(SUM(n_blocks) AS BIGINT) AS total_blocks
        FROM clickhouse_native_parts('{path}')
        """
    )


REGISTRY.df_query(
    "native_parts_info",
    _native_parts_info,
    oracle="""
    WITH n AS (SELECT COUNT(*) AS c FROM documents),
    p AS (SELECT c, (c + 15) // 16 AS per FROM n)
    SELECT CAST((c + per - 1) // per AS BIGINT) AS n_parts,
           CAST(c AS BIGINT) AS total_rows,
           CAST(5 AS BIGINT) AS min_cols,
           CAST(5 AS BIGINT) AS max_cols,
           CAST((c + per - 1) // per AS BIGINT) AS total_blocks
    FROM p
    """,
    tags=["source", "native", "metadata"],
    description="system.parts analogue: sidecar-derived per-part "
    "metadata UDTF, aggregate == closed-form fixture layout",
)


def _native_projection_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeTree projection analogue (operators/projections.py):
    materialize partial count/sum/min/max states grouped by
    (lang, source), then answer a GROUP BY lang aggregate by MERGING
    the stored states — the query keys are a strict subset of the
    projection keys, so the merge re-aggregation is exercised, not
    just a projection passthrough. The entry asserts the projection
    path was actually selected (a silent full-scan fallback would
    still match the oracle and hide a selection bug)."""
    from ..operators.projections import (
        add_projection,
        query_projection_aware,
    )

    src = native_fixture_dir(spark, sf_dir, "documents")
    add_projection(
        spark,
        src,
        "by_lang_source",
        group_by=["lang", "source"],
        aggs={
            "n": ("count", None),
            "chars": ("sum", "n_chars"),
            "min_doc": ("min", "doc_id"),
            "max_doc": ("max", "doc_id"),
        },
    )
    df, used = query_projection_aware(
        spark,
        src,
        group_by=["lang"],
        aggs={
            "n_docs": ("count", None),
            "total_chars": ("sum", "n_chars"),
            "min_doc": ("min", "doc_id"),
            "max_doc": ("max", "doc_id"),
            "avg_chars": ("avg", "n_chars"),
        },
    )
    if used != "by_lang_source":
        raise AssertionError(
            f"projection not selected (used={used!r}) — staleness or "
            "coverage logic regressed"
        )
    return df.orderBy("lang")


REGISTRY.df_query(
    "native_projection_agg",
    _native_projection_agg,
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=["source", "native", "projection"],
    description="ADD PROJECTION + automatic selection: GROUP BY lang "
    "answered by merging (lang, source) partial states; avg derived "
    "from stored sum/count",
)


def _optimize_table_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE TABLE ... FINAL DEDUPLICATE analogue: a Native
    directory holding documents PLUS a duplicated doc_id%3=0 slice is
    compacted with deduplicate=True (full-row equality, ClickHouse's
    default DEDUPLICATE semantics); the aggregate over the optimized
    directory equals the plain relation — duplicates gone, originals
    intact."""
    import hashlib

    from ..sources.native_datasource import compact_native_dir
    from .base import ensure_session

    ensure_session(spark)
    src = native_fixture_dir(spark, sf_dir, "documents")
    base = os.path.join(
        tempfile.gettempdir(),
        "chsql_optimize",
        hashlib.md5(src.encode()).hexdigest()[:12],
    )
    dup_dir = os.path.join(base, "dup")
    out_dir = os.path.join(base, "opt")
    done = os.path.join(dup_dir, "_DONE")
    if not os.path.exists(done):
        os.makedirs(dup_dir, exist_ok=True)
        df = read_native(spark, src)
        df.write.format("clickhouse_native").mode("overwrite").save(dup_dir)
        df.filter(F.col("doc_id") % 3 == 0).write.format(
            "clickhouse_native"
        ).mode("append").save(dup_dir)
        with open(done, "w") as f:
            f.write("")
    compact_native_dir(
        spark, dup_dir, out_dir, target_files=4, deduplicate=True
    )
    cols = "lang,n_chars,doc_id"  # §6: prune `text` from the final agg
    opt = read_native(spark, out_dir, columns=cols, min_partitions="4")
    return opt.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("doc_id").alias("n_distinct"),
    )


REGISTRY.df_query(
    "optimize_table_dedup",
    _optimize_table_dedup,
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT doc_id) AS n_distinct
    FROM documents
    GROUP BY lang
    """,
    tags=["source", "native", "optimize"],
    description="OPTIMIZE TABLE FINAL DEDUPLICATE: full-row dedup "
    "during compaction removes an injected duplicate slice; aggregate "
    "== the un-duplicated relation",
)


def _native_columns_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system.columns / DESCRIBE TABLE analogue: per-column metadata
    from a header-only parse via the ``clickhouse_native_columns``
    UDTF — the bind-step schema discovery (lib.rs:246-266) exposed as
    a queryable relation. Oracle is the closed-form column list of the
    documents fixture."""
    from .base import ensure_session

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "documents")
    return spark.sql(
        f"""
        SELECT column_name, position, ch_type, spark_type, is_nullable
        FROM clickhouse_native_columns('{path}')
        ORDER BY position
        """
    )


REGISTRY.df_query(
    "native_columns_info",
    _native_columns_info,
    oracle="""
    SELECT * FROM (VALUES
        ('doc_id',  CAST(1 AS INTEGER), 'Int64',  'bigint', false),
        ('text',    CAST(2 AS INTEGER), 'String', 'string', false),
        ('lang',    CAST(3 AS INTEGER), 'String', 'string', false),
        ('source',  CAST(4 AS INTEGER), 'String', 'string', false),
        ('n_chars', CAST(5 AS INTEGER), 'Int64',  'bigint', false)
    ) AS t(column_name, position, ch_type, spark_type, is_nullable)
    ORDER BY position
    """,
    tags=["source", "native", "metadata"],
    description="system.columns analogue: header-only per-column "
    "metadata UDTF == closed-form fixture schema",
)


def _mutation_ttl_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``TTL ... GROUP BY`` rollup analogue
    (operators/mutations.py apply_ttl): events older than 2024-01-15
    collapse to one row per event_type (SET value = exact decimal sum,
    ts = MAX(ts); other columns take the deterministic MIN default),
    recent rows survive verbatim; the aggregate over the TTL'd
    directory equals the same construction in SQL. Value totals are
    PRESERVED by the rollup — the property TTL GROUP BY exists for."""
    import datetime
    import hashlib

    from ..operators.mutations import apply_ttl

    src = native_fixture_dir(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        "chsql_ttl",
        hashlib.md5(src.encode()).hexdigest()[:12],
    )
    apply_ttl(
        spark,
        src,
        out,
        ttl_where=[("ts", "<", datetime.datetime(2024, 1, 15))],
        group_by=["event_type"],
        set_exprs={
            "value": "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)",
            "ts": "MAX(ts)",
        },
    )
    cols = "event_type,value,ts,event_id"  # §6: agg needs 4 of 6 cols
    df = read_native(spark, out, columns=cols, min_partitions="4")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.min("event_id").alias("min_event"),
    )


REGISTRY.df_query(
    "mutation_ttl_rollup",
    _mutation_ttl_rollup,
    oracle="""
    WITH kept AS (
      SELECT event_id, ts, user_id, event_type, value, props
      FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    ),
    rolled AS (
      SELECT MIN(event_id) AS event_id,
             MAX(ts) AS ts,
             MIN(user_id) AS user_id,
             event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value,
             MIN(props) AS props
      FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY event_type
    ),
    u AS (SELECT * FROM kept UNION ALL SELECT * FROM rolled)
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           MIN(ts) AS min_ts,
           MAX(ts) AS max_ts,
           MIN(event_id) AS min_event
    FROM u GROUP BY event_type
    """,
    tags=["source", "native", "mutation", "ttl"],
    description="TTL GROUP BY rollup: expired rows collapse to "
    "per-group aggregate rows (value totals preserved), recent rows "
    "verbatim; deterministic MIN stands in for ClickHouse any()",
)


def _mutation_attach_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATTACH PARTITION FROM analogue: documents materializes as two
    half tables; table B's parts hard-link into table A (zero-copy,
    schema-checked); the aggregate over A equals the whole relation.
    DETACH/re-ATTACH roundtrip is pinned in tests/test_mutations.py."""
    import hashlib
    import shutil

    from ..operators.mutations import attach_parts

    src = native_fixture_dir(spark, sf_dir, "documents")
    base = os.path.join(
        tempfile.gettempdir(),
        "chsql_attach",
        hashlib.md5(src.encode()).hexdigest()[:12],
    )
    a, b = os.path.join(base, "a"), os.path.join(base, "b")
    done = os.path.join(base, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(a), os.makedirs(b)
        from ..filesystem import resolve_paths
        from ..operators.mutations import place_part

        for i, p in enumerate(resolve_paths(src)):
            dst_dir = a if i % 2 == 0 else b
            place_part(p, os.path.join(dst_dir, os.path.basename(p)))
        attach_parts(a, b)
        with open(done, "w") as f:
            f.write("")
    df = read_native(spark, a)
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


REGISTRY.df_query(
    "mutation_attach_parts",
    _mutation_attach_parts,
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM documents
    GROUP BY source
    """,
    tags=["source", "native", "mutation", "attach"],
    description="ATTACH PARTITION FROM: zero-copy schema-checked part "
    "links across tables; aggregate over the attached table == whole "
    "relation",
)


def _native_sql_insert_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL write surface: INSERT INTO / INSERT OVERWRITE a
    ``CREATE TEMPORARY VIEW ... USING clickhouse_native`` view. The
    documented contract (tests/test_review_fixes_r10.py): appends are
    immediately visible; after INSERT OVERWRITE the view must be
    RE-CREATED before reading (pyspark caches the python-DataSource
    relation's plan and REFRESH TABLE does not reach it — re-creating
    the view is the supported invalidation)."""
    import hashlib

    from .base import ensure_session

    ensure_session(spark)
    base = os.path.join(
        tempfile.gettempdir(),
        "chsql_sql_insert",
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12],
    )
    done = os.path.join(base, "_DONE")
    view = "chsql_insert_tgt"

    def mk_view() -> None:
        # explicit column list == the driver-side header probe (r16):
        # skips the python-worker schema() round-trip per (re)creation
        from ..sources.native_datasource import infer_native_schema

        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in infer_native_schema({"path": base}).fields
        )
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {view} ({ddl}) "
            f"USING clickhouse_native OPTIONS (path '{base}')"
        )

    if not os.path.exists(done):
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        import pyarrow as pa

        from ..native.writer import write_native_file

        write_native_file(
            os.path.join(base, "seed.clickhouse"),
            pa.table(
                {
                    "k": pa.array([1000], type=pa.int64()),
                    "s": pa.array(["seed"]),
                }
            ),
        )
        mk_view()
        spark.sql(
            f"INSERT INTO {view} "
            "SELECT id AS k, CAST(id * 7 AS STRING) AS s FROM range(50)"
        )
        spark.sql(
            f"INSERT OVERWRITE {view} "
            "SELECT id AS k, CAST(id % 3 AS STRING) AS s FROM range(100)"
        )
        with open(done, "w") as f:
            f.write("")
    mk_view()
    return spark.sql(
        f"""
        SELECT COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
               COUNT(DISTINCT s) AS n_s, MIN(k) AS min_k, MAX(k) AS max_k
        FROM {view}
        """
    )


REGISTRY.df_query(
    "native_sql_insert_into",
    _native_sql_insert_into,
    oracle="""
    SELECT CAST(100 AS BIGINT) AS n, CAST(4950 AS BIGINT) AS sum_k,
           CAST(3 AS BIGINT) AS n_s, CAST(0 AS BIGINT) AS min_k,
           CAST(99 AS BIGINT) AS max_k
    """,
    tags=["source", "native", "sql", "insert"],
    description="INSERT INTO / INSERT OVERWRITE through a USING "
    "clickhouse_native view (pure-SQL writes); OVERWRITE leaves "
    "exactly the overwrite body == closed-form oracle",
)


def _ann_bucket_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Embeddings written as a hive layout PARTITIONED BY their sign-LSH
    bucket (4 sign bits of dims 1..4 -> 16 partitions): the persisted
    IVF-style ANN index whose 'inverted lists' are partition
    directories, so cluster-pruned search is ordinary partition
    pruning."""
    import pyarrow as pa

    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        import numpy as np

        emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
        bucket = sum(
            (emb[:, i] > 0).astype(np.int64) << i for i in range(4)
        )
        t2 = t.append_column("bucket", pa.array(bucket, type=pa.int64()))
        for b in range(16):
            piece = t2.filter(pa.compute.equal(t2.column("bucket"), b))
            if piece.num_rows == 0:
                continue
            d = os.path.join(out_dir, f"bucket={b}")
            os.makedirs(d, exist_ok=True)
            write_native_file(
                os.path.join(d, "part-000.clickhouse"),
                piece.drop_columns(["bucket"]),
            )

    return _materialize_fixture(sf_dir, "embeddings", "embeddings-annbuckets", write)


def _query_bucket(sf_dir: str) -> int:
    """The probe vector's bucket, by the same integer rule the fixture
    and the oracle use (driver-side metadata lookup — the IVF 'assign
    probe to cluster' step, one row)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", filters=[("vec_id", "=", 0)]
    )
    emb = t.column("embedding").to_pylist()[0]
    return sum((1 << i) for i in range(4) if emb[i] > 0)


def _sim_ann_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN over the persisted bucket layout: the probe reads
    ONLY its own bucket plus the 4 Hamming-1 neighbor buckets (nprobe=5
    of 16 partition directories — asserted on the plan), then exact-
    integer cosine re-ranks the candidates.  The candidate-set rule is
    engine-deterministic, so the oracle reproduces it bit-for-bit."""
    from .base import ensure_session, load_tables

    ensure_session(spark)
    load_tables(spark, sf_dir, ["embeddings"])  # the probe vector view
    path = _ann_bucket_fixture(spark, sf_dir)
    b = _query_bucket(sf_dir)
    probes = [b, b ^ 1, b ^ 2, b ^ 4, b ^ 8]
    df = (
        read_native(spark, path)
        .filter(F.col("bucket").isin(probes))
    )
    assert_planned_partitions(
        df, lambda n: n <= 5,
        lambda n: f"ANN bucket pruning regressed: planned {n} "
        "partitions for nprobe=5 of 16",
    )
    df.createOrReplaceTempView("ann_candidates")
    return spark.sql(
        """
        WITH q AS (
          SELECT transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                 AS e6
          FROM embeddings WHERE vec_id = 0
        ),
        scored AS (
          SELECT c.vec_id AS cand_id,
                 aggregate(
                   zip_with(q.e6,
                     transform(c.embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                            AS BIGINT)),
                     (a, b) -> a * b),
                   CAST(0 AS BIGINT), (acc, x) -> acc + x) AS dot
          FROM ann_candidates c CROSS JOIN q
          WHERE c.vec_id <> 0
        )
        SELECT cand_id, dot,
               CAST(ROW_NUMBER() OVER (ORDER BY dot DESC, cand_id) AS BIGINT)
                 AS rk
        FROM scored
        ORDER BY rk
        LIMIT 5
        """
    )


REGISTRY.df_query(
    "sim_ann_partition_pruned",
    _sim_ann_partition_pruned,
    oracle="""
    WITH b AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(4),
               i -> CASE WHEN embedding[i + 1] > 0
                         THEN 1 << i ELSE 0 END)) AS BIGINT) AS bucket
      FROM embeddings
    ),
    qb AS (SELECT bucket FROM b WHERE vec_id = 0),
    cands AS (
      SELECT e.vec_id, e.embedding
      FROM embeddings e JOIN b ON e.vec_id = b.vec_id CROSS JOIN qb
      WHERE b.bucket IN (qb.bucket, xor(qb.bucket, 1), xor(qb.bucket, 2),
                         xor(qb.bucket, 4), xor(qb.bucket, 8))
        AND e.vec_id <> 0
    ),
    q AS (
      SELECT list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e6
      FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
      SELECT c.vec_id AS cand_id,
             CAST(list_sum(list_transform(range(64),
               i -> q.e6[i + 1]
                    * CAST(FLOOR(CAST(c.embedding[i + 1] AS DOUBLE)
                           * 1000000) AS BIGINT))) AS BIGINT) AS dot
      FROM cands c CROSS JOIN q
    )
    SELECT cand_id, dot,
           CAST(ROW_NUMBER() OVER (ORDER BY dot DESC, cand_id) AS BIGINT)
             AS rk
    FROM scored
    ORDER BY rk
    LIMIT 5
    """,
    tags=["similarity", "ann", "ivf", "pruning", "scale"],
    description="IVF-as-layout ANN: embeddings persisted partition_by "
    "sign-LSH bucket, probe reads nprobe=5 of 16 partition dirs "
    "(asserted), exact-integer cosine re-rank of the candidates",
)


def _mutation_column_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level TTL (``value Float64 TTL ts + INTERVAL``): where
    the event is older than the cutoff the VALUE resets to its default
    (0) — the row survives, unlike row-level TTL.  Same staged
    part-reuse rewrite as every mutation."""
    import hashlib
    import tempfile

    from ..operators.mutations import apply_column_ttl

    src = native_fixture_dir(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        "chsql_mutations",
        "colttl-" + hashlib.md5(src.encode()).hexdigest()[:12],
    )
    import datetime as dt

    apply_column_ttl(
        spark,
        src,
        out,
        column="value",
        default_expr="CAST(0.0 AS DOUBLE)",
        ttl_where=[("ts", "<", dt.datetime(2024, 7, 1))],
    )
    # §6: the agg touches 2 of 6 columns — skip ts/props/ids bytes
    df = read_native(
        spark, out, columns="event_type,value", min_partitions="4"
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "kept_cents"
            ),
            F.sum(
                F.when(F.col("value") == 0.0, 1).otherwise(0)
            ).cast("bigint").alias("n_reset"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "mutation_column_ttl",
    _mutation_column_ttl,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-07-01'
                         THEN 0
                         ELSE CAST(FLOOR(value * 100) AS BIGINT) END)
                AS BIGINT) AS kept_cents,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-07-01' OR value = 0.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_reset
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["mutation", "ttl", "column"],
    description="column-level TTL: expired rows keep the row, the "
    "column resets to its default (row-level TTL is apply_ttl); "
    "part-reuse staged rewrite",
)


def _mutation_materialize_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER ADD COLUMN (metadata-only) then MATERIALIZE COLUMN: the 16
    pre-evolution parts rewrite with the default baked in physically,
    the one post-evolution part (appended AFTER the ALTER, so it
    carries the column) hard-links untouched — both counts asserted."""
    import hashlib
    import shutil as _sh
    import tempfile

    from ..native.tableschema import alter_add_column
    from ..operators.mutations import materialize_column

    base = native_fixture_dir(spark, sf_dir, "events")
    tag = hashlib.md5(base.encode()).hexdigest()[:12]
    evolved = os.path.join(
        tempfile.gettempdir(), "chsql_mutations", "matcol-src-" + tag
    )
    _sh.rmtree(evolved, ignore_errors=True)
    os.makedirs(evolved)
    for f in os.listdir(base):
        src_f = os.path.join(base, f)
        # parts + sidecars only: the shared fixture may carry other
        # entries' artifacts (projection DIRECTORIES, markers)
        if not os.path.isfile(src_f) or not (
            f.endswith(".clickhouse") or f.endswith(".stats.json")
        ):
            continue
        os.link(src_f, os.path.join(evolved, f))
    alter_add_column(evolved, "bonus_cents", "Int64", default=777)
    # one post-evolution part: reader materializes the default, the
    # writer bakes it physically
    post = (
        read_native(spark, evolved)
        .filter(F.col("event_id") < 100)
        .withColumn("event_id", F.col("event_id") + F.lit(1000000))
    )
    post.write.format("clickhouse_native").mode("append").save(evolved)

    out = os.path.join(
        tempfile.gettempdir(), "chsql_mutations", "matcol-out-" + tag
    )
    res = materialize_column(spark, evolved, out, column="bonus_cents")
    if res["rewritten_parts"] != 16 or res["untouched_parts"] < 1:
        raise AssertionError(
            f"materialize triage regressed: {res} (want 16 rewritten, "
            ">=1 untouched physical-column part)"
        )
    # §6: the agg touches 2 of 7 columns — skip ts/props/value bytes
    df = read_native(
        spark, out, columns="event_id,bonus_cents", min_partitions="4"
    )
    return df.agg(
        F.count("*").alias("n_rows"),
        F.sum("bonus_cents").alias("sum_bonus"),
        F.countDistinct("event_id").alias("n_ids"),
        F.max("event_id").alias("max_id"),
    )


REGISTRY.df_query(
    "mutation_materialize_column",
    _mutation_materialize_column,
    oracle="""
    WITH unioned AS (
      SELECT event_id FROM events
      UNION ALL
      SELECT event_id + 1000000 AS event_id FROM events WHERE event_id < 100
    )
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(*) * 777 AS BIGINT) AS sum_bonus,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM unioned
    """,
    tags=["mutation", "schema-evolution", "materialize"],
    description="MATERIALIZE COLUMN after a metadata ALTER ADD: "
    "pre-evolution parts rewrite the default in physically (16), the "
    "post-evolution part hard-links (triage asserted); totals == "
    "oracle over the unioned logical table",
)


_COSHARD_CACHE: dict = {}


def _cosharded_cluster(sf_dir: str) -> list:
    """Two mock shards where events AND orders are sharded by the SAME
    key family (user_id / o_custkey mod 2) — the ClickHouse co-located
    Distributed layout where a join ON the sharding key is exact when
    executed SHARD-LOCALLY (distributed_product_mode=local)."""
    import duckdb

    from ..sources.mock_server import build_handler, serve

    with _LOCK:
        if sf_dir in _COSHARD_CACHE:
            return _COSHARD_CACHE[sf_dir]
        urls = []
        for shard in range(2):
            con = duckdb.connect()
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet' WHERE user_id % 2 = {shard}"
            )
            con.execute(
                f"CREATE VIEW orders AS SELECT * FROM "
                f"'{sf_dir}/orders.parquet' WHERE o_custkey % 2 = {shard}"
            )
            urls.append(serve(build_handler(con)))
        _COSHARD_CACHE[sf_dir] = urls
        return urls


def _scan_cluster_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located Distributed join: events and orders share the
    sharding key (user_id == o_custkey family), so the JOIN runs
    ENTIRELY on each shard — the initiator unions per-shard join
    results and only the final small aggregation shuffles.  At 100 TB
    this is the difference between a co-located no-network join and
    shuffling both fact tables; correctness holds exactly because the
    join key determines the shard on both sides."""
    from pyspark.sql import functions as F

    from .base import ensure_session

    ensure_session(spark)
    urls = _cosharded_cluster(sf_dir)
    df = (
        spark.read.format("clickhouse_scan")
        .option(
            "query",
            "SELECT e.user_id AS user_id, e.event_type AS event_type, "
            "CAST(FLOOR(o.o_totalprice * 100) AS BIGINT) AS order_cents "
            "FROM events e JOIN orders o ON e.user_id = o.o_custkey "
            "WHERE e.event_type IN ('purchase', 'click')",
        )
        .option("cluster", ",".join(urls))
        .load()
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("order_cents").alias("sum_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "scan_cluster_colocated_join",
    _scan_cluster_colocated_join,
    oracle="""
    SELECT e.event_type,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN orders o ON e.user_id = o.o_custkey
    WHERE e.event_type IN ('purchase', 'click')
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=["source", "scan", "cluster", "colocated", "join", "scale"],
    description="co-located Distributed join: both tables sharded by "
    "the join key, the JOIN executes shard-local and the union is "
    "exact — zero fact-table shuffle, initiator aggregates",
)


def _optimize_dedupe_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE TABLE ... DEDUPLICATE BY user_id, event_type: one
    surviving row per key during compaction.  ClickHouse keeps an
    arbitrary (merge-order) row; the documented deterministic variant
    keeps the row sorting FIRST over the remaining columns — here
    event_id leads that order and is unique, so the survivor is the
    min-event_id row per key, which the oracle reproduces exactly."""
    import hashlib
    import tempfile

    from ..sources.native_datasource import compact_native_dir

    src = native_fixture_dir(spark, sf_dir, "events")
    dst = os.path.join(
        tempfile.gettempdir(),
        "chsql_mutations",
        "dedupby-" + hashlib.md5(src.encode()).hexdigest()[:12],
    )
    compact_native_dir(
        spark, src, dst, target_files=4,
        dedupe_by=["user_id", "event_type"],
    )
    # §6: output needs 4 of 6 columns — skip ts/props bytes
    df = read_native(
        spark, dst, columns="user_id,event_type,event_id,value",
        min_partitions="4",
    )
    return df.select(
        "user_id",
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    ).orderBy("user_id", "event_type")


REGISTRY.df_query(
    "optimize_dedupe_by",
    _optimize_dedupe_by,
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY event_id, ts, value, props) AS rn
      FROM events
    )
    SELECT user_id, event_type, event_id, cents
    FROM ranked WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    tags=["mutation", "optimize", "dedup"],
    description="OPTIMIZE ... DEDUPLICATE BY key: one survivor per key "
    "folded into compaction (deterministic first-by-remaining-columns "
    "variant of ClickHouse's arbitrary-survivor semantics)",
)


def _backup_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKUP TABLE -> mutate the source -> RESTORE: the restored
    directory reproduces the SNAPSHOT-TIME table exactly (the
    post-backup lightweight delete is invisible), verified file-by-
    file against the manifest's md5 before any file is placed."""
    import hashlib
    import shutil as _sh
    import tempfile

    from ..operators.backup import backup_table, restore_table
    from ..operators.mutations import lightweight_delete

    base = native_fixture_dir(spark, sf_dir, "events")
    tag = hashlib.md5(base.encode()).hexdigest()[:12]
    work = os.path.join(
        tempfile.gettempdir(), "chsql_mutations", "bkup-src-" + tag
    )
    _sh.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    for f in os.listdir(base):
        src_f = os.path.join(base, f)
        if os.path.isfile(src_f) and (
            f.endswith(".clickhouse") or f.endswith(".stats.json")
        ):
            os.link(src_f, os.path.join(work, f))

    bdir = os.path.join(
        tempfile.gettempdir(), "chsql_mutations", "bkup-b1-" + tag
    )
    _sh.rmtree(bdir, ignore_errors=True)
    backup_table(work, bdir, checksum=True)
    # post-backup mutation: delete every purchase row in the SOURCE
    lightweight_delete(spark, work, [("event_type", "=", "purchase")])
    restored = os.path.join(
        tempfile.gettempdir(), "chsql_mutations", "bkup-out-" + tag
    )
    _sh.rmtree(restored, ignore_errors=True)
    restore_table(bdir, restored)

    # §6: the guard count reads one column, the agg two of six
    live = read_native(spark, work, columns="event_type", min_partitions="4")
    if live.filter(F.col("event_type") == "purchase").count() != 0:
        raise AssertionError("post-backup delete did not apply to source")
    df = read_native(
        spark, restored, columns="event_type,value", min_partitions="4"
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "sum_cents"
            ),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "backup_restore_roundtrip",
    _backup_restore_roundtrip,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["backup", "storage", "lifecycle"],
    description="BACKUP/RESTORE: snapshot, post-backup lightweight "
    "delete on the source (asserted applied), md5-verified restore == "
    "the snapshot-time table exactly",
)


def _catalog_exchange_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCHANGE TABLES live AND staging — the zero-downtime swap an
    ingest pipeline does after rebuilding a table: after the atomic
    three-rename swap, the 'live' path serves the staging build (here:
    the click/view slice), and reading it proves the swap."""
    import hashlib
    import shutil as _sh
    import tempfile

    from ..operators.catalog import exchange_tables
    from .base import load_tables

    tabs = load_tables(spark, sf_dir, ["events"])
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), "chsql_catalog", tag)
    _sh.rmtree(root, ignore_errors=True)
    live, staging = os.path.join(root, "live"), os.path.join(root, "staging")
    (
        tabs["events"].filter(F.col("event_type") == "error")
        .write.format("clickhouse_native").mode("overwrite").save(live)
    )
    (
        tabs["events"].filter(F.col("event_type").isin("click", "view"))
        .write.format("clickhouse_native").mode("overwrite").save(staging)
    )
    exchange_tables(live, staging)
    # §6: the agg touches 2 of 6 columns
    df = read_native(
        spark, live, columns="event_type,value", min_partitions="4"
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "sum_cents"
            ),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "catalog_exchange_tables",
    _catalog_exchange_tables,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["catalog", "atomic", "lifecycle"],
    description="EXCHANGE TABLES: atomic three-rename swap of live and "
    "staging table dirs; the live path serves the staging build "
    "(zero data movement at any size)",
)


# --- SAMPLE clause (ClickHouse `SAMPLE k OFFSET m`) ---------------------------


def _sample_by_orders_fixture(spark: SparkSession, sf_dir: str) -> str:
    """orders written with ``sample_by='o_orderkey'``: 4 files, each
    hash-sorted with per-block sidecar stats, so the SAMPLE range
    prunes block ranges (1/8 of the blocks decoded for SAMPLE 0.125)."""
    from ..native.writer import write_native_file

    def write(out_dir: str, t) -> None:
        n = t.num_rows
        per = max(1, (n + 3) // 4)
        for i in range(4):
            piece = t.slice(i * per, per)
            if piece.num_rows == 0:
                break
            write_native_file(
                os.path.join(out_dir, f"part-{i:03d}.clickhouse"),
                piece,
                block_rows=max(256, per // 16),
                sample_by="o_orderkey",
            )

    return _materialize_fixture(sf_dir, "orders", "orders-sampleby-4", write)


def _native_sample_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse SAMPLE clause (docs: statements/select/sample): the
    table is written with a sampling key (sample_by= materializes a
    sorted ``_sample_hash``); ``SAMPLE 0.125 OFFSET 0.25`` lowers to a
    hash-range predicate that prunes BLOCK RANGES via the ordinary
    min/max sidecar (measured: 8 planned block-partitions -> 1), then
    re-filters rows exactly executor-side.  Deterministic, uniform
    (two-round Lehmer bijection) and nested (SAMPLE 0.25 at the same
    offset is a superset) — the oracle recomputes the identical hash
    in SQL over the raw table."""
    from .base import ensure_session

    ensure_session(spark)
    path = _sample_by_orders_fixture(spark, sf_dir)
    df = read_native(
        spark,
        path,
        split_blocks="true",
        target_partition_bytes=str(64 * 1024),
        sample="0.125",
        sample_offset="0.25",
    )
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


def _sample_oracle_sql() -> str:
    from ..native.writer import SAMPLE_HASH_M, sample_hash_sql

    lo = int(0.25 * SAMPLE_HASH_M)
    hi = int((0.25 + 0.125) * SAMPLE_HASH_M)
    return f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE {sample_hash_sql('o_orderkey')} >= {lo}
      AND {sample_hash_sql('o_orderkey')} < {hi}
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """


REGISTRY.df_query(
    "native_sample_clause",
    _native_sample_clause,
    oracle=_sample_oracle_sql(),
    tags=["source", "native", "sample", "skipping"],
    description="SAMPLE 0.125 OFFSET 0.25 over a sample_by table: "
    "hash-range lowering prunes block ranges via the min/max sidecar; "
    "oracle recomputes the two-round Lehmer hash in SQL",
)


# --- GLOBAL IN over the cluster ------------------------------------------------


def _scan_cluster_global_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse GLOBAL IN (docs: operators/in#distributed-subqueries):
    the inner subquery runs ONCE on the initiator over the whole
    distributed table, and its result ships to every shard with the
    outer query — versus plain IN, which would re-evaluate the inner
    subquery shard-locally and silently miss cross-shard members.
    Faithful two-phase execution: phase 1 runs the inner DISTINCT over
    the cluster and materializes the set initiator-side (bounded by a
    hard cap, the same memory contract a real server applies to the
    GLOBAL IN temp table); phase 2 embeds the literal set in each
    shard-local query, so the filter runs server-side.  The oracle is
    the single-table semi-join."""
    from pyspark.sql import functions as F

    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_cluster

    ensure_session(spark)
    urls = mock_clickhouse_cluster(sf_dir, 2)
    inner = (
        spark.read.format("clickhouse_scan")
        .option(
            "query",
            "SELECT DISTINCT user_id FROM events "
            "WHERE event_type = 'signup'",
        )
        .option("cluster", ",".join(urls))
        .load()
    )
    # initiator-side set materialization — the GLOBAL IN temp table.
    # DISTINCT across shards happens here (each shard only dedups its
    # own slice). Cap guards driver memory like a real server's
    # max_rows_in_set.
    keys = sorted({r["user_id"] for r in inner.collect()})
    if len(keys) > 100_000:
        raise ValueError(
            f"GLOBAL IN set has {len(keys)} members (cap 100000); "
            "rewrite as a JOIN for unbounded sets"
        )
    in_list = ",".join(str(k) for k in keys) or "-1"
    df = (
        spark.read.format("clickhouse_scan")
        .option(
            "query",
            "SELECT user_id, event_type, "
            "CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events "
            f"WHERE user_id IN ({in_list})",
        )
        .option("cluster", ",".join(urls))
        .load()
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "scan_cluster_global_in",
    _scan_cluster_global_in,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    WHERE user_id IN (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["source", "scan", "cluster", "global-in"],
    description="GLOBAL IN over a 2-shard cluster: inner DISTINCT "
    "evaluated once initiator-side (capped temp set), literal set "
    "shipped into every shard-local query; oracle is the single-table "
    "semi-join",
)


# --- INTO OUTFILE ----------------------------------------------------------------


def _native_into_outfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `SELECT ... INTO OUTFILE 'f' FORMAT Native` (docs:
    statements/select/into-outfile): one executor task streams the
    export file (repartition(1) + mapInArrow — the driver sees a 1-row
    count, never the data), then the file reads back through the
    DataSource and aggregates — the oracle is the direct SQL over the
    raw table, so the export+reimport roundtrip must be lossless."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from .base import ensure_session, load_tables
    from ..operators.outfile import into_outfile

    ensure_session(spark)
    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    out = os.path.join(
        tempfile.gettempdir(), "chsql_outfile", f"orders-{tag}.clickhouse"
    )
    os.makedirs(os.path.dirname(out), exist_ok=True)
    into_outfile(
        t.filter("o_orderkey % 3 = 0"), out, "native", truncate=True
    )
    # §6: the agg touches 2 of 6 columns
    back = read_native(
        spark, out, columns="o_orderstatus,o_totalprice",
        min_partitions="4",
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


REGISTRY.df_query(
    "native_into_outfile",
    _native_into_outfile,
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=["source", "outfile", "export", "native"],
    description="INTO OUTFILE FORMAT Native: single-file executor-side "
    "export (no driver data collect) + DataSource re-read == raw-table "
    "oracle (lossless roundtrip)",
)


# --- ROW POLICY -------------------------------------------------------------------


def _catalog_row_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE ROW POLICY (docs: statements/create/row-policy): two
    permissive policies on a Native events table — analyst sees
    click/view rows, auditor sees high-value rows, a TO ALL policy
    adds signups for everyone; the analyst's effective predicate is
    the OR of their USING clauses (permissive combination), and an
    unnamed user would see zero rows (deny-by-default once policies
    exist — pinned in tests). Policies apply as ordinary Spark SQL
    predicates, so Catalyst pushes them into the scan."""
    from pyspark.sql import functions as F

    from .base import ensure_session
    from ..operators.rowpolicy import apply_row_policies, create_row_policy

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "events")
    create_row_policy(
        path, "analyst_types",
        "event_type IN ('click', 'view')",
        to_users=["analyst"], replace=True,
    )
    create_row_policy(
        path, "auditor_value", "value >= 100.0",
        to_users=["auditor"], replace=True,
    )
    create_row_policy(
        path, "signups_public", "event_type = 'signup'", replace=True
    )
    df = read_native(spark, path)
    return (
        apply_row_policies(df, path, "analyst")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100).cast("bigint")
            ).alias("sum_cents"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "catalog_row_policy",
    _catalog_row_policy,
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    WHERE (event_type IN ('click', 'view')) OR (event_type = 'signup')
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["catalog", "security", "policy"],
    description="CREATE ROW POLICY: permissive OR-combination of the "
    "user's USING predicates (analyst = own policy + TO ALL policy), "
    "applied as pushable Spark SQL filters; deny-by-default pinned in "
    "tests",
)


# --- DESCRIBE TABLE ----------------------------------------------------------------


def _native_describe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DESCRIBE TABLE` (docs: statements/describe-table): header-only
    schema introspection of a Native table dir — ClickHouse type names
    plus the Spark mapping, one row per column, in declaration order.
    The read touches ONE block header (``describe_native``, the
    DataSource's own probe — no payload decode, the fix over the
    reference's whole-file parse at lib.rs:251); the oracle is the
    literal expected contract, so a type-mapping regression (e.g.
    DateTime64(6) drifting precision) fails the hash."""
    from .base import ensure_session
    from ..sources.native_datasource import describe_native

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "orders")
    rows = [
        (i + 1, c.name, c.ch_type.name, c.spark_type.simpleString())
        for i, c in enumerate(describe_native({"path": path}))
    ]
    return spark.createDataFrame(
        rows, "position BIGINT, col_name STRING, ch_type STRING, spark_type STRING"
    )


REGISTRY.df_query(
    "native_describe_table",
    _native_describe_table,
    oracle="""
    SELECT * FROM (VALUES
      (1, 'o_orderkey',      'Int64',         'bigint'),
      (2, 'o_custkey',       'Int64',         'bigint'),
      (3, 'o_orderstatus',   'String',        'string'),
      (4, 'o_totalprice',    'Float64',       'double'),
      (5, 'o_orderdate',     'DateTime64(6)', 'timestamp_ntz'),
      (6, 'o_orderpriority', 'String',        'string')
    ) AS t(position, col_name, ch_type, spark_type)
    """,
    tags=["catalog", "introspection", "native"],
    description="DESCRIBE TABLE: one-block-header schema introspection "
    "(ClickHouse type + Spark mapping per column) against the literal "
    "expected contract — a silent type-mapping drift fails the hash",
)


# --- hive-preserving OPTIMIZE -------------------------------------------------------


def _optimize_compact_hive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE TABLE over a hive-partitioned layout: many small files
    per o_orderstatus= partition compact into range-clustered ones
    WITHOUT flattening the layout (partition_by rides through the
    compaction; the reader then re-prunes directories). The oracle is
    the raw table, so the compaction must be lossless."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from .base import ensure_session
    from ..sources.native_datasource import compact_native_dir

    ensure_session(spark)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), "chsql_opt_hive", tag)
    src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
    if not os.path.exists(os.path.join(base, "_SRC_DONE")):
        t = load_tables(spark, sf_dir, ["orders"])["orders"]
        (
            t.repartition(8)
            .write.format("clickhouse_native")
            .option("partition_by", "o_orderstatus")
            .mode("overwrite")
            .save(src)
        )
        open(os.path.join(base, "_SRC_DONE"), "w").close()
    compact_native_dir(
        spark, src, dst, target_files=2,
        sort_by=["o_orderkey"], partition_by=["o_orderstatus"],
    )
    # the compacted layout must still be hive (key= dirs present)
    if not any(
        d.startswith("o_orderstatus=") for d in os.listdir(dst)
    ):
        raise AssertionError("compaction flattened the hive layout")
    # §6: the agg touches 3 columns (o_orderstatus is the hive key)
    back = read_native(
        spark, dst, columns="o_orderstatus,o_totalprice,o_orderkey",
        min_partitions="4",
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("sum_cents"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


REGISTRY.df_query(
    "optimize_compact_hive",
    _optimize_compact_hive,
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=["optimize", "hive", "compaction", "storage"],
    description="OPTIMIZE over a hive layout: partition_by rides "
    "through compaction (layout asserted intact, never silently "
    "flattened); range-clustered within partitions; lossless vs the "
    "raw-table oracle",
)


# --- FREEZE PARTITION ----------------------------------------------------------------


def _mutation_freeze_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE FREEZE PARTITION: hard-link one hive partition into
    shadow/<N>/ (the literal ClickHouse layout, zero data movement),
    then DROP PARTITION on the live table, then read the FROZEN
    snapshot — which must still hold the pre-drop data (links keep
    the inodes alive). Oracle = the raw partition."""
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .base import ensure_session, load_tables
    from ..operators.backup import freeze_partition

    ensure_session(spark)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), "chsql_freeze", tag)
    # fresh per build: the entry mutates the live table
    shutil.rmtree(base, ignore_errors=True)
    live = os.path.join(base, "orders")
    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    (
        t.repartition(4)
        .write.format("clickhouse_native")
        .option("partition_by", "o_orderstatus")
        .mode("overwrite")
        .save(live)
    )
    snap = freeze_partition(live, "o_orderstatus=F")
    # destructive change AFTER the freeze: DROP PARTITION removes the
    # live files outright — the frozen hard links must keep the bytes
    shutil.rmtree(os.path.join(live, "o_orderstatus=F"))
    frozen = os.path.join(snap["shadow_dir"], "o_orderstatus=F")
    # §6: the agg touches 2 of the shadow partition's payload columns
    df = read_native(
        spark, frozen, columns="o_totalprice,o_orderkey",
        min_partitions="4",
    )
    return df.agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("sum_cents"),
        F.max("o_orderkey").alias("max_key"),
    )


REGISTRY.df_query(
    "mutation_freeze_partition",
    _mutation_freeze_partition,
    oracle="""
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
    tags=["mutation", "freeze", "backup", "hive"],
    description="FREEZE PARTITION into shadow/<N>/ (hard links, zero "
    "data movement) survives a post-freeze ALTER DELETE of the live "
    "partition — frozen snapshot == the pre-delete oracle",
)


# --- CHECK TABLE -----------------------------------------------------------------------


def _catalog_check_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK TABLE (docs: statements/check-table): every part decodes
    end-to-end and its physical row count matches its stats sidecar.
    Distributed: the scan re-reads all parts with file_column
    provenance and counts per part executor-side; the sidecar expectation
    is driver METADATA (one small json per part — the same reads
    planning already does) broadcast-joined against the counts. The
    graded output aggregates to (n_parts, total_rows, parts_ok) so the
    oracle is the raw table plus the fixture's known part count."""
    import os

    from pyspark.sql import functions as F

    from .base import ensure_session
    from ..native.writer import load_stats
    from ..sources.native_datasource import _resolve_paths

    ensure_session(spark)
    path = native_fixture_dir(spark, sf_dir, "orders")
    expected = []
    for p in _resolve_paths(path):
        expected.append((os.path.basename(p), int(load_stats(p)["rows"])))
    exp_df = spark.createDataFrame(expected, "part STRING, rows_expected BIGINT")
    df = read_native(spark, path, file_column="_part")
    counted = df.groupBy(F.col("_part").alias("part")).agg(
        F.count("*").alias("rows_actual")
    )
    # eqNullSafe: a part missing from EITHER side (unreadable, or a
    # sidecar for a vanished file) must FAIL the check, not null out
    # of the MIN (review finding: == propagates NULL and MIN ignores
    # it, silently passing a corrupt table)
    checked = counted.join(F.broadcast(exp_df), "part", "full_outer").select(
        "part",
        F.col("rows_actual").eqNullSafe(F.col("rows_expected")).alias("ok"),
        "rows_actual",
    )
    return checked.agg(
        F.count("*").alias("n_parts"),
        F.sum("rows_actual").alias("total_rows"),
        F.min(F.col("ok").cast("int")).cast("boolean").alias("all_ok"),
    )


REGISTRY.df_query(
    "catalog_check_table",
    _catalog_check_table,
    oracle="""
    SELECT 16 AS n_parts, COUNT(*) AS total_rows, TRUE AS all_ok
    FROM orders
    """,
    tags=["catalog", "integrity", "check"],
    description="CHECK TABLE: distributed per-part decode + row-count "
    "vs stats-sidecar verification (file_column provenance, broadcast "
    "expectation join); fingerprint == the raw table + the fixture's "
    "16-part contract",
)
