"""Round-15 fourth tranche: AggregateFunction state-blob decode.

``native_aggstate_scan`` closes the last "What's missing" item of the
r14 verdict (item 4): reading an AggregatingMergeTree-style export
whose columns are serialized partial-aggregation states, merging the
states across parts with ordinary Spark aggregates, and finalizing —
without re-scanning the raw rows.  The reference extension refuses
these columns (the ``<unsupported:T>`` arm, lib.rs:168-170); the
clean-room state codec lives in native/aggstate.py and the
merge/finalize Catalyst expressions in functions/aggstates.py.

Fixture shape: the ``l_orderkey % 13 == 0`` slice of lineitem is
pre-aggregated per (l_returnflag, l_orderkey % 3) — three state rows
per flag, so the entry MUST merge states (the ``-Merge`` semantics),
not just finalize single rows.  The states are written through the
engine's own ``encode_states`` into a Native file; the entry reads
them back through the normal ``clickhouse_native`` DataSource (header
type strings ``AggregateFunction(...)`` parsed at bind), merges per
flag, finalizes, and the DuckDB oracle recomputes every aggregate
from the raw parquet — decode, merge, and finalize all have to agree
with a full recompute for the entry to hash-match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.native_datasource import read_native
from .base import REGISTRY


def _aggstate_fixture(spark: SparkSession, sf_dir: str) -> str:
    import pyarrow as pa

    from ..native.types import parse_type, to_arrow
    from ..native.writer import write_native_file
    from .sources import _materialize_fixture

    specs = [
        ("flag", "String"),
        ("cnt_state", "AggregateFunction(count)"),
        ("sum_qty_state", "AggregateFunction(sum, Int64)"),
        ("avg_cents_state", "AggregateFunction(avg, Int64)"),
        ("min_ship_state", "AggregateFunction(min, DateTime)"),
        ("max_status_state", "AggregateFunction(max, String)"),
        ("uniq_supp_state", "AggregateFunction(uniqExact, Int32)"),
    ]

    def write(out_dir: str, t: pa.Table) -> None:
        import duckdb

        con = duckdb.connect()
        con.register("t", t)
        # partial states per (flag, chunk): what an AggregatingMergeTree
        # part would hold before the merge
        states = con.execute(
            """
            SELECT l_returnflag AS flag,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS avg_num,
                   CAST(COUNT(*) AS BIGINT) AS avg_den,
                   MIN(l_shipdate) AS min_ship,
                   MAX(l_linestatus) AS max_status,
                   LIST(DISTINCT CAST(l_suppkey % 1000 AS INTEGER))
                     AS uniq_supp
            FROM t WHERE l_orderkey % 13 = 0
            GROUP BY l_returnflag, l_orderkey % 3
            ORDER BY flag, min_ship
            """
        ).arrow()
        con.close()
        types = [parse_type(s) for _n, s in specs]
        cols = [
            states.column("flag").combine_chunks().cast(to_arrow(types[0])),
            states.column("cnt").combine_chunks().cast(to_arrow(types[1])),
            states.column("sq").combine_chunks().cast(to_arrow(types[2])),
            pa.StructArray.from_arrays(
                [
                    states.column("avg_num").combine_chunks(),
                    states.column("avg_den").combine_chunks(),
                ],
                ["numerator", "denominator"],
            ),
            states.column("min_ship")
            .combine_chunks()
            .cast(to_arrow(types[4])),
            states.column("max_status")
            .combine_chunks()
            .cast(to_arrow(types[5])),
            states.column("uniq_supp")
            .combine_chunks()
            .cast(to_arrow(types[6])),
        ]
        batch = pa.table({n: c for (n, _s), c in zip(specs, cols)})
        write_native_file(
            os.path.join(out_dir, "part-000.clickhouse"),
            batch,
            ch_types=types,
        )

    return _materialize_fixture(sf_dir, "lineitem", "lineitem-aggstate", write)


def _native_aggstate_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.aggstates import finalize_agg_state, merge_agg_state
    from .base import ensure_session

    ensure_session(spark)
    path = _aggstate_fixture(spark, sf_dir)
    df = read_native(spark, path)
    merged = df.groupBy("flag").agg(
        merge_agg_state("count", F.col("cnt_state")).alias("cnt"),
        merge_agg_state("sum, Int64", F.col("sum_qty_state")).alias("sq"),
        merge_agg_state("avg, Int64", F.col("avg_cents_state")).alias("av"),
        merge_agg_state("min, DateTime", F.col("min_ship_state")).alias(
            "ms"
        ),
        merge_agg_state("max, String", F.col("max_status_state")).alias(
            "mst"
        ),
        merge_agg_state("uniqExact, Int32", F.col("uniq_supp_state")).alias(
            "us"
        ),
    )
    return merged.select(
        F.col("flag"),
        finalize_agg_state("count", F.col("cnt")).alias("n"),
        finalize_agg_state("sum, Int64", F.col("sq")).alias("qty"),
        finalize_agg_state("avg, Int64", F.col("av")).alias("avg_cents"),
        finalize_agg_state("min, DateTime", F.col("ms")).alias("min_ship"),
        finalize_agg_state("max, String", F.col("mst")).alias("max_status"),
        finalize_agg_state("uniqExact, Int32", F.col("us")).alias(
            "uniq_supp"
        ),
    ).orderBy("flag")


REGISTRY.df_query(
    "native_aggstate_scan",
    _native_aggstate_scan,
    oracle="""
    SELECT l_returnflag AS flag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_cents,
           MIN(l_shipdate) AS min_ship,
           MAX(l_linestatus) AS max_status,
           CAST(COUNT(DISTINCT (l_suppkey % 1000)) AS BIGINT) AS uniq_supp
    FROM lineitem WHERE l_orderkey % 13 = 0
    GROUP BY l_returnflag ORDER BY flag
    """,
    tags=["source", "native", "aggstate", "types"],
    description="AggregateFunction state columns (count/sum/avg/min/max/"
    "uniqExact): engine-encoded partial states per (flag, chunk) read "
    "back through clickhouse_native, MERGED across chunks with Catalyst "
    "aggregate expressions and finalized; oracle recomputes from raw "
    "lineitem",
)


# ---------------------------------------------------------------------------
# Raw-text / JSON-family input formats (native/rawtext.py)
# ---------------------------------------------------------------------------


def _orders_lines_fixture(spark: SparkSession, sf_dir: str) -> str:
    """One text line per orders row (``status key cents``) — the raw
    log-file shape LineAsString and Regexp exist for."""
    from .sources import _materialize_fixture

    def write(out_dir: str, t) -> None:
        keys = t.column("o_orderkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        total = t.column("o_totalprice").to_pylist()
        import math

        with open(os.path.join(out_dir, "orders.log"), "w") as f:
            for k, s, v in zip(keys, status, total):
                # floor, matching the oracle's FLOOR (CAST would ROUND)
                f.write(f"{s} {k} {int(math.floor(v * 100))}\n")

    return _materialize_fixture(sf_dir, "orders", "orders-lines", write)


_LINES_ORACLE = """
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """


def _tf_file_lineasstring_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LineAsString + SQL-side parsing: the raw-corpus ingestion shape
    (read lines, split in Catalyst — no Python in the row path)."""
    from ..sources.file_table import file_table
    from .base import ensure_session

    ensure_session(spark)
    d = _orders_lines_fixture(spark, sf_dir)
    df = file_table(spark, os.path.join(d, "orders.log"), "LineAsString")
    parts = F.split(F.col("line"), " ")
    return (
        df.select(
            parts.getItem(0).alias("status"),
            parts.getItem(1).cast("long").alias("key"),
            parts.getItem(2).cast("long").alias("cents_one"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("key").alias("key_sum"),
            F.sum("cents_one").alias("cents"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "tf_file_lineasstring_scan",
    _tf_file_lineasstring_scan,
    oracle=_LINES_ORACLE,
    tags=["source", "file", "tf", "format", "rawtext"],
    description="LineAsString format: raw log lines in, Catalyst "
    "split/cast parsing, aggregates vs the orders parquet oracle",
)


def _tf_file_regexp_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORMAT Regexp over the same log fixture: capture groups feed the
    declared structure, typed at decode (no SQL-side parsing)."""
    from ..sources.file_table import file_table
    from .base import ensure_session

    ensure_session(spark)
    d = _orders_lines_fixture(spark, sf_dir)
    df = file_table(
        spark,
        os.path.join(d, "orders.log"),
        "Regexp",
        structure="status String, key Int64, cents Int64",
        format_regexp=r"(\S+) (\d+) (\d+)",
    )
    return (
        df.groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("key").alias("key_sum"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "tf_file_regexp_scan",
    _tf_file_regexp_scan,
    oracle=_LINES_ORACLE,
    tags=["source", "file", "tf", "format", "rawtext", "regexp"],
    description="Regexp input format: format_regexp capture groups -> "
    "typed structure columns at decode; same oracle as the "
    "LineAsString twin (independent parsers must agree)",
)


def _ndjson_fixture(spark: SparkSession, sf_dir: str) -> str:
    """NDJSON (JSONEachRow) file from orders — written WITHOUT types so
    the reader must infer (Int64 / String / Float64 lattice)."""
    import json as _json
    import math

    from .sources import _materialize_fixture

    def write(out_dir: str, t) -> None:
        keys = t.column("o_orderkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        total = t.column("o_totalprice").to_pylist()
        with open(os.path.join(out_dir, "orders.ndjson"), "w") as f:
            for k, s, v in zip(keys, status, total):
                f.write(
                    _json.dumps(
                        {
                            "k": k,
                            "status": s,
                            "cents": int(math.floor(v * 100)),
                        },
                        separators=(",", ":"),
                    )
                    + "\n"
                )

    return _materialize_fixture(sf_dir, "orders", "orders-ndjson", write)


def _tf_file_ndjson_infer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONEachRow/NDJSON with NO structure: names from the objects'
    keys, types from ClickHouse-style inference (r15 — the format used
    to be structure-needed; ClickHouse schema-infers it)."""
    from ..sources.file_table import file_table
    from .base import ensure_session

    ensure_session(spark)
    d = _ndjson_fixture(spark, sf_dir)
    df = file_table(spark, os.path.join(d, "orders.ndjson"), "NDJSON")
    return (
        df.groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("key_sum"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "tf_file_ndjson_infer_scan",
    _tf_file_ndjson_infer_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "file", "tf", "format", "inference"],
    description="NDJSON/JSONEachRow schema inference: no structure, "
    "names from object keys + inferred Int64/String types, aggregates "
    "vs the orders parquet oracle",
)


# ---------------------------------------------------------------------------
# Generated relations + external-store table functions
# ---------------------------------------------------------------------------


def _tf_numbers_offset_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numbers(offset, count, step) — ClickHouse's three-argument
    spelling over the spark.range parallel leaf (no storage, no
    driver-side materialization at any count)."""
    from ..sources.generator_tables import numbers_table

    df = numbers_table(spark, 1_000, 100_000, step=7)
    return df.groupBy((F.col("number") % 11).alias("bucket")).agg(
        F.count("*").alias("cnt"),
        F.sum("number").alias("total"),
        F.min("number").alias("mn"),
        F.max("number").alias("mx"),
    )


REGISTRY.df_query(
    "tf_numbers_offset_step",
    _tf_numbers_offset_step,
    oracle="""
    SELECT range % 11 AS bucket,
           COUNT(*) AS cnt,
           CAST(SUM(range) AS BIGINT) AS total,
           MIN(range) AS mn, MAX(range) AS mx
    FROM range(1000, 1000 + 100000 * 7, 7)
    GROUP BY range % 11
    """,
    tags=["compat", "table-function", "numbers"],
    description="numbers(offset, count, step) spelling: arithmetic range "
    "leaf vs DuckDB range(start, stop, step) (independent generators)",
)


def _sqlite_fixture(spark: SparkSession, sf_dir: str) -> str:
    """nation rows materialized into a SQLite database file — the
    external-store shape sqlite() reads."""
    from .sources import _materialize_fixture

    def write(out_dir: str, t) -> None:
        import sqlite3

        db = os.path.join(out_dir, "nation.db")
        con = sqlite3.connect(db)
        con.execute(
            "CREATE TABLE nation (n_nationkey INTEGER, n_name TEXT, "
            "n_regionkey INTEGER)"
        )
        con.executemany(
            "INSERT INTO nation VALUES (?, ?, ?)",
            list(
                zip(
                    t.column("n_nationkey").to_pylist(),
                    t.column("n_name").to_pylist(),
                    t.column("n_regionkey").to_pylist(),
                )
            ),
        )
        con.commit()
        con.close()

    return _materialize_fixture(sf_dir, "nation", "nation-sqlite", write)


def _tf_sqlite_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqlite(db, table): stdlib-sqlite3 executor read with the
    declared-affinity type mapping; aggregates vs the parquet oracle."""
    from ..sources.sqlite_table import sqlite_table
    from .base import ensure_session

    ensure_session(spark)
    d = _sqlite_fixture(spark, sf_dir)
    df = sqlite_table(spark, os.path.join(d, "nation.db"), "nation")
    return (
        df.groupBy(F.col("n_regionkey").alias("rk"))
        .agg(
            F.count("*").alias("n"),
            F.sum("n_nationkey").alias("key_sum"),
            F.min("n_name").alias("first_name"),
        )
        .orderBy("rk")
    )


REGISTRY.df_query(
    "tf_sqlite_scan",
    _tf_sqlite_scan,
    oracle="""
    SELECT n_regionkey AS rk,
           COUNT(*) AS n,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY rk
    """,
    tags=["source", "tf", "sqlite", "external"],
    description="sqlite() table function: nation materialized into a "
    "SQLite file, read back through the clickhouse_sqlite DataSource "
    "(affinity type mapping), aggregates vs the nation parquet oracle",
)


def _delta_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Hand-built Delta table over orders: partition column
    p = o_orderkey % 3; the p=2 file is ADDED then REMOVED (a
    compaction-style commit) — log replay must exclude it, which is
    exactly what separates deltaLake() from file('*.parquet')."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .sources import _materialize_fixture

    def write(out_dir: str, t) -> None:
        log = os.path.join(out_dir, "_delta_log")
        os.makedirs(log, exist_ok=True)
        schema_fields = [
            {"name": "o_orderkey", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "o_orderstatus", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "cents", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "p", "type": "integer", "nullable": True,
             "metadata": {}},
        ]
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "fixture",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(
                        {"type": "struct", "fields": schema_fields}
                    ),
                    "partitionColumns": ["p"],
                    "configuration": {},
                }
            },
        ]
        import math

        keys = t.column("o_orderkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        total = t.column("o_totalprice").to_pylist()
        by_p: dict = {0: [], 1: [], 2: []}
        for k, s, v in zip(keys, status, total):
            by_p[k % 3].append((k, s, int(math.floor(v * 100))))
        for p_val, rows in by_p.items():
            rel = f"p={p_val}/part-0.parquet"
            os.makedirs(os.path.join(out_dir, f"p={p_val}"), exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "o_orderkey": pa.array(
                            [r[0] for r in rows], type=pa.int64()
                        ),
                        "o_orderstatus": pa.array([r[1] for r in rows]),
                        "cents": pa.array(
                            [r[2] for r in rows], type=pa.int64()
                        ),
                    }
                ),
                os.path.join(out_dir, rel),
            )
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"p": str(p_val)},
                        "size": 1,
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")
        # commit 1: the p=2 file is compacted away
        with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
            f.write(
                _json.dumps(
                    {
                        "remove": {
                            "path": "p=2/part-0.parquet",
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )

    return _materialize_fixture(sf_dir, "orders", "orders-delta", write)


def _tf_deltalake_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deltaLake(path): transaction-log replay (adds minus removes) +
    typed partition-column materialization; the removed p=2 file must
    NOT contribute rows."""
    from ..sources.delta_table import delta_table
    from .base import ensure_session

    ensure_session(spark)
    d = _delta_fixture(spark, sf_dir)
    df = delta_table(spark, d)
    return (
        df.groupBy("p")
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("cents").alias("cents"),
            F.countDistinct("o_orderstatus").alias("n_status"),
        )
        .orderBy("p")
    )


REGISTRY.df_query(
    "tf_deltalake_scan",
    _tf_deltalake_scan,
    oracle="""
    SELECT CAST(o_orderkey % 3 AS INTEGER) AS p,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
    FROM orders WHERE o_orderkey % 3 <> 2
    GROUP BY 1 ORDER BY p
    """,
    tags=["source", "tf", "delta", "lakehouse"],
    description="deltaLake() table function: hand-built Delta log "
    "(adds + a compaction remove), replay excludes the removed "
    "partition, typed partition column materialized from the log; "
    "oracle = the active subset recomputed from orders parquet",
)


def _avro_fixture(spark: SparkSession, sf_dir: str) -> str:
    """INTO OUTFILE 'lineitem.avro' of the l_orderkey % 101 == 0 slice
    — the engine's own Avro writer produces the OCF the entry reads
    back (magic asserted; the reader is independently pinned against
    hand-built spec bytes in tests/test_avroformat.py)."""
    from .sources import _materialize_fixture

    def write(out_dir: str, t) -> None:
        import duckdb

        from ..operators.outfile import into_outfile

        con = duckdb.connect()
        con.register("t", t)
        sub = con.execute(
            "SELECT l_orderkey, l_returnflag, "
            "CAST(l_quantity AS BIGINT) AS qty, "
            "CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents "
            "FROM t WHERE l_orderkey % 101 = 0"
        ).arrow()
        con.close()
        df = spark.createDataFrame(sub)
        path = os.path.join(out_dir, "lineitem.avro")
        into_outfile(df, path, "avro", truncate=True)
        with open(path, "rb") as f:
            if f.read(4) != b"Obj\x01":
                raise AssertionError("outfile must write real Avro OCF")

    return _materialize_fixture(sf_dir, "lineitem", "lineitem-avro", write)


def _tf_file_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORMAT Avro export/reimport symmetry (the compressed-scan
    pattern): the OCF's embedded schema makes file() self-describing."""
    from ..sources.file_table import file_table
    from .base import ensure_session

    ensure_session(spark)
    d = _avro_fixture(spark, sf_dir)
    df = file_table(spark, os.path.join(d, "lineitem.avro"), "Avro")
    return (
        df.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count("*").alias("n"),
            F.sum("qty").alias("qty"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("flag")
    )


REGISTRY.df_query(
    "tf_file_avro_roundtrip",
    _tf_file_avro_roundtrip,
    oracle="""
    SELECT l_returnflag AS flag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM lineitem WHERE l_orderkey % 101 = 0
    GROUP BY l_returnflag ORDER BY flag
    """,
    tags=["source", "file", "tf", "format", "avro"],
    description="FORMAT Avro read+write: INTO OUTFILE emits a "
    "spec-conforming OCF (magic asserted; reader pinned vs hand-built "
    "spec bytes), file() reads it back via the embedded schema; oracle "
    "from raw parquet",
)


def _iceberg_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Hand-built Iceberg v2 table over orders (public spec layouts,
    manifests written by the engine's own Avro writer): data files per
    o_orderkey % 3; the CURRENT snapshot's manifest marks the p=2 file
    status=2 (DELETED) — manifest replay must exclude it."""
    import json as _json
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..native.avroformat import named_tuple_type, write_avro
    from ..native.types import parse_type
    from .sources import _materialize_fixture

    df_tuple = named_tuple_type(
        [
            ("content", "Int32"),
            ("file_path", "String"),
            ("file_format", "String"),
            ("record_count", "Int64"),
            ("file_size_in_bytes", "Int64"),
        ]
    )

    def write_manifest(path, entries):
        batch = pa.record_batch(
            {
                "status": pa.array([e[0] for e in entries], pa.int32()),
                "snapshot_id": pa.array([1] * len(entries), pa.int64()),
                "data_file": pa.array(
                    [
                        {
                            "content": 0,
                            "file_path": e[1],
                            "file_format": "PARQUET",
                            "record_count": 1,
                            "file_size_in_bytes": 1,
                        }
                        for e in entries
                    ],
                    type=pa.struct(
                        [
                            pa.field("content", pa.int32()),
                            pa.field("file_path", pa.string()),
                            pa.field("file_format", pa.string()),
                            pa.field("record_count", pa.int64()),
                            pa.field("file_size_in_bytes", pa.int64()),
                        ]
                    ),
                ),
            }
        )
        with open(path, "wb") as f:
            write_avro(
                f,
                [batch],
                ch_types=[
                    parse_type("Int32"),
                    parse_type("Nullable(Int64)"),
                    df_tuple,
                ],
            )

    def write(out_dir: str, t: pa.Table) -> None:
        data = os.path.join(out_dir, "data")
        mdir = os.path.join(out_dir, "metadata")
        os.makedirs(data, exist_ok=True)
        os.makedirs(mdir, exist_ok=True)
        keys = t.column("o_orderkey").to_pylist()
        status = t.column("o_orderstatus").to_pylist()
        total = t.column("o_totalprice").to_pylist()
        by_p: dict = {0: [], 1: [], 2: []}
        for k, s, v in zip(keys, status, total):
            by_p[k % 3].append((k, s, int(math.floor(v * 100))))
        paths = {}
        for p_val, rows in by_p.items():
            fp = os.path.join(data, f"part-{p_val}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "o_orderkey": pa.array(
                            [r[0] for r in rows], pa.int64()
                        ),
                        "o_orderstatus": pa.array([r[1] for r in rows]),
                        "cents": pa.array(
                            [r[2] for r in rows], pa.int64()
                        ),
                    }
                ),
                fp,
            )
            paths[p_val] = fp
        write_manifest(
            os.path.join(mdir, "m2.avro"),
            [
                (0, paths[0]),
                (0, paths[1]),
                (2, paths[2]),  # DELETED in the current snapshot
            ],
        )
        ml = pa.record_batch(
            {
                "manifest_path": pa.array(
                    [os.path.join(mdir, "m2.avro")], pa.string()
                ),
                "manifest_length": pa.array([1], pa.int64()),
                "partition_spec_id": pa.array([0], pa.int32()),
                "content": pa.array([0], pa.int32()),
            }
        )
        with open(os.path.join(mdir, "ml2.avro"), "wb") as f:
            write_avro(
                f,
                [ml],
                ch_types=[
                    parse_type("String"),
                    parse_type("Int64"),
                    parse_type("Int32"),
                    parse_type("Int32"),
                ],
            )
        meta = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-0000000000ff",
            "location": out_dir,
            "current-snapshot-id": 2,
            "schemas": [
                {
                    "schema-id": 0,
                    "type": "struct",
                    "fields": [
                        {"id": 1, "name": "o_orderkey", "type": "long",
                         "required": False},
                        {"id": 2, "name": "o_orderstatus",
                         "type": "string", "required": False},
                        {"id": 3, "name": "cents", "type": "long",
                         "required": False},
                    ],
                }
            ],
            "current-schema-id": 0,
            "snapshots": [
                {
                    "snapshot-id": 2,
                    "manifest-list": os.path.join(mdir, "ml2.avro"),
                }
            ],
        }
        with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
            _json.dump(meta, f)
        with open(os.path.join(mdir, "version-hint.text"), "w") as f:
            f.write("1")

    return _materialize_fixture(sf_dir, "orders", "orders-iceberg", write)


def _tf_iceberg_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iceberg(path): metadata JSON -> manifest-list Avro -> manifest
    Avro -> parquet; the status=2 entry must NOT contribute rows."""
    from ..sources.iceberg_table import iceberg_table
    from .base import ensure_session

    ensure_session(spark)
    d = _iceberg_fixture(spark, sf_dir)
    df = iceberg_table(spark, d)
    return (
        df.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("status")
    )


REGISTRY.df_query(
    "tf_iceberg_scan",
    _tf_iceberg_scan,
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 3 <> 2
    GROUP BY o_orderstatus ORDER BY status
    """,
    tags=["source", "tf", "iceberg", "lakehouse"],
    description="iceberg() table function: spec-built v2 table (Avro "
    "manifests via the engine's own writer), manifest replay excludes "
    "the status=2 deleted file; oracle = the active subset from orders "
    "parquet",
)
