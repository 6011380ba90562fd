"""PySpark-native analytics engine with the capabilities of
quackscience/duckdb-extension-clickhouse-native (chsql_native).

The reference registers two DuckDB table functions
(/root/reference/src/lib.rs:368-373); we register the equivalent
Spark DataSources plus the delegated query surface (SURVEY.md §2.2)
and large-scale pipeline operators on top.

Quick start::

    from duckdb_extension_clickhouse_native_spark import register
    register(spark)  # registers clickhouse_native + clickhouse_scan
    df = spark.read.format("clickhouse_native").load("/data/*.clickhouse")
"""

from __future__ import annotations

from . import worker_imports

__version__ = "0.1.0"

worker_imports.install()


def register(spark) -> None:
    """Register both data sources on a SparkSession — the analogue of
    the reference's extension_entrypoint (lib.rs:368-373) — plus the
    ``clickhouse_native(path)`` / ``clickhouse_scan(query)`` SQL table
    functions matching the reference's invocation shape (lib.rs:363-365)."""
    from .sources.native_datasource import ClickHouseNativeDataSource
    from .sources.scan_datasource import ClickHouseScanDataSource
    from .sources.sqlite_table import ClickHouseSqliteDataSource
    from .sources.table_functions import register_table_functions
    from .sources.file_table import ClickHouseFileDataSource
    from .sources.s3_table import ClickHouseS3DataSource
    from .sources.url_table import ClickHouseURLDataSource

    spark.dataSource.register(ClickHouseNativeDataSource)
    spark.dataSource.register(ClickHouseScanDataSource)
    spark.dataSource.register(ClickHouseURLDataSource)
    spark.dataSource.register(ClickHouseFileDataSource)
    spark.dataSource.register(ClickHouseS3DataSource)
    spark.dataSource.register(ClickHouseSqliteDataSource)
    from .sources.delta_table import ClickHouseDeltaDataSource
    from .sources.iceberg_table import ClickHouseIcebergDataSource

    spark.dataSource.register(ClickHouseDeltaDataSource)
    spark.dataSource.register(ClickHouseIcebergDataSource)
    register_table_functions(spark)


def get_spark(app_name: str = "chsql-native-spark", cpus: int | None = None):
    """Build a local SparkSession tuned for this engine's workloads.

    On a real cluster, drop master/memory settings and keep the SQL
    conf: AQE handles skew and partition coalescing at scale.
    """
    import os

    from pyspark.sql import SparkSession

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # InferFiltersFromGenerate clones the full generator expression into
        # an inferred size()>0 filter; for our computed shingle/token arrays
        # that re-evaluates an O(tokens^2) expression per row (3-4x slowdown
        # on the dedup family) and never prunes anything
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # driver testdata has INT64 TIMESTAMP(NANOS) parquet columns which
        # Spark rejects by default; read as long and convert explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    register(spark)
    return spark
