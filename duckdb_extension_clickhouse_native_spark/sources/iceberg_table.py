"""ClickHouse ``iceberg('path')`` table function (docs:
sql-reference/table-functions/iceberg) — read an Apache Iceberg table.

Clean-room reader of the PUBLIC Iceberg table spec
(https://iceberg.apache.org/spec/): table state lives under
``metadata/`` — ``version-hint.text`` names the current
``v<N>.metadata.json``, whose current snapshot points at a
MANIFEST LIST (an Avro file of manifest descriptors), each manifest
being another Avro file whose entries name the parquet data files
with a status (1 = added / 0 = existing / 2 = DELETED).  The active
file set is the manifest replay — the r15 Avro codec
(native/avroformat.py) is what makes this readable without any
Iceberg library.

Simplification Iceberg itself guarantees: data files CONTAIN every
column (partition values are pruning metadata, not hive-style path
state — the spec's "partition data ... is not required to read rows"
property), so reading = parquet per active file, no partition
materialization and no transform inversion.  Column resolution is
BY NAME from the metadata schema (field-id mapping — spec
'column-projection' — matters only after renames; tables with
renamed columns should be read by a field-id-aware engine and this
reader refuses nothing silently: a name absent from a data file
surfaces as the standard missing-column error).

Refusals, loud and by name: format-version > 2, delete files
(position/equality — v2 row-level deletes would need masking),
non-parquet data files, and unknown snapshots for time travel.
``snapshot_id`` option = time travel to that snapshot.

Scale shape: metadata JSON + a few Avro manifests replay driver-side
(metadata only); one Spark input partition per active data file.
"""

from __future__ import annotations

import json
import os
import posixpath
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def _resolve_ref(table_path: str, uri: str) -> str:
    """Manifest/data paths in metadata are absolute URIs from the
    WRITER's filesystem; re-root them under the table path so a copied
    or downloaded table still reads (the common case in a lake
    sandbox).  file:// and relative spellings pass through."""
    if uri.startswith("file://"):
        uri = uri[len("file://"):]
    if os.path.exists(uri):
        return uri
    # re-root: find the table directory name inside the URI
    base = os.path.basename(os.path.normpath(table_path))
    idx = uri.find(f"/{base}/")
    if idx >= 0:
        cand = os.path.join(table_path, uri[idx + len(base) + 2:])
        if os.path.exists(cand):
            return cand
    # last resort: basename under the table's data/ or metadata/
    for sub in ("data", "metadata", ""):
        cand = os.path.join(table_path, sub, posixpath.basename(uri))
        if os.path.exists(cand):
            return cand
    raise FileNotFoundError(
        f"iceberg(): cannot resolve referenced file {uri!r} under "
        f"{table_path!r}"
    )


def _read_avro_rows(path: str) -> list:
    import pyarrow as pa

    from ..native.avroformat import iter_avro_blocks

    with open(path, "rb") as f:
        blocks = list(iter_avro_blocks(f))
    t = pa.Table.from_batches([b.to_record_batch() for b in blocks])
    return t.to_pylist()


def _iceberg_to_spark(field: dict):
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    t = field if isinstance(field, (str, dict)) else str(field)
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return StructType(
                [
                    StructField(
                        f["name"],
                        _iceberg_to_spark(f["type"]),
                        not f.get("required", False),
                    )
                    for f in t["fields"]
                ]
            )
        if k == "list":
            return ArrayType(_iceberg_to_spark(t["element"]))
        if k == "map":
            return MapType(
                _iceberg_to_spark(t["key"]), _iceberg_to_spark(t["value"])
            )
        raise ValueError(f"iceberg(): unknown complex type {t!r}")
    s = str(t)
    if s.startswith("decimal("):
        p, sc = s[len("decimal("):-1].split(",")
        return DecimalType(int(p), int(sc))
    if s.startswith("fixed("):
        return StringType()
    m = {
        "boolean": BooleanType(),
        "int": IntegerType(),
        "long": LongType(),
        "float": FloatType(),
        "double": DoubleType(),
        "date": DateType(),
        "timestamp": TimestampNTZType(),
        "timestamptz": TimestampNTZType(),
        "string": StringType(),
        "uuid": StringType(),
        "binary": StringType(),
        "time": LongType(),
    }
    if s not in m:
        raise ValueError(f"iceberg(): unknown type {s!r}")
    return m[s]


class IcebergSnapshot:
    def __init__(self, schema, files):
        self.schema = schema
        self.files = files  # list[str] (resolved parquet paths)


def load_iceberg_snapshot(
    path: str, snapshot_id: Optional[int] = None
) -> IcebergSnapshot:
    from pyspark.sql.types import StructField, StructType

    mdir = os.path.join(path, "metadata")
    if not os.path.isdir(mdir):
        raise ValueError(
            f"iceberg(): {path!r} has no metadata directory — not an "
            "Iceberg table (for Delta use deltaLake(), for plain "
            "parquet use file())"
        )
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        meta_path = os.path.join(mdir, f"v{v}.metadata.json")
        if not os.path.exists(meta_path):
            meta_path = os.path.join(mdir, f"{v}.metadata.json")
    else:
        cands = sorted(
            f for f in os.listdir(mdir) if f.endswith(".metadata.json")
        )
        if not cands:
            raise ValueError(
                f"iceberg(): no *.metadata.json under {mdir!r}"
            )
        meta_path = os.path.join(mdir, cands[-1])
    with open(meta_path) as f:
        meta = json.load(f)
    fv = int(meta.get("format-version", 1))
    if fv > 2:
        raise ValueError(
            f"iceberg(): format-version {fv} is beyond this reader "
            "(v1/v2 supported)"
        )
    # schema: v2 carries schemas[] + current-schema-id; v1 "schema"
    if "schemas" in meta:
        cur = meta.get("current-schema-id", 0)
        schema_json = next(
            s for s in meta["schemas"] if s.get("schema-id", 0) == cur
        )
    else:
        schema_json = meta["schema"]
    schema = StructType(
        [
            StructField(
                f["name"],
                _iceberg_to_spark(f["type"]),
                not f.get("required", False),
            )
            for f in schema_json["fields"]
        ]
    )
    snaps = meta.get("snapshots", [])
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if snapshot_id in (None, -1):
        return IcebergSnapshot(schema, [])
    snap = next(
        (s for s in snaps if s.get("snapshot-id") == snapshot_id), None
    )
    if snap is None:
        raise ValueError(
            f"iceberg(): snapshot {snapshot_id} not found "
            f"({[s.get('snapshot-id') for s in snaps]})"
        )
    files: list = []
    mlist = _resolve_ref(path, snap["manifest-list"])
    for m in _read_avro_rows(mlist):
        if int(m.get("content") or 0) == 1:
            raise ValueError(
                "iceberg(): this snapshot carries DELETE manifests "
                "(v2 row-level deletes) — this reader does not apply "
                "them; compact/expire the table or read an earlier "
                "snapshot"
            )
        man_path = _resolve_ref(path, m["manifest_path"])
        for entry in _read_avro_rows(man_path):
            if int(entry.get("status") or 0) == 2:
                continue  # DELETED
            df_rec = entry["data_file"]
            if int(df_rec.get("content") or 0) != 0:
                raise ValueError(
                    "iceberg(): delete data files present — not applied "
                    "by this reader"
                )
            fmt = (df_rec.get("file_format") or "PARQUET").upper()
            if fmt != "PARQUET":
                raise ValueError(
                    f"iceberg(): data file format {fmt!r} is not "
                    "supported (PARQUET only)"
                )
            files.append(_resolve_ref(path, df_rec["file_path"]))
    return IcebergSnapshot(schema, sorted(set(files)))


class _IcebergPartition(InputPartition):
    def __init__(self, data_path: str):
        self.data_path = data_path


class _IcebergReader(DataSourceReader):
    def __init__(self, options: dict, plan_schema):
        self.path = options.get("path") or ""
        sid = options.get("snapshot_id")
        self.snapshot_id = int(sid) if sid not in (None, "") else None
        self.plan_schema = plan_schema
        self.snapshot = load_iceberg_snapshot(self.path, self.snapshot_id)

    def partitions(self):
        return [
            _IcebergPartition(p) for p in self.snapshot.files
        ] or [_IcebergPartition("")]

    def read(self, partition: _IcebergPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.plan_schema)
        if not partition.data_path:
            yield pa.RecordBatch.from_pylist([], schema=arrow_schema)
            return
        t = pq.read_table(
            partition.data_path, columns=list(arrow_schema.names)
        )
        arrays = [
            t.column(f.name).combine_chunks().cast(f.type)
            for f in arrow_schema
        ]
        tbl = pa.Table.from_arrays(arrays, schema=arrow_schema)
        yield from tbl.to_batches(max_chunksize=65_536)


class ClickHouseIcebergDataSource(DataSource):
    """``spark.read.format("clickhouse_iceberg").option("path", ...)
    .load()`` (+ optional ``snapshot_id`` for time travel)."""

    @classmethod
    def name(cls) -> str:
        return "clickhouse_iceberg"

    def schema(self):
        memo = getattr(self, "_schema_memo", None)
        if memo is not None:
            return memo
        opts = dict(self.options)
        sid = opts.get("snapshot_id")
        snap = load_iceberg_snapshot(
            opts.get("path") or "",
            int(sid) if sid not in (None, "") else None,
        )
        self._schema_memo = snap.schema
        return self._schema_memo

    def reader(self, schema) -> _IcebergReader:
        return _IcebergReader(dict(self.options), schema)


def iceberg_table(
    spark: SparkSession, path: str, snapshot_id: Optional[int] = None
) -> DataFrame:
    """The ``iceberg(path)`` table function as a DataFrame
    (``snapshot_id`` = time travel)."""
    from ..plans.base import ensure_session

    ensure_session(spark)
    r = spark.read.format("clickhouse_iceberg").option("path", path)
    if snapshot_id is not None:
        r = r.option("snapshot_id", str(snapshot_id))
    return r.load()
