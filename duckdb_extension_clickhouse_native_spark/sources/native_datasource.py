"""``clickhouse_native`` Spark DataSource — ClickHouse Native file reader/writer.

Spark-first re-expression of the reference's ``clickhouse_native``
DuckDB table function (/root/reference/src/lib.rs:240-366):

* bind-time full parse (lib.rs:251) -> ``schema()`` parses only the
  first block's headers;
* init-time second full parse (lib.rs:274) -> ``partitions()`` plans
  block ranges, no data read on the driver;
* 1024-row chunk emit (lib.rs:289-361) -> Arrow RecordBatch per
  block, yielded lazily per partition on executors;
* single-threaded full scan (README.md:51) -> one Spark partition per
  file by default (zero planning I/O — this is the 100 TB path over a
  directory of many files), optional in-file block splitting for
  single huge files.

Extra, beyond the reference: projection pushdown (unrequested column
payloads are byte-skipped, never decoded), filter pushdown (pushed
predicates are evaluated on Arrow batches inside the reader before
rows cross into the JVM), and a writer (``df.write.format(
"clickhouse_native")``) — the reference is read-only.

Usage::

    spark.dataSource.register(ClickHouseNativeDataSource)
    df = spark.read.format("clickhouse_native").load("/data/*.clickhouse")
    df.write.format("clickhouse_native").mode("overwrite").save("/out")

Hive-style partition layouts (``key=value`` directories, arbitrarily
nested) are discovered automatically: partition columns are appended
after the file columns (int when every value is an integer literal,
else string), restored from the path at read time, and predicates on
them prune whole directories at planning — zero tasks AND zero IO for
excluded partitions (150 -> 22 partitions measured on the
event_type/day conformance fixture).

Options:
    path            file, glob, or directory (or pass to .load())
    columns         comma-separated projection (pruned at byte level)
    lossy_uint64    'true' -> reference-compatible UInt64->Int32
                    truncation (lib.rs:336-344); default lossless Int64
    scrub_strings   'true' -> strip NUL/U+FFFD like lib.rs:68-76
    unsupported_as_varchar  'true' -> unknown column types become
                    '<unsupported:T>' varchar placeholders like
                    lib.rs:168-170 (payload bytes are NOT consumed, so
                    only safe when that column is last); default raises
    split_blocks    'true' -> split files into block-range partitions;
                    offsets come from the writer's per-block sidecar
                    index when present (no header scan), and pushed
                    filters prune block RANGES against the per-block
                    min/max — the parquet row-group analogue (33 -> 4
                    blocks measured on the sorted-events fixture)
    target_partition_bytes  approx bytes per partition when splitting
    block_rows      writer: rows per Native block (default 65409)
    partition_by    writer: comma-separated columns to fan out as
                    hive-style key=value directories (dropped from the
                    file payload; the reader restores and prunes them)
    sort_by         writer: comma-separated columns to sort each
                    task's rows by before writing — tight per-block
                    ranges for the block-range index (cluster globally
                    with a repartition on the same keys upstream)
    allow_missing_columns  'true' -> additive schema evolution: a file
                    written before a column existed reads it as NULLs
                    (pass an explicit schema from the NEWEST file);
                    default raises on drift
"""

from __future__ import annotations

import glob as globmod
import os
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator, List, Optional, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

if TYPE_CHECKING:
    import pyarrow as pa

FORMAT_NAME = "clickhouse_native"

# process-wide parsed-sidecar cache: (path, mtime_ns, size) -> (dict|None,)
_SIDECAR_CACHE: dict = {}


def _resolve_paths(path: str) -> list[str]:
    # local fast path + pyarrow.fs for object-store/HDFS URIs — see
    # duckdb_extension_clickhouse_native_spark/filesystem.py
    from ..filesystem import resolve_paths

    return resolve_paths(path)


def _ch_to_spark(t) -> DataType:
    """CHType -> Spark DataType (extends clickhouse_scan.rs:31-45)."""
    from ..native.types import CHType

    assert isinstance(t, CHType)
    b = t.base
    if b in ("String", "FixedString", "UUID", "Enum8", "Enum16", "IPv4", "IPv6", "JSON"):
        return StringType()
    if b in ("Int128", "UInt128", "Int256", "UInt256"):
        # decimal128(38,0) carrier — see native/types.py BIG_INT_WIDTH
        return DecimalType(38, 0)
    if b == "Nested":
        # Array(Struct) with the DECLARED field names (wire layout is
        # the Array(Tuple) equivalent — native/codec.py _nested_equiv)
        return ArrayType(
            StructType(
                [
                    StructField(n, _ch_to_spark(it))
                    for n, it in zip(t.tuple_names, t.tuple_items)
                ]
            )
        )
    m = {
        "Int8": ByteType(),
        "Int16": ShortType(),
        "Int32": IntegerType(),
        "Int64": LongType(),
        "UInt8": ShortType(),
        "UInt16": IntegerType(),
        "UInt32": LongType(),
        "UInt64": LongType(),
        "Float32": FloatType(),
        "Float64": DoubleType(),
        "Bool": BooleanType(),
        "Date": DateType(),
        "Date32": DateType(),
        "DateTime": TimestampNTZType(),
        "DateTime64": TimestampNTZType(),
    }
    if b in m:
        return m[b]
    if b == "Unsupported":
        return StringType()  # '<unsupported:T>' placeholder (lib.rs:168-170)
    if b in ("Decimal", "Decimal32", "Decimal64", "Decimal128"):
        return DecimalType(t.fixed_len, t.scale)
    if b == "Array":
        return ArrayType(_ch_to_spark(t.inner))
    if b == "LowCardinality":
        return _ch_to_spark(t.inner)
    if b == "Tuple":
        return StructType(
            [StructField(f"_{i+1}", _ch_to_spark(it)) for i, it in enumerate(t.tuple_items)]
        )
    if b == "Variant":
        # one nullable field per variant, named by the CH type name —
        # `v.String` mirrors ClickHouse variant-subcolumn access
        return StructType(
            [StructField(it.name, _ch_to_spark(it)) for it in t.tuple_items]
        )
    if b == "Dynamic":
        # type-erased: the member set lives in the DATA prefix, not
        # the header this bind parses (native/types.py parse_type)
        return StructType(
            [
                StructField("type", StringType()),
                StructField("value", StringType()),
            ]
        )
    if b == "Map":
        from pyspark.sql.types import MapType

        return MapType(_ch_to_spark(t.tuple_items[0]), _ch_to_spark(t.tuple_items[1]))
    if b == "AggregateFunction":
        # decoded partial-state surface (native/aggstate.py): derive
        # the Spark type from the state codec's Arrow mapping so both
        # sides stay in lock-step (NTZ to match DateTime above)
        from pyspark.sql.pandas.types import from_arrow_type

        from ..native.aggstate import arrow_type as _agg_arrow

        return from_arrow_type(_agg_arrow(t.agg), prefer_timestamp_ntz=True)
    from ..native.types import UnsupportedTypeError

    raise UnsupportedTypeError(f"no spark mapping for {t.name}")


@dataclass
class NativeFilePartition(InputPartition):
    path: str
    start_offset: int = 0
    n_blocks: int = -1  # -1 = to EOF
    # raw hive-partition (key, value-string) pairs, typed at read time
    # from the declared schema — empty for unpartitioned layouts. Keys
    # travel WITH the partition because the executor-side reader copy
    # may have been pickled before a stream adopted a late-discovered
    # layout (driver-side reader mutations never reach executors).
    part_vals: tuple = ()
    part_keys: tuple = ()
    # first PHYSICAL row ordinal of this partition within its file:
    # 0 for whole-file partitions, the cumulative row count of the
    # preceding blocks for block-split ones, -1 = unknown (streaming
    # tail partitions) — delete masks and row_index_column need it
    start_row: int = -1


class NativeFileGroupPartition(InputPartition):
    """Several whole-file partitions packed into ONE Spark input
    partition (the FilePartition bin-packing model — see the
    ``max_partition_bytes`` reader option). Each member keeps its own
    hive values / row accounting; the reader chains their block
    streams and coalesces Arrow batches across file boundaries."""

    def __init__(self, parts: tuple):
        self.parts = tuple(parts)


def _partition_components(load_path: str, file_path: str) -> list:
    """``key=value`` directory components of ``file_path`` relative to
    the load directory (URL-decoded, Spark's partition-path
    convention); [] when the layout is flat. Handles URIs (posix
    separators, scheme stripped) and local paths alike."""
    import os
    import posixpath
    from urllib.parse import unquote

    from ..filesystem import is_uri, strip_scheme

    if is_uri(file_path):
        lp = strip_scheme(load_path)
        fp = strip_scheme(file_path)
        rel = posixpath.relpath(fp, lp)
        comps = rel.split("/")[:-1]
    else:
        rel = os.path.relpath(
            os.path.abspath(file_path), os.path.abspath(load_path)
        )
        comps = rel.split(os.sep)[:-1]
    out = []
    for c in comps:
        if "=" not in c:
            return []  # mixed layout: treat as unpartitioned
        k, _, v = c.partition("=")
        out.append((k, unquote(v)))
    return out


def _partition_spec(load_path: str, paths: list) -> tuple:
    """Derive the hive-partition spec from discovered files: returns
    (keys, {path: (raw values)}, {key: python_type}). Every file must
    carry the same key sequence (directory-layout drift raises — the
    same strictness as schema drift in read()); a key's type is int
    iff every discovered value parses as an integer, else str."""
    import re

    spec: dict = {}
    seqs = {
        p: _partition_components(load_path, p) for p in paths
    }
    key_seqs = {tuple(k for k, _v in comps) for comps in seqs.values()}
    if () in key_seqs:
        # some files sit outside any key=value directory: the layout
        # is not (fully) partitioned — degrade to plain columns rather
        # than fabricate NULL-ish partition values
        return [], {}, {}
    if len(key_seqs) > 1:
        raise ValueError(
            f"inconsistent partition layout under {load_path!r}: "
            f"{sorted(key_seqs)}"
        )
    keys = list(key_seqs.pop())
    for p in paths:
        spec[p] = tuple(v for _k, v in seqs[p])
    types = {}
    for j, k in enumerate(keys):
        vals = [spec[p][j] for p in paths]
        types[k] = (
            int if all(re.fullmatch(r"-?\d+", v) for v in vals) else str
        )
    return keys, spec, types


def _set_conjunction_excludes(filters, stats: dict) -> bool:
    """set(N)-index CONJUNCTION pruning: a BETWEEN arrives as two
    pushed filters, each individually satisfiable by a non-contiguous
    value set like {2, 18, 34} — only asking 'does any stored value
    satisfy ALL of this column's filters' disproves the range.
    Per-filter shapes are handled inside _filter_excludes_file; this
    adds the multi-filter case."""
    setix = stats.get("set") or {}
    if not setix or int(stats.get("rows", 0)) == 0:
        return False
    from ..native.setindex import set_excludes_conjunction

    by_col: dict = {}
    for f in filters:
        attr = getattr(f, "attribute", None)
        if isinstance(attr, tuple) and len(attr) == 1 and attr[0] in setix:
            by_col.setdefault(attr[0], []).append(f)
    for col, fs in by_col.items():
        if len(fs) >= 2 and set_excludes_conjunction(setix[col], fs):
            return True
    return False


def _filter_excludes_file(f: "Filter", stats: dict) -> bool:
    """True iff the sidecar PROVES filter ``f`` false for every row of
    the file. Conservative: unknown filter shapes, missing columns, or
    type mismatches never skip. Comparison filters reject NULL rows by
    SQL semantics, so min/max over non-null values is sufficient."""
    cols = stats.get("columns", {})
    rows = int(stats.get("rows", 0))
    if rows == 0:
        return False  # empty file costs nothing; don't reason about it
    # bloom skip index: proves definite ABSENCE for point lookups that
    # land inside the min/max range (native/bloomindex.py). Equality
    # rejects NULL rows by SQL semantics and the filter covers every
    # non-null value, so 'definitely absent' == zero matching rows.
    blooms = stats.get("bloom") or {}
    if blooms:
        from ..native.bloomindex import bloom_maybe_contains

        if (
            isinstance(f, (EqualTo, EqualNullSafe))
            and f.value is not None
            and not isinstance(f.value, bool)
        ):
            bl = blooms.get(f.attribute[0])
            if bl is not None and not bloom_maybe_contains(bl, f.value):
                return True
        if isinstance(f, In):
            bl = blooms.get(f.attribute[0])
            non_null = [v for v in f.value if v is not None]
            if (
                bl is not None
                and non_null
                and all(
                    not bloom_maybe_contains(bl, v)
                    for v in non_null
                    if not isinstance(v, bool)
                )
                and not any(isinstance(v, bool) for v in non_null)
            ):
                # NULL members of an IN list never match (NULL = x is
                # NULL, not true), so all-absent non-null members
                # prove the file matches nothing
                return True
    # set(N) skip index (ClickHouse `set(max_rows)` analogue): the
    # column's COMPLETE distinct-value list — any pushable predicate
    # no stored value satisfies is false for every row, which prunes
    # shapes min/max and bloom both miss (ranges over non-contiguous
    # value sets, string prefix/suffix/contains)
    setix = stats.get("set") or {}
    if setix:
        from ..native.setindex import set_excludes_filter

        try:
            vals = setix.get(f.attribute[0])
        except (AttributeError, IndexError, TypeError):
            vals = None
        if vals is not None and set_excludes_filter(vals, f):
            return True
    # ngrambf skip index (ClickHouse ngrambf_v1 analogue): the union of
    # the column's codepoint 3-grams proves substring predicates
    # unmatchable — any needle gram absent means no value CONTAINS the
    # needle (prefix/suffix matches are contains matches too)
    ngrams = stats.get("ngrambf") or {}
    if ngrams and isinstance(
        f, (StringContains, StringStartsWith, StringEndsWith)
    ):
        from ..native.bloomindex import ngrambf_may_match_substring

        bl = ngrams.get(f.attribute[0])
        if bl is not None and not ngrambf_may_match_substring(bl, f.value):
            return True
    # tokenbf skip index (ClickHouse tokenbf_v1 analogue): the union
    # of the column's word tokens proves token-delimited predicates
    # unmatchable — equality anchors both needle edges, startsWith/
    # endsWith one edge, contains needs interior-delimited tokens
    tokens = stats.get("tokenbf") or {}
    if tokens and isinstance(
        f,
        (StringContains, StringStartsWith, StringEndsWith, EqualTo, EqualNullSafe),
    ):
        from ..native.bloomindex import tokenbf_may_match

        bl = tokens.get(f.attribute[0])
        if bl is not None and isinstance(getattr(f, "value", None), str):
            anchored_left = isinstance(
                f, (StringStartsWith, EqualTo, EqualNullSafe)
            )
            anchored_right = isinstance(
                f, (StringEndsWith, EqualTo, EqualNullSafe)
            )
            if not tokenbf_may_match(
                bl,
                f.value,
                anchored_left=anchored_left,
                anchored_right=anchored_right,
            ):
                return True
    if isinstance(f, IsNull):
        c = cols.get(f.attribute[0])
        return c is not None and int(c.get("nulls", 1)) == 0
    if isinstance(f, IsNotNull):
        c = cols.get(f.attribute[0])
        return c is not None and int(c.get("nulls", 0)) == rows
    if isinstance(f, EqualNullSafe) and f.value is None:
        c = cols.get(f.attribute[0])
        return c is not None and int(c.get("nulls", 1)) == 0
    if not isinstance(
        f, (EqualTo, EqualNullSafe, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, In)
    ):
        return False
    c = cols.get(f.attribute[0])
    if c is None:
        return False
    mn, mx = c.get("min"), c.get("max")
    if mn is None:
        # all values NULL: every comparison filter is false
        return True

    def comparable(v) -> bool:
        if isinstance(v, bool) or v is None:
            return False
        if isinstance(v, (int, float)):
            return isinstance(mn, (int, float)) and not isinstance(mn, bool)
        if isinstance(v, str):
            return isinstance(mn, str)
        return False

    if isinstance(f, In):
        vals = list(f.value)
        return all(comparable(v) and (v < mn or v > mx) for v in vals) and bool(vals)
    v = f.value
    if not comparable(v):
        return False
    if isinstance(f, (EqualTo, EqualNullSafe)):
        return v < mn or v > mx
    if isinstance(f, GreaterThan):
        return mx <= v
    if isinstance(f, GreaterThanOrEqual):
        return mx < v
    if isinstance(f, LessThan):
        return mn >= v
    if isinstance(f, LessThanOrEqual):
        return mn > v
    return False


class ClickHouseNativeReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.spark_schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("clickhouse_native requires a path")
        self.columns: Optional[set] = None
        cols_opt = options.get("columns")
        if cols_opt:
            self.columns = {c.strip() for c in cols_opt.split(",")}
        self.lossy_uint64 = str(options.get("lossy_uint64", "false")).lower() == "true"
        self.unsupported_as_varchar = (
            str(options.get("unsupported_as_varchar", "false")).lower() == "true"
        )
        self.scrub_strings = str(options.get("scrub_strings", "false")).lower() == "true"
        self.compression = str(options.get("compression", "auto")).lower()
        self.verify_checksum = (
            str(options.get("verify_checksum", "false")).lower() == "true"
        )
        self.split_blocks = str(options.get("split_blocks", "false")).lower() == "true"
        self.target_bytes = int(options.get("target_partition_bytes", 128 * 1024 * 1024))
        self.skipping = str(options.get("skipping", "true")).lower() == "true"
        self.allow_missing_columns = (
            str(options.get("allow_missing_columns", "false")).lower() == "true"
        )
        # PREWHERE-style late materialization (ClickHouse evaluates
        # PREWHERE predicates on their own columns first and reads the
        # remaining columns only for surviving granules). Default on:
        # the fallback decode order is identical to the plain path, so
        # it is never slower than decoding everything.
        self.prewhere = str(options.get("prewhere", "true")).lower() == "true"
        # coalesce decoded blocks into larger Arrow batches before they
        # cross the Python->JVM boundary: each yielded batch pays a
        # fixed IPC/serialization cost, so ~65k-row Native blocks (the
        # ClickHouse default) under-amortize it. 32 MiB ~= several
        # blocks per hand-off; 0 disables (yield per block). The concat
        # is one memcpy at memory bandwidth — orders of magnitude
        # cheaper than the per-batch overhead it removes (SCALE.md r11)
        self.arrow_batch_bytes = int(
            options.get("arrow_batch_bytes", 32 * 1024 * 1024)
        )
        # Spark-file-source-style partition PACKING (DEFAULT ON since
        # r14): bin several small whole files into one input partition,
        # exactly the FilePartition model (maxPartitionBytes +
        # openCostInBytes + a parallelism floor). A python-DataSource
        # task occupies a JVM task thread AND a python worker process,
        # so for overhead-dominated scans the measured sweet spot is
        # about HALF the cores (SCALE.md r13: 10M rows x 32 tiny files
        # on 32 cores — per-file 24.9 M rows/s, packed-to-16 30.9
        # M rows/s; r13 VERDICT item 2 ordered the flip). Default =
        # Spark's 128 MiB maxPartitionBytes; set 0 for one partition
        # per file. Packing composes AFTER sidecar pruning (skipped
        # files never join a bin), preserves hive values per member,
        # and the parallelism floor (min_partitions ~= cores/2) keeps
        # small fixtures at one-file bins, so pruned-count tests and
        # partition-count assertions see per-file behavior unless a
        # directory has genuinely more files than the floor.
        self.max_partition_bytes = int(
            options.get("max_partition_bytes", 128 * 1024 * 1024)
        )
        self.open_cost_bytes = int(
            options.get("open_cost_bytes", 4 * 1024 * 1024)
        )
        _cpus = os.cpu_count() or 2
        self.min_partitions = int(
            options.get("min_partitions", max(1, _cpus // 2))
        )
        # ClickHouse query-complexity guards (docs: operations/settings/
        # query-complexity — max_rows_to_read / max_bytes_to_read):
        # enforced at PLANNING over the post-file-pruning estimate, so
        # a runaway full scan dies before its first task. Like the
        # server's granule estimate, this counts whole surviving files
        # (block-range pruning can only reduce the true number); rows
        # come from stats sidecars, so sidecar-less files count 0 rows
        # (never a false refusal) while bytes always count (file size
        # is always known).
        self.max_rows_to_read = int(options.get("max_rows_to_read", 0))
        self.max_bytes_to_read = int(options.get("max_bytes_to_read", 0))
        # file_column: inject the source-file basename as a constant
        # string column per partition (see infer_native_schema)
        self.file_column = (options.get("file_column") or "").strip() or None
        # row_index_column: inject the PHYSICAL per-file row ordinal
        # (the parquet _metadata.row_index analogue) — lightweight
        # deletes address rows by it, and it survives the delete mask
        # (masked rows drop, surviving ordinals stay physical)
        self.row_index_column = (
            options.get("row_index_column") or ""
        ).strip() or None
        # schema evolution metadata, loaded ONCE at plan time and
        # pickled to executors with the reader: {name: aliases},
        # {name: default literal}, and the known evolved-column set
        self.evolution = None
        if os.path.isdir(self.path):
            from ..native.tableschema import load_table_schema

            _meta = load_table_schema(self.path)
            if _meta is not None:
                self.evolution = {
                    "aliases": {
                        c["name"]: list(c.get("aliases", []))
                        for c in _meta["columns"]
                    },
                    "defaults": {
                        c["name"]: c["default"]
                        for c in _meta["columns"]
                        if "default" in c
                    },
                    "known": {c["name"] for c in _meta["columns"]},
                }
        self.pushed: List[Filter] = []
        # SAMPLE clause (ClickHouse `SAMPLE k [OFFSET m]`): the table
        # must have been written with ``sample_by`` (a sorted
        # ``_sample_hash`` column); the clause lowers to ordinary
        # range filters on that column, so file-level pruning,
        # block-range pruning AND executor-side Arrow evaluation all
        # reuse the pushed-filter machinery verbatim. Nested-sample
        # guarantee: SAMPLE 0.2 is a superset of SAMPLE 0.1 at the
        # same offset (the hash is fixed per row).
        frac_opt = options.get("sample")
        if frac_opt is not None:
            from ..native.writer import SAMPLE_HASH_COLUMN, SAMPLE_HASH_M

            if SAMPLE_HASH_COLUMN not in self.spark_schema.fieldNames():
                raise ValueError(
                    "sample requires a table written with sample_by= "
                    f"(no {SAMPLE_HASH_COLUMN} column found)"
                )
            frac = float(frac_opt)
            off = float(options.get("sample_offset", "0"))
            if not (0.0 < frac <= 1.0) or off < 0.0 or off + frac > 1.0:
                raise ValueError(
                    f"sample fraction must be in (0, 1] and "
                    f"offset+fraction <= 1, got sample={frac} "
                    f"offset={off}"
                )
            lo = int(off * SAMPLE_HASH_M)
            hi = int((off + frac) * SAMPLE_HASH_M)
            if lo > 0:
                self.pushed.append(
                    GreaterThanOrEqual((SAMPLE_HASH_COLUMN,), lo)
                )
            if hi < SAMPLE_HASH_M:
                self.pushed.append(LessThan((SAMPLE_HASH_COLUMN,), hi))
        # hive-style key=value layout: keys/types fixed at plan time
        # (driver-side, survives pickling to executors); per-file
        # values travel on each NativeFilePartition
        try:
            paths = _resolve_paths(self.path)
        except OSError:
            paths = []
        self.part_keys, self._part_vals_by_path = (
            _partition_spec(self.path, paths)[:2] if paths else ([], {})
        )
        # plan-time listing snapshot: batch reads are snapshot-semantic
        # (see partitions()), so the recursive walk from this __init__
        # is reused there instead of listing the directory again — on
        # an object store that is one LIST per query, not two
        self._plan_paths = paths

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Absorb simple predicates; they are evaluated on Arrow batches
        executor-side so filtered rows never cross Python->JVM."""
        for f in filters:
            if self._filter_supported(f):
                self.pushed.append(f)
            else:
                yield f

    def _filter_supported(self, f: Filter) -> bool:
        simple = (
            EqualTo,
            EqualNullSafe,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
            In,
            IsNull,
            IsNotNull,
            StringContains,
            StringStartsWith,
            StringEndsWith,
        )
        if isinstance(f, Not):
            return self._filter_supported(f.child) and not isinstance(f.child, Not)
        if not isinstance(f, simple):
            return False
        attr = f.attribute
        return len(attr) == 1  # no nested columns

    def _prune_paths(self, paths: list) -> list:
        """File-level data skipping: drop files whose min/max sidecar
        (written by our writer, ``_<name>.stats.json``) proves every
        pushed filter false for every row — the Native-format analogue
        of parquet footer stats + partition pruning, evaluated ONCE at
        planning so skipped files cost zero tasks. Files without a
        sidecar are always read; an empty result keeps one file so the
        plan retains a partition (its executor-side filter yields 0
        rows)."""
        kept = []
        for p in paths:
            st = self._load_sidecar(p)
            if st is None:
                kept.append(p)
                continue
            st = self._evolved_stats(st)
            try:
                excluded = any(
                    _filter_excludes_file(flt, st) for flt in self.pushed
                ) or _set_conjunction_excludes(self.pushed, st)
            except (KeyError, TypeError, ValueError):
                excluded = False  # malformed sidecar: never skip
            if excluded:
                continue
            kept.append(p)
        return kept if kept else paths[:1]

    @staticmethod
    def _partition_array(key: str, raw: str, n: int, target) -> "pa.Array":
        """The hive-path value ``raw`` of ``key`` as an ``n``-row
        constant column, typed like its declared column (string when
        the projection leaves it out)."""
        import pyarrow as pa

        idx = target.get_field_index(key)
        typ = target.field(idx).type if idx >= 0 else pa.string()
        return pa.repeat(pa.scalar(raw).cast(typ), n)

    def _vals_for_path(self, p: str) -> tuple:
        """Partition values for ``p``: from the plan-time snapshot, or
        re-derived from the path for files that appeared after
        ``__init__`` (the streaming reader's normal case — including a
        stream planned on an EMPTY directory, where the layout itself
        is discovered from the first late file, typed from the declared
        schema). A late file whose directory layout does not match the
        established keys is a hard error — silently reading it would
        mislabel its rows."""
        vals = self._part_vals_by_path.get(p)
        if vals is not None:
            return vals
        comps = _partition_components(self.path, p)
        if not self.part_keys:
            keys = [k for k, _v in comps]
            declared = set(self.spark_schema.fieldNames())
            if not comps or not all(k in declared for k in keys):
                return ()
            # adopt the layout; value types follow the declared schema
            self.part_keys = keys
        if [k for k, _v in comps] != self.part_keys:
            raise ValueError(
                f"file {p!r} does not follow the partition layout "
                f"{self.part_keys} discovered at plan time"
            )
        return tuple(v for _k, v in comps)

    def _prune_partition_dirs(self, paths: list) -> list:
        """Hive-partition pruning: a pushed filter on a partition
        column is decided entirely by the path, so excluded files cost
        zero tasks AND zero IO (no sidecar read needed). Reuses the
        sidecar exclusion logic with a synthesized one-row stat
        (min == max == the path value)."""
        keyset = set(self.part_keys)

        def attr(f) -> Optional[str]:
            # Not has no .attribute; its child does (conservative: a
            # wrapped filter shape _filter_excludes_file doesn't prove
            # simply never prunes)
            child = f.child if isinstance(f, Not) else f
            a = getattr(child, "attribute", None)
            return a[0] if a else None

        part_filters = [f for f in self.pushed if attr(f) in keyset]
        if not part_filters:
            return paths
        target = self._arrow_schema()
        kept = []
        for p in paths:
            vals = self._part_vals_by_path.get(p, ())
            stats = {"rows": 1, "columns": {}}
            for k, v in zip(self.part_keys, vals):
                typed = self._partition_array(k, v, 1, target)[0].as_py()
                stats["columns"][k] = {"min": typed, "max": typed, "nulls": 0}
            if any(_filter_excludes_file(f, stats) for f in part_filters):
                continue
            kept.append(p)
        return kept if kept else paths[:1]

    def partitions(self) -> Sequence[InputPartition]:
        if self.part_keys:
            # reuse the plan-time listing: re-resolving here could pair
            # a freshly-appeared file with no snapshot values (and costs
            # another recursive walk); batch reads are snapshot-semantic
            paths = sorted(self._part_vals_by_path)
            paths = self._prune_partition_dirs(paths)
        elif self._plan_paths:
            # same snapshot semantics for flat layouts: one listing per
            # plan (the __init__ walk), not one per partitions() call.
            # BUT: pyspark keeps ONE reader instance per view/relation
            # for its whole lifetime, so a snapshot taken at CREATE
            # VIEW time survives an INSERT OVERWRITE / compaction that
            # deleted the listed files (SELECT via the view then reads
            # ghosts). Probe the snapshot's endpoints — two stats —
            # and re-list when either vanished; a fresh INSERT (append)
            # keeps old names so the common case stays one-listing.
            import os as _os

            from ..filesystem import is_uri as _is_uri

            probe = (self._plan_paths[0], self._plan_paths[-1])
            if any(_is_uri(p) for p in probe) or all(
                _os.path.exists(p) for p in probe
            ):
                # URI paths: skip the stat probe (an object-store
                # exists() is an RPC; stale listings there surface as
                # loud read errors, same as before this defense)
                paths = self._plan_paths
            else:
                paths = _resolve_paths(self.path)
                self._plan_paths = paths
        else:
            # __init__ saw nothing (e.g. the directory appeared after
            # planning started) — fall back to a fresh listing
            paths = _resolve_paths(self.path)
        if self.skipping and self.pushed:
            paths = self._prune_paths(paths)
        if self.max_rows_to_read or self.max_bytes_to_read:
            est_rows = 0
            est_bytes = 0
            from ..filesystem import file_size as _fsize

            for p in paths:
                st = self._load_sidecar(p)
                if st is not None:
                    est_rows += int(st.get("rows", 0))
                try:
                    est_bytes += _fsize(p)
                except OSError:
                    pass
            if self.max_rows_to_read and est_rows > self.max_rows_to_read:
                raise ValueError(
                    f"query would read ~{est_rows} rows from "
                    f"{len(paths)} files, over max_rows_to_read="
                    f"{self.max_rows_to_read} (add filters the sidecar "
                    "index can prune on, or raise the limit)"
                )
            if self.max_bytes_to_read and est_bytes > self.max_bytes_to_read:
                raise ValueError(
                    f"query would read ~{est_bytes} bytes from "
                    f"{len(paths)} files, over max_bytes_to_read="
                    f"{self.max_bytes_to_read}"
                )

        def mk(
            p: str, start: int = 0, n_blocks: int = -1, start_row: int = 0
        ) -> NativeFilePartition:
            vals = self._vals_for_path(p)
            return NativeFilePartition(
                p, start, n_blocks, vals, tuple(self.part_keys), start_row
            )

        if not self.split_blocks or len(paths) > 8:
            return self._pack_partitions([mk(p) for p in paths])
        from ..native.codec import scan_block_offsets
        from ..native.compress import is_compressed_file

        parts: list[NativeFilePartition] = []
        for p in paths:
            if self.compression != "none" and is_compressed_file(p):
                # compressed frames are not byte-splittable: whole file
                # is one partition; parallelism comes from many files
                parts.append(mk(p))
                continue
            from ..filesystem import file_size

            size = file_size(p)
            # per-block stats index from the writer's sidecar (the
            # parquet row-group analogue): gives offsets WITHOUT a
            # driver header scan, and lets pushed filters prune block
            # ranges INSIDE the file
            entries = self._sidecar_blocks(p, size)
            if entries is None:
                entries = [
                    (off, rows, None) for off, rows in scan_block_offsets(p)
                ]
            if not entries:
                continue
            if self.skipping and self.pushed:
                def _block_excluded(rows: int, st: dict) -> bool:
                    # _sidecar_blocks validates offsets/rows but not
                    # column-stat contents; malformed entries degrade
                    # to "never skip" (same guard as _prune_paths)
                    try:
                        return any(
                            _filter_excludes_file(
                                f,
                                self._evolved_stats(
                                    {"rows": rows, "columns": st}
                                ),
                            )
                            for f in self.pushed
                        )
                    except (KeyError, TypeError, ValueError):
                        return False

                kept = [
                    i
                    for i, (_off, rows, st) in enumerate(entries)
                    if st is None or not _block_excluded(rows, st)
                ]
            else:
                kept = list(range(len(entries)))
            # group CONSECUTIVE surviving blocks into ~target_bytes runs
            # (a pruned gap ends the run: n_blocks counts sequentially
            # from start_offset)
            # physical first-row ordinal per block (delete masks and
            # row_index_column address physical rows)
            row_starts = [0]
            for _off, rows, _st in entries:
                row_starts.append(row_starts[-1] + rows)
            run_start = None
            run_len = 0
            run_bytes = 0
            run_row = 0
            prev_i = None
            for i in kept:
                off = entries[i][0]
                end = entries[i + 1][0] if i + 1 < len(entries) else size
                if run_start is not None and (
                    prev_i != i - 1 or run_bytes >= self.target_bytes
                ):
                    parts.append(mk(p, run_start, run_len, run_row))
                    run_start, run_len, run_bytes = None, 0, 0
                if run_start is None:
                    run_start = off
                    run_row = row_starts[i]
                run_len += 1
                run_bytes += end - off
                prev_i = i
            if run_start is not None:
                parts.append(mk(p, run_start, run_len, run_row))
        # every pushed filter is re-applied executor-side, so an
        # over-pruned empty plan only costs correctness if we return
        # NOTHING — keep one whole-file partition as in _prune_paths
        if not parts and paths:
            parts.append(mk(paths[0]))
        return self._pack_partitions(parts)

    def _pack_partitions(self, parts: list) -> list:
        """Bin whole-file partitions into ~target-byte groups (Spark's
        FilePartition formula: target = min(max_partition_bytes,
        max(open_cost, ceil(total_weighted / min_partitions))) with
        every file weighted size + open_cost). DEFAULT ON since r14
        (max_partition_bytes = 128 MiB, Spark's maxPartitionBytes
        default; set max_partition_bytes=0 for the pre-r14 one-
        partition-per-file behavior); block-split ranges are already
        byte-targeted and pass through unpacked. Packing composes
        AFTER sidecar pruning, so skipped files never join a bin."""
        if self.max_partition_bytes <= 0 or len(parts) <= 1:
            return parts
        import math

        from ..filesystem import file_size

        whole = [
            p for p in parts if p.start_offset == 0 and p.n_blocks == -1
        ]
        split = [
            p for p in parts if not (p.start_offset == 0 and p.n_blocks == -1)
        ]
        if len(whole) <= 1:
            return parts
        weights = []
        for p in whole:
            try:
                sz = file_size(p.path)
            except OSError:
                sz = 0
            weights.append(sz + self.open_cost_bytes)
        target = min(
            self.max_partition_bytes,
            max(
                self.open_cost_bytes,
                math.ceil(sum(weights) / max(1, self.min_partitions)),
            ),
        )
        packed: list = []
        bin_parts: list = []
        bin_w = 0
        for p, w in zip(whole, weights):
            if bin_parts and bin_w + w > target:
                packed.append(
                    bin_parts[0]
                    if len(bin_parts) == 1
                    else NativeFileGroupPartition(tuple(bin_parts))
                )
                bin_parts, bin_w = [], 0
            bin_parts.append(p)
            bin_w += w
        if bin_parts:
            packed.append(
                bin_parts[0]
                if len(bin_parts) == 1
                else NativeFileGroupPartition(tuple(bin_parts))
            )
        # the chosen bin count depends on the host (min_partitions
        # defaults to cores/2), so make the plan shape visible instead
        # of silently host-dependent (r14 ADVICE): one log line per
        # planned scan, and the count kept on the reader for tests
        self.last_pack_info = (len(whole), len(packed), len(split))
        import logging

        logging.getLogger(__name__).info(
            "clickhouse_native scan: packed %d whole files into %d "
            "partitions (+%d block-split) target=%d bytes "
            "min_partitions=%d",
            len(whole), len(packed), len(split), target,
            self.min_partitions,
        )
        return packed + split

    def _evolved_stats(self, st: dict) -> dict:
        """Alias-aware view of a (cached, shared) sidecar dict: an old
        part's stats live under the PRIOR physical name — copy them
        under the table name so pushed filters on renamed columns
        still prune.  Never mutates the cached dict."""
        if not self.evolution:
            return st
        alias_of = self.evolution["aliases"]
        out = dict(st)
        for key in ("columns", "bloom", "ngrambf", "set", "tokenbf"):
            m = st.get(key)
            if not isinstance(m, dict):
                continue
            add = {}
            for name, aliases in alias_of.items():
                if name in m:
                    continue
                for a in aliases:
                    if a in m:
                        add[name] = m[a]
                        break
            if add:
                out[key] = {**m, **add}
        return out

    def _load_sidecar(self, p: str):
        """Parsed stats sidecar for ``p`` (None if absent/corrupt).
        Cached PROCESS-wide keyed by (path, mtime_ns, size) — r11's
        bloom/ngrambf entries make sidecars ~100x bigger than bare
        min/max, so re-parsing per query on wide directories is real
        planning cost; the stat key makes mutation rewrites (new
        mtime) miss naturally. Bounded FIFO-ish: cleared wholesale
        past 4096 entries (a few hundred MB worst case)."""
        import json

        from ..native.writer import stats_sidecar_path

        side_path = stats_sidecar_path(p)
        try:
            st = os.stat(side_path)
            key = (side_path, st.st_mtime_ns, st.st_size)
        except OSError:
            return None
        cached = _SIDECAR_CACHE.get(key)
        if cached is not None:
            return cached[0]
        try:
            with open(side_path) as f:
                side = json.load(f)
        except (OSError, ValueError):
            side = None
        if len(_SIDECAR_CACHE) >= 4096:
            _SIDECAR_CACHE.clear()
        _SIDECAR_CACHE[key] = (side,)
        return side

    def _sidecar_blocks(self, p: str, size: int):
        """Validated per-block index from the sidecar, or None.
        ``file_bytes`` must match the current size — a file that grew
        after its sidecar was written (streaming append) falls back to
        the header scan. Malformed entries (foreign writers, hand
        edits) degrade to None, never raise."""
        side = self._load_sidecar(p)
        if not side:
            return None
        try:
            blocks = side.get("blocks")
            if not blocks or int(side.get("file_bytes", -1)) != size:
                return None
            return [
                (int(b["offset"]), int(b["rows"]), b.get("columns") or {})
                for b in blocks
            ]
        except (KeyError, TypeError, ValueError):
            return None

    # -- executor side ------------------------------------------------

    def _arrow_schema(self) -> "pa.Schema":
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_type

        fields = []
        for f in self.spark_schema.fields:
            if self.columns is not None and f.name not in self.columns:
                continue
            fields.append(pa.field(f.name, to_arrow_type(f.dataType)))
        return pa.schema(fields)

    def read(self, partition: NativeFilePartition) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        if isinstance(partition, NativeFileGroupPartition):
            from itertools import chain

            # one chained block stream: arrow_batch_bytes coalescing
            # below amortizes the Python->JVM hand-off ACROSS the
            # grouped files, not just within each
            gen = chain.from_iterable(
                self._read_blocks(sp) for sp in partition.parts
            )
        else:
            gen = self._read_blocks(partition)
        target = self.arrow_batch_bytes
        if target <= 0:
            yield from gen
            return
        buf: list = []
        nbytes = 0
        for b in gen:
            buf.append(b)
            nbytes += b.nbytes
            if nbytes >= target:
                yield self._concat_batches(pa, buf)
                buf, nbytes = [], 0
        if buf:
            yield self._concat_batches(pa, buf)

    def _file_column_value(self, file_path: str) -> str:
        """LOAD-RELATIVE path of the file (equal to the basename on
        flat layouts, ``key=value/.../name`` on hive trees) — a unique
        per-file id across partition directories, which per-part
        projections need for attribution."""
        try:
            rel = os.path.relpath(file_path, self.path)
        except ValueError:
            return os.path.basename(file_path)
        if rel.startswith(".."):
            return os.path.basename(file_path)
        return rel.replace(os.sep, "/")

    @staticmethod
    def _concat_batches(pa, batches: list) -> "pa.RecordBatch":
        if len(batches) == 1:
            return batches[0]
        tbl = pa.Table.from_batches(batches).combine_chunks()
        out = tbl.to_batches()
        assert len(out) == 1
        return out[0]

    def _read_blocks(
        self, partition: NativeFilePartition
    ) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        want = self.columns
        if self.file_column and want is not None:
            # path-derived, never in the file blocks
            want = {c for c in want if c != self.file_column} or None
        if self.row_index_column and want is not None:
            want = {c for c in want if c != self.row_index_column} or None
        if self.evolution and want is not None:
            # old parts hold a wanted column under its prior physical
            # name — decode whichever epoch's name the file has (a
            # file carries at most one of them)
            extra = set()
            for c in want:
                extra.update(self.evolution["aliases"].get(c, ()))
            want = want | extra
        from ..native.delmask import load_delmask

        mask = load_delmask(partition.path)
        if mask is not None and partition.start_offset and partition.start_row < 0:
            raise ValueError(
                f"delete mask present on {partition.path!r} but this "
                "partition's physical start row is unknown — cannot "
                "apply the mask without misaligning rows"
            )
        target = self._arrow_schema()
        from ..native.compress import maybe_compressed_reader

        from ..filesystem import open_input

        with open_input(partition.path) as f:
            if partition.start_offset:
                # block-split partitions only exist for uncompressed files
                f.seek(partition.start_offset)
                buf = f
            else:
                buf = maybe_compressed_reader(
                    f,
                    compression=self.compression,
                    verify_checksum=self.verify_checksum,
                )
            marks = None
            if buf is f:
                # raw uncompressed stream: block byte offsets are
                # meaningful, so the string-marks sidecar (if present
                # and not stale) can skip the per-row varint walks
                from ..native.marks import MarksReader

                marks = MarksReader.open(partition.path)
            part_val = dict(
                zip(partition.part_keys or self.part_keys, partition.part_vals)
            )
            blocks = self._iter_blocks_prewhere(
                buf,
                want,
                part_val,
                target,
                marks_reader=marks,
                row=max(0, partition.start_row),
                delmask=mask,
            )
            n = 0
            for blk in blocks:
                n += 1
                stop = partition.n_blocks >= 0 and n >= partition.n_blocks
                if blk is None:  # prewhere-dead block: payload never decoded
                    if stop:
                        break
                    continue
                batch = blk.to_record_batch()
                # align column order + types with the declared schema;
                # hive-partition columns are path-derived constants
                # (keys from the partition itself — see NativeFilePartition)
                arrays = []
                for fld in target:
                    if fld.name == self.file_column:
                        arrays.append(
                            pa.array(
                                [self._file_column_value(partition.path)]
                                * batch.num_rows,
                                type=fld.type,
                            )
                        )
                        continue
                    if fld.name in part_val:
                        arrays.append(
                            self._partition_array(
                                fld.name, part_val[fld.name], batch.num_rows, target
                            )
                        )
                        continue
                    idx = batch.schema.get_field_index(fld.name)
                    if idx < 0 and self.evolution is not None and (
                        fld.name in self.evolution["known"]
                    ):
                        # evolved resolution: prior physical name first
                        # (RENAME), then the ADD default, else NULLs
                        for alias in self.evolution["aliases"].get(
                            fld.name, ()
                        ):
                            idx = batch.schema.get_field_index(alias)
                            if idx >= 0:
                                break
                        if idx < 0:
                            dv = self.evolution["defaults"].get(fld.name)
                            if dv is None:
                                arrays.append(
                                    pa.nulls(batch.num_rows, fld.type)
                                )
                            else:
                                arrays.append(
                                    pa.array(
                                        [dv] * batch.num_rows, type=fld.type
                                    )
                                )
                            continue
                    if idx < 0:
                        if self.allow_missing_columns:
                            # additive schema evolution: files written
                            # before a column existed read it as NULLs
                            arrays.append(pa.nulls(batch.num_rows, fld.type))
                            continue
                        raise ValueError(
                            f"column {fld.name!r} missing from block in "
                            f"{partition.path!r} (file schema drift? schema() "
                            f"inspects only the first file — pass "
                            f"allow_missing_columns=true for additive evolution)"
                        )
                    col = batch.column(idx)
                    if col.type != fld.type:
                        col = col.cast(fld.type)
                    arrays.append(col)
                batch = self._apply_filters(
                    pa.RecordBatch.from_arrays(arrays, schema=target)
                )
                if batch.num_rows:
                    yield batch
                if stop:
                    break

    def _prewhere_attr(self, f: Filter) -> str:
        return f.child.attribute[0] if isinstance(f, Not) else f.attribute[0]

    def _iter_blocks_prewhere(
        self, buf, want, part_val, target, marks_reader=None, row=0, delmask=None
    ):
        """The reader's only block loop, over ``codec.read_block``
        (through ``codec.iter_blocks``).

        Yields ``None`` for a block PREWHERE proved dead (the caller
        still counts it — block-range partitions index sequential block
        positions), else the block with its delete-masked rows dropped
        and the ``row_index_column`` appended (``n_rows`` keeps the
        block's wire count). ``row`` is the physical ordinal of the
        first row; dead blocks advance it too.

        PREWHERE-style late materialization is the read-time analogue
        of the planning-time sidecar pruning (ClickHouse evaluates
        PREWHERE predicates first and reads the remaining columns only
        for surviving granules — here the granule is the Native block).
        ``read_block`` decodes the predicate columns in file order and,
        once the last of them is decoded, asks ``_block_survives``; a
        dead block's remaining columns are skipped, not decoded. It
        covers what planning-time stats cannot: files without sidecars,
        string equality/IN/prefix predicates, and residual ranges
        inside a partially-pruned file."""
        import numpy as np
        import pyarrow as pa

        from ..native.codec import BlockColumn, iter_blocks
        from ..native.delmask import mask_bits
        from ..native.types import CHType

        prewhere = None
        # evolved parts map physical names to table columns through
        # aliases and defaults; the survival test sees physical names only
        if self.prewhere and self.pushed and self.evolution is None:
            # hive-partition attrs never appear in the file; their
            # constants join the survival test instead
            names = {self._prewhere_attr(f) for f in self.pushed} - set(part_val)
            prewhere = (names, lambda b: self._block_survives(b, part_val, target))
        for blk in iter_blocks(
            buf,
            columns=want,
            scrub_strings=self.scrub_strings,
            lossy_uint64=self.lossy_uint64,
            unsupported_as_varchar=self.unsupported_as_varchar,
            marks_reader=marks_reader,
            prewhere=prewhere,
        ):
            first, row = row, row + blk.n_rows
            if blk.dead:
                yield None
                continue
            if self.row_index_column:
                blk.columns.append(
                    BlockColumn(
                        name=self.row_index_column,
                        type_str="Int64",
                        ch_type=CHType("Int64"),
                        array=pa.array(np.arange(first, row, dtype=np.int64)),
                    )
                )
            if delmask is not None:
                keep = mask_bits(delmask, first, blk.n_rows)
                if not keep.all():
                    keep = pa.array(keep)
                    for c in blk.columns:
                        c.array = c.array.filter(keep)
            yield blk

    def _block_survives(self, blk, part_val, target) -> bool:
        """True iff any row of the block can pass the pushed filters,
        judged on its decoded columns plus the hive-partition
        constants. Row-level filtering still happens downstream in
        ``_apply_filters`` — this only licenses skipping dead blocks."""
        import pyarrow as pa
        import pyarrow.compute as pc

        arrays, names = [], []
        for c in blk.columns:
            arr = c.array
            idx = target.get_field_index(c.name)
            if idx >= 0 and arr.type != target.field(idx).type:
                arr = arr.cast(target.field(idx).type)
            arrays.append(arr)
            names.append(c.name)
        for key, raw in part_val.items():
            arrays.append(self._partition_array(key, raw, blk.n_rows, target))
            names.append(key)
        mask = self._filters_mask(pa.RecordBatch.from_arrays(arrays, names=names))
        return mask is None or bool(pc.any(mask).as_py())

    def _filters_mask(self, batch: "pa.RecordBatch"):
        """The conjunction of every pushed filter over ``batch``, NULL
        counted as false; None when nothing is pushed."""
        import pyarrow.compute as pc

        mask = None
        for f in self.pushed:
            m = self._filter_mask(batch, f)
            mask = m if mask is None else pc.and_kleene(mask, m)
        return None if mask is None else pc.fill_null(mask, False)

    def _apply_filters(self, batch: "pa.RecordBatch") -> "pa.RecordBatch":
        mask = self._filters_mask(batch)
        return batch if mask is None else batch.filter(mask)

    def _filter_mask(self, batch: "pa.RecordBatch", f: Filter):
        import pyarrow as pa
        import pyarrow.compute as pc

        if isinstance(f, Not):
            return pc.invert(self._filter_mask(batch, f.child))
        fidx = batch.schema.get_field_index(f.attribute[0])
        if fidx < 0:
            raise ValueError(
                f"pushed filter references column {f.attribute[0]!r} absent "
                "from the decoded batch (add it to the 'columns' option)"
            )
        col = batch.column(fidx)
        if isinstance(f, IsNull):
            return pc.is_null(col)
        if isinstance(f, IsNotNull):
            return pc.is_valid(col)
        if isinstance(f, In):
            return pc.is_in(col, value_set=pa.array(list(f.value), type=col.type))
        if isinstance(f, StringContains):
            return pc.match_substring(col, f.value)
        if isinstance(f, StringStartsWith):
            return pc.starts_with(col, f.value)
        if isinstance(f, StringEndsWith):
            return pc.ends_with(col, f.value)
        val = pa.scalar(f.value, type=col.type) if f.value is not None else None
        if isinstance(f, EqualTo):
            return pc.equal(col, val)
        if isinstance(f, EqualNullSafe):
            if f.value is None:
                return pc.is_null(col)
            return pc.and_kleene(pc.is_valid(col), pc.fill_null(pc.equal(col, val), False))
        if isinstance(f, GreaterThan):
            return pc.greater(col, val)
        if isinstance(f, GreaterThanOrEqual):
            return pc.greater_equal(col, val)
        if isinstance(f, LessThan):
            return pc.less(col, val)
        if isinstance(f, LessThanOrEqual):
            return pc.less_equal(col, val)
        raise ValueError(f"unsupported pushed filter {f}")


class ClickHouseNativeStreamReader(DataSourceStreamReader):
    """Micro-batch streaming over a growing directory of Native files —
    ``spark.readStream.format("clickhouse_native").load(dir)``.

    The reference is batch-only; this is the Structured Streaming
    analogue SURVEY.md §2.2 sketches: an offset is the per-file count
    of complete blocks seen, a micro-batch is the new block ranges
    since the last offset. Files may keep growing (blocks are
    self-delimiting, a truncated tail block is simply not counted
    yet) and new files may appear at any time.

    Scale note: offset discovery is a header-skip scan (no payload
    decode) on the driver; block decoding happens executor-side via
    the same partition reader as the batch path. Compressed files are
    treated as single atomic units (frames are not block-indexable) —
    they must be fully written when first discovered.
    """

    def __init__(self, schema: StructType, options: dict):
        self._batch = ClickHouseNativeReader(schema, options)
        self.path = self._batch.path

    def initialOffset(self) -> dict:
        return {"files": {}}

    @staticmethod
    def _entry(v) -> dict:
        """Normalize an offset entry; {'n': blocks, 'bytes': consumed}.
        'bytes' makes the offset self-contained: recovery after a
        driver restart re-derives the seek position from the
        checkpointed JSON alone (never from in-memory state). -1 bytes
        marks an unsplittable (compressed) whole file."""
        if isinstance(v, dict):
            return v
        return {"n": int(v), "bytes": 0}  # legacy int offsets: re-read

    def latestOffset(self) -> dict:
        from ..native.codec import scan_blocks
        from ..native.compress import is_compressed_file

        files = {}
        for p in _resolve_paths(self.path):
            try:
                if is_compressed_file(p):
                    # atomic unit: one pseudo-block for the whole file
                    files[p] = {"n": 1, "bytes": -1}
                else:
                    # truncation-safe: a mid-write tail block is not
                    # counted yet, and the consumed bytes end where the
                    # next block (if any) starts
                    offsets, end_bytes = scan_blocks(p)
                    files[p] = {"n": len(offsets), "bytes": end_bytes}
            except (OSError, ValueError):
                continue  # not readable yet; pick up next batch
        return {"files": files}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        done = start.get("files", {})
        parts: list[NativeFilePartition] = []
        for p, v_end in end.get("files", {}).items():
            e = self._entry(v_end)
            s = self._entry(done[p]) if p in done else {"n": 0, "bytes": 0}
            if e["n"] <= s["n"]:
                continue
            # hive partition values travel with every stream partition
            # too (files typically appear AFTER the reader was planned,
            # so they are re-derived from the path; _vals_for_path may
            # also ADOPT a late-discovered layout, so read keys after)
            vals = self._batch._vals_for_path(p)
            keys = tuple(self._batch.part_keys)
            if e["bytes"] == -1:
                # compressed whole file
                parts.append(
                    NativeFilePartition(p, part_vals=vals, part_keys=keys)
                )
            else:
                # seek position comes from the CHECKPOINTED start offset,
                # so recovery after restart replays exactly the committed
                # range — no driver-memory state involved
                parts.append(
                    NativeFilePartition(p, s["bytes"], e["n"] - s["n"], vals, keys)
                )
        # Spark requires >=1 partition per micro-batch; emit an empty
        # no-op range when nothing is new
        if not parts:
            parts.append(NativeFilePartition("", 0, 0))
        return parts

    def read(self, partition: NativeFilePartition) -> Iterator["pa.RecordBatch"]:
        if not partition.path:
            return iter(())
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass


@dataclass
class NativeWriteCommit(WriterCommitMessage):
    paths: tuple
    rows: int


class _FileSink:
    """One Native output file: lazily opened on the first batch,
    streaming block writes, incremental min/max/null sidecar merge —
    the state the writer keeps per output file (one per task, or one
    per partition combo per task under ``partition_by``)."""

    def __init__(
        self,
        fname: str,
        compression,
        block_rows: int,
        index_bloom: tuple = (),
        index_ngrambf: tuple = (),
        index_set: tuple = (),
        index_tokenbf: tuple = (),
    ):
        from ..native.marks import MarksRecorder
        from ..native.writer import BlockStatsRecorder

        self.fname = fname
        self.compression = compression
        self.block_rows = block_rows
        self.rows = 0
        self._rec = BlockStatsRecorder(
            index_bloom, index_ngrambf, index_set, index_tokenbf
        )
        self._mrec = MarksRecorder()
        self._ch_types = None
        self._raw = None
        self._buf = None

    def write_batch(self, batch: "pa.RecordBatch") -> None:
        import io

        from ..native.types import from_arrow
        from ..native.writer import write_native_stream

        if batch.num_rows == 0:
            # an empty batch would emit a header-only block mid-file
            # (write_native_stream resets wrote_any per call); skip it —
            # an all-empty sink writes nothing and finalize() removes
            # the file
            return
        if self._raw is None:
            os.makedirs(os.path.dirname(self.fname), exist_ok=True)
            self._raw = io.BufferedWriter(
                open(self.fname, "wb"), buffer_size=1 << 20
            )
            self._buf = self._raw
            if self.compression and self.compression != "none":
                from ..native.compress import CompressedWriter

                self._buf = CompressedWriter(self._raw, method=self.compression)
        if self._ch_types is None:
            self._ch_types = [from_arrow(fld.type) for fld in batch.schema]
            self._mrec.set_ch_types(batch.schema.names, self._ch_types)
        # the recorder both builds the per-block index and maintains
        # the file-level merge — ONE stats pass, NaN-sound drops (a
        # previous inline merge kept stale min/max when a later batch
        # held NaN); block offsets are meaningless inside compressed
        # frames, so compressed sinks skip the index but keep the merge
        # by recording with a dummy offset

        def _on_block(offset: int, piece) -> None:
            self._rec.on_block(offset, piece)
            self._mrec.on_block(offset, piece)

        self.rows += write_native_stream(
            self._buf,
            [batch],
            ch_types=self._ch_types,
            block_rows=self.block_rows,
            on_block=_on_block if self._buf is self._raw else None,
        )
        if self._buf is not self._raw:
            self._rec.on_block(-1, batch)
            self._rec.blocks.clear()

    def finalize(self) -> Optional[str]:
        """Flush + sidecar; returns the path, or None for an empty sink."""
        import json

        from ..native.writer import stats_sidecar_path

        if self._raw is None:
            return None
        self._buf.flush()
        if self._buf is not self._raw:
            self._raw.flush()
        self._raw.close()
        if self.rows == 0:
            os.remove(self.fname)
            return None
        side = self._rec.sidecar(self.fname)
        side["rows"] = self.rows
        tmp = stats_sidecar_path(self.fname) + ".tmp"
        with open(tmp, "w") as sf:
            json.dump(side, sf)
        os.replace(tmp, stats_sidecar_path(self.fname))
        if self._mrec.write(self.fname) is None:
            # no marks recorded (compressed sink / no eligible column):
            # drop any stale sidecar a previous same-path write left
            from ..native.marks import marks_sidecar_path

            try:
                os.remove(marks_sidecar_path(self.fname))
            except OSError:
                pass
        return self.fname

    def close_on_error(self) -> None:
        """Best-effort handle close for the failure path (the task is
        about to re-raise; abort() removes any committed paths)."""
        try:
            if self._raw is not None:
                self._raw.close()
        except Exception:
            pass


class ClickHouseNativeWriter(DataSourceArrowWriter):
    """One Native file per Spark partition under the target directory —
    the writer the reference lacks (SURVEY.md §2.1 'Sinks: none').
    With ``option("partition_by", "col1,col2")`` rows fan out into
    hive-style ``col1=v/col2=w/`` subdirectories (partition columns
    dropped from the file payload, Spark's parquet convention) that
    the reader rediscovers and prunes — the write side of the 100 TB
    layout."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("clickhouse_native write requires a path")
        self.block_rows = int(options.get("block_rows", 65_409))
        self.compression = options.get("compression")  # None | lz4 | zstd | none
        self.partition_by: List[str] = [
            c.strip() for c in str(options.get("partition_by", "")).split(",") if c.strip()
        ]
        self.sort_by: List[str] = [
            c.strip() for c in str(options.get("sort_by", "")).split(",") if c.strip()
        ]
        # bloom skip index columns (native/bloomindex.py): equality/IN
        # pruning on scattered values min/max cannot prove absent
        self.index_bloom: tuple = tuple(
            c.strip()
            for c in str(options.get("index_bloom", "")).split(",")
            if c.strip()
        )
        # ngrambf skip index columns: substring-predicate pruning
        self.index_ngrambf: tuple = tuple(
            c.strip()
            for c in str(options.get("index_ngrambf", "")).split(",")
            if c.strip()
        )
        # set skip index columns (native/setindex.py): complete
        # distinct-value lists for low-cardinality columns
        self.index_set: tuple = tuple(
            c.strip()
            for c in str(options.get("index_set", "")).split(",")
            if c.strip()
        )
        # tokenbf skip index columns: word-token predicate pruning
        self.index_tokenbf: tuple = tuple(
            c.strip()
            for c in str(options.get("index_tokenbf", "")).split(",")
            if c.strip()
        )
        # SAMPLE key (writer.py _with_sample_hash): materializes a
        # sorted _sample_hash column so the reader's SAMPLE clause can
        # prune block ranges. The hash sort IS the file order, so it
        # excludes sort_by; composes with partition_by (the global
        # hash sort survives the per-combo take(), so every partition
        # file stays hash-sorted).
        self.sample_by = (options.get("sample_by") or "").strip() or None
        names = [f.name for f in schema.fields]
        if self.sample_by:
            from ..native.writer import SAMPLE_HASH_COLUMN

            if self.sample_by not in names:
                raise ValueError(
                    f"sample_by column {self.sample_by!r} not in schema"
                )
            if self.sort_by:
                raise ValueError(
                    "sample_by and sort_by are mutually exclusive: the "
                    "sampling-hash sort is the file order (ClickHouse "
                    "likewise requires the sample expression inside "
                    "the primary key)"
                )
            if SAMPLE_HASH_COLUMN in names:
                raise ValueError(
                    f"schema already has a {SAMPLE_HASH_COLUMN} column"
                )
        missing = [c for c in self.partition_by if c not in names]
        if missing:
            raise ValueError(f"partition_by columns not in schema: {missing}")
        missing = [c for c in self.sort_by if c not in names]
        if missing:
            raise ValueError(f"sort_by columns not in schema: {missing}")
        missing = [c for c in self.index_bloom if c not in names]
        if missing:
            raise ValueError(f"index_bloom columns not in schema: {missing}")
        missing = [c for c in self.index_ngrambf if c not in names]
        if missing:
            raise ValueError(f"index_ngrambf columns not in schema: {missing}")
        missing = [c for c in self.index_set if c not in names]
        if missing:
            raise ValueError(f"index_set columns not in schema: {missing}")
        missing = [c for c in self.index_tokenbf if c not in names]
        if missing:
            raise ValueError(f"index_tokenbf columns not in schema: {missing}")
        if self.partition_by and len(self.partition_by) == len(names):
            raise ValueError("partition_by cannot cover every column")
        self.overwrite = overwrite
        # snapshot pre-existing part files on the driver; commit()
        # removes them so overwrite is all-or-nothing (abort leaves the
        # old data untouched)
        self._stale: List[str] = []
        if overwrite and os.path.isdir(self.path):
            for root, _dirs, files in os.walk(self.path):
                self._stale.extend(
                    os.path.join(root, f)
                    for f in files
                    if f.endswith(".clickhouse")
                )

    def _partition_dir(self, combo: tuple) -> str:
        from urllib.parse import quote

        parts = [
            f"{k}={quote(str(v), safe='')}"
            for k, v in zip(self.partition_by, combo)
        ]
        return os.path.join(self.path, *parts)

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> NativeWriteCommit:
        import pyarrow as pa

        token = uuid.uuid4().hex
        if self.sample_by:
            from ..native.writer import _with_sample_hash

            buffered = list(iterator)
            if buffered:
                t = _with_sample_hash(
                    pa.Table.from_batches(buffered), self.sample_by
                )
                iterator = iter(t.to_batches(max_chunksize=self.block_rows))
            else:
                iterator = iter(())
        if self.sort_by:
            # cluster within the task before writing: tight per-block
            # min/max ranges are what make the block-range index
            # selective (6x measured, SCALE_PIPELINE.md). Buffers the
            # task's batches once — the standard memory trade of any
            # sorted writer; pair with a repartition/range-partition on
            # the same keys upstream for global clustering.
            buffered = list(iterator)
            if buffered:
                t = pa.Table.from_batches(buffered)
                t = t.sort_by([(c, "ascending") for c in self.sort_by])
                iterator = iter(t.to_batches(max_chunksize=self.block_rows))
            else:
                iterator = iter(())
        if not self.partition_by:
            sink = _FileSink(
                os.path.join(self.path, f"part-{token}.clickhouse"),
                self.compression,
                self.block_rows,
                self.index_bloom,
                self.index_ngrambf,
                self.index_set,
                self.index_tokenbf,
            )
            os.makedirs(self.path, exist_ok=True)
            try:
                for batch in iterator:
                    sink.write_batch(batch)
                path = sink.finalize()
            except BaseException:
                sink.close_on_error()
                raise
            return NativeWriteCommit(
                paths=(path,) if path else (), rows=sink.rows
            )

        sinks: dict = {}
        try:
            for batch in iterator:
                keep_idx = [
                    i
                    for i, name in enumerate(batch.schema.names)
                    if name not in self.partition_by
                ]
                key_cols = [
                    batch.column(batch.schema.get_field_index(k)).to_pylist()
                    for k in self.partition_by
                ]
                # one pass over the rows: bucket row indices per combo
                # (O(rows), not O(rows x combos)), then one take() per
                # combo — high-cardinality partition_by stays linear
                buckets: dict = {}
                for ri, combo in enumerate(zip(*key_cols)):
                    if None in combo:
                        raise ValueError(
                            f"NULL partition value for {self.partition_by} "
                            "(hive paths cannot encode NULL)"
                        )
                    buckets.setdefault(combo, []).append(ri)
                for combo, idxs in buckets.items():
                    sub = batch.take(pa.array(idxs, type=pa.int64()))
                    sub = pa.RecordBatch.from_arrays(
                        [sub.column(i) for i in keep_idx],
                        names=[sub.schema.names[i] for i in keep_idx],
                    )
                    sink = sinks.get(combo)
                    if sink is None:
                        sink = sinks[combo] = _FileSink(
                            os.path.join(
                                self._partition_dir(combo),
                                f"part-{token}.clickhouse",
                            ),
                            self.compression,
                            self.block_rows,
                            self.index_bloom,
                            self.index_ngrambf,
                            self.index_set,
                            self.index_tokenbf,
                        )
                    sink.write_batch(sub)
            # finalize inside the same guard: a flush/close failure on
            # one sink must still close the remaining open handles
            paths = []
            rows = 0
            for sink in sinks.values():
                p = sink.finalize()
                if p:
                    paths.append(p)
                    rows += sink.rows
        except BaseException:
            for sink in sinks.values():
                sink.close_on_error()
            raise
        return NativeWriteCommit(paths=tuple(paths), rows=rows)

    def commit(self, messages: List[Optional[NativeWriteCommit]]) -> None:
        from ..native.delmask import remove_delmask
        from ..native.marks import marks_sidecar_path
        from ..native.writer import stats_sidecar_path

        new_files = {p for m in messages if m for p in m.paths}
        for old in self._stale:
            if old not in new_files and os.path.exists(old):
                os.remove(old)
                for side in (stats_sidecar_path(old), marks_sidecar_path(old)):
                    if os.path.exists(side):
                        os.remove(side)
                remove_delmask(old)
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write("")

    def abort(self, messages: List[Optional[NativeWriteCommit]]) -> None:
        from ..native.delmask import remove_delmask
        from ..native.marks import marks_sidecar_path
        from ..native.writer import stats_sidecar_path

        for m in messages:
            if not m:
                continue
            for p in m.paths:
                if p and os.path.exists(p):
                    os.remove(p)
                    for side in (stats_sidecar_path(p), marks_sidecar_path(p)):
                        if os.path.exists(side):
                            os.remove(side)
                    remove_delmask(p)


def infer_native_schema(options: dict) -> StructType:
    """Header-only schema discovery for a Native path (first file's
    block header; reference lib.rs:251 parses the whole file instead).

    Module-level so the DRIVER can call it in-process and pass the
    result to ``spark.read.schema(...)`` — with an explicit schema
    Spark skips the separate Python-worker schema() roundtrip, which
    is ~0.3 s of fixed per-query planning latency."""
    from ..native.codec import read_file_schema

    path = options.get("path")
    if not path:
        raise ValueError("clickhouse_native requires a path")
    paths = _resolve_paths(path)
    from ..filesystem import is_uri

    if not paths or (not is_uri(paths[0]) and not os.path.exists(paths[0])):
        raise FileNotFoundError(
            f"no ClickHouse Native files found at {path!r} — schema "
            "discovery needs at least one existing file (write a seed "
            "part or pass an explicit .schema(...))"
        )
    # metadata-only schema evolution: when the table root carries a
    # _table_schema.json, ITS column list (order included) is the
    # table schema — parts of any epoch resolve against it at read
    # time (native/tableschema.py)
    meta = None
    if os.path.isdir(path):
        from ..native.tableschema import load_table_schema

        meta = load_table_schema(path)
    if meta is not None:
        from ..native.types import parse_type

        cols = [(c["name"], parse_type(c["type"])) for c in meta["columns"]]
    else:
        cols = read_file_schema(
            paths[0],
            compression=str(options.get("compression", "auto")).lower(),
            unsupported_as_varchar=(
                str(options.get("unsupported_as_varchar", "false")).lower() == "true"
            ),
        )
    lossy = str(options.get("lossy_uint64", "false")).lower() == "true"
    want = None
    if options.get("columns"):
        want = {c.strip() for c in options["columns"].split(",")}
    fields = []
    for name, t in cols:
        if want is not None and name not in want:
            continue
        if lossy and t.base in ("UInt64", "UInt8"):
            dt: DataType = IntegerType()
        else:
            dt = _ch_to_spark(t)
        fields.append(StructField(name, dt, nullable=True))
    # hive-style key=value layout: partition columns appended after the
    # file columns (Spark's parquet convention), typed int iff every
    # discovered value is an integer literal
    keys, _vals, types = _partition_spec(path, paths)
    file_cols = {f.name for f in fields}
    for k in keys:
        if k in file_cols:
            raise ValueError(
                f"partition column {k!r} collides with a file column"
            )
        if want is not None and k not in want:
            continue
        fields.append(
            StructField(
                k,
                LongType() if types[k] is int else StringType(),
                nullable=False,
            )
        )
    # file_column: the source-file basename as a string column (the
    # parquet _metadata.file_name analogue the Python DataSource API
    # lacks) — per-part attribution for projections/maintenance
    fc = (options.get("file_column") or "").strip()
    if fc:
        if fc in {f.name for f in fields}:
            raise ValueError(
                f"file_column {fc!r} collides with an existing column"
            )
        fields.append(StructField(fc, StringType(), nullable=False))
    ric = (options.get("row_index_column") or "").strip()
    if ric:
        if ric in {f.name for f in fields}:
            raise ValueError(
                f"row_index_column {ric!r} collides with an existing column"
            )
        fields.append(StructField(ric, LongType(), nullable=False))
    return StructType(fields)


class ClickHouseNativeDataSource(DataSource):
    """spark.read.format("clickhouse_native") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        return infer_native_schema(dict(self.options))

    def streamReader(self, schema: StructType) -> ClickHouseNativeStreamReader:
        return ClickHouseNativeStreamReader(schema, dict(self.options))

    def reader(self, schema: StructType) -> ClickHouseNativeReader:
        return ClickHouseNativeReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> ClickHouseNativeWriter:
        return ClickHouseNativeWriter(schema, dict(self.options), overwrite)


def _sidecar_rows_total(path: str) -> Optional[int]:
    """Exact row count of a Native directory from its parts' stats
    sidecars alone (no data IO). None when any part lacks a parseable
    sidecar or carries a delete mask (masked rows are invisible to the
    sidecar count) — callers fall back to a real count."""
    import json as _json

    from ..filesystem import resolve_paths
    from ..native.delmask import delmask_path
    from ..native.writer import stats_sidecar_path

    try:
        parts = [p for p in resolve_paths(path) if not p.endswith(".json")]
    except Exception:
        return None
    if not parts:
        return None
    total = 0
    for p in parts:
        if os.path.exists(delmask_path(p)):
            return None
        try:
            with open(stats_sidecar_path(p)) as f:
                total += int(_json.load(f)["rows"])
        except Exception:
            return None
    return total


def compact_native_dir(
    spark,
    src: str,
    dst: str,
    target_files: int = 4,
    sort_by: Optional[list] = None,
    compression: Optional[str] = None,
    deduplicate: bool = False,
    dedupe_by: Optional[list] = None,
    partition_by: Optional[list] = None,
) -> int:
    """Compact a directory of (many, small) Native files into
    ``target_files`` globally-clustered ones — the OPTIMIZE TABLE /
    small-files-compaction maintenance job every ingest pipeline runs.

    ``deduplicate=True`` is OPTIMIZE ... FINAL DEDUPLICATE: full-row
    equality dedup (ClickHouse's default DEDUPLICATE column set) as
    one distributed dropDuplicates folded into the same shuffle.
    ``dedupe_by=[cols]`` is OPTIMIZE ... DEDUPLICATE BY col1, col2:
    one surviving row per key — deterministically the row that sorts
    FIRST over the remaining columns (ClickHouse keeps an arbitrary
    row per key; a merge-order-dependent survivor cannot be
    oracle-checked, so the deterministic minimum is the documented
    variant), via one max_by-free sort-based aggregation.

    Global clustering: ``repartitionByRange`` on the sort keys puts
    disjoint key ranges in each output task, then the writer's
    ``sort_by`` orders within the task — so the per-block sidecar
    index ends up selective across file AND block level. Returns the
    row count written. Purely distributed: the driver never touches
    row data, and the read side streams block-by-block.
    """
    from pyspark.sql import functions as F

    schema = infer_native_schema({"path": src})
    df = spark.read.format("clickhouse_native").schema(schema).load(src)
    if deduplicate and dedupe_by:
        raise ValueError("pass either deduplicate=True or dedupe_by, not both")
    if deduplicate:
        df = df.dropDuplicates()
    if dedupe_by:
        from pyspark.sql import Window

        others = [c for c in df.columns if c not in dedupe_by]
        if not others:
            df = df.dropDuplicates()  # BY covers every column
        else:
            w_rank = Window.partitionBy(*dedupe_by).orderBy(
                *[F.col(c).asc_nulls_first() for c in others]
            )
            df = (
                df.withColumn("__rn", F.row_number().over(w_rank))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
    if partition_by:
        # hive-preserving compaction: the reader surfaced the source's
        # key=value columns as data; range-cluster WITHIN partitions
        # (keys lead the range clause) and the sink fans the layout
        # back out — OPTIMIZE never silently flattens a partitioned
        # table
        cluster = list(partition_by) + [
            c for c in (sort_by or []) if c not in partition_by
        ]
        df = df.repartitionByRange(target_files, *[F.col(c) for c in cluster])
    elif sort_by:
        df = df.repartitionByRange(target_files, *[F.col(c) for c in sort_by])
    else:
        df = df.coalesce(target_files)
    w = df.write.format("clickhouse_native").mode("overwrite")
    if partition_by:
        w = w.option("partition_by", ",".join(partition_by))
    if sort_by:
        w = w.option("sort_by", ",".join(sort_by))
    if compression:
        w = w.option("compression", compression)
    w.save(dst)
    # the row count comes from the just-written parts' stats sidecars
    # (metadata only) — the previous df.count() here evaluated the full
    # dedup/cluster plan a SECOND time before the write re-evaluated it
    # (one wasted full pass per OPTIMIZE; guide §1.2 "don't compute
    # things you throw away")
    n = _sidecar_rows_total(dst)
    if n is None:  # a part without a sidecar: count the OUTPUT, not df
        n = (
            spark.read.format(FORMAT_NAME)
            .schema(infer_native_schema({"path": dst}))
            .load(dst)
            .count()
        )
    return n
