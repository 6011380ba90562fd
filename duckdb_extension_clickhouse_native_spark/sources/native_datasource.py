"""``clickhouse_native`` Spark DataSource — ClickHouse Native file reader/writer.

Spark-first re-expression of the reference's ``clickhouse_native``
DuckDB table function (reference src/lib.rs:240-366), whose one
bind step derives the schema (lib.rs:251) and whose one loop scans
(lib.rs:289-361). Here too the scan is one probe and two stages, shared
by the batch reader, the stream reader and the SQL table functions:

* schema probe — :func:`describe_native` parses only the first block's
  header (or the table's ``_table_schema.json``) and adds the hive and
  virtual columns;
* plan stage (driver, no data read) — one :class:`NativeTable` lists
  the parts, derives their hive layout and loads the table schema (the
  probe and every mutation open one too); prune every part by its
  sidecar stats and hive values in one pass, then split files into
  block ranges or pack whole files into partitions;
* read stage (executors, per partition) — open, decode with PREWHERE,
  apply the delete mask, conform to the declared schema, filter, and
  coalesce into Arrow batches before rows cross into the JVM.

Extra, beyond the reference: projection pushdown (unrequested column
payloads are byte-skipped, never decoded), filter pushdown (pushed
predicates are evaluated on Arrow batches inside the reader), and a
writer (``df.write.format("clickhouse_native")``) — the reference is
read-only.

Usage::

    spark.dataSource.register(ClickHouseNativeDataSource)
    df = spark.read.format("clickhouse_native").load("/data/*.clickhouse")
    df.write.format("clickhouse_native").mode("overwrite").save("/out")

Hive-style partition layouts (``key=value`` directories, arbitrarily
nested) are discovered automatically: partition columns are appended
after the file columns (int when every value is an integer literal,
else string), restored from the path at read time, and predicates on
them prune whole directories at planning — zero tasks AND zero IO for
excluded partitions.

Options (reader unless marked writer):
    path            file, glob, or directory (or pass to .load())
    columns         comma-separated projection (pruned at byte level)
    lossy_uint64    'true' -> reference-compatible UInt64->Int32
                    truncation (lib.rs:336-344); default lossless Int64
    scrub_strings   'true' -> strip NUL/U+FFFD like lib.rs:68-76
    unsupported_as_varchar  'true' -> unknown column types become
                    '<unsupported:T>' varchar placeholders like
                    lib.rs:168-170 (payload bytes are NOT consumed, so
                    only safe when that column is last); default raises
    verify_checksum 'true' -> check each compressed frame's CityHash128
                    (the compiled kernel where `cc` can build it,
                    else pure Python); default off: structural
                    checks only
    skipping        'false' -> no sidecar pruning at planning (hive
                    values still prune)
    prewhere        'false' -> decode every projected column of every
                    block (no PREWHERE late materialization)
    split_blocks    'true' -> split files into block-range partitions;
                    offsets come from the writer's per-block sidecar
                    index when present (no header scan), and pushed
                    filters prune block RANGES against the per-block
                    min/max — the parquet row-group analogue
    target_partition_bytes  approx bytes per partition when splitting
    max_partition_bytes, min_partitions  whole-file packing: Spark's
                    FilePartition target (default 128 MiB; 0 = one
                    partition per file) and its parallelism floor
                    (default cores/2)
    max_rows_to_read, max_bytes_to_read  refuse at planning when the
                    surviving files exceed these (0 = no limit)
    file_column     add a string column holding each row's
                    load-relative file path
    row_index_column  add a bigint column holding each row's physical
                    ordinal within its file
    sample, sample_offset  SAMPLE k OFFSET m over a table written with
                    sample_by
    block_rows      writer: rows per Native block (default 65409)
    compression     writer: 'lz4' | 'zstd' wraps each file in
                    ClickHouse compressed frames (no per-block index
                    or marks: frame offsets are not block offsets);
                    absent or 'none' writes plain Native. Reader:
                    'auto' (default) sniffs each file; 'none', 'lz4'
                    or 'zstd' skip the sniff
    index_bloom, index_ngrambf, index_tokenbf, index_set
                    writer: comma-separated columns to build that skip
                    index for, stored in each part's stats sidecar
                    under the kind's name (native/writer.py
                    SKIP_INDEXES): bloom prunes =/IN, ngrambf
                    substrings, tokenbf whole-token matches, set any
                    pushable predicate on low-cardinality columns
    partition_by    writer: comma-separated columns to fan out as
                    hive-style key=value directories (dropped from the
                    file payload; the reader restores and prunes them)
    sort_by         writer: comma-separated columns to sort each
                    task's rows by before writing — tight per-block
                    ranges for the block-range index (cluster globally
                    with a repartition on the same keys upstream)
    sample_by       writer: integer column whose hash becomes the
                    sorted ``_sample_hash`` column SAMPLE reads
    allow_missing_columns  'true' -> additive schema evolution: a file
                    written before a column existed reads it as NULLs
                    (pass an explicit schema from the NEWEST file);
                    default raises on drift
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator, List, NamedTuple, Optional, Sequence

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

    from ..native.types import CHType

FORMAT_NAME = "clickhouse_native"

# coalesce decoded blocks into Arrow batches of about this size before
# they cross the Python->JVM boundary: each yielded batch pays a fixed
# IPC/serialization cost, so ~65k-row Native blocks (the ClickHouse
# default) under-amortize it. 32 MiB ~= several blocks per hand-off;
# the concat is one memcpy at memory bandwidth — orders of magnitude
# cheaper than the per-batch overhead it removes (SCALE.md r11)
ARROW_BATCH_BYTES = 32 * 1024 * 1024
# partition packing's per-file open cost (Spark's openCostInBytes)
OPEN_COST_BYTES = 4 * 1024 * 1024
# pushed filter -> the pyarrow.compute kernel evaluating it on a column:
# comparisons take the value as a scalar of the column's type, the
# string predicates as the pattern
_COMPARE_KERNELS = {
    EqualTo: "equal",
    GreaterThan: "greater",
    GreaterThanOrEqual: "greater_equal",
    LessThan: "less",
    LessThanOrEqual: "less_equal",
}
_STRING_KERNELS = {
    StringContains: "match_substring",
    StringStartsWith: "starts_with",
    StringEndsWith: "ends_with",
}


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

    seqs = {p: _partition_components(load_path, p) for p in paths}
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
    spec = {p: tuple(v for _k, v in seqs[p]) for p in paths}
    types = {
        k: int if all(re.fullmatch(r"-?\d+", spec[p][j]) for p in paths) else str
        for j, k in enumerate(keys)
    }
    return keys, spec, types


@dataclass(frozen=True)
class NativeTable:
    """What a Native table is, worked out once (the reference's bind
    step, lib.rs:251): its parts as the reader lists them, the hive
    layout over them and the ``_table_schema.json`` of a local table
    root. The schema probe, the reader and every mutation open one, and
    nothing keeps one past its query: a new DataFrame lists again (a
    repeated action on the same DataFrame reuses the read Spark planned
    for it)."""

    path: str
    paths: list
    # hive keys, each part's raw value strings, and each key's type
    # (int iff every value is an integer literal) — empty when flat
    keys: list
    part_vals: dict
    key_types: dict
    # _table_schema.json (native/tableschema.py) or None; from it the
    # prior physical names {name: [aliases]}, the ADD defaults and the
    # known column names — all empty when there is no metadata
    meta: Optional[dict]
    aliases: dict
    defaults: dict
    known: frozenset

    @classmethod
    def open(cls, path: str) -> "NativeTable":
        """List ``path`` (an ``OSError`` lists nothing), derive its hive
        layout and load its metadata; malformed metadata raises."""
        try:
            paths = _resolve_paths(path)
        except OSError:
            paths = []
        keys, vals, types = _partition_spec(path, paths) if paths else ([], {}, {})
        meta = None
        if os.path.isdir(path):
            from ..native.tableschema import load_table_schema

            meta = load_table_schema(path)
        cols = meta["columns"] if meta else []
        return cls(
            path,
            paths,
            keys,
            vals,
            types,
            meta,
            {c["name"]: list(c.get("aliases", [])) for c in cols},
            {c["name"]: c["default"] for c in cols if "default" in c},
            frozenset(c["name"] for c in cols),
        )


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


def _alias_stats(st: dict, aliases: Optional[dict]) -> dict:
    """Alias-aware view of a (shared, read-only) sidecar dict: an old
    part's stats live under the PRIOR physical name — copy them under
    the table name (``aliases``: {name: [prior names]}) so predicates
    on renamed columns still prune. Never mutates ``st``."""
    if not aliases:
        return st
    from ..native.writer import SKIP_INDEXES

    out = dict(st)
    for key in ("columns", *SKIP_INDEXES):
        m = st.get(key)
        if not isinstance(m, dict):
            continue
        add = {}
        for name, olds in aliases.items():
            if name in m:
                continue
            for a in olds:
                if a in m:
                    add[name] = m[a]
                    break
        if add:
            out[key] = {**m, **add}
    return out


def _stats_exclude(filters, stats: dict, aliases: Optional[dict] = None) -> bool:
    """True iff the stats PROVE the conjunction of ``filters`` false for
    every row — one filter alone, or several on one set-indexed column
    together. The one pruning test of file triage (reader planning,
    block ranges, hive directories and mutation triage alike);
    ``aliases`` as in :func:`_alias_stats`. Malformed stats never
    exclude."""
    try:
        st = _alias_stats(stats, aliases)
        return any(
            _filter_excludes_file(f, st) for f in filters
        ) or _set_conjunction_excludes(filters, st)
    except (KeyError, TypeError, ValueError):
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
        from ..native.bloomindex import bloom_prober

        if isinstance(f, (EqualTo, EqualNullSafe, In)):
            # NULL members of an IN list never match (NULL = x is NULL,
            # not true), so all-absent non-null values prove the file
            # matches nothing; a bool value is never indexed
            vals = f.value if isinstance(f, In) else (f.value,)
            vals = [v for v in vals if v is not None]
            bl = blooms.get(f.attribute[0])
            if bl is not None and vals and not any(isinstance(v, bool) for v in vals):
                contains = bloom_prober(bl)
                if not any(contains(v) for v in vals):
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
        # Spark-file-source-style partition PACKING (DEFAULT ON since
        # r14): bin several small whole files into one input partition,
        # exactly the FilePartition model (maxPartitionBytes +
        # OPEN_COST_BYTES + a parallelism floor). A python-DataSource
        # task occupies a JVM task thread AND a python worker process,
        # so for overhead-dominated scans the measured sweet spot is
        # about HALF the cores (SCALE.md r13: 10M rows x 32 tiny files
        # on 32 cores — per-file 24.9 M rows/s, packed-to-16 30.9
        # M rows/s; r13 VERDICT item 2 ordered the flip). Default =
        # Spark's 128 MiB maxPartitionBytes; set 0 for one partition
        # per file. Packing composes AFTER sidecar pruning (skipped
        # files never join a bin), preserves hive values per member,
        # and the parallelism floor (min_partitions, default cores/2)
        # keeps a directory at one file per partition only while it
        # has no more files than the floor — partition counts depend
        # on the host.
        self.max_partition_bytes = int(
            options.get("max_partition_bytes", 128 * 1024 * 1024)
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
        # the one listing of a batch read, with its hive layout and
        # table metadata (driver-side, pickled to executors with the
        # reader; per-file values travel on each NativeFilePartition).
        # partitions() plans from it; pyspark builds a fresh reader for
        # every planning, so a snapshot never outlives its query.
        # part_keys is the reader's own: a stream may adopt a layout
        # first seen after __init__ (_vals_for_path)
        self.table = NativeTable.open(self.path)
        self.part_keys = list(self.table.keys)

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
            *_COMPARE_KERNELS, *_STRING_KERNELS, EqualNullSafe, In, IsNull, IsNotNull
        )
        if isinstance(f, Not):
            return self._filter_supported(f.child) and not isinstance(f.child, Not)
        if not isinstance(f, simple):
            return False
        attr = f.attribute
        return len(attr) == 1  # no nested columns

    @staticmethod
    def _hive_scalar(key: str, raw: str, target) -> "pa.Scalar":
        """The hive-path value ``raw`` of ``key`` typed like its
        declared column (string when the projection leaves it out)."""
        import pyarrow as pa

        idx = target.get_field_index(key)
        typ = target.field(idx).type if idx >= 0 else pa.string()
        return pa.scalar(raw).cast(typ)

    def _vals_for_path(self, p: str) -> tuple:
        """Partition values for ``p``: from the plan-time snapshot, or
        re-derived from the path for files that appeared after
        ``__init__`` (the streaming reader's normal case — including a
        stream planned on an EMPTY directory, where the layout itself
        is discovered from the first late file, typed from the declared
        schema). A late file whose directory layout does not match the
        established keys is a hard error — silently reading it would
        mislabel its rows."""
        vals = self.table.part_vals.get(p)
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

    def _partition(
        self, p: str, start: int = 0, n_blocks: int = -1, start_row: int = 0
    ) -> NativeFilePartition:
        """The one partition constructor (batch plans and stream
        micro-batches): ``p``'s hive values travel with it, read before
        the keys because ``_vals_for_path`` may adopt a late layout."""
        vals = self._vals_for_path(p)
        return NativeFilePartition(
            p, start, n_blocks, vals, tuple(self.part_keys), start_row
        )

    # -- plan stage: list once -> prune -> split or pack ---------------

    def partitions(self) -> Sequence[InputPartition]:
        paths = self._prune(self.table.paths)
        self._check_read_limits(paths)
        if not self.split_blocks or len(paths) > 8:
            parts = [self._partition(p) for p in paths]
        else:
            parts = [q for p in paths for q in self._split_file(p)]
            # every pushed filter is re-applied executor-side, so an
            # over-pruned plan only costs correctness if it is EMPTY
            if not parts and paths:
                parts = [self._partition(paths[0])]
        return self._pack_partitions(parts)

    def _prune(self, paths: list) -> list:
        """File-level data skipping, evaluated ONCE at planning so
        skipped files cost zero tasks: a file goes when
        ``_stats_exclude`` proves the pushed filters false for every
        row of :meth:`_file_stats`. An empty result keeps the first
        file so the plan retains a partition (its executor-side filter
        yields 0 rows)."""
        if not self.pushed or not (self.skipping or self.part_keys):
            return paths
        target = self._arrow_schema()
        typed = {}  # (key, raw) -> hive value, typed once per reader
        kept = [
            p
            for p in paths
            if not _stats_exclude(
                self.pushed, self._file_stats(p, target, typed), self.table.aliases
            )
        ]
        return kept or paths[:1]

    def _file_stats(self, p: str, target, typed: dict) -> dict:
        """What planning knows of ``p``: its stats sidecar (while
        ``skipping`` is on) plus its hive-path values as one-value
        columns; without a usable sidecar, the hive values alone.
        ``typed`` memoizes each (key, raw value) pair's typed value."""
        from ..native.writer import load_stats

        hive = {}
        for kv in zip(self.part_keys, self.table.part_vals.get(p, ())):
            if kv not in typed:
                typed[kv] = self._hive_scalar(*kv, target).as_py()
            hive[kv[0]] = {"min": typed[kv], "max": typed[kv], "nulls": 0}
        st = load_stats(p) if self.skipping else None
        try:
            if st and int(st.get("rows", 0)) > 0:
                return {**st, "columns": {**st.get("columns", {}), **hive}}
        except (AttributeError, TypeError, ValueError):
            pass
        return {"rows": 1, "columns": hive}

    def _check_read_limits(self, paths: list) -> None:
        if not (self.max_rows_to_read or self.max_bytes_to_read):
            return
        from ..filesystem import file_size
        from ..native.writer import load_stats

        est_rows = est_bytes = 0
        for p in paths:
            st = load_stats(p)
            if st is not None:
                est_rows += int(st.get("rows", 0))
            try:
                est_bytes += file_size(p)
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

    def _split_file(self, p: str) -> list:
        """Block-range partitions of one file: runs of CONSECUTIVE
        surviving blocks of ~target_bytes (a pruned gap ends a run,
        since n_blocks counts sequentially from start_offset), each
        with its first physical row (delete masks and row_index_column
        address physical rows). Compressed frames are not
        byte-splittable: such a file is one partition."""
        from ..filesystem import file_size
        from ..native.codec import scan_block_offsets
        from ..native.compress import is_compressed_file

        if self.compression != "none" and is_compressed_file(p):
            return [self._partition(p)]
        size = file_size(p)
        # the writer's per-block stats index (the parquet row-group
        # analogue) gives offsets WITHOUT a driver header scan and lets
        # pushed filters prune block ranges INSIDE the file
        entries = self._sidecar_blocks(p, size)
        if entries is None:
            entries = [(off, rows, None) for off, rows in scan_block_offsets(p)]
        parts: list = []
        run = None  # [start offset, blocks, bytes, first row]
        row = 0
        prev = None
        for i, (off, rows, st) in enumerate(entries):
            first, row = row, row + rows
            if (
                self.skipping
                and self.pushed
                and st is not None
                and _stats_exclude(
                    self.pushed, {"rows": rows, "columns": st}, self.table.aliases
                )
            ):
                continue
            if run is not None and (prev != i - 1 or run[2] >= self.target_bytes):
                parts.append(self._partition(p, run[0], run[1], run[3]))
                run = None
            if run is None:
                run = [off, 0, 0, first]
            end = entries[i + 1][0] if i + 1 < len(entries) else size
            run[1] += 1
            run[2] += end - off
            prev = i
        if run is not None:
            parts.append(self._partition(p, run[0], run[1], run[3]))
        return parts

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
            weights.append(sz + OPEN_COST_BYTES)
        target = min(
            self.max_partition_bytes,
            max(
                OPEN_COST_BYTES,
                math.ceil(sum(weights) / max(1, self.min_partitions)),
            ),
        )
        bins: list = [[]]
        bin_w = 0
        for p, w in zip(whole, weights):
            if bins[-1] and bin_w + w > target:
                bins.append([])
                bin_w = 0
            bins[-1].append(p)
            bin_w += w
        packed = [
            b[0] if len(b) == 1 else NativeFileGroupPartition(tuple(b))
            for b in bins
        ]
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

    def _sidecar_blocks(self, p: str, size: int):
        """Validated per-block index from the sidecar, or None.
        ``file_bytes`` must match the current size — a file that grew
        after its sidecar was written (streaming append) falls back to
        the header scan. Malformed entries (foreign writers, hand
        edits) degrade to None, never raise."""
        from ..native.writer import load_stats

        side = load_stats(p)
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

    # -- read stage: open -> decode with PREWHERE -> delete-mask ->
    #    conform -> filter -> coalesce ----------------------------------

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
        """Every member of the partition (a packed group has several)
        as one block stream, coalesced to ~ARROW_BATCH_BYTES batches so
        the Python->JVM hand-off is amortized ACROSS grouped files, not
        just within each."""
        import pyarrow as pa

        buf: list = []
        nbytes = 0
        for member in getattr(partition, "parts", None) or (partition,):
            for b in self._read_blocks(member):
                buf.append(b)
                nbytes += b.nbytes
                if nbytes >= ARROW_BATCH_BYTES:
                    yield self._concat_batches(pa, buf)
                    buf, nbytes = [], 0
        if buf:
            yield self._concat_batches(pa, buf)

    def _file_column_value(self, file_path: str) -> str:
        """LOAD-RELATIVE path of the file (equal to the basename on
        flat layouts, ``key=value/.../name`` on hive trees) — a unique
        per-file id across partition directories, which per-part
        projections need for attribution."""
        rel = os.path.relpath(file_path, self.path)
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

    def _want(self, part_val: dict) -> Optional[set]:
        """The file columns to decode: the projection minus the path-
        and row-derived columns, plus the prior physical names of
        evolved columns (a file carries at most one epoch's name);
        None (everything) when nothing of the file is projected."""
        if self.columns is None:
            return None
        want = self.columns - {self.file_column, self.row_index_column, *part_val}
        for c in list(want):
            want.update(self.table.aliases.get(c, ()))
        return want or None

    def _read_blocks(
        self, partition: NativeFilePartition
    ) -> Iterator["pa.RecordBatch"]:
        from itertools import islice

        from ..filesystem import open_input
        from ..native.compress import maybe_compressed_reader
        from ..native.delmask import load_delmask
        from ..native.marks import MarksReader

        mask = load_delmask(partition.path)
        if mask is not None and partition.start_offset and partition.start_row < 0:
            raise ValueError(
                f"delete mask present on {partition.path!r} but this "
                "partition's physical start row is unknown — cannot "
                "apply the mask without misaligning rows"
            )
        target = self._arrow_schema()
        # keys from the partition itself — see NativeFilePartition; each
        # value typed once per file, then repeated per block
        part_val = {
            k: self._hive_scalar(k, v, target)
            for k, v in zip(partition.part_keys or self.part_keys, partition.part_vals)
        }
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
            # raw uncompressed stream: block byte offsets are
            # meaningful, so the string-marks sidecar (if present and
            # not stale) can skip the per-row varint walks
            marks = MarksReader.open(partition.path) if buf is f else None
            blocks = self._iter_blocks_prewhere(
                buf,
                self._want(part_val),
                part_val,
                target,
                marks_reader=marks,
                row=max(0, partition.start_row),
                delmask=mask,
            )
            n = partition.n_blocks if partition.n_blocks >= 0 else None
            # a PREWHERE-dead block (None) still counts toward n_blocks
            for blk in islice(blocks, n):
                if blk is None:
                    continue
                batch = self._conform(blk, part_val, target, partition.path)
                keep = self._filters_mask(batch)
                if keep is not None:
                    batch = batch.filter(keep)
                if batch.num_rows:
                    yield batch

    def _conform(self, blk, part_val: dict, target, path=None) -> "pa.RecordBatch":
        """The one conform step: the block's decoded columns aligned
        with the declared schema — cast to its types, hive-partition
        columns and ``file_column`` as path constants, evolved columns
        through their prior physical name (RENAME), then their ADD
        default, else NULLs; a column missing otherwise reads NULL
        under ``allow_missing_columns`` and raises without it.

        ``part_val`` maps each hive key to its typed value (a scalar).
        ``path=None`` is the PREWHERE survival test on a block read so
        far: only the columns it already has, plus the hive constants."""
        import pyarrow as pa

        cols = {c.name: c.array for c in blk.columns}
        # rows after the delete mask (the survival test runs before it)
        n = len(blk.columns[0].array) if blk.columns else blk.n_rows
        fields, arrays = [], []
        for fld in target:
            name = fld.name
            arr = cols.get(name)
            if path is None and arr is None and name not in part_val:
                continue
            if name == self.file_column:
                arr = pa.array([self._file_column_value(path)] * n, type=fld.type)
            elif name in part_val:
                arr = pa.repeat(part_val[name], n)
            elif arr is None and name in self.table.known:
                for alias in self.table.aliases[name]:
                    arr = cols.get(alias)
                    if arr is not None:
                        break
                else:
                    dv = self.table.defaults.get(name)
                    arr = pa.nulls(n, fld.type) if dv is None else pa.array(
                        [dv] * n, type=fld.type
                    )
            elif arr is None:
                if not self.allow_missing_columns:
                    raise ValueError(
                        f"column {name!r} missing from block in {path!r} "
                        "(file schema drift? schema() inspects only the "
                        "first file — pass allow_missing_columns=true for "
                        "additive evolution)"
                    )
                arr = pa.nulls(n, fld.type)
            fields.append(fld)
            arrays.append(arr if arr.type == fld.type else arr.cast(fld.type))
        return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

    def _iter_blocks_prewhere(
        self, buf, want, part_val, target, marks_reader=None, row=0, delmask=None
    ):
        """The reader's only block loop, over ``codec.read_block``.

        Yields ``None`` for a block PREWHERE proved dead (the caller
        still counts it: block-range partitions index sequential
        blocks), else the block with its delete-masked rows dropped and
        the ``row_index_column`` appended (``n_rows`` keeps the wire
        count). ``row`` is the physical ordinal of the first row.

        PREWHERE is the read-time analogue of sidecar pruning: once the
        predicate columns are decoded, the block read so far (conformed,
        with the hive constants) must have a row passing the pushed
        filters, or its remaining columns are skipped, not decoded —
        covering files without sidecars, string predicates and residual
        ranges inside a partially-pruned file."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from ..native.codec import BlockColumn, iter_blocks
        from ..native.delmask import mask_bits
        from ..native.types import CHType

        def survives(blk) -> bool:
            mask = self._filters_mask(self._conform(blk, part_val, target))
            return mask is None or bool(pc.any(mask).as_py())

        prewhere = None
        # evolved parts map physical names to table columns through
        # aliases and defaults; the survival test sees physical names only
        if self.prewhere and self.pushed and self.table.meta is None:
            # hive-partition attrs never appear in the file; their
            # constants join the survival test instead
            names = {
                (f.child if isinstance(f, Not) else f).attribute[0]
                for f in self.pushed
            } - set(part_val)
            prewhere = (names, survives)
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

    def _filters_mask(self, batch: "pa.RecordBatch"):
        """The conjunction of every pushed filter over ``batch``, NULL
        counted as false; None when nothing is pushed."""
        import pyarrow.compute as pc

        mask = None
        for f in self.pushed:
            m = self._filter_mask(batch, f)
            mask = m if mask is None else pc.and_kleene(mask, m)
        return None if mask is None else pc.fill_null(mask, False)

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
        if isinstance(f, IsNull) or (isinstance(f, EqualNullSafe) and f.value is None):
            return pc.is_null(col)
        if isinstance(f, IsNotNull):
            return pc.is_valid(col)
        if isinstance(f, In):
            return pc.is_in(col, value_set=pa.array(list(f.value), type=col.type))
        if type(f) in _STRING_KERNELS:
            return getattr(pc, _STRING_KERNELS[type(f)])(col, f.value)
        val = pa.scalar(f.value, type=col.type) if f.value is not None else None
        if isinstance(f, EqualNullSafe):
            return pc.and_kleene(pc.is_valid(col), pc.fill_null(pc.equal(col, val), False))
        if type(f) in _COMPARE_KERNELS:
            return getattr(pc, _COMPARE_KERNELS[type(f)])(col, val)
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
    decode) on the driver; partitions come from the batch reader's
    constructor and are read by its read stage, executor-side.
    Compressed files are treated as single atomic units (frames are
    not block-indexable) — they must be fully written when first
    discovered.
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
            # the seek position comes from the CHECKPOINTED start
            # offset, so recovery after restart replays exactly the
            # committed range; the physical start row is unknown (-1)
            if e["bytes"] == -1:  # compressed whole file
                parts.append(self._batch._partition(p, start_row=-1))
            else:
                parts.append(
                    self._batch._partition(p, s["bytes"], e["n"] - s["n"], -1)
                )
        # Spark requires >=1 partition per micro-batch; emit an empty
        # no-op range when nothing is new
        return parts or [NativeFilePartition("", 0, 0)]

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


class ClickHouseNativeWriter(DataSourceArrowWriter):
    """One Native file per Spark partition under the target directory —
    the writer the reference lacks (SURVEY.md §2.1 'Sinks: none').
    With ``option("partition_by", "col1,col2")`` rows fan out into
    hive-style ``col1=v/col2=w/`` subdirectories (partition columns
    dropped from the file payload, Spark's parquet convention) that
    the reader rediscovers and prunes — the write side of the 100 TB
    layout. Every file goes through ``native.writer.NativePartSink``."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        from ..native.writer import SAMPLE_HASH_COLUMN, SKIP_INDEXES

        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("clickhouse_native write requires a path")
        self.block_rows = int(options.get("block_rows", 65_409))
        # lz4 | zstd frames; absent or 'none' writes plain Native
        comp = options.get("compression")
        self.compression = None if not comp or comp == "none" else comp
        names = [f.name for f in schema.fields]

        def columns(key: str) -> list:
            cols = [
                c.strip() for c in str(options.get(key, "")).split(",") if c.strip()
            ]
            missing = [c for c in cols if c not in names]
            if missing:
                raise ValueError(f"{key} columns not in schema: {missing}")
            return cols

        self.partition_by: List[str] = columns("partition_by")
        self.sort_by: List[str] = columns("sort_by")
        # skip indexes: option index_<kind> -> sidecar key <kind>
        self.indexes = {kind: columns(f"index_{kind}") for kind in SKIP_INDEXES}
        # SAMPLE key (writer.py _with_sample_hash): materializes a
        # sorted _sample_hash column so the reader's SAMPLE clause can
        # prune block ranges. The hash sort IS the file order, so it
        # excludes sort_by; composes with partition_by (the global
        # hash sort survives the per-combo take(), so every partition
        # file stays hash-sorted).
        self.sample_by = (options.get("sample_by") or "").strip() or None
        if self.sample_by:
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

    def _split(self, batch: "pa.RecordBatch") -> dict:
        """{combo: row indices} of the batch's hive directories, the
        indices None for all rows (no ``partition_by``: one combo ()).

        Array-level: each key column is dictionary-encoded and the
        running combo code re-encoded after every key, so it stays a
        dense first-appearance rank (< rows, no overflow however many
        keys); one stable argsort then groups the rows. Combos come
        in first-appearance order and rows keep their order within a
        combo; all NaN keys of a column are one combo."""
        import numpy as np
        import pyarrow as pa

        if not self.partition_by:
            return {(): None}
        keys = [batch.column(batch.schema.get_field_index(k)) for k in self.partition_by]
        if any(k.null_count for k in keys):
            raise ValueError(
                f"NULL partition value for {self.partition_by} "
                "(hive paths cannot encode NULL)"
            )
        code = None
        for k in keys:
            if pa.types.is_dictionary(k.type):
                # its dictionary may be unordered or repeat values
                k = k.dictionary_decode()
            enc = k.dictionary_encode()
            idx = enc.indices.to_numpy().astype(np.int64)
            if code is not None:
                idx = pa.array(code * len(enc.dictionary) + idx)
                idx = idx.dictionary_encode().indices.to_numpy().astype(np.int64)
            code = idx
        order = np.argsort(code, kind="stable")
        counts = np.bincount(code)
        bounds = np.cumsum(counts)
        starts = bounds - counts
        first_rows = pa.array(order[starts])
        combos = zip(*(k.take(first_rows).to_pylist() for k in keys))
        # Arrow tells -0.0 from 0.0 but Python (the sink key and its
        # directory) does not: equal combos share the first one's sink
        groups: dict = {}
        for combo, lo, hi in zip(combos, starts.tolist(), bounds.tolist()):
            groups.setdefault(combo, []).append(order[lo:hi])
        return {
            combo: idx[0] if len(idx) == 1 else np.sort(np.concatenate(idx))
            for combo, idx in groups.items()
        }

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> NativeWriteCommit:
        import pyarrow as pa

        from ..native.writer import NativePartSink, _with_sample_hash

        token = uuid.uuid4().hex
        if self.sample_by or self.sort_by:
            # buffer the task's rows once — the standard memory trade
            # of any sorted writer. sample_by orders by the sampling
            # hash; sort_by clusters within the task: tight per-block
            # min/max ranges are what make the block-range index
            # selective (6x measured, SCALE_PIPELINE.md) — pair with a
            # repartition/range-partition on the same keys upstream for
            # global clustering.
            batches = list(iterator)
            if batches:
                t = pa.Table.from_batches(batches)
                if self.sample_by:
                    t = _with_sample_hash(t, self.sample_by)
                else:
                    t = t.sort_by([(c, "ascending") for c in self.sort_by])
                batches = t.to_batches(max_chunksize=self.block_rows)
            iterator = iter(batches)
        sinks: dict = {}
        try:
            for batch in iterator:
                keep_idx = [
                    i
                    for i, name in enumerate(batch.schema.names)
                    if name not in self.partition_by
                ]
                for combo, idxs in self._split(batch).items():
                    sub = batch
                    if idxs is not None:
                        sub = batch.take(pa.array(idxs))
                        sub = pa.RecordBatch.from_arrays(
                            [sub.column(i) for i in keep_idx],
                            names=[sub.schema.names[i] for i in keep_idx],
                        )
                    # keyed by directory: a NaN key never equals itself,
                    # so a combo key would open a second sink on the
                    # same file for the next batch
                    d = self._partition_dir(combo)
                    sink = sinks.get(d)
                    if sink is None:
                        os.makedirs(d, exist_ok=True)
                        sink = sinks[d] = NativePartSink(
                            os.path.join(d, f"part-{token}.clickhouse"),
                            compression=self.compression,
                            block_rows=self.block_rows,
                            indexes=self.indexes,
                        )
                    sink.write_batch(sub)
            # finish inside the same guard: a flush/close failure on
            # one sink must still close the remaining open handles
            paths = [p for p in (s.finish() for s in sinks.values()) if p]
        except BaseException:
            for sink in sinks.values():
                sink.close_on_error()
            raise
        return NativeWriteCommit(
            paths=tuple(paths), rows=sum(s.rows for s in sinks.values())
        )

    def commit(self, messages: List[Optional[NativeWriteCommit]]) -> None:
        from ..native.writer import remove_part

        new_files = {p for m in messages if m for p in m.paths}
        for old in self._stale:
            if old not in new_files:
                remove_part(old)
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write("")

    def abort(self, messages: List[Optional[NativeWriteCommit]]) -> None:
        from ..native.writer import remove_part

        for m in messages:
            if m:
                for p in m.paths:
                    remove_part(p)


class NativeColumn(NamedTuple):
    """One column as the Native probe describes it: the ClickHouse type
    (file header, table metadata, or the type a path-derived column
    stands for), the Spark type it reads as, and the Spark field's
    nullability (path-derived columns are never NULL)."""

    name: str
    ch_type: "CHType"
    spark_type: DataType
    nullable: bool


def describe_native(options: dict) -> list:
    """The one Native schema probe (the DataSource's schema(), the
    ``clickhouse_native`` / ``clickhouse_native_columns`` SQL functions,
    DESCRIBE TABLE): file columns from the table root's
    ``_table_schema.json`` when present (native/tableschema.py), else
    from the first file's first block header (reference lib.rs:251
    parses the whole file); then the hive ``key=value`` columns (int iff
    every value is an integer literal), ``file_column`` and
    ``row_index_column``. ``columns`` projects."""
    from ..filesystem import is_uri
    from ..native.codec import read_file_schema
    from ..native.types import CHType, parse_type

    path = options.get("path")
    if not path:
        raise ValueError("clickhouse_native requires a path")
    table = NativeTable.open(path)
    paths = table.paths
    if not paths or (not is_uri(paths[0]) and not os.path.exists(paths[0])):
        raise FileNotFoundError(
            f"no ClickHouse Native files found at {path!r} — schema "
            "discovery needs at least one existing file (write a seed "
            "part or pass an explicit .schema(...))"
        )
    if table.meta is not None:
        header = [(c["name"], parse_type(c["type"])) for c in table.meta["columns"]]
    else:
        header = read_file_schema(
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
    out = [
        NativeColumn(
            name,
            t,
            IntegerType() if lossy and t.base in ("UInt64", "UInt8") else _ch_to_spark(t),
            True,
        )
        for name, t in header
        if want is None or name in want
    ]
    for k in table.keys:
        if k in {c.name for c in out}:
            raise ValueError(f"partition column {k!r} collides with a file column")
        if want is None or k in want:
            out.append(
                NativeColumn(k, CHType("Int64"), LongType(), False)
                if table.key_types[k] is int
                else NativeColumn(k, CHType("String"), StringType(), False)
            )
    # file_column: the source file's load-relative path (the parquet
    # _metadata.file_name analogue the Python DataSource API lacks);
    # row_index_column: the physical per-file row ordinal
    for key, col in (
        ("file_column", NativeColumn("", CHType("String"), StringType(), False)),
        ("row_index_column", NativeColumn("", CHType("Int64"), LongType(), False)),
    ):
        name = (options.get(key) or "").strip()
        if name:
            if name in {c.name for c in out}:
                raise ValueError(
                    f"{key} {name!r} collides with an existing column"
                )
            out.append(col._replace(name=name))
    return out


def infer_native_schema(options: dict) -> StructType:
    """The Spark schema of :func:`describe_native` — what the
    DataSource's ``schema()`` returns. :func:`read_native` calls it on
    the driver so a batch read skips that planning round-trip."""
    return StructType(
        [
            StructField(c.name, c.spark_type, nullable=c.nullable)
            for c in describe_native(options)
        ]
    )


def read_native(spark, path: str, **options):
    """``spark.read.format("clickhouse_native")`` over an existing
    ``path`` with each of ``options`` set on the reader — the one way
    the package opens a Native table for a batch read.

    The schema is probed on the driver, in-process, and passed to
    ``.schema(...)``; without it Spark plans the read by asking a Python
    worker for ``schema()``. It is the same :func:`describe_native`
    probe the worker would run, so the schema is identical. With reused
    workers the round-trip is small: building the DataFrame over a
    16-part table took 14.3 ms (bare ``.load()``) vs 11.0 ms (median of
    30 alternating pairs, local[4] on a 4-core host)."""
    reader = spark.read.format(FORMAT_NAME)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.schema(infer_native_schema({**options, "path": path})).load(path)


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


def sidecar_rows(path: str) -> Optional[int]:
    """Row count of a Native table from part metadata alone: each
    part's stats-sidecar rows minus its lightweight-deleted rows. None
    when a part has no parseable sidecar or a corrupt delete mask —
    callers then count by scanning."""
    from ..native.delmask import deleted_count
    from ..native.writer import load_stats

    total = 0
    try:
        for p in _resolve_paths(path):
            total += int(load_stats(p)["rows"]) - deleted_count(p)
    except (OSError, KeyError, TypeError, ValueError):
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

    df = read_native(spark, src)
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
    n = sidecar_rows(dst)
    if n is None:  # a part without a sidecar: count the OUTPUT, not df
        n = read_native(spark, dst).count()
    return n
