"""ClickHouse Native part writer — the one module that knows what a
Native part is: the data file, its ``_<name>.stats.json`` sidecar
(min/max per file and per block, plus the skip indexes), its string
``.marks`` and its delete mask.

The reference is read-only (SURVEY.md §2.1 'Sinks: none'); this
writer is the natural completion: it lets
``df.write.format("clickhouse_native")`` produce files
``clickhouse-local`` can read back, and generates all of our
round-trip test fixtures. Both entry points —
:func:`write_native_file` and the DataSource writer — write through
:class:`NativePartSink`; every stats-sidecar read goes through
:func:`load_stats`.

The per-block and per-part work runs on whole arrays: each block's
distinct values are collected once per indexed column in Arrow
(:func:`_accumulate`), blooms are built with numpy in
``bloomindex.build_bloom``, and the DataSource writer's hive fan-out
is a dictionary encode plus one stable sort. None of it changes the
wire format: the part, sidecar and marks bytes are those of the
formats described here (tests pin the sidecar values).
"""

from __future__ import annotations

import io
import json
import os
from dataclasses import dataclass
from typing import BinaryIO, Callable, Iterable, Optional

import pyarrow as pa

from .bloomindex import (
    MAX_DISTINCT,
    build_bloom,
    string_ngrams,
    string_tokens,
    value_bytes_array,
)
from .codec import write_block
from .delmask import delmask_path
from .marks import MarksRecorder, marks_sidecar_path
from .setindex import SET_MAX_DISTINCT, set_index_values
from .types import CHType, from_arrow

DEFAULT_BLOCK_ROWS = 65_409  # clickhouse's default max_block_size


def _ch_types_for_schema(
    schema: pa.Schema, ch_types: Optional[list[CHType]] = None
) -> list[CHType]:
    if ch_types is not None:
        return ch_types
    # nullability is decided per block from actual null counts (ClickHouse
    # Nullable cannot wrap Array; arrays always write dense)
    return [from_arrow(f.type) for f in schema]


def write_native_stream(
    buf: BinaryIO,
    batches: Iterable[pa.RecordBatch],
    *,
    ch_types: Optional[list[CHType]] = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    schema: Optional[pa.Schema] = None,
    on_block=None,
) -> int:
    """Write record batches as Native blocks; returns rows written.

    An empty input with a known ``schema`` still writes one header-only
    0-row block (as ClickHouse itself does for empty results) so
    readers can recover the schema.

    ``on_block(offset, piece, written)`` is invoked after each data
    block with the block's starting ``buf.tell()`` and
    ``codec.write_block``'s report of its columns — callers use it to
    build the per-block stats index and the marks (only meaningful on
    uncompressed, tell()-able sinks).
    """
    total = 0
    wrote_any = False
    types: Optional[list[CHType]] = ch_types

    def put(piece: pa.RecordBatch) -> None:
        if on_block is None:
            write_block(buf, piece, types)
            return
        offset = buf.tell()
        on_block(offset, piece, write_block(buf, piece, types))

    for batch in batches:
        if types is None:
            types = _ch_types_for_schema(batch.schema)
        if batch.num_rows == 0 and not wrote_any:
            put(batch)
            wrote_any = True
            continue
        start = 0
        while start < batch.num_rows:
            piece = batch.slice(start, block_rows)
            put(piece)
            start += piece.num_rows
            total += piece.num_rows
            wrote_any = True
    if not wrote_any and schema is not None:
        types = types or _ch_types_for_schema(schema)
        put(
            pa.RecordBatch.from_arrays(
                [pa.array([], type=f.type) for f in schema], schema=schema
            )
        )
    return total


def stats_sidecar_path(data_path: str) -> str:
    """``part-000.clickhouse`` -> ``_part-000.clickhouse.stats.json`` in
    the same directory. The leading underscore keeps the sidecar out of
    every directory listing (``resolve_paths`` skips ``_``-files), like
    ``_SUCCESS``."""
    d, base = os.path.split(data_path)
    return os.path.join(d, f"_{base}.stats.json")


def part_companions(data_path: str) -> tuple:
    """The files that travel with a part, any of which may be absent:
    its stats sidecar, its string marks and its lightweight-delete
    mask. Whatever links, moves, stages or removes a part must carry
    all three — a lost stats sidecar only loses pruning, but a lost
    delete mask silently RESURRECTS deleted rows."""
    return (
        stats_sidecar_path(data_path),
        marks_sidecar_path(data_path),
        delmask_path(data_path),
    )


def remove_part(data_path: str) -> None:
    """Delete a part and its companions (absent files are skipped)."""
    for p in (data_path, *part_companions(data_path)):
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


# process-wide parsed-sidecar cache:
# (path, inode, mtime_ns, size) -> (dict|None,)
_STATS_CACHE: dict = {}


def load_stats(data_path: str) -> Optional[dict]:
    """The part's parsed stats sidecar, or None when it is absent or
    corrupt. Cached PROCESS-wide by the sidecar's stat — bloom/ngrambf
    entries make sidecars ~100x bigger than bare min/max, so re-parsing
    per query on wide directories is real planning cost; a rewrite (a
    new inode and mtime) misses naturally. Cleared wholesale past 4096
    entries (a few hundred MB worst case). The dict is shared between
    callers: treat it as read-only."""
    side_path = stats_sidecar_path(data_path)
    try:
        st = os.stat(side_path)
    except OSError:
        return None
    key = (side_path, st.st_ino, st.st_mtime_ns, st.st_size)
    cached = _STATS_CACHE.get(key)
    if cached is not None:
        return cached[0]
    try:
        with open(side_path) as f:
            side = json.load(f)
    except (OSError, ValueError):
        side = None
    if len(_STATS_CACHE) >= 4096:
        _STATS_CACHE.clear()
    _STATS_CACHE[key] = (side,)
    return side


_STR_STATS_MAX = 64


def _truncated_string_stats(mn: str, mx: str) -> tuple[str, Optional[str]]:
    """Cap sidecar string stats like parquet writers: min truncates
    freely downward (a prefix sorts <= the original); max truncates and
    bumps the final codepoint so it stays an upper bound. Returns
    (min, max-or-None); None means no valid bounded max exists and the
    caller should drop the column. Long-text columns (documents.text)
    would otherwise embed two full document bodies per file in the
    sidecar that planning json.load()s for every file on every query."""
    if len(mn) > _STR_STATS_MAX:
        mn = mn[:_STR_STATS_MAX]
    if len(mx) > _STR_STATS_MAX:
        prefix = mx[:_STR_STATS_MAX]
        for i in range(len(prefix) - 1, -1, -1):
            c = ord(prefix[i])
            if c < 0x10FFFF:
                c += 1
                if 0xD800 <= c <= 0xDFFF:  # not a valid scalar codepoint
                    c = 0xE000
                return mn, prefix[:i] + chr(c)
        return mn, None
    return mn, mx


def _column_stats(table: pa.Table | pa.RecordBatch) -> dict:
    """Per-column min/max/null-count for JSON-representable scalar
    types (int/float/string) — the file-level pruning index the scan's
    ``partitions()`` uses to skip whole files against pushed filters
    (the Native-format analogue of parquet footer statistics)."""
    import math

    import pyarrow.compute as pc

    cols = {}
    arrs = {f.name: table.column(i) for i, f in enumerate(table.schema)}
    for name, arr in arrs.items():
        t = arr.type
        if not (
            pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_string(t)
        ):
            continue
        nulls = arr.null_count
        if len(arr) == nulls:
            cols[name] = {"min": None, "max": None, "nulls": nulls}
            continue
        if pa.types.is_floating(t):
            # Arrow min_max silently SKIPS NaN, but under Spark SQL
            # semantics NaN sorts above every double — a NaN-blind max
            # would let 'col > v' pruning drop files whose NaN rows
            # match. Omit the column entirely when any NaN is present
            # (conservative: no stats -> file never skipped). Also keeps
            # non-RFC Infinity tokens out of the JSON sidecar.
            if bool(pc.any(pc.is_nan(arr)).as_py()):
                continue
        mm = pc.min_max(arr)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        if isinstance(mn, float) and not (math.isfinite(mn) and math.isfinite(mx)):
            continue
        if isinstance(mn, str):
            mn, mx = _truncated_string_stats(mn, mx)
            if mx is None:
                continue
        cols[name] = {"min": mn, "max": mx, "nulls": nulls}
    return cols


@dataclass(frozen=True)
class SkipIndex:
    """One skip-index kind: how the writer accumulates an indexed
    column and what the sidecar stores for it."""

    # a block's distinct non-null values (one Arrow array) -> their
    # index entries; None (an unsupported type, or more values than
    # the cap) drops the column's index
    entries: Callable
    # past this many distinct entries the column's index is dropped
    cap: int
    strings_only: bool
    # accumulated entries -> the sidecar value; None stores nothing
    build: Callable


def _per_string(tokenize: Callable) -> Callable:
    """``entries`` for a kind that stores the union of a tokenizer's
    output over the distinct strings."""

    def entries(values: pa.Array) -> set:
        return set().union(*map(tokenize, values.to_pylist()))

    return entries


# The skip indexes, keyed by kind: writer option ``index_<kind>``
# writes sidecar key ``<kind>`` (in this order).
#   bloom   (native/bloomindex.py): equality/IN pruning on scattered
#           values min/max cannot prove absent;
#   ngrambf: codepoint 3-grams — substring-predicate pruning;
#   tokenbf: word tokens — token-delimited predicate pruning;
#   set     (native/setindex.py): the complete distinct-value list of a
#           low-cardinality column — evaluates ANY pushable predicate.
SKIP_INDEXES = {
    "bloom": SkipIndex(value_bytes_array, MAX_DISTINCT, False, build_bloom),
    "ngrambf": SkipIndex(_per_string(string_ngrams), MAX_DISTINCT, True, build_bloom),
    "tokenbf": SkipIndex(_per_string(string_tokens), MAX_DISTINCT, True, build_bloom),
    "set": SkipIndex(
        set_index_values, SET_MAX_DISTINCT, False, lambda v: sorted(v) or None
    ),
}


def _accumulate(acc: set, arr, index: SkipIndex) -> bool:
    """Add the index entries of ``arr``'s distinct non-null values to
    ``acc`` (one array call per block, no per-value Python for int and
    string values); False when the column can no longer carry the
    index. A block with no non-null value keeps the index whatever
    the column's type."""
    import pyarrow.compute as pc

    values = pc.unique(arr)
    if pa.types.is_dictionary(values.type):
        # a dictionary may repeat a value under two indices
        values = pc.unique(values.dictionary_decode())
    values = values.drop_null()
    if len(values) == 0:
        return True
    e = index.entries(values)
    if e is None:
        return False
    acc.update(e)
    return len(acc) <= index.cap


class BlockStatsRecorder:
    """Collects the stats sidecar of a :class:`NativePartSink`: records
    EVERY physical block — header-only 0-row blocks included, because
    the reader's ``n_blocks`` counts physical blocks — and maintains
    the file-level merge of the per-block stats. The merge is
    NaN-sound: a column that ``_column_stats`` omitted for any
    non-empty block (NaN present, or an unconstructible string bound)
    is dropped from the file level too — keeping a partial min/max
    would let pruning drop files whose unaccounted rows match.

    ``indexes`` maps a :data:`SKIP_INDEXES` kind to its columns. A
    column missing from a block, of the wrong type, holding an
    unsupported value or past the kind's cap loses that index
    (conservative — no index, no pruning)."""

    def __init__(self, indexes: Optional[dict] = None) -> None:
        self.blocks: list[dict] = []
        self.merged: dict = {}
        self.rows = 0
        self._dropped: set = set()
        # {kind: {column: accumulated entries}}
        self._indexes = {
            kind: {c: set() for c in (indexes or {}).get(kind) or ()}
            for kind in SKIP_INDEXES
        }

    def _index_on_block(self, piece: pa.RecordBatch) -> None:
        if piece.num_rows == 0:
            return
        names = set(piece.schema.names)
        for kind, index in SKIP_INDEXES.items():
            accs = self._indexes[kind]
            for col in list(accs):
                if col not in names:
                    del accs[col]
                    continue
                arr = piece.column(piece.schema.get_field_index(col))
                if (
                    index.strings_only and not pa.types.is_string(arr.type)
                ) or not _accumulate(accs[col], arr, index):
                    del accs[col]

    def on_block(self, offset: int, piece: pa.RecordBatch) -> None:
        self._index_on_block(piece)
        st = _column_stats(piece)
        self.blocks.append(
            {"offset": int(offset), "rows": int(piece.num_rows), "columns": st}
        )
        self.rows += int(piece.num_rows)
        if piece.num_rows == 0:
            return
        for name in list(self.merged):
            if name not in st:
                del self.merged[name]
                self._dropped.add(name)
        for name, c in st.items():
            if name in self._dropped:
                continue
            cur = self.merged.get(name)
            if cur is None:
                if self.rows == piece.num_rows:
                    self.merged[name] = dict(c)
                else:
                    self._dropped.add(name)  # absent from an earlier block
                continue
            cur["nulls"] += c["nulls"]
            if c["min"] is not None and (cur["min"] is None or c["min"] < cur["min"]):
                cur["min"] = c["min"]
            if c["max"] is not None and (cur["max"] is None or c["max"] > cur["max"]):
                cur["max"] = c["max"]

    def sidecar(self, path: str) -> dict:
        side = {"rows": self.rows, "columns": self.merged}
        if self.blocks:
            side["blocks"] = self.blocks
            side["file_bytes"] = os.path.getsize(path)
        for kind, index in SKIP_INDEXES.items():
            built = {}
            for col, vals in self._indexes[kind].items():
                b = index.build(vals)
                if b is not None:
                    built[col] = b
            if built:
                side[kind] = built
        return side


# SAMPLE clause support (ClickHouse `SAMPLE k [OFFSET m]`, docs:
# sql-reference/statements/select/sample): the sampling key is hashed
# with TWO rounds of the Lehmer/MINSTD map h = h * A mod M — a
# BIJECTION on [1, M), so the sample is uniform, deterministic, and
# nested (SAMPLE 0.2 is a superset of SAMPLE 0.1, the ClickHouse
# consistency guarantee). ONE round is a bijection too but maps small
# sequential keys to small hashes (x*A stays far below M for
# x < M/A ~ 44k — a SAMPLE 0.1 of such keys returns 0 rows); the
# second round wraps every realistic key range thousands of times
# (measured octile skew < 0.03% on 150k sequential keys). A and M are
# SQL-expressible in both engines with no BIGINT overflow
# ((M-1) * A < 2^63 at every intermediate), unlike a 64-bit mixer.
SAMPLE_HASH_M = 2147483647  # 2^31 - 1 (prime)
SAMPLE_HASH_A = 48271  # MINSTD multiplier
SAMPLE_HASH_COLUMN = "_sample_hash"


def sample_hash_sql(col: str) -> str:
    """The hash as engine-portable SQL (Spark and DuckDB evaluate this
    identically on BIGINT inputs) — for oracles and ad-hoc checks."""
    m, a = SAMPLE_HASH_M, SAMPLE_HASH_A
    return (
        f"((((CAST({col} AS BIGINT) % {m}) + {m}) % {m}) "
        f"* {a} % {m}) * {a} % {m}"
    )


def _with_sample_hash(
    table: pa.Table | pa.RecordBatch, sample_by: str
) -> pa.Table:
    """Materialize ``_sample_hash`` from the sampling key and sort the
    rows by it, so each written block covers a contiguous hash range —
    that contiguity is what makes the reader's SAMPLE prune BLOCK
    RANGES via the ordinary min/max sidecar instead of reading and
    filtering everything (ClickHouse gets the same effect by requiring
    the sample expression inside the primary key)."""
    import numpy as np
    import pyarrow.compute as pc

    if isinstance(table, pa.RecordBatch):
        table = pa.Table.from_batches([table])
    if sample_by not in table.schema.names:
        raise ValueError(f"sample_by column {sample_by!r} not in table")
    col = table.column(sample_by)
    if col.null_count:
        raise ValueError(
            f"sample_by column {sample_by!r} has nulls; the sampling "
            "key must be total (ClickHouse requires the same)"
        )
    if not pa.types.is_integer(col.type):
        raise ValueError(
            f"sample_by column {sample_by!r} must be an integer key"
        )
    x = col.cast(pa.int64()).combine_chunks().to_numpy(zero_copy_only=False)
    m = np.int64(SAMPLE_HASH_M)
    a = np.int64(SAMPLE_HASH_A)
    h = ((x % m + m) % m) * a % m * a % m
    table = table.append_column(
        SAMPLE_HASH_COLUMN, pa.array(h, type=pa.int64())
    )
    return table.take(pc.sort_indices(table.column(SAMPLE_HASH_COLUMN)))


class NativePartSink:
    """One Native part being written: the data file (plain, or wrapped
    in compressed frames), its stats sidecar and its string marks —
    the only file writer, behind both :func:`write_native_file` and
    the DataSource writer (one sink per task, or per partition combo
    per task under ``partition_by``).

    The file opens on the first batch. Like one
    :func:`write_native_stream` call over every batch, only an empty
    FIRST batch writes a block (header-only); later empty batches are
    skipped. ``compression`` is None (plain Native) or a frame method
    ('lz4', 'zstd', 'none'). Inside frames block offsets mean nothing,
    so a compressed part's sidecar keeps the file-level merge and the
    skip indexes but no per-block index, and it gets no marks."""

    def __init__(
        self,
        path: str,
        *,
        compression: Optional[str] = None,
        block_rows: int = DEFAULT_BLOCK_ROWS,
        ch_types: Optional[list[CHType]] = None,
        indexes: Optional[dict] = None,
    ) -> None:
        self.path = path
        self.compression = compression
        self.block_rows = block_rows
        self.rows = 0
        self._ch_types = ch_types
        self._rec = BlockStatsRecorder(indexes)
        self._mrec = MarksRecorder()
        self._raw = None
        self._buf = None

    def write_batch(self, batch: pa.RecordBatch) -> None:
        if self._raw is None:
            self._raw = io.BufferedWriter(open(self.path, "wb"), buffer_size=1 << 20)
            self._buf = self._raw
            if self.compression is not None:
                from .compress import CompressedWriter

                self._buf = CompressedWriter(self._raw, method=self.compression)
            self._ch_types = _ch_types_for_schema(batch.schema, self._ch_types)
        elif batch.num_rows == 0:
            return
        plain = self._buf is self._raw
        self.rows += write_native_stream(
            self._buf,
            [batch],
            ch_types=self._ch_types,
            block_rows=self.block_rows,
            on_block=self._on_block if plain else None,
        )
        if not plain:
            self._rec.on_block(-1, batch)
            self._rec.blocks.clear()

    def _on_block(self, offset: int, piece: pa.RecordBatch, written) -> None:
        self._rec.on_block(offset, piece)
        self._mrec.on_block(offset, piece.num_rows, written)

    def finish(self, empty_schema: Optional[pa.Schema] = None) -> Optional[str]:
        """Flush the part and write its sidecars; returns the path. A
        part without rows is deleted (returns None) unless
        ``empty_schema`` is given: then it keeps one header-only block
        (as ClickHouse writes for empty results) so readers recover the
        schema."""
        if self._raw is None and empty_schema is not None:
            self.write_batch(pa.RecordBatch.from_pylist([], schema=empty_schema))
        if self._raw is None:
            return None
        self._buf.flush()
        self._raw.close()
        if self.rows == 0 and empty_schema is None:
            os.remove(self.path)
            return None
        tmp = stats_sidecar_path(self.path) + ".tmp"
        # json.dumps runs the C encoder; json.dump streams through the
        # pure-Python one. Same bytes.
        side = json.dumps(self._rec.sidecar(self.path))
        with open(tmp, "w") as sf:
            sf.write(side)
        os.replace(tmp, stats_sidecar_path(self.path))
        # String column marks (native/marks.py): the spans the encoder
        # just reported, so readers skip the varint walk. When
        # nothing was recorded (compression, no String column) any
        # PRE-EXISTING marks from an earlier write of the same path
        # must go — stale-but-size-matching marks would pass the
        # file_bytes guard and misdirect the unwanted-column seeks.
        if self._mrec.write(self.path) is None:
            try:
                os.remove(marks_sidecar_path(self.path))
            except OSError:
                pass
        return self.path

    def close_on_error(self) -> None:
        """Best-effort handle close for the failure path (the caller is
        about to re-raise)."""
        try:
            if self._raw is not None:
                self._raw.close()
        except Exception:
            pass


def write_native_file(
    path: str,
    table: pa.Table | pa.RecordBatch,
    *,
    ch_types: Optional[list[CHType]] = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    compression: Optional[str] = None,
    index_bloom: Optional[list] = None,
    index_ngrambf: Optional[list] = None,
    index_set: Optional[list] = None,
    index_tokenbf: Optional[list] = None,
    sample_by: Optional[str] = None,
) -> int:
    """Write one Native part; returns the rows written.

    ``compression``: None (plain Native), or 'lz4'/'zstd'/'none' to
    wrap the stream in ClickHouse compressed frames (compress.py).
    Always writes a ``_<name>.stats.json`` sidecar enabling file-level
    (and, uncompressed, block-level) predicate skipping at scan
    planning; ``index_<kind>=[cols]`` adds a :data:`SKIP_INDEXES`
    index per listed column (``index_bloom``: equality/IN pruning on
    scattered values min/max cannot prove absent); ``sample_by='key'``
    materializes a sorted ``_sample_hash`` column enabling the
    reader's SAMPLE clause with block-range pruning. An empty table
    still writes one header-only block."""
    if sample_by:
        table = _with_sample_hash(table, sample_by)
    batches = (
        [table]
        if isinstance(table, pa.RecordBatch)
        else table.to_batches(max_chunksize=block_rows)
    )
    sink = NativePartSink(
        path,
        compression=compression,
        block_rows=block_rows,
        ch_types=ch_types,
        indexes={
            "bloom": index_bloom,
            "ngrambf": index_ngrambf,
            "set": index_set,
            "tokenbf": index_tokenbf,
        },
    )
    try:
        for batch in batches:
            sink.write_batch(batch)
        sink.finish(empty_schema=table.schema)
    except BaseException:
        sink.close_on_error()
        raise
    return sink.rows


def arrow_to_native_bytes(
    table: pa.Table | pa.RecordBatch,
    *,
    ch_types: Optional[list[CHType]] = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
) -> bytes:
    buf = io.BytesIO()
    if isinstance(table, pa.RecordBatch):
        batches = [table]
        schema = table.schema
    else:
        batches = table.to_batches(max_chunksize=block_rows)
        schema = table.schema
    types = _ch_types_for_schema(schema, ch_types)
    write_native_stream(buf, batches, ch_types=types, block_rows=block_rows, schema=schema)
    return buf.getvalue()
