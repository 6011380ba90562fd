"""FORMAT ArrowStream + FORMAT Parquet — the sixth and seventh wire
formats for the scan source, and the FASTEST interop paths: ClickHouse
can speak Arrow IPC streams and Parquet files over HTTP natively
(public format docs), and on this side they decode through pyarrow's C
implementations with zero per-value Python.

Read AND write halves each:

* ArrowStream — ``pa.ipc.open_stream`` / ``RecordBatchStreamWriter``
  (self-describing: schema travels in the IPC stream);
* Parquet — ``pa.parquet.read_table`` over the buffered body /
  ``pa.parquet.write_table`` (Parquet is a file format, not a stream —
  the whole body is buffered before decode, so prefer ArrowStream for
  very large fetches; both emitted in ``block_rows`` batches).

The ``lossy_uint64`` compat option applies the same UInt64 -> i32
wrap the Native path implements (reference lib.rs:336-344), via one
vectorized numpy pass per uint64 column.

Reference surface: the reference reads FORMAT Native only
(clickhouse_scan.rs:131); this is beyond-reference interop.
"""

from __future__ import annotations

from typing import BinaryIO, Iterator, Optional

import numpy as np
import pyarrow as pa


class RawBatch:
    """Minimal Block-alike: what the scan read path consumes."""

    def __init__(self, batch: pa.RecordBatch):
        self._batch = batch
        self.n_rows = batch.num_rows

    def to_record_batch(self) -> pa.RecordBatch:
        return self._batch


def _wrap_uint64_i32(arr: pa.ChunkedArray | pa.Array) -> pa.Array:
    """The reference's UInt64 -> i32 truncation (lib.rs:336-344),
    vectorized."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    vals = arr.to_numpy(zero_copy_only=False)
    wrapped = (
        (vals.astype(np.uint64) & np.uint64(0xFFFFFFFF)).astype(np.int64)
        ^ np.int64(0x80000000)
    ) - np.int64(0x80000000)
    mask = pa.compute.is_null(arr)
    out = pa.array(wrapped.astype(np.int32))
    if arr.null_count:
        out = pa.compute.if_else(mask, pa.scalar(None, pa.int32()), out)
    return out


def _apply_lossy(batch: pa.RecordBatch) -> pa.RecordBatch:
    arrays, fields = [], []
    changed = False
    for i, f in enumerate(batch.schema):
        col = batch.column(i)
        if pa.types.is_uint64(f.type):
            col = _wrap_uint64_i32(col)
            f = pa.field(f.name, pa.int32(), f.nullable)
            changed = True
        arrays.append(col)
        fields.append(f)
    if not changed:
        return batch
    return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))


def iter_arrow_blocks(
    buf: BinaryIO, *, lossy_uint64: bool = False, block_rows: int = 65_536
) -> Iterator[RawBatch]:
    reader = pa.ipc.open_stream(buf)
    for batch in reader:
        if batch.num_rows == 0:
            continue
        if lossy_uint64:
            batch = _apply_lossy(batch)
        yield RawBatch(batch)


def write_arrow(buf: BinaryIO, batches, ch_types=None) -> int:
    """ArrowStream encode (``ch_types`` accepted for interface parity,
    unused — arrow is self-describing)."""
    rows = 0
    writer: Optional[pa.ipc.RecordBatchStreamWriter] = None
    for batch in batches:
        if writer is None:
            writer = pa.ipc.new_stream(buf, batch.schema)
        writer.write_batch(batch)
        rows += batch.num_rows
    if writer is not None:
        writer.close()
    return rows


def iter_parquet_blocks(
    buf: BinaryIO, *, lossy_uint64: bool = False, block_rows: int = 65_536
) -> Iterator[RawBatch]:
    import io

    import pyarrow.parquet as pq

    data = buf.read()
    table = pq.read_table(io.BytesIO(data))
    for batch in table.to_batches(max_chunksize=block_rows):
        if batch.num_rows == 0:
            continue
        if lossy_uint64:
            batch = _apply_lossy(batch)
        yield RawBatch(batch)


def iter_parquetmetadata_blocks(
    buf: BinaryIO, *, lossy_uint64: bool = False, block_rows: int = 65_536
) -> Iterator[RawBatch]:
    """``FORMAT ParquetMetadata`` (docs: interfaces/formats
    #parquetmetadata): ONE row describing the parquet file — footer
    fields plus a per-column JSON description — without decoding any
    data pages.  The at-scale use is auditing a lake: file() globs a
    million objects, one metadata row each, zero data I/O beyond
    footers."""
    import io
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    data = buf.read()
    pf = pq.ParquetFile(io.BytesIO(data))
    md = pf.metadata
    cols = []
    total_comp = 0
    total_uncomp = 0
    for ci in range(md.num_columns):
        c0 = md.row_group(0).column(ci) if md.num_row_groups else None
        comp = sum(
            md.row_group(g).column(ci).total_compressed_size
            for g in range(md.num_row_groups)
        )
        uncomp = sum(
            md.row_group(g).column(ci).total_uncompressed_size
            for g in range(md.num_row_groups)
        )
        total_comp += comp
        total_uncomp += uncomp
        cols.append(
            _json.dumps(
                {
                    "name": pf.schema_arrow.names[ci]
                    if ci < len(pf.schema_arrow.names)
                    else md.schema.column(ci).name,
                    "physical_type": md.schema.column(ci).physical_type,
                    "logical_type": str(
                        md.schema.column(ci).logical_type
                    ),
                    "compression": c0.compression if c0 else None,
                    "total_compressed_size": comp,
                    "total_uncompressed_size": uncomp,
                },
                separators=(",", ":"),
            )
        )
    batch = pa.record_batch(
        {
            "num_columns": pa.array([md.num_columns], pa.int64()),
            "num_rows": pa.array([md.num_rows], pa.int64()),
            "num_row_groups": pa.array([md.num_row_groups], pa.int64()),
            "format_version": pa.array([str(md.format_version)]),
            "total_compressed_size": pa.array([total_comp], pa.int64()),
            "total_uncompressed_size": pa.array([total_uncomp], pa.int64()),
            "columns": pa.array([cols], pa.list_(pa.string())),
        }
    )
    yield RawBatch(batch)


def write_parquet(buf: BinaryIO, batches, ch_types=None) -> int:
    import pyarrow.parquet as pq

    batches = list(batches)
    if not batches:
        # same contract as write_orc: a 0-byte body is not a valid
        # parquet file; empty exports carry the schema in a 0-row batch
        raise ValueError(
            "cannot write a Parquet body from zero batches (no "
            "schema); pass one 0-row batch for an empty export"
        )
    table = pa.Table.from_batches(batches)
    pq.write_table(table, buf)
    return table.num_rows


def iter_orc_blocks(
    buf: BinaryIO, *, lossy_uint64: bool = False, block_rows: int = 65_536
) -> Iterator[RawBatch]:
    """FORMAT ORC — the eleventh wire format (ClickHouse speaks ORC
    over HTTP natively, public format docs). File-shaped like Parquet:
    the body is buffered before decode; prefer ArrowStream for very
    large fetches. ORC has no unsigned types, so uint64 interop is out
    of contract on this path (the server sends Int64)."""
    import io

    import pyarrow.orc as po

    data = buf.read()
    table = po.ORCFile(io.BytesIO(data)).read()
    for batch in table.to_batches(max_chunksize=block_rows):
        if batch.num_rows == 0:
            continue
        if lossy_uint64:
            batch = _apply_lossy(batch)
        yield RawBatch(batch)


def write_orc(buf: BinaryIO, batches, ch_types=None) -> int:
    import pyarrow.orc as po

    batches = list(batches)
    if not batches:
        # a 0-byte body is not a valid ORC file — callers that need an
        # empty export must pass a 0-row batch carrying the schema
        # (into_outfile does exactly that)
        raise ValueError(
            "cannot write an ORC body from zero batches (no schema); "
            "pass one 0-row batch for an empty export"
        )
    table = pa.Table.from_batches(batches)
    po.write_table(table, buf)
    return table.num_rows
