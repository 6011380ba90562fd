"""``SELECT ... INTO OUTFILE 'file' [FORMAT <name>]`` — the ClickHouse
client-side export statement (docs: statements/select/into-outfile),
over every wire format this engine speaks.

ClickHouse semantics honored:

* ONE local file — the client (here: one executor task) writes it.
  The DataFrame funnels through ``repartition(1).mapInArrow`` so the
  bytes never visit the driver (no ``collect`` of data; the audit
  contract) — at scale this is the same single-writer bottleneck a
  real ``INTO OUTFILE`` has, which is the point of the statement: it
  is an EXPORT, not a table store (``df.write.format(
  "clickhouse_native")`` is the distributed path).
* refuse-to-overwrite unless ``truncate=True`` (ClickHouse errors on
  an existing file; APPEND/TRUNCATE modifiers are 23.8+ syntax).
* ``.gz`` / ``.zst`` / ``.br`` / ``.lz4`` / ``.bz2`` / ``.xz``
  filename suffixes compress, like the server's extension sniffing
  (native/contentcodec.py — pyarrow streaming codecs + stdlib; the
  same layer file()/url() use to read the export back).

Format names are the engine's ``wire_format`` names (the
``native.wireformats`` table) plus ``avro``.

Reference surface: beyond-reference (the reference has no writer at
all — SURVEY.md §2.1 'Sinks: none').
"""

from __future__ import annotations

import os
from typing import Optional

from ..native.wireformats import WIRE_FORMATS, load


def _resolve_writer(fmt: str):
    """Batch writer for an INTO OUTFILE format: a ``wire_format`` name,
    or avro (a file format with no wire-format entry)."""
    if fmt == "avro":
        from ..native.avroformat import write_avro

        return write_avro
    if fmt == "native":
        # an export types each Native block from its own Arrow schema
        # and nulls (codec.write_block), so ch_types is not applied
        from ..native.writer import write_native_stream

        return lambda buf, batches, ch_types=None: write_native_stream(
            buf, batches
        )
    return load(WIRE_FORMATS[fmt].writer)


def empty_batch(df):
    """A 0-row Arrow batch in ``df``'s schema, built before the job runs: an
    empty result still needs the schema to write a valid header or
    footer (an empty ORC/Parquet body is unreadable).  Every export —
    INTO OUTFILE and the url()/file()/s3() INSERTs — writes it when its
    single task sees no batch."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in df.schema.fields]
    )
    return pa.RecordBatch.from_arrays(
        [pa.array([], type=f.type) for f in schema], schema=schema
    )


def _open_sink(tmp_path: str, final_path: str):
    """Open ``tmp_path`` for writing, compressed per the FINAL
    filename's extension (the atomic-rename temp name must not defeat
    the server's extension sniffing).  Shares the contentcodec layer
    with the file()/url() READ half (r15) — every method written here
    (gz/zst/br/lz4/bz2/xz, pyarrow/stdlib streaming) reimports through
    the table functions' auto-detection."""
    from ..native.contentcodec import (
        open_compressed_write,
        sniff_compression,
    )

    return open_compressed_write(tmp_path, sniff_compression(final_path))


def into_outfile(
    df,
    path: str,
    wire_format: str = "csv",
    *,
    truncate: bool = False,
    ch_types: Optional[list] = None,
) -> int:
    """Export ``df`` to ONE local file in ``wire_format``; returns the
    row count. The single writer task runs executor-side
    (repartition(1) + mapInArrow) — the driver only sees the 1-row
    count, never the data."""
    fmt = wire_format.lower()
    if fmt != "avro" and fmt not in WIRE_FORMATS:
        raise ValueError(
            "INTO OUTFILE format must be one of "
            f"{sorted([*WIRE_FORMATS, 'avro'])}, got {wire_format!r}"
        )
    if os.path.exists(path) and not truncate:
        raise FileExistsError(
            f"{path} exists; pass truncate=True (ClickHouse "
            "INTO OUTFILE ... TRUNCATE)"
        )
    # NEVER pre-delete the old file: os.replace publishes atomically,
    # so a failed export leaves the previous file intact (review
    # finding: an early remove + crashed job destroyed both versions)
    path = os.path.abspath(path)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    empty = empty_batch(df)

    def write_single(batches):
        import uuid

        import pyarrow as pa

        # re-check on the EXECUTOR's filesystem: the driver-side guard
        # above inspects the driver host, but the write lands wherever
        # this task runs — on a multi-node cluster the two are
        # different filesystems, and the ClickHouse overwrite-refusal
        # contract must hold where the file is actually created
        if not truncate and os.path.exists(path):
            raise FileExistsError(
                f"{path} exists on the writer host; pass truncate=True "
                "(ClickHouse INTO OUTFILE ... TRUNCATE)"
            )
        writer = _resolve_writer(fmt)
        chunks = list(batches) or [empty]
        # per-attempt temp name: a speculative/retried task attempt
        # must never interleave writes with a zombie first attempt
        # (both would share a fixed '.inprogress' name); os.replace
        # keeps publication atomic regardless of which attempt wins
        tmp = f"{path}.inprogress-{uuid.uuid4().hex}"
        try:
            buf = _open_sink(tmp, path)
            try:
                n = writer(buf, chunks, ch_types=ch_types) or 0
            finally:
                buf.close()
            os.replace(tmp, path)
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        yield pa.RecordBatch.from_arrays(
            [pa.array([int(n)], type=pa.int64())], names=["n"]
        )

    out = df.repartition(1).mapInArrow(write_single, "n bigint")
    # 1-row scalar pull (the convergence-scalar contract, not a data
    # collect): the count of exported rows
    return int(out.collect()[0]["n"])
