"""The wire-format table: every ``wire_format`` name this engine speaks
over the ClickHouse HTTP interface, mapped to

* the ClickHouse ``FORMAT`` clause that asks a server for it;
* its block reader ``reader(stream, [names_types,] lossy_uint64=...)``;
* its batch writer ``writer(buf, batches, ch_types=...) -> rows``;
* whether the reader takes ``names_types`` from the planning probe
  (the stream does not carry both the names and the types).

``clickhouse_scan`` (reads and writes), ``INTO OUTFILE`` and ``url()``
resolve their formats here. Entries name their codec functions as
(module, function) under ``native/`` and import on lookup, so importing
this table loads no codec (ORC, Parquet and Avro pull in heavy
pyarrow modules).
"""

from __future__ import annotations

import importlib
from typing import NamedTuple


class WireFormat(NamedTuple):
    clause: str
    reader: tuple[str, str]
    writer: tuple[str, str]
    needs_schema: bool = False


WIRE_FORMATS = {
    "native": WireFormat(
        "Native", ("codec", "iter_blocks"), ("writer", "write_native_stream")
    ),
    "rowbinary": WireFormat(
        "RowBinaryWithNamesAndTypes",
        ("rowbinary", "iter_rowbinary_blocks"),
        ("rowbinary", "write_rowbinary"),
    ),
    "jsoneachrow": WireFormat(
        "JSONCompactEachRowWithNamesAndTypes",
        ("jsoneachrow", "iter_jsoncompact_blocks"),
        ("jsoneachrow", "write_jsoncompact"),
    ),
    # plain JSONEachRow: one object per line, no types
    "jsonobjects": WireFormat(
        "JSONEachRow",
        ("jsoneachrow", "iter_jsonobjects_blocks"),
        ("jsoneachrow", "write_jsonobjects"),
        needs_schema=True,
    ),
    "tsv": WireFormat(
        "TabSeparatedWithNamesAndTypes",
        ("textformats", "iter_tsv_blocks"),
        ("textformats", "write_tsv"),
    ),
    "csv": WireFormat(
        "CSVWithNamesAndTypes",
        ("textformats", "iter_csv_blocks"),
        ("textformats", "write_csv"),
    ),
    "arrowstream": WireFormat(
        "ArrowStream",
        ("arrowwire", "iter_arrow_blocks"),
        ("arrowwire", "write_arrow"),
    ),
    "parquet": WireFormat(
        "Parquet",
        ("arrowwire", "iter_parquet_blocks"),
        ("arrowwire", "write_parquet"),
    ),
    # INSERT-literal tuples: no names, no types
    "values": WireFormat(
        "Values",
        ("valuesformat", "iter_values_blocks"),
        ("valuesformat", "write_values"),
        needs_schema=True,
    ),
    # name=value fields: names in-band, no types
    "tskv": WireFormat(
        "TSKV",
        ("textformats", "iter_tskv_blocks"),
        ("textformats", "write_tskv"),
        needs_schema=True,
    ),
    "orc": WireFormat(
        "ORC", ("arrowwire", "iter_orc_blocks"), ("arrowwire", "write_orc")
    ),
    # one numpy vector = one column: typed, but nameless
    "npy": WireFormat(
        "Npy",
        ("npyformat", "iter_npy_blocks"),
        ("npyformat", "write_npy"),
        needs_schema=True,
    ),
}


def lookup(name: str) -> WireFormat:
    """The table entry for ``name``; ValueError naming every accepted
    ``wire_format`` otherwise."""
    try:
        return WIRE_FORMATS[name]
    except KeyError:
        raise ValueError(
            f"wire_format must be one of {sorted(WIRE_FORMATS)}, got {name!r}"
        ) from None


def load(ref: tuple[str, str]):
    """Import a (module, function) codec reference under ``native/``."""
    mod = importlib.import_module(f"{__package__}.{ref[0]}")
    return getattr(mod, ref[1])
