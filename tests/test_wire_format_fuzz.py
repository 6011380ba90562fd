"""Randomized cross-format differential: hypothesis generates small
typed tables (random schema shapes over the shared scalar matrix,
random NULL placement, hostile strings), writes them through the write
half of EVERY entry of the wire-format table (native/wireformats.py),
reads them back with the matching read half, and requires
bit-identical values — the randomized complement of the fixed hostile
matrix in test_wire_format_matrix.py.

Native is included, so this also fuzzes the round-9 recursive
nullability promotion.
"""

from __future__ import annotations

import io
import math

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from duckdb_extension_clickhouse_native_spark.native.rowbinary import (
    derive_wire_types,
)
from duckdb_extension_clickhouse_native_spark.native.wireformats import (
    WIRE_FORMATS,
    load,
)

# column kind -> (arrow type, value strategy)
_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
    max_size=10,
)
_KINDS = {
    "i32": (pa.int32(), st.integers(-(2**31), 2**31 - 1)),
    "i64": (pa.int64(), st.integers(-(2**63), 2**63 - 1)),
    "f64": (pa.float64(), st.floats(width=64, allow_nan=False)),
    "str": (pa.string(), _TEXT),
    "bool": (pa.bool_(), st.booleans()),
    "date": (pa.date32(), st.integers(-30000, 30000)),
}


@st.composite
def _tables(draw):
    kinds = draw(
        st.lists(st.sampled_from(sorted(_KINDS)), min_size=1, max_size=4)
    )
    n = draw(st.integers(min_value=1, max_value=12))
    arrays, names = [], []
    for idx, kind in enumerate(kinds):
        typ, vals = _KINDS[kind]
        nullable = draw(st.booleans())
        col = [
            None if (nullable and draw(st.booleans())) else draw(vals)
            for _ in range(n)
        ]
        arrays.append(pa.array(col, type=typ))
        names.append(f"c{idx}_{kind}")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _values(rb: pa.RecordBatch):
    def nv(x):
        if isinstance(x, float) and math.isnan(x):
            return "NaN"
        return x

    return [[nv(v) for v in rb.column(i).to_pylist()] for i in range(rb.num_columns)]


def _roundtrip(name: str, batch: pa.RecordBatch) -> pa.RecordBatch:
    fmt = WIRE_FORMATS[name]
    buf = io.BytesIO()
    load(fmt.writer)(buf, [batch])
    buf.seek(0)
    read = load(fmt.reader)
    if fmt.needs_schema:
        # the planning probe's schema, as clickhouse_scan passes it
        _, types = derive_wire_types([batch])
        blocks = read(buf, list(zip(batch.schema.names, types)))
    else:
        blocks = read(buf)
    rbs = [b.to_record_batch() for b in blocks]
    return pa.Table.from_batches(rbs).combine_chunks().to_batches()[0]


def _npy_inputs(batch: pa.RecordBatch) -> list:
    """Npy holds one column with no nulls and no dates, and cannot tell
    a string's trailing NUL bytes from padding: round-trip each column
    inside that domain on its own."""
    out = []
    for i, f in enumerate(batch.schema):
        col = batch.column(i)
        vals = col.to_pylist()
        if col.null_count or pa.types.is_date32(f.type):
            continue
        if pa.types.is_string(f.type) and any(v.endswith("\x00") for v in vals):
            continue
        out.append(pa.RecordBatch.from_arrays([col], names=[f.name]))
    return out


def _normalized(rb: pa.RecordBatch) -> list:
    # date32 comes back as datetime.date from some codecs and as
    # day-int from others' intermediate — compare day numbers
    got = []
    for i, col in enumerate(_values(rb)):
        if pa.types.is_date32(rb.schema.field(i).type):
            col = [
                v.toordinal() - 719163 if hasattr(v, "toordinal") else v
                for v in col
            ]
        got.append(col)
    return got


@settings(max_examples=60, deadline=None)
@given(batch=_tables())
def test_every_wire_format_roundtrips_random_tables(batch):
    for name in WIRE_FORMATS:
        inputs = _npy_inputs(batch) if name == "npy" else [batch]
        for rb in inputs:
            assert _normalized(_roundtrip(name, rb)) == _normalized(rb), name
