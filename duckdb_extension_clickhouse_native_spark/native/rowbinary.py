"""RowBinaryWithNamesAndTypes codec — a second ClickHouse wire format
for the scan source (SURVEY.md §2 "another source format").

Layout (public ClickHouse format docs): LEB128 column count, then the
column names (LEB128-length strings), then the type names, then rows
with values in column order. Per value:

* fixed-width types — little-endian (the same physical layouts as the
  Native columns, ``types.FIXED_WIDTH``);
* String — LEB128 length + UTF-8 bytes; FixedString(n) — n raw bytes;
* Nullable(T) — one flag byte (1 = NULL, no value bytes follow);
* Array(T) — LEB128 size + elements;
* Map(K, V) — LEB128 size + key/value pairs;
* Tuple(T1, ..., Tn) — the element values concatenated;
* LowCardinality(T) — values written PLAIN (the dictionary encoding is
  a Native-format concern; RowBinary is transparent per the public
  format docs), so support is a bare unwrap to the inner type;
* Decimal(p,s) — little-endian signed integer of 4/8/16 bytes by
  precision.

RowBinary is ROW-major, so decoding is inherently sequential per row —
except when every column is fixed-width and non-nullable, where one
numpy structured-dtype view decodes the whole body vectorized (the
fast path). Native remains the full-fidelity, column-vectorized
format; this module exists for interop with the second-most-common
ClickHouse interchange format.

Reference surface: the reference reads FORMAT Native only
(clickhouse_scan.rs:131); this is beyond-reference interop.
"""

from __future__ import annotations

import struct
from decimal import Decimal
from typing import BinaryIO, Iterator, List, Optional, Tuple

import numpy as np
import pyarrow as pa

from .codec import Block, BlockColumn, read_str, read_varuint, write_str, write_varuint
from .types import FIXED_WIDTH, CHType, UnsupportedTypeError, parse_type, to_arrow

_SUPPORTED_FIXED = set(FIXED_WIDTH)


def _check_supported(t: CHType) -> None:
    b = t.base
    if b in _SUPPORTED_FIXED or b in (
        "String", "FixedString", "UUID", "IPv4", "IPv6"
    ) or b.startswith("Decimal"):
        return
    if b == "Array" and t.inner is not None:
        _check_supported(t.inner)
        return
    if b == "LowCardinality" and t.inner is not None:
        _check_supported(t.inner)
        return
    if b in ("Map", "Tuple", "Variant") and t.tuple_items:
        for it in t.tuple_items:
            _check_supported(it)
        return
    if b == "Dynamic":
        # per-value layout below; member types check at read/write time
        return
    raise UnsupportedTypeError(
        f"RowBinary support for {t.name} is not implemented — use "
        "FORMAT Native (wire_format=native), the full-fidelity path"
    )


def _decimal_width(precision: int) -> int:
    if precision <= 9:
        return 4
    if precision <= 18:
        return 8
    if precision <= 38:
        return 16
    raise UnsupportedTypeError(f"Decimal precision {precision} > 38")


# -- scalar decode/encode ----------------------------------------------------


def _read_value(buf: BinaryIO, t: CHType):
    if t.nullable:
        flag = buf.read(1)
        if not flag:
            raise EOFError("EOF at null flag")
        if flag[0] == 1:
            return None
        inner = CHType(**{**t.__dict__, "nullable": False})
        return _read_value(buf, inner)
    b = t.base
    if b in FIXED_WIDTH:
        dt, width = FIXED_WIDTH[b]
        raw = buf.read(width)
        if len(raw) < width:
            raise EOFError(f"EOF inside {b} value")
        val = np.frombuffer(raw, dtype=dt)[0]
        return _post_scalar(b, t, val)
    if b == "String":
        return read_str(buf)
    if b == "FixedString":
        raw = buf.read(t.fixed_len)
        if len(raw) < t.fixed_len:
            raise EOFError("EOF inside FixedString")
        return raw.rstrip(b"\x00").decode("utf-8", "replace")
    if b.startswith("Decimal"):
        width = _decimal_width(t.fixed_len)
        raw = buf.read(width)
        if len(raw) < width:
            raise EOFError("EOF inside Decimal")
        unscaled = int.from_bytes(raw, "little", signed=True)
        return Decimal(unscaled).scaleb(-t.scale)
    if b == "UUID":
        # same per-value layout as the Native column (two u64 LE
        # halves, high first) — pinned by the codec tests
        raw = buf.read(16)
        if len(raw) < 16:
            raise EOFError("EOF inside UUID")
        hi, lo = struct.unpack("<QQ", raw)
        h = f"{(hi << 64) | lo:032x}"
        return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
    if b == "IPv4":
        import ipaddress

        raw = buf.read(4)
        if len(raw) < 4:
            raise EOFError("EOF inside IPv4")
        return str(ipaddress.IPv4Address(struct.unpack("<I", raw)[0]))
    if b == "IPv6":
        import ipaddress

        raw = buf.read(16)
        if len(raw) < 16:
            raise EOFError("EOF inside IPv6")
        return str(ipaddress.IPv6Address(raw))
    if b == "Array":
        n = read_varuint(buf)
        return [_read_value(buf, t.inner) for _ in range(n)]
    if b == "Map":
        kt, vt = t.tuple_items
        n = read_varuint(buf)
        return [
            (_read_value(buf, kt), _read_value(buf, vt)) for _ in range(n)
        ]
    if b == "Tuple":
        # arrow struct fields are named _1.._n (types.to_arrow)
        return {
            f"_{i + 1}": _read_value(buf, it)
            for i, it in enumerate(t.tuple_items)
        }
    if b == "Variant":
        # RowBinary variant layout (public, cf. clickhouse-connect):
        # one UInt8 discriminator (255 = NULL) then the value in that
        # variant's own binary form; canonical sorted variant order
        flag = buf.read(1)
        if not flag:
            raise EOFError("EOF at Variant discriminator")
        d = flag[0]
        out = {it.name: None for it in t.tuple_items}
        if d == 255:
            return out
        if d >= len(t.tuple_items):
            raise ValueError(
                f"Variant discriminator {d} out of range for {t.name}"
            )
        out[t.tuple_items[d].name] = _read_value(buf, t.tuple_items[d])
        return out
    if b == "LowCardinality":
        # transparent in RowBinary: values travel plain
        return _read_value(buf, t.inner)
    if b == "Dynamic":
        # engine RowBinary layout for Dynamic (structurally modeled on
        # ClickHouse's type-prefixed value encoding; the Native path's
        # prefix carries the set ONCE per column, RowBinary is
        # row-oriented so each VALUE carries its own type): varuint
        # name length (0 = NULL) + canonical type-name string + the
        # value in that type's RowBinary form.  Surfaces type-erased
        # {type, value} exactly like the Native arm — the text
        # rendering goes through the same pyarrow cast so both wires
        # agree bit-for-bit.
        import pyarrow.compute as _pc

        from .codec import _check_dynamic_member

        n = read_varuint(buf)
        if n == 0:
            return None
        raw_nm = buf.read(n)
        if len(raw_nm) != n:
            raise EOFError("EOF inside Dynamic type name")
        nm = raw_nm.decode("utf-8")
        member = (
            parse_type("String") if nm == "SharedVariant" else parse_type(nm)
        )
        _check_dynamic_member(member, nm)
        val = _read_value(buf, member)
        import pyarrow as _pa

        rendered = _pc.cast(
            _pa.array([val], type=to_arrow(member)), _pa.string()
        )[0].as_py()
        return {"type": nm, "value": rendered}
    raise UnsupportedTypeError(t.name)


def _post_scalar(base: str, t: CHType, val):
    """Normalize a raw fixed-width value to the Arrow-facing value the
    Native path emits (same to_arrow target types)."""
    if base == "Bool":
        return bool(val)
    if base in ("Date", "Date32"):
        return int(val)  # days since epoch, date32 target
    if base == "DateTime":
        return int(val) * 1_000_000  # seconds -> us
    if base == "DateTime64":
        scale = t.scale
        ticks = int(val)
        if scale == 6:
            return ticks
        if scale < 6:
            return ticks * 10 ** (6 - scale)
        return ticks // 10 ** (scale - 6)
    if base in ("Enum8", "Enum16"):
        return t.enum_map.get(int(val), str(int(val)))
    if base.startswith("Float"):
        return float(val)
    return int(val)


def _write_value(buf: BinaryIO, t: CHType, val) -> None:
    if t.nullable:
        if val is None:
            buf.write(b"\x01")
            return
        buf.write(b"\x00")
        inner = CHType(**{**t.__dict__, "nullable": False})
        _write_value(buf, inner, val)
        return
    b = t.base
    if val is None:
        if b == "Map":
            val = {}  # Nullable(Map) does not exist in CH — null == {}
        elif b == "Variant":
            buf.write(b"\xff")  # NULL is the 255 discriminator
            return
        elif b == "Dynamic":
            write_varuint(buf, 0)  # NULL is the zero-length type name
            return
        elif b == "LowCardinality":
            _write_value(buf, t.inner, val)  # inner may be Nullable
            return
        else:
            # fail LOUDLY: stringifying None used to write the literal
            # "None" for String columns (and "" for FixedString) when a
            # later batch carried a null the declared types didn't
            raise ValueError(
                f"NULL value for non-nullable wire type {t.name}; "
                "declare the column Nullable(...) (derive ch_types with "
                "derive_wire_types / _promote_nullable)"
            )
    if b in FIXED_WIDTH:
        dt, _w = FIXED_WIDTH[b]
        if b == "DateTime":
            val = int(val) // 1_000_000
        elif b == "DateTime64":
            us = int(val)
            val = us * 10 ** (t.scale - 6) if t.scale >= 6 else us // 10 ** (6 - t.scale)
        elif b == "Bool":
            val = 1 if val else 0
        buf.write(np.array([val], dtype=dt).tobytes())
        return
    if b == "String":
        write_str(buf, val if isinstance(val, str) else str(val))
        return
    if b == "FixedString":
        raw = (val or "").encode("utf-8")[: t.fixed_len]
        buf.write(raw.ljust(t.fixed_len, b"\x00"))
        return
    if b.startswith("Decimal"):
        width = _decimal_width(t.fixed_len)
        unscaled = int(Decimal(val).scaleb(t.scale))
        buf.write(unscaled.to_bytes(width, "little", signed=True))
        return
    if b == "UUID":
        v = int(str(val).replace("-", ""), 16)
        buf.write(struct.pack("<QQ", (v >> 64) & (2**64 - 1), v & (2**64 - 1)))
        return
    if b == "IPv4":
        import ipaddress

        buf.write(struct.pack("<I", int(ipaddress.IPv4Address(val))))
        return
    if b == "IPv6":
        import ipaddress

        buf.write(ipaddress.IPv6Address(val).packed)
        return
    if b == "Array":
        write_varuint(buf, len(val))
        for item in val:
            _write_value(buf, t.inner, item)
        return
    if b == "Map":
        kt, vt = t.tuple_items
        # arrow map_ cells arrive as [(k, v), ...]; dicts also accepted
        items = list(val.items()) if isinstance(val, dict) else list(val)
        write_varuint(buf, len(items))
        for k, v in items:
            _write_value(buf, kt, k)
            _write_value(buf, vt, v)
        return
    if b == "Tuple":
        # arrow struct cells arrive as ordered dicts (field names vary
        # by source — '_1'.. from this codec, original names from
        # arbitrary arrow structs); tuples also accepted.  Positional.
        vals = list(val.values()) if isinstance(val, dict) else list(val)
        for it, v in zip(t.tuple_items, vals):
            _write_value(buf, it, v)
        return
    if b == "Variant":
        # dict keyed by variant type name (the Arrow struct carrier),
        # at most one non-null; tuples of (discriminator, value) also
        # accepted
        if isinstance(val, dict):
            hits = [
                (i, val[it.name])
                for i, it in enumerate(t.tuple_items)
                if val.get(it.name) is not None
            ]
        elif val is None:
            hits = []
        else:
            hits = [(int(val[0]), val[1])]
        if len(hits) > 1:
            raise ValueError(
                "Variant row has more than one non-null variant field"
            )
        if not hits:
            buf.write(b"\xff")
            return
        d, v = hits[0]
        buf.write(bytes([d]))
        _write_value(buf, t.tuple_items[d], v)
        return
    if b == "LowCardinality":
        _write_value(buf, t.inner, val)
        return
    if b == "Dynamic":
        # inverse of the read arm: varuint 0 = NULL, else name + value
        import pyarrow as _pa
        import pyarrow.compute as _pc

        from .codec import _check_dynamic_member

        if val is None or val.get("type") is None:
            if val is not None and val.get("value") is not None:
                raise ValueError(
                    "Dynamic row has a value but a NULL type tag"
                )
            write_varuint(buf, 0)
            return
        nm = str(val["type"])
        member = (
            parse_type("String") if nm == "SharedVariant" else parse_type(nm)
        )
        _check_dynamic_member(member, nm)
        if val.get("value") is None:
            raise ValueError("Dynamic row has a type tag but a NULL value")
        raw_nm = nm.encode("utf-8")
        write_varuint(buf, len(raw_nm))
        buf.write(raw_nm)
        sc = _pc.cast(
            _pa.array([str(val["value"])], type=_pa.string()),
            to_arrow(member),
        )[0]
        typed = (
            sc.value
            if isinstance(sc, (_pa.Date32Scalar, _pa.TimestampScalar))
            else sc.as_py()
        )
        _write_value(buf, member, typed)
        return
    raise UnsupportedTypeError(t.name)


# -- stream-level API --------------------------------------------------------


def read_rowbinary_header(buf: BinaryIO) -> List[Tuple[str, CHType]]:
    n_cols = read_varuint(buf)
    names = [read_str(buf) for _ in range(n_cols)]
    types = [parse_type(read_str(buf)) for _ in range(n_cols)]
    for t in types:
        _check_supported(t)
    return list(zip(names, types))


def _all_fixed(schema: List[Tuple[str, CHType]]) -> Optional[np.dtype]:
    # POSITIONAL field names (f0, f1, ...): a query with duplicate
    # output names (SELECT a, a) would make np.dtype raise 'field
    # occurs more than once'; the emitted BlockColumns keep the real
    # schema names
    fields = []
    for i, (_name, t) in enumerate(schema):
        if t.nullable or t.base not in FIXED_WIDTH:
            return None
        fields.append((f"f{i}", FIXED_WIDTH[t.base][0]))
    return np.dtype(fields)


def iter_rowbinary_blocks(
    buf: BinaryIO,
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
    schema: Optional[List[Tuple[str, CHType]]] = None,
) -> Iterator[Block]:
    """Decode a RowBinaryWithNamesAndTypes stream into Blocks with the
    SAME Arrow schema the Native path produces for these CH types.

    Fast path: an all-fixed-width non-nullable schema decodes each
    chunk with one numpy structured view (no per-row Python); anything
    else walks rows sequentially (row-major layout — documented slow
    path, Native is the columnar format).

    ``schema`` switches to HEADERLESS ``FORMAT RowBinary`` (ClickHouse's
    plain spelling carries no names/types rows — the structure arrives
    out of band, url()'s third argument). A header with no rows yields
    one 0-row block carrying the header's names and types."""
    empty_ok = schema is None
    if schema is None:
        schema = read_rowbinary_header(buf)
    else:
        for _name, t in schema:
            _check_supported(t)
    rec = _all_fixed(schema)
    if rec is not None:
        while True:
            raw = buf.read(rec.itemsize * block_rows)
            if not raw and not empty_ok:
                return
            empty_ok = False
            if len(raw) % rec.itemsize:
                raise EOFError("truncated RowBinary row")
            mat = np.frombuffer(raw, dtype=rec)
            cols = [
                BlockColumn(
                    name,
                    t.name,
                    t,
                    _fixed_col_to_arrow(mat[f"f{i}"], t, lossy_uint64),
                )
                for i, (name, t) in enumerate(schema)
            ]
            yield Block(n_rows=len(mat), columns=cols)
            if not raw:
                return
    # general path
    while True:
        rows_vals: list[list] = [[] for _ in schema]
        n = 0
        while n < block_rows:
            probe = buf.read(1)
            if not probe:
                break
            # push back the probed byte via a tiny chain reader
            first = probe
            for i, (_name, t) in enumerate(schema):
                if i == 0:
                    val = _read_value(_Chain(first, buf), t)
                else:
                    val = _read_value(buf, t)
                rows_vals[i].append(val)
            n += 1
        if n == 0 and not empty_ok:
            return
        empty_ok = False
        cols = [
            BlockColumn(
                name,
                t.name,
                t,
                pa.array(rows_vals[i], type=to_arrow(t, lossy_uint64=lossy_uint64)),
            )
            for i, (name, t) in enumerate(schema)
        ]
        yield Block(n_rows=n, columns=cols)
        if n < block_rows:
            return


def iter_rowbinary_plain_blocks(
    buf: BinaryIO,
    names_types: List[Tuple[str, CHType]],
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
) -> Iterator[Block]:
    """Decode HEADERLESS ``FORMAT RowBinary`` with an out-of-band
    structure (url()'s third argument) — plain RowBinary carries no
    names/types prefix, so reading it through the WithNamesAndTypes
    decoder would consume the first rows as a bogus header."""
    return iter_rowbinary_blocks(
        buf,
        lossy_uint64=lossy_uint64,
        block_rows=block_rows,
        schema=list(names_types),
    )


def _fixed_col_to_arrow(col: np.ndarray, t: CHType, lossy_uint64: bool) -> pa.Array:
    b = t.base
    target = to_arrow(t, lossy_uint64=lossy_uint64)
    if b == "DateTime":
        return pa.array(col.astype("int64") * 1_000_000, type=target)
    if b == "DateTime64":
        ticks = col.astype("int64")
        if t.scale == 6:
            us = ticks
        elif t.scale < 6:
            us = ticks * 10 ** (6 - t.scale)
        else:
            us = ticks // 10 ** (t.scale - 6)
        return pa.array(us, type=target)
    if b in ("Enum8", "Enum16"):
        return pa.array(
            [t.enum_map.get(int(v), str(int(v))) for v in col], type=target
        )
    if b == "Bool":
        return pa.array(col.astype(bool), type=target)
    if b in ("Date", "Date32"):
        return pa.array(col.astype("int32"), type=target)
    if b == "UInt64" and lossy_uint64:
        return pa.array(col.astype("int64").astype("int32"), type=target)
    return pa.array(np.ascontiguousarray(col), type=target)


class _Chain:
    """One pushed-back byte followed by the underlying stream."""

    def __init__(self, head: bytes, rest: BinaryIO):
        self._head = head
        self._rest = rest

    def read(self, n: int = -1) -> bytes:
        if self._head:
            head, self._head = self._head, b""
            if n == 1 or n == -1:
                return head if n == 1 else head + self._rest.read(-1)
            return head + self._rest.read(n - 1)
        return self._rest.read(n)


def derive_wire_types(
    batches, ch_types: Optional[List[CHType]] = None, *, server_types: bool = False
) -> Tuple[list, Optional[List[CHType]]]:
    """(materialized batch list, effective CHTypes).

    Arrow nullability lives on the FIELD (default true for every
    field) — deriving Nullable(...) from it would wrap every column;
    instead mark Nullable only where nulls actually exist, RECURSIVELY
    (codec ``_promote_nullable``), scanning ALL batches (not just the
    first — a null arriving only in a later batch used to fail loudly
    mid-stream; now it is declared up front).  With ``server_types``,
    reject declared types a real ClickHouse server cannot hold:
    Nullable(Array/Tuple) ('Nested type ... cannot be inside
    Nullable') — those only round-trip against this repo's own codec,
    which local .native FILES intentionally allow."""
    import pyarrow as pa

    from .types import from_arrow

    batches = list(batches)
    types = ch_types
    if types is None and batches:
        from .codec import _promote_nullable

        schema = batches[0].schema
        types = []
        for i, f in enumerate(schema):
            col = (
                pa.chunked_array([b.column(i) for b in batches])
                if len(batches) > 1
                else batches[0].column(i)
            )
            types.append(_promote_nullable(from_arrow(f.type), col))
    if server_types and types is not None:
        for i, t in enumerate(types):
            if t.nullable and t.base in ("Array", "Tuple"):
                name = batches[0].schema.names[i] if batches else f"col{i}"
                raise ValueError(
                    f"column {name!r}: ClickHouse rejects Nullable({t.base}"
                    "(...)) — a null-bearing top-level Array/Tuple column "
                    "cannot be INSERTed over the wire (drop the nulls or "
                    "COALESCE to an empty value first); only this repo's "
                    "own .native files round-trip that declared type"
                )
    return batches, types


def write_rowbinary(
    buf: BinaryIO, batches, ch_types: Optional[List[CHType]] = None
) -> int:
    """Encode Arrow RecordBatches as RowBinaryWithNamesAndTypes (the
    symmetric half — used by the mock server and INSERT tests)."""
    batches, ch_types = derive_wire_types(batches, ch_types)

    rows = 0
    wrote_header = False
    types: Optional[List[CHType]] = ch_types
    for batch in batches:
        for t in types:
            _check_supported(t)
        if not wrote_header:
            write_varuint(buf, batch.num_columns)
            for f in batch.schema:
                write_str(buf, f.name)
            for t in types:
                name = t.name
                if t.nullable:
                    name = f"Nullable({name})"
                write_str(buf, name)
            wrote_header = True
        pylists = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
        for r in range(batch.num_rows):
            for c, t in enumerate(types):
                _write_value(buf, t, _to_wire(pylists[c][r], t))
            rows += 1
    return rows


def _to_wire(val, t: CHType):
    """Arrow python values -> the raw wire value _write_value expects."""
    import datetime

    if val is None:
        return None
    if isinstance(val, datetime.datetime):
        # Arrow to_pylist yields NAIVE datetimes for timestamp("us");
        # they carry the stored wall-clock value, which this engine
        # pins to UTC — never let .timestamp() apply the host zone
        if val.tzinfo is None:
            val = val.replace(tzinfo=datetime.timezone.utc)
        return int(val.timestamp() * 1_000_000)
    if isinstance(val, datetime.date):
        return (val - datetime.date(1970, 1, 1)).days
    if isinstance(val, list) and t.base == "Array":
        return [_to_wire(v, t.inner) for v in val]
    if t.base == "Map" and isinstance(val, (list, dict)):
        kt, vt = t.tuple_items
        items = list(val.items()) if isinstance(val, dict) else list(val)
        return [(_to_wire(k, kt), _to_wire(v, vt)) for k, v in items]
    if t.base == "Tuple" and isinstance(val, (dict, tuple, list)):
        vals = list(val.values()) if isinstance(val, dict) else list(val)
        return {
            f"_{i + 1}": _to_wire(v, it)
            for i, (it, v) in enumerate(zip(t.tuple_items, vals))
        }
    return val


def iter_rowbinary_withnames_blocks(
    buf: BinaryIO,
    names_types: Optional[List[Tuple[str, CHType]]],
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
) -> Iterator[Block]:
    """Decode ``FORMAT RowBinaryWithNames`` (r14): a varint column
    count + names in-stream, NO types — binary payloads are not
    inferable, so the out-of-band structure is REQUIRED and is matched
    to the stream's names (the stream may order columns differently)."""
    if not names_types:
        raise UnsupportedTypeError(
            "RowBinaryWithNames carries no type row and binary payloads "
            "cannot be inferred — pass a structure ('name Type, ...'), "
            "or use RowBinaryWithNamesAndTypes"
        )
    n_cols = read_varuint(buf)
    names = [read_str(buf) for _ in range(n_cols)]
    by_name = dict(names_types)
    missing = [n for n in names if n not in by_name]
    if missing:
        raise ValueError(
            f"RowBinaryWithNames: stream columns {missing} are not in "
            f"the declared structure ({sorted(by_name)})"
        )
    return iter_rowbinary_blocks(
        buf,
        lossy_uint64=lossy_uint64,
        block_rows=block_rows,
        schema=[(n, by_name[n]) for n in names],
    )
