"""JSONCompactEachRowWithNamesAndTypes codec — a third ClickHouse wire
format for the scan source (after FORMAT Native and
RowBinaryWithNamesAndTypes).

Layout (public ClickHouse format docs): newline-delimited JSON arrays.
Line 1 is the column-name array, line 2 the type-name array, every
following line one data row in column order. Server output defaults
this module pins (and accepts the non-default spellings on input):

* 64-bit integers are QUOTED strings
  (``output_format_json_quote_64bit_integers = 1``, the default) —
  plain numbers are also accepted on read;
* Float NaN/±Inf: the reader accepts BOTH server spellings — ``null``
  (``output_format_json_quote_denormals = 0``, the server default;
  decodes to NaN, so a default-configured server cannot deliver ±Inf
  distinguishably over JSON) and the quoted ``"nan"`` / ``"inf"`` /
  ``"-inf"`` forms. The WRITER always emits the quoted spelling
  (``quote_denormals = 1``), the lossless one — set that server-side
  for lossless fetches;
* Date ``YYYY-MM-DD``; DateTime ``YYYY-MM-DD HH:MM:SS``;
  DateTime64(s) with exactly ``s`` fractional digits — all wall-clock
  UTC, matching the engine's Native-path pin;
* Enum values travel as their NAME strings (numeric bodies are also
  accepted on read and resolved through the declared enum map);
* Map travels as a JSON object (non-string keys are stringified, the
  server convention — integer keys parse back exactly); Tuple as a
  JSON array of its elements; LowCardinality is transparent (plain
  values);
* Decimals are written quoted (the lossless spelling;
  ``output_format_json_quote_decimals = 1``) and read either way;
* FixedString(n) output is NUL-padded to n — the reader strips the
  padding, mirroring native/rowbinary.py.

JSON is the TEXT interop format — inherently the slow path (one
``json.loads`` per row). Native remains the full-fidelity columnar
format; RowBinary the binary row format. This module exists because
JSON*EachRow is the most common ClickHouse HTTP interchange family,
and ``WithNamesAndTypes`` is its only self-describing member — the
same reason RowBinary got the NamesAndTypes variant.

Reference surface: the reference reads FORMAT Native only
(clickhouse_scan.rs:131); this is beyond-reference interop.
"""

from __future__ import annotations

import datetime
import json
import math
from decimal import Decimal
from typing import BinaryIO, Iterator, List, Optional, Tuple

import pyarrow as pa

from .codec import Block, BlockColumn
from .types import FIXED_WIDTH, CHType, UnsupportedTypeError, parse_type, to_arrow

_QUOTED_INT_BASES = {"Int64", "UInt64"}
_EPOCH_DATE = datetime.date(1970, 1, 1)


def _check_supported(t: CHType) -> None:
    b = t.base
    if b in FIXED_WIDTH or b in (
        "String", "FixedString", "UUID", "IPv4", "IPv6"
    ) or b.startswith("Decimal"):
        return
    if b in ("Array", "LowCardinality") and t.inner is not None:
        _check_supported(t.inner)
        return
    if b in ("Map", "Tuple") and t.tuple_items:
        for it in t.tuple_items:
            _check_supported(it)
        return
    raise UnsupportedTypeError(
        f"JSONCompactEachRow support for {t.name} is not implemented — "
        "use FORMAT Native (wire_format=native), the full-fidelity path"
    )


# -- scalar decode (JSON value -> the Arrow-facing value the Native path
#    emits for the same CH type) ---------------------------------------------


_EPOCH_DT = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _dt_to_us(dt: datetime.datetime) -> int:
    """Exact us-since-epoch (timedelta arithmetic — ``int(timestamp())``
    truncates toward zero and mis-rounds pre-1970 instants)."""
    d = dt - _EPOCH_DT
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def _from_json(val, t: CHType):
    if t.nullable:
        if val is None:
            return None
        inner = CHType(**{**t.__dict__, "nullable": False})
        return _from_json(val, inner)
    b = t.base
    if b in ("Float32", "Float64"):
        if val is None:  # denormals-as-null (server default)
            return float("nan")
        return float(val)  # float('inf') parses the quoted spellings
    if b == "Bool":
        return bool(int(val)) if not isinstance(val, bool) else val
    if b in ("Date", "Date32"):
        return (datetime.date.fromisoformat(val) - _EPOCH_DATE).days
    if b in ("DateTime", "DateTime64"):
        dt = datetime.datetime.fromisoformat(val).replace(
            tzinfo=datetime.timezone.utc
        )
        return _dt_to_us(dt)
    if b in ("Enum8", "Enum16"):
        if isinstance(val, str):
            return val
        return t.enum_map.get(int(val), str(int(val)))
    if b == "String":
        return val
    if b == "FixedString":
        # server output pads to n with NULs — strip, like rowbinary.py
        return str(val).rstrip("\x00")
    if b.startswith("Decimal"):
        return Decimal(str(val)).quantize(Decimal(1).scaleb(-t.scale))
    if b in ("UUID", "IPv4", "IPv6"):
        return str(val)
    if b == "Array":
        return [_from_json(v, t.inner) for v in val]
    if b == "Map":
        kt, vt = t.tuple_items
        # JSON object keys are strings; integer-keyed maps parse back
        def _key(k):
            return _from_json(int(k) if kt.base in FIXED_WIDTH else k, kt)

        return [(_key(k), _from_json(v, vt)) for k, v in val.items()]
    if b == "Tuple":
        return {
            f"_{i + 1}": _from_json(v, it)
            for i, (it, v) in enumerate(zip(t.tuple_items, val))
        }
    if b == "LowCardinality":
        return _from_json(val, t.inner)
    if b in FIXED_WIDTH:  # remaining integer widths
        return int(val)
    raise UnsupportedTypeError(t.name)


def _wrap_i32(v: int) -> int:
    return ((int(v) & 0xFFFFFFFF) ^ 0x80000000) - 0x80000000


def _lossy_fix(val, t: CHType):
    """Apply the UInt64->i32 compat truncation (lib.rs:336-344) to the
    already-decoded value, matching the Native path's astype wrap."""
    if val is None:
        return None
    b = t.base
    if b == "UInt64":
        return _wrap_i32(val)
    if b == "Array" and t.inner is not None:
        return [_lossy_fix(v, t.inner) for v in val]
    if b == "LowCardinality" and t.inner is not None:
        return _lossy_fix(val, t.inner)
    if b == "Map" and t.tuple_items:
        kt, vt = t.tuple_items
        return [(_lossy_fix(k, kt), _lossy_fix(v, vt)) for k, v in val]
    if b == "Tuple" and t.tuple_items:
        vals = list(val.values()) if isinstance(val, dict) else list(val)
        return {
            f"_{i + 1}": _lossy_fix(v, it)
            for i, (it, v) in enumerate(zip(t.tuple_items, vals))
        }
    return val


def _col_needs_lossy(t: CHType) -> bool:
    if t.base == "UInt64":
        return True
    if t.base in ("Array", "LowCardinality") and t.inner is not None:
        return _col_needs_lossy(t.inner)
    if t.base in ("Map", "Tuple") and t.tuple_items:
        return any(_col_needs_lossy(it) for it in t.tuple_items)
    return False


# -- scalar encode (Arrow-facing python value -> JSON value) -----------------


def _to_json(val, t: CHType):
    if t.nullable:
        if val is None:
            return None
        inner = CHType(**{**t.__dict__, "nullable": False})
        return _to_json(val, inner)
    b = t.base
    if val is None:
        if b == "Map":
            val = {}  # Nullable(Map) does not exist in CH — null == {}
        elif b == "LowCardinality":
            return _to_json(val, t.inner)  # inner may be Nullable
        else:
            # same loud-failure contract as rowbinary._write_value —
            # str(None) used to emit the literal "None"
            raise ValueError(
                f"NULL value for non-nullable wire type {t.name}; "
                "declare the column Nullable(...)"
            )
    if b in ("Float32", "Float64"):
        f = float(val)
        if math.isnan(f):
            return "nan"
        if math.isinf(f):
            # quote_denormals=1 — the LOSSLESS spelling (the server
            # default null cannot distinguish -Inf from NaN; the reader
            # accepts both)
            return "inf" if f > 0 else "-inf"
        return f
    if b == "Bool":
        return bool(val)
    if b in ("Date", "Date32"):
        if isinstance(val, datetime.date):
            return val.isoformat()
        return (_EPOCH_DATE + datetime.timedelta(days=int(val))).isoformat()
    if b in ("DateTime", "DateTime64"):
        if isinstance(val, datetime.datetime):
            if val.tzinfo is None:
                val = val.replace(tzinfo=datetime.timezone.utc)
            us = _dt_to_us(val)
        else:
            us = int(val)
        dt = datetime.datetime.fromtimestamp(us // 1_000_000, datetime.timezone.utc)
        body = dt.strftime("%Y-%m-%d %H:%M:%S")
        if b == "DateTime":
            return body
        scale = t.scale
        frac_us = us % 1_000_000
        if scale >= 6:
            frac = f"{frac_us:06d}" + "0" * (scale - 6)
        else:
            frac = f"{frac_us:06d}"[:scale]
        return f"{body}.{frac}" if scale else body
    if b in ("Enum8", "Enum16"):
        return str(val)
    if b in ("String", "FixedString", "UUID", "IPv4", "IPv6"):
        return str(val)
    if b.startswith("Decimal"):
        # quoted: the lossless spelling (quote_decimals = 1)
        return str(Decimal(str(val)).quantize(Decimal(1).scaleb(-t.scale)))
    if b == "Array":
        return [_to_json(v, t.inner) for v in val]
    if b == "Map":
        kt, vt = t.tuple_items
        items = list(val.items()) if isinstance(val, dict) else list(val)
        # JSON object keys must be strings (the server convention)
        return {str(_to_json(k, kt)): _to_json(v, vt) for k, v in items}
    if b == "Tuple":
        vals = list(val.values()) if isinstance(val, dict) else list(val)
        return [_to_json(v, it) for it, v in zip(t.tuple_items, vals)]
    if b == "LowCardinality":
        return _to_json(val, t.inner)
    if b in _QUOTED_INT_BASES:
        return str(int(val))  # quote_64bit_integers = 1, the default
    if b in FIXED_WIDTH:
        return int(val)
    raise UnsupportedTypeError(t.name)


# -- stream-level API --------------------------------------------------------


def read_jsoncompact_header(buf: BinaryIO) -> List[Tuple[str, CHType]]:
    names_line = buf.readline()
    types_line = buf.readline()
    if not names_line or not types_line:
        raise EOFError("EOF inside JSONCompactEachRowWithNamesAndTypes header")
    names = json.loads(names_line)
    types = [parse_type(s) for s in json.loads(types_line)]
    for t in types:
        _check_supported(t)
    return list(zip(names, types))


def iter_jsoncompact_blocks(
    buf: BinaryIO,
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
    schema: Optional[List[Tuple[str, CHType]]] = None,
) -> Iterator[Block]:
    """Decode a JSONCompactEachRowWithNamesAndTypes stream into Blocks
    with the SAME Arrow schema the Native path produces for these CH
    types (so the scan source's downstream is format-agnostic).

    ``schema`` switches to HEADERLESS ``FORMAT JSONCompactEachRow``
    (plain spelling: no names/types rows; structure arrives out of
    band, url()'s third argument). A header with no rows yields one
    0-row block carrying the header's names and types."""
    empty_ok = schema is None
    if schema is None:
        schema = read_jsoncompact_header(buf)
    else:
        for _name, t in schema:
            _check_supported(t)
    lossy_cols = [
        lossy_uint64 and _col_needs_lossy(t) for _name, t in schema
    ]
    while True:
        cols_vals: list[list] = [[] for _ in schema]
        n = 0
        while n < block_rows:
            line = buf.readline()
            if not line:
                break
            if not line.strip():
                continue  # tolerate a trailing blank line
            row = json.loads(line)
            if len(row) != len(schema):
                raise ValueError(
                    f"JSONCompactEachRow row has {len(row)} values, "
                    f"header declares {len(schema)} columns"
                )
            for i, (_name, t) in enumerate(schema):
                v = _from_json(row[i], t)
                if lossy_cols[i]:
                    v = _lossy_fix(v, t)
                cols_vals[i].append(v)
            n += 1
        if n == 0 and not empty_ok:
            return
        empty_ok = False
        cols = [
            BlockColumn(
                name,
                t.name,
                t,
                pa.array(cols_vals[i], type=to_arrow(t, lossy_uint64=lossy_uint64)),
            )
            for i, (name, t) in enumerate(schema)
        ]
        yield Block(n_rows=n, columns=cols)
        if n < block_rows:
            return


def iter_jsoncompact_plain_blocks(
    buf: BinaryIO,
    names_types: List[Tuple[str, CHType]],
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
) -> Iterator[Block]:
    """Decode HEADERLESS ``FORMAT JSONCompactEachRow`` with an
    out-of-band structure (url()'s third argument) — the plain spelling
    carries no names/types rows, so the WithNamesAndTypes decoder would
    eat the first two data rows as a bogus header."""
    return iter_jsoncompact_blocks(
        buf,
        lossy_uint64=lossy_uint64,
        block_rows=block_rows,
        schema=list(names_types),
    )


def write_jsoncompact(
    buf: BinaryIO, batches, ch_types: Optional[List[CHType]] = None
) -> int:
    """Encode Arrow RecordBatches as JSONCompactEachRowWithNamesAndTypes
    (the symmetric half — mock server responses and INSERT bodies)."""
    from .rowbinary import _to_wire, derive_wire_types

    batches, ch_types = derive_wire_types(batches, ch_types)
    rows = 0
    wrote_header = False
    types: Optional[List[CHType]] = ch_types
    for batch in batches:
        for t in types:
            _check_supported(t)
        if not wrote_header:
            names = [f.name for f in batch.schema]
            type_names = [
                f"Nullable({t.name})" if t.nullable else t.name for t in types
            ]
            buf.write(json.dumps(names).encode() + b"\n")
            buf.write(json.dumps(type_names).encode() + b"\n")
            wrote_header = True
        pylists = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
        for r in range(batch.num_rows):
            row = [
                _to_json(_to_wire(pylists[c][r], t), t)
                for c, t in enumerate(types)
            ]
            buf.write(
                json.dumps(row, separators=(",", ":"), ensure_ascii=False).encode()
                + b"\n"
            )
            rows += 1
    return rows


def iter_jsonobjects_blocks(
    buf: BinaryIO,
    names_types: List[Tuple[str, CHType]],
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
) -> Iterator[Block]:
    """Decode plain ``FORMAT JSONEachRow`` (one JSON OBJECT per line —
    ClickHouse's most common interchange spelling) into Blocks.

    JSONEachRow is NOT self-describing (no name/type header), so the
    caller supplies the schema — the scan source derives it from the
    zero-row ``FORMAT Native`` probe it already runs at planning
    (spark type -> types.from_arrow), which is exactly how ClickHouse
    clients consume this format: types come from the table, values
    from the stream.  A ``null`` value decodes to SQL NULL for every
    type (the plain format cannot distinguish NULL from NaN the way
    the typed header lets the compact reader do — set
    ``output_format_json_quote_denormals=1`` server-side for lossless
    float fetches).  Unknown keys are ignored; missing keys read as
    NULL (ClickHouse's input_format_skip_unknown_fields spirit)."""
    lossy_cols = [
        lossy_uint64 and _col_needs_lossy(t) for _name, t in names_types
    ]
    while True:
        cols_vals: list[list] = [[] for _ in names_types]
        n = 0
        while n < block_rows:
            line = buf.readline()
            if not line:
                break
            if not line.strip():
                continue
            obj = json.loads(line)
            if not isinstance(obj, dict):
                raise ValueError(
                    "JSONEachRow line is not a JSON object "
                    f"(got {type(obj).__name__})"
                )
            for i, (name, t) in enumerate(names_types):
                raw = obj.get(name)
                v = None if raw is None else _from_json(raw, t)
                if v is not None and lossy_cols[i]:
                    v = _lossy_fix(v, t)
                cols_vals[i].append(v)
            n += 1
        if n == 0:
            return
        cols = [
            BlockColumn(
                name,
                t.name,
                t,
                pa.array(
                    cols_vals[i], type=to_arrow(t, lossy_uint64=lossy_uint64)
                ),
            )
            for i, (name, t) in enumerate(names_types)
        ]
        yield Block(n_rows=n, columns=cols)
        if n < block_rows:
            return


def write_jsonobjects(
    buf: BinaryIO, batches, ch_types: Optional[List[CHType]] = None
) -> int:
    """Encode Arrow RecordBatches as plain ``FORMAT JSONEachRow``
    objects (the symmetric half — mock responses and INSERT bodies).
    Key order is column order; NULLs travel as JSON null."""
    from .rowbinary import _to_wire, derive_wire_types

    batches, ch_types = derive_wire_types(batches, ch_types)
    rows = 0
    types: Optional[List[CHType]] = ch_types
    for batch in batches:
        for t in types:
            _check_supported(t)
        names = [f.name for f in batch.schema]
        pylists = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
        for r in range(batch.num_rows):
            obj = {
                names[c]: (
                    None
                    if pylists[c][r] is None
                    else _to_json(_to_wire(pylists[c][r], t), t)
                )
                for c, t in enumerate(types)
            }
            buf.write(
                json.dumps(obj, separators=(",", ":"), ensure_ascii=False).encode()
                + b"\n"
            )
            rows += 1
    return rows


def infer_json_type(col_vals, fmt_name: str) -> CHType:
    """ClickHouse-style type inference over PARSED JSON values (int ->
    Int64, int+float -> Float64, bool -> Bool, string -> String; null
    forces Nullable; nested arrays/objects refuse by name — declare a
    structure for those).  Shared by every names-in-band JSON format
    (JSONCompactEachRowWithNames, JSONEachRow, JSONColumns,
    JSONObjectEachRow, JSONCompactColumns)."""
    nullable = any(v is None for v in col_vals)
    ev = [v for v in col_vals if v is not None]
    if not ev:
        t = parse_type("String")
    elif all(isinstance(v, bool) for v in ev):
        t = parse_type("Bool")
    elif all(isinstance(v, int) and not isinstance(v, bool) for v in ev):
        if any(not -(2**63) <= v < 2**63 for v in ev):
            raise ValueError(
                f"{fmt_name}: integer exceeds Int64 — declare a structure"
            )
        t = parse_type("Int64")
    elif all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in ev
    ):
        t = parse_type("Float64")
    elif all(isinstance(v, str) for v in ev):
        t = parse_type("String")
    else:
        raise UnsupportedTypeError(
            f"{fmt_name}: cannot infer a type for mixed/nested JSON "
            "values — declare a structure ('name Type, ...')"
        )
    t.nullable = nullable
    return t


def iter_jsoncompact_withnames_blocks(
    buf: BinaryIO,
    names_types: Optional[List[Tuple[str, CHType]]] = None,
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
    infer_rows: int = 25_000,
) -> Iterator[Block]:
    """Decode ``FORMAT JSONCompactEachRowWithNames`` (r14): a names row
    then value rows.  With a structure the types match BY NAME; without
    one they infer from the JSON values over the first ``infer_rows``
    rows (int -> Int64, int+float -> Float64, bool -> Bool, string ->
    String; null forces Nullable; nested arrays/objects refuse by
    name — declare a structure for those)."""
    import itertools

    first = buf.readline()
    if not first:
        raise EOFError("EOF inside JSONCompactEachRowWithNames names row")
    names = json.loads(first)
    if not isinstance(names, list) or not all(
        isinstance(n, str) for n in names
    ):
        raise ValueError(
            "JSONCompactEachRowWithNames: first row must be the name list"
        )

    def rows_iter():
        while True:
            line = buf.readline()
            if not line:
                return
            if not line.strip():
                continue
            row = json.loads(line)
            if len(row) != len(names):
                raise ValueError(
                    f"JSONCompactEachRowWithNames row has {len(row)} "
                    f"values, names row declares {len(names)} columns"
                )
            yield row

    it = rows_iter()
    if names_types is not None:
        by_name = dict(names_types)
        missing = [n for n in names if n not in by_name]
        if missing:
            raise ValueError(
                f"JSONCompactEachRowWithNames: stream columns {missing} "
                f"are not in the declared structure ({sorted(by_name)})"
            )
        schema = [(n, by_name[n]) for n in names]
        # named refusal HERE, not a confusing failure deep in the
        # value-conversion loop (r14 ADVICE: the plain/WithNamesAndTypes
        # paths check; the structure-over-names path must too)
        for _n, _t in schema:
            _check_supported(_t)
        prefix: list = []
    else:
        prefix = list(itertools.islice(it, infer_rows))
        schema = [
            (
                n,
                infer_json_type(
                    [r[i] for r in prefix], "JSONCompactEachRowWithNames"
                ),
            )
            for i, n in enumerate(names)
        ]

    lossy_cols = [
        lossy_uint64 and _col_needs_lossy(t) for _name, t in schema
    ]
    all_rows = itertools.chain(prefix, it)
    while True:
        cols_vals: list[list] = [[] for _ in schema]
        n = 0
        while n < block_rows:
            row = next(all_rows, None)
            if row is None:
                break
            for i, (_name, t) in enumerate(schema):
                v = _from_json(row[i], t)
                if lossy_cols[i]:
                    v = _lossy_fix(v, t)
                cols_vals[i].append(v)
            n += 1
        if n == 0:
            return
        cols = [
            BlockColumn(
                name,
                t.name,
                t,
                pa.array(cols_vals[i], type=to_arrow(t, lossy_uint64=lossy_uint64)),
            )
            for i, (name, t) in enumerate(schema)
        ]
        yield Block(n_rows=n, columns=cols)
        if n < block_rows:
            return
