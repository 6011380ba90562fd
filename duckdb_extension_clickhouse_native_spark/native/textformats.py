"""TabSeparatedWithNamesAndTypes + CSVWithNamesAndTypes codecs — the
fourth and fifth ClickHouse wire formats for the scan source (after
Native, RowBinaryWithNamesAndTypes, and
JSONCompactEachRowWithNamesAndTypes).

Layout (public ClickHouse format docs): two header lines (column
names, then type names) followed by one data row per record.

* **TabSeparated** ("TSV"): fields separated by ``\\t``, records by
  ``\\n``; values use ClickHouse's *Escaped* serialization
  (``\\b \\f \\n \\r \\t \\0 \\\\`` written escaped; ``\\'``/``\\"``
  also accepted on read; any other ``\\x`` reads as ``x``, matching
  the server's permissive parser).  ``\\N`` (before unescaping) is
  NULL.
* **CSV**: RFC-4180-style — fields separated by ``,``, ``"``-quoted
  with doubled inner quotes; quoted fields may contain newlines.  The
  writer always quotes the string family (String/FixedString/Enum/
  UUID/IP/Date*/Decimal) and never quotes numerics, matching server
  output; the reader accepts either.  Unquoted ``\\N`` is NULL —
  a QUOTED ``"\\N"`` is the two-character string, exactly as the
  server distinguishes them.

Shared value semantics (both directions reuse native/jsoneachrow.py's
scalar codec where the text forms coincide): floats print the lossless
shortest round-trip spelling with ``nan``/``inf``/``-inf`` denormals
(unlike JSON, TSV/CSV have no null-denormal lossy mode); Bool is
``true``/``false``; Date ``YYYY-MM-DD``; DateTime(64) wall-clock UTC
with exactly ``scale`` fractional digits; Enum values travel as their
names; FixedString output is NUL-padded to n (reader strips).

Array/Map/Tuple/LowCardinality are rejected with a FORMAT Native
pointer: their TSV/CSV quoting rules are a nested-escaping swamp this
codec has not pinned against a real server, and the reference itself
reads FORMAT Native only (clickhouse_scan.rs:131) — these formats are
beyond-reference interop for text-tool compatibility.
"""

from __future__ import annotations

import re

from typing import BinaryIO, Iterator, List, Optional, Tuple

import pyarrow as pa

from .codec import Block, BlockColumn
from .jsoneachrow import _col_needs_lossy, _from_json, _lossy_fix, _to_json
from .types import FIXED_WIDTH, CHType, UnsupportedTypeError, parse_type, to_arrow


def _check_supported(t: CHType) -> None:
    b = t.base
    if b in FIXED_WIDTH or b in (
        "String", "FixedString", "UUID", "IPv4", "IPv6"
    ) or b.startswith("Decimal"):
        return
    raise UnsupportedTypeError(
        f"TSV/CSV support for {t.name} is not implemented — "
        "use FORMAT Native (wire_format=native), the full-fidelity path"
    )


# -- scalar text codec (unescaped layer, shared by TSV and CSV) --------------


def _to_text(val, t: CHType) -> Optional[str]:
    """Arrow-facing value -> unescaped text field (None == NULL)."""
    r = _to_json(val, t)
    if r is None:
        return None
    if isinstance(r, bool):
        return "true" if r else "false"
    if isinstance(r, float):
        return repr(r)  # shortest round-trip; nan/inf spellings match CH
    return str(r)


def _from_text(s: str, t: CHType):
    """Unescaped text field -> the Arrow-facing value the Native path
    emits for the same CH type."""
    if t.nullable:
        inner = CHType(**{**t.__dict__, "nullable": False})
        return _from_text(s, inner)
    b = t.base
    if b == "Bool":
        return s.strip().lower() in ("true", "1")
    if b in ("Float32", "Float64"):
        return float(s)  # accepts nan / inf / -inf / +inf
    # Date/DateTime/Enum/String/FixedString/Decimal/UUID/IP share their
    # JSON text bodies (checked BEFORE the FIXED_WIDTH branch — the
    # Native codec counts Date/DateTime among its fixed-width columns)
    if b in ("Date", "Date32", "DateTime", "DateTime64", "Enum8", "Enum16",
             "String", "FixedString", "UUID", "IPv4", "IPv6") or b.startswith(
        "Decimal"
    ):
        return _from_json(s, t)
    if b in FIXED_WIDTH:  # remaining integer widths
        return int(s)
    raise UnsupportedTypeError(t.name)


def _is_stringish(t: CHType) -> bool:
    """The family the CSV writer quotes (server behavior)."""
    b = t.base
    return b in (
        "String", "FixedString", "UUID", "IPv4", "IPv6",
        "Enum8", "Enum16", "Date", "Date32", "DateTime", "DateTime64",
    ) or b.startswith("Decimal")


# -- TSV escaping ------------------------------------------------------------

_TSV_ESCAPES = {
    "\\": "\\\\",
    "\t": "\\t",
    "\n": "\\n",
    "\r": "\\r",
    "\b": "\\b",
    "\f": "\\f",
    "\0": "\\0",
}
_TSV_UNESCAPES = {
    "\\": "\\", "t": "\t", "n": "\n", "r": "\r",
    "b": "\b", "f": "\f", "0": "\0", "'": "'", '"': '"',
}


_TSV_ESCAPE_TABLE = {ord(k): v for k, v in _TSV_ESCAPES.items()}


def tsv_escape(s: str) -> str:
    # str.translate runs the whole map in C — one call per field
    return s.translate(_TSV_ESCAPE_TABLE)


def tsv_unescape(s: str) -> str:
    if "\\" not in s:  # fast path: nothing escaped (the common case)
        return s
    out = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "\\" and i + 1 < n:
            nxt = s[i + 1]
            # unknown \x reads as x — the server's permissive parser
            out.append(_TSV_UNESCAPES.get(nxt, nxt))
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _split_tsv_line(line: str) -> List[str]:
    """Split on REAL tabs only — escaped ``\\t`` survives because the
    backslash is still in front of it until tsv_unescape runs."""
    return line.split("\t")


# -- CSV record parser -------------------------------------------------------


# one CSV field per match: a fully-quoted field (embedded newlines and
# doubled quotes included) or a bare run up to the next comma — the
# char-at-a-time Python loop this replaces measured ~9 s/M rows
_CSV_FIELD_RE = re.compile(r'(?:^|,)("(?:[^"]|"")*"|[^,]*)')


def _csv_scan_state(chunk: bytes, state: int) -> int:
    """Incremental RFC-4180 context scan over one line's bytes.

    States: 0 = field start, 1 = inside unquoted field, 2 = inside a
    quoted field, 3 = just saw a quote while inside a quoted field
    (either the closer or half of a doubled escape).  A quote byte
    only OPENS quoted context at field start — a bare '"' inside an
    unquoted field (producible by third-party writers, accepted by
    this reader's permissive field parser) stays in state 1 and does
    NOT flip context, so it can no longer fuse the next record into
    this one the way the old raw-byte parity count did."""
    for b in chunk:
        if state == 0:
            state = 2 if b == 0x22 else (0 if b == 0x2C else 1)
        elif state == 1:
            if b == 0x2C:
                state = 0
        elif state == 2:
            if b == 0x22:
                state = 3
        else:  # state == 3: quote seen inside quoted field
            if b == 0x22:
                state = 2  # doubled escape — still quoted
            elif b == 0x2C:
                state = 0
            else:
                state = 1  # permissive: text after the closing quote
    return state


def _read_csv_record(buf: BinaryIO) -> Optional[List[Tuple[str, bool]]]:
    """One logical CSV record -> [(raw_text, was_quoted)], or None at
    EOF.  Handles quoted fields containing commas, newlines, and
    doubled quotes.  Reads buffered LINES and joins continuation lines
    while a STATEFUL scan (``_csv_scan_state``) says the line ended
    inside quoted-field context — NOT a raw quote-byte parity count,
    which a bare '"' inside an unquoted field would flip, silently
    fusing the next record into this one and shifting every later
    row.  The old one-byte-at-a-time reader measured 0.06 M rows/s;
    this one is line-buffered."""
    raw = buf.readline()
    if not raw:
        return None
    # strip the trailing newline before scanning so a record that ends
    # exactly at a closing quote is judged complete
    state = _csv_scan_state(raw.rstrip(b"\r\n"), 0)
    while state == 2:  # line ended inside a quoted field
        nxt = buf.readline()
        if not nxt:
            break  # unterminated quote at EOF — parse what we have
        # the newline we kept belongs to the quoted field's value
        state = _csv_scan_state(nxt.rstrip(b"\r\n"), 2)
        raw += nxt
    text = raw.decode("utf-8")
    if text.endswith("\n"):
        text = text[:-1]
    if text.endswith("\r"):
        text = text[:-1]
    if '"' not in text:  # fast path: no quoting anywhere in the record
        return [(f, False) for f in text.split(",")]
    out: List[Tuple[str, bool]] = []
    for m in _CSV_FIELD_RE.finditer(text):
        f = m.group(1)
        if f.startswith('"') and f.endswith('"') and len(f) >= 2:
            out.append((f[1:-1].replace('""', '"'), True))
        else:
            out.append((f, False))
    return out


def _csv_quote(s: str) -> str:
    return '"' + s.replace('"', '""') + '"'


# -- stream-level API --------------------------------------------------------


def _read_text_line(buf: BinaryIO) -> str:
    line = buf.readline()
    if not line:
        raise EOFError("EOF inside TSV/CSV header")
    return line.decode("utf-8").rstrip("\r\n")



def _empty_line_is_row(schema: List[Tuple[str, CHType]]) -> bool:
    """A blank line is AMBIGUOUS only for a single string-family
    column, where the empty string legitimately serializes to an empty
    field (fuzz-found).  Numeric/temporal single columns never
    serialize empty, so there a blank line can only be trailing-noise
    — tolerated, as before."""
    if len(schema) != 1:
        return False
    t = schema[0][1]
    b = t.base
    if b == "LowCardinality" and t.inner is not None:
        b = t.inner.base
    return b in ("String", "FixedString")


def read_tsv_header(buf: BinaryIO) -> List[Tuple[str, CHType]]:
    names = [tsv_unescape(f) for f in _split_tsv_line(_read_text_line(buf))]
    types = [parse_type(tsv_unescape(f)) for f in _split_tsv_line(_read_text_line(buf))]
    for t in types:
        _check_supported(t)
    return list(zip(names, types))


def read_csv_header(buf: BinaryIO) -> List[Tuple[str, CHType]]:
    names_rec = _read_csv_record(buf)
    types_rec = _read_csv_record(buf)
    if names_rec is None or types_rec is None:
        raise EOFError("EOF inside TSV/CSV header")
    names = [f for f, _q in names_rec]
    types = [parse_type(f) for f, _q in types_rec]
    for t in types:
        _check_supported(t)
    return list(zip(names, types))


def _blocks_from_rows(
    schema: List[Tuple[str, CHType]],
    row_iter,
    *,
    lossy_uint64: bool,
    block_rows: int,
    typed_header: bool = False,
) -> Iterator[Block]:
    """Blocks of ``block_rows`` rows. With ``typed_header`` (the stream's
    header named every column and its type) a stream with no rows
    yields one 0-row block, so the schema survives an empty body."""
    lossy_cols = [lossy_uint64 and _col_needs_lossy(t) for _n, t in schema]
    empty_ok = typed_header
    while True:
        cols_vals: list[list] = [[] for _ in schema]
        n = 0
        while n < block_rows:
            row = next(row_iter, None)
            if row is None:
                break
            if len(row) != len(schema):
                raise ValueError(
                    f"row has {len(row)} values, header declares "
                    f"{len(schema)} columns"
                )
            for i, (_name, t) in enumerate(schema):
                v = row[i]
                if lossy_cols[i] and v is not None:
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


def iter_tsv_blocks(
    buf: BinaryIO, *, lossy_uint64: bool = False, block_rows: int = 65_536
) -> Iterator[Block]:
    schema = read_tsv_header(buf)

    def rows():
        while True:
            line = buf.readline()
            if not line:
                return
            text = line.decode("utf-8").rstrip("\n").rstrip("\r")
            if not text and not _empty_line_is_row(schema):
                continue  # tolerate a trailing blank line
            raw_fields = _split_tsv_line(text)
            if len(raw_fields) != len(schema):
                raise ValueError(
                    f"TSV row has {len(raw_fields)} values, "
                    f"header declares {len(schema)} columns"
                )
            out = []
            for raw, (_name, t) in zip(raw_fields, schema):
                if raw == "\\N":  # NULL check happens BEFORE unescaping
                    out.append(None)
                else:
                    out.append(_from_text(tsv_unescape(raw), t))
            yield out

    return _blocks_from_rows(
        schema,
        rows(),
        lossy_uint64=lossy_uint64,
        block_rows=block_rows,
        typed_header=True,
    )


def iter_csv_blocks(
    buf: BinaryIO, *, lossy_uint64: bool = False, block_rows: int = 65_536
) -> Iterator[Block]:
    schema = read_csv_header(buf)

    def rows():
        while True:
            rec = _read_csv_record(buf)
            if rec is None:
                return
            if (
                len(rec) == 1
                and rec[0] == ("", False)
                and not _empty_line_is_row(schema)
            ):
                continue  # tolerate a trailing blank line
            if len(rec) != len(schema):
                raise ValueError(
                    f"CSV row has {len(rec)} values, header declares "
                    f"{len(schema)} columns"
                )
            out = []
            for (raw, was_quoted), (_name, t) in zip(rec, schema):
                if raw == "\\N" and not was_quoted:
                    out.append(None)  # quoted "\N" is the string
                else:
                    out.append(_from_text(raw, t))
            yield out

    return _blocks_from_rows(
        schema,
        rows(),
        lossy_uint64=lossy_uint64,
        block_rows=block_rows,
        typed_header=True,
    )


def _write_text(
    buf: BinaryIO, batches, ch_types: Optional[List[CHType]], *, csv: bool
) -> int:
    from .rowbinary import _to_wire, derive_wire_types

    # nullability derived across ALL batches (recursive, though
    # TSV/CSV reject nested types anyway) — see derive_wire_types
    batches, types = derive_wire_types(batches, ch_types)
    rows = 0
    wrote_header = False
    for batch in batches:
        for t in types:
            _check_supported(t)
        if not wrote_header:
            names = [f.name for f in batch.schema]
            type_names = [
                f"Nullable({t.name})" if t.nullable else t.name for t in types
            ]
            if csv:
                buf.write(
                    (",".join(_csv_quote(n) for n in names) + "\n").encode()
                )
                buf.write(
                    (",".join(_csv_quote(tn) for tn in type_names) + "\n").encode()
                )
            else:
                buf.write(
                    ("\t".join(tsv_escape(n) for n in names) + "\n").encode()
                )
                buf.write(
                    ("\t".join(tsv_escape(tn) for tn in type_names) + "\n").encode()
                )
            wrote_header = True
        pylists = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
        for r in range(batch.num_rows):
            fields = []
            for c, t in enumerate(types):
                text = _to_text(_to_wire(pylists[c][r], t), t)
                if text is None:
                    fields.append("\\N")
                elif csv:
                    fields.append(
                        _csv_quote(text) if _is_stringish(t) else text
                    )
                else:
                    fields.append(tsv_escape(text))
            sep = "," if csv else "\t"
            buf.write((sep.join(fields) + "\n").encode())
            rows += 1
    return rows


def write_tsv(buf: BinaryIO, batches, ch_types: Optional[List[CHType]] = None) -> int:
    """Encode Arrow RecordBatches as TabSeparatedWithNamesAndTypes."""
    return _write_text(buf, batches, ch_types, csv=False)


def write_csv(buf: BinaryIO, batches, ch_types: Optional[List[CHType]] = None) -> int:
    """Encode Arrow RecordBatches as CSVWithNamesAndTypes."""
    return _write_text(buf, batches, ch_types, csv=True)


# -- TSKV (the tenth wire format) --------------------------------------------
# ClickHouse TSKV (interfaces/formats#tskv): one line per row of
# ``name=value`` fields separated by tabs, values in the same Escaped
# serialization as TSV, names additionally escaping ``=``.  Names are
# in-band but TYPES are not, so like plain JSONEachRow the caller
# supplies the schema from its planning probe.  ``\N`` (before
# unescaping) is NULL; missing keys read as NULL; unknown keys are
# ignored (input_format_skip_unknown_fields spirit).


def _tskv_escape_name(name: str) -> str:
    return tsv_escape(name).replace("=", "\\=")


def _split_tskv_field(field: str) -> Tuple[str, str]:
    """Split one raw (still-escaped) field at the first UNESCAPED '='."""
    i, n = 0, len(field)
    while i < n:
        c = field[i]
        if c == "\\":
            i += 2
            continue
        if c == "=":
            return field[:i], field[i + 1 :]
        i += 1
    raise ValueError(f"TSKV field without '=': {field!r}")


def iter_tskv_blocks(
    buf: BinaryIO,
    names_types: List[Tuple[str, CHType]],
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
) -> Iterator[Block]:
    for _name, t in names_types:
        _check_supported(t)
    want = {n for n, _t in names_types}

    def rows():
        while True:
            line = buf.readline()
            if not line:
                return
            text = line.decode("utf-8").rstrip("\n").rstrip("\r")
            if not text:
                continue  # tolerate blank lines (a 0-field row is not a row)
            vals: dict = {}
            for raw in _split_tsv_line(text):
                rname, rval = _split_tskv_field(raw)
                name = tsv_unescape(rname.replace("\\=", "="))
                if name not in want:
                    continue  # skip-unknown-fields
                vals[name] = rval
            out = []
            for name, t in names_types:
                raw = vals.get(name)
                if raw is None or raw == "\\N":  # missing key or explicit NULL
                    out.append(None)
                else:
                    out.append(_from_text(tsv_unescape(raw), t))
            yield out

    return _blocks_from_rows(
        names_types, rows(), lossy_uint64=lossy_uint64, block_rows=block_rows
    )


def write_tskv(
    buf: BinaryIO, batches, ch_types: Optional[List[CHType]] = None
) -> int:
    from .rowbinary import _to_wire, derive_wire_types

    batches, types = derive_wire_types(batches, ch_types)
    rows = 0
    for batch in batches:
        for t in types:
            _check_supported(t)
        names = [_tskv_escape_name(f.name) for f in batch.schema]
        pylists = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
        for r in range(batch.num_rows):
            fields = []
            for c, t in enumerate(types):
                text = _to_text(_to_wire(pylists[c][r], t), t)
                fields.append(
                    names[c] + "=" + ("\\N" if text is None else tsv_escape(text))
                )
            buf.write(("\t".join(fields) + "\n").encode())
            rows += 1
    return rows


def iter_csv_plain_blocks(
    buf: BinaryIO,
    names_types: List[Tuple[str, CHType]],
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
) -> Iterator[Block]:
    """Decode HEADERLESS ``FORMAT CSV`` (ClickHouse's plain CSV has no
    name/type rows — WithNamesAndTypes is the self-describing
    spelling); the schema arrives out of band (url()'s ``structure``
    argument)."""
    for _name, t in names_types:
        _check_supported(t)

    def rows():
        while True:
            rec = _read_csv_record(buf)
            if rec is None:
                return
            if (
                len(rec) == 1
                and rec[0] == ("", False)
                and not _empty_line_is_row(names_types)
            ):
                continue
            if len(rec) != len(names_types):
                raise ValueError(
                    f"CSV row has {len(rec)} values, structure declares "
                    f"{len(names_types)} columns"
                )
            out = []
            for (raw, was_quoted), (_name, t) in zip(rec, names_types):
                if raw == "\\N" and not was_quoted:
                    out.append(None)
                else:
                    out.append(_from_text(raw, t))
            yield out

    return _blocks_from_rows(
        names_types, rows(), lossy_uint64=lossy_uint64, block_rows=block_rows
    )


def iter_tsv_plain_blocks(
    buf: BinaryIO,
    names_types: List[Tuple[str, CHType]],
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
) -> Iterator[Block]:
    """Decode HEADERLESS ``FORMAT TSV`` with an out-of-band structure
    (see iter_csv_plain_blocks)."""
    for _name, t in names_types:
        _check_supported(t)

    def rows():
        while True:
            line = buf.readline()
            if not line:
                return
            text = line.decode("utf-8").rstrip("\n").rstrip("\r")
            if not text and not _empty_line_is_row(names_types):
                continue
            raw_fields = _split_tsv_line(text)
            if len(raw_fields) != len(names_types):
                raise ValueError(
                    f"TSV row has {len(raw_fields)} values, structure "
                    f"declares {len(names_types)} columns"
                )
            out = []
            for raw, (_name, t) in zip(raw_fields, names_types):
                if raw == "\\N":
                    out.append(None)
                else:
                    out.append(_from_text(tsv_unescape(raw), t))
            yield out

    return _blocks_from_rows(
        names_types, rows(), lossy_uint64=lossy_uint64, block_rows=block_rows
    )


# -- WithNames spellings (r14) ------------------------------------------------
# ClickHouse's most common export middle ground: a NAMES row in the
# stream, NO types row (docs: interfaces/formats#csvwithnames).  Types
# come from an out-of-band ``structure`` (matched BY NAME — the stream
# may order columns differently) or, without one, from ClickHouse-style
# schema inference over the first ``infer_rows`` rows
# (input_format_max_rows_to_read_for_schema_inference is 25000 there):
# Int64 -> Float64 -> Date -> DateTime -> String, Nullable when \N
# occurs, String when any field is empty (a numeric column never
# serializes empty; an empty numeric field would otherwise crash the
# decode where ClickHouse would insert a default).

_INT_RE = re.compile(r"^[+-]?\d+$")
_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_DATETIME_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}$")


def infer_column_type(values: List[Optional[str]]) -> CHType:
    """ClickHouse-style type inference over a column's text prefix.
    ``None`` entries are \\N nulls (they force Nullable, no type
    evidence)."""
    nullable = any(v is None for v in values)
    ev = [v for v in values if v is not None]

    def done(base: str) -> CHType:
        t = parse_type(base)
        t.nullable = nullable
        return t

    if not ev or any(v == "" for v in ev):
        return done("String")
    if all(_INT_RE.match(v) and -(2**63) <= int(v) < 2**63 for v in ev):
        return done("Int64")

    def is_float(v: str) -> bool:
        if _INT_RE.match(v):
            return True
        try:
            float(v)
            return True
        except ValueError:
            return False

    if all(is_float(v) for v in ev):
        return done("Float64")
    if all(_DATE_RE.match(v) for v in ev):
        return done("Date")
    if all(_DATETIME_RE.match(v) for v in ev):
        return done("DateTime")
    return done("String")


def _schema_by_name(
    names: List[str], names_types: List[Tuple[str, CHType]], what: str
) -> List[Tuple[str, CHType]]:
    by_name = dict(names_types)
    missing = [n for n in names if n not in by_name]
    if missing:
        raise ValueError(
            f"{what}: stream columns {missing} are not in the declared "
            f"structure ({sorted(by_name)})"
        )
    return [(n, by_name[n]) for n in names]


def _withnames_blocks(
    names: List[str],
    rec_iter,
    names_types: Optional[List[Tuple[str, CHType]]],
    decode_rec,
    *,
    lossy_uint64: bool,
    block_rows: int,
    infer_rows: int,
) -> Iterator[Block]:
    """Shared core: resolve the schema (structure by name, else
    inference over a buffered prefix), then decode every record —
    buffered prefix first, then the live iterator."""
    if names_types is not None:
        schema = _schema_by_name(names, names_types, "WithNames")
        prefix: list = []
    else:
        prefix = []
        while len(prefix) < infer_rows:
            rec = next(rec_iter, None)
            if rec is None:
                break
            prefix.append(rec)
        cols: list = [[] for _ in names]
        for rec in prefix:
            if len(rec) != len(names):
                raise ValueError(
                    f"WithNames row has {len(rec)} values, names row "
                    f"declares {len(names)} columns"
                )
            for i, v in enumerate(rec):
                cols[i].append(v)
        schema = [(n, infer_column_type(cols[i])) for i, n in enumerate(names)]

    def rows():
        import itertools

        for rec in itertools.chain(prefix, rec_iter):
            if len(rec) != len(schema):
                raise ValueError(
                    f"WithNames row has {len(rec)} values, names row "
                    f"declares {len(schema)} columns"
                )
            yield [
                None if raw is None else decode_rec(raw, schema[i][1])
                for i, raw in enumerate(rec)
            ]

    return _blocks_from_rows(
        schema, rows(), lossy_uint64=lossy_uint64, block_rows=block_rows
    )


def iter_csv_withnames_blocks(
    buf: BinaryIO,
    names_types: Optional[List[Tuple[str, CHType]]] = None,
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
    infer_rows: int = 25_000,
) -> Iterator[Block]:
    """Decode ``FORMAT CSVWithNames``."""
    names_rec = _read_csv_record(buf)
    if names_rec is None:
        raise EOFError("EOF inside CSVWithNames names row")
    names = [f for f, _q in names_rec]
    if names_types is not None:
        for _n, t in names_types:
            _check_supported(t)

    def recs():
        while True:
            rec = _read_csv_record(buf)
            if rec is None:
                return
            if len(rec) == 1 and rec[0] == ("", False) and len(names) != 1:
                continue  # trailing blank line
            # unquoted \N is NULL; quoted "\N" is the literal string
            yield [
                None if (raw == "\\N" and not quoted) else raw
                for raw, quoted in rec
            ]

    return _withnames_blocks(
        names,
        recs(),
        names_types,
        _from_text,
        lossy_uint64=lossy_uint64,
        block_rows=block_rows,
        infer_rows=infer_rows,
    )


def iter_tsv_withnames_blocks(
    buf: BinaryIO,
    names_types: Optional[List[Tuple[str, CHType]]] = None,
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
    infer_rows: int = 25_000,
) -> Iterator[Block]:
    """Decode ``FORMAT TSVWithNames`` / ``TabSeparatedWithNames``."""
    names = [tsv_unescape(f) for f in _split_tsv_line(_read_text_line(buf))]
    if names_types is not None:
        for _n, t in names_types:
            _check_supported(t)

    def recs():
        while True:
            line = buf.readline()
            if not line:
                return
            text = line.decode("utf-8").rstrip("\n").rstrip("\r")
            if not text and len(names) != 1:
                continue  # trailing blank line
            yield [
                None if raw == "\\N" else tsv_unescape(raw)
                for raw in _split_tsv_line(text)
            ]

    return _withnames_blocks(
        names,
        recs(),
        names_types,
        _from_text,
        lossy_uint64=lossy_uint64,
        block_rows=block_rows,
        infer_rows=infer_rows,
    )
