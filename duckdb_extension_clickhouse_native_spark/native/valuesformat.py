"""``FORMAT Values`` codec — the ninth ClickHouse wire format for the
scan source (after Native, RowBinaryWithNamesAndTypes,
JSONCompactEachRowWithNamesAndTypes, plain JSONEachRow, TSV, CSV,
ArrowStream and Parquet).

Values is the INSERT-statement literal syntax used as a wire format
(public ClickHouse format docs: interfaces/formats#data-format-values):
rows rendered as parenthesized tuples separated by commas —

    (1,'alpha',NULL),(2,'it''s \\'quoted\\'',3.5)

* **Not self-describing** — no header at all (unlike TSV/CSV's two
  header lines).  The caller supplies the schema; the scan source
  derives it from the zero-row ``FORMAT Native`` probe it already runs
  at planning, exactly the plain-JSONEachRow contract
  (jsoneachrow.iter_jsonobjects_blocks).
* **String family quoted** with single quotes; ``\\``-escapes for the
  control set (``\\' \\\\ \\n \\t \\0 \\r \\b \\f``); any other
  ``\\x`` reads permissively as ``x`` (the server's parser spirit).
* **Numerics bare**: shortest-round-trip floats with ``inf``/``-inf``/
  ``nan`` denormals (Values has no lossy null-denormal mode), Bool as
  ``true``/``false``, NULL as the bare keyword.
* **Whole-body decode**: Values has no record separator that survives
  quoting, so the reader buffers the body before parsing — the same
  file-shaped contract as the Parquet wire path (arrowwire.py), sized
  for INSERT-statement-scale payloads, not bulk scans (Native remains
  the columnar fast path).

Scalar text forms are shared with TSV/CSV (textformats._to_text /
_from_text), so the five text formats stay differential-testable
against each other.  Nested types (Array/Map/Tuple/LowCardinality) are
rejected with a FORMAT Native pointer, like TSV/CSV.

Reference provenance: the reference reads FORMAT Native only
(clickhouse_scan.rs:131); Values is beyond-reference interop for the
INSERT-literal tooling path.
"""

from __future__ import annotations

from typing import BinaryIO, Iterator, List, Optional, Tuple

from .codec import Block
from .textformats import _check_supported, _from_text, _is_stringish, _to_text
from .textformats import _blocks_from_rows
from .types import CHType

_ESCAPES = {
    "n": "\n",
    "t": "\t",
    "r": "\r",
    "0": "\0",
    "b": "\b",
    "f": "\f",
    "'": "'",
    '"': '"',
    "\\": "\\",
}

_WRITE_ESCAPES = {
    "\\": "\\\\",
    "'": "\\'",
    "\n": "\\n",
    "\t": "\\t",
    "\r": "\\r",
    "\0": "\\0",
    "\b": "\\b",
    "\f": "\\f",
}


def values_escape(s: str) -> str:
    """Single-quote a string with ClickHouse Values escaping."""
    return "'" + "".join(_WRITE_ESCAPES.get(c, c) for c in s) + "'"


def _parse_rows(text: str) -> Iterator[List[Optional[Tuple[str, bool]]]]:
    """Yield rows of (raw_token, was_quoted) from a Values body.

    Grammar: WS* row (WS* ',' WS* row)* WS* where
    row = '(' token (',' token)* ')'.  A trailing ';' or ',' is
    tolerated (clients emit both spellings).
    """
    i, n = 0, len(text)

    def skip_ws(j: int) -> int:
        while j < n and text[j] in " \t\r\n":
            j += 1
        return j

    i = skip_ws(i)
    while i < n:
        if text[i] != "(":
            raise ValueError(
                f"Values: expected '(' at offset {i}, got {text[i]!r}"
            )
        i += 1
        row: List[Optional[Tuple[str, bool]]] = []
        while True:
            i = skip_ws(i)
            if i >= n:
                raise ValueError("Values: unterminated row")
            if text[i] == "'":
                # quoted string token
                i += 1
                out = []
                while True:
                    if i >= n:
                        raise ValueError("Values: unterminated string")
                    c = text[i]
                    if c == "\\":
                        if i + 1 >= n:
                            raise ValueError("Values: dangling backslash")
                        out.append(_ESCAPES.get(text[i + 1], text[i + 1]))
                        i += 2
                    elif c == "'":
                        # '' is the doubled-quote spelling the server
                        # also accepts inside literals
                        if i + 1 < n and text[i + 1] == "'":
                            out.append("'")
                            i += 2
                        else:
                            i += 1
                            break
                    else:
                        out.append(c)
                        i += 1
                row.append(("".join(out), True))
            else:
                j = i
                while j < n and text[j] not in ",)":
                    j += 1
                if j >= n:
                    raise ValueError("Values: unterminated row")
                row.append((text[i:j].strip(), False))
                i = j
            i = skip_ws(i)
            if i < n and text[i] == ",":
                i += 1
                continue
            if i < n and text[i] == ")":
                i += 1
                break
            raise ValueError(
                f"Values: expected ',' or ')' at offset {i}"
            )
        yield row
        i = skip_ws(i)
        if i < n and text[i] in ",;":
            i += 1
            i = skip_ws(i)


def iter_values_blocks(
    buf: BinaryIO,
    names_types: List[Tuple[str, CHType]],
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
) -> Iterator[Block]:
    """Decode a ``FORMAT Values`` body into Blocks.

    ``names_types`` comes from the caller's planning probe (Values
    carries no header).  An unquoted bare ``NULL`` is SQL NULL; a
    QUOTED ``'NULL'`` is the four-character string, exactly as the
    literal syntax distinguishes them.
    """
    for _name, t in names_types:
        _check_supported(t)
    text = buf.read().decode("utf-8")

    def rows():
        for rec in _parse_rows(text):
            if len(rec) != len(names_types):
                raise ValueError(
                    f"Values row has {len(rec)} values, schema declares "
                    f"{len(names_types)} columns"
                )
            out = []
            for (raw, was_quoted), (_name, t) in zip(rec, names_types):
                if not was_quoted and raw.upper() == "NULL":
                    out.append(None)
                else:
                    out.append(_from_text(raw, t))
            yield out

    return _blocks_from_rows(
        names_types, rows(), lossy_uint64=lossy_uint64, block_rows=block_rows
    )


def write_values(
    buf: BinaryIO, batches, ch_types: Optional[List[CHType]] = None
) -> int:
    """Encode Arrow RecordBatches as a ``FORMAT Values`` body: rows as
    parenthesized tuples separated by commas, string family quoted
    with backslash escaping, numerics bare, NULL as the keyword."""
    from .rowbinary import _to_wire, derive_wire_types

    batches, types = derive_wire_types(batches, ch_types)
    rows = 0
    first = True
    for batch in batches:
        for t in types:
            _check_supported(t)
        pylists = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
        for r in range(batch.num_rows):
            fields = []
            for c, t in enumerate(types):
                text = _to_text(_to_wire(pylists[c][r], t), t)
                if text is None:
                    fields.append("NULL")
                elif _is_stringish(t):
                    fields.append(values_escape(text))
                else:
                    fields.append(text)
            buf.write(("" if first else ",").encode())
            buf.write(("(" + ",".join(fields) + ")").encode())
            first = False
            rows += 1
    return rows
