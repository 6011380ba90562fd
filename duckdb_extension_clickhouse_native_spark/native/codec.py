"""ClickHouse Native wire-format codec (clean-room, pure Python + numpy/pyarrow).

Format (public; what ``FORMAT Native`` emits, cf. the 54-byte
``numbers.clickhouse`` fixture in the reference repo): a file is a
sequence of blocks; each block is::

    n_columns: VarUInt
    n_rows:    VarUInt
    then, for EACH column (interleaved per column):
        name: VarUInt length + bytes
        type: VarUInt length + bytes (ClickHouse type string)
        data: n_rows values in the column's binary layout

Re-expression of the reference's parser (/root/reference/src/lib.rs:
177-194 read_var_u64, 68-76 read_string, 143-175 read_column_data,
196-238 read_native_format) with two deliberate fidelity fixes:
the reference reads blocks>1 with all headers then all payloads
(lib.rs:226-234) which only works for 1-column files — the real
layout interleaves per column, which is what we do for every block;
and we never desynchronize on unsupported types (we raise).

Decoding is vectorized: fixed-width columns via numpy.frombuffer,
strings via a single-pass offset scan into Arrow buffers.
"""

from __future__ import annotations

import io
import os
import struct
from dataclasses import dataclass, field
from typing import BinaryIO, Callable, Iterator, Optional

import numpy as np
import pyarrow as pa

from .types import (
    BIG_INT_WIDTH,
    CHType,
    FIXED_WIDTH,
    UnsupportedTypeError,
    parse_type,
    to_arrow,
)


def _nested_equiv(t: CHType) -> CHType:
    """The wire-equivalent Array(Tuple(...)) of a declared Nested type
    (a real server flattens Nested to sibling `n.item` Array columns;
    a directly declared Nested column serializes as Array(Tuple))."""
    inner = CHType("Tuple")
    inner.tuple_items = t.tuple_items
    inner.tuple_names = t.tuple_names
    eq = CHType("Array")
    eq.inner = inner
    return eq

MAX_VARINT_BYTES = 10
_MASK64_U = (1 << 64) - 1


def read_varuint(buf: BinaryIO) -> int:
    """LEB128 7-bit little-endian varint (reference lib.rs:177-194)."""
    result = 0
    shift = 0
    for _ in range(MAX_VARINT_BYTES):
        b = buf.read(1)
        if not b:
            raise EOFError("EOF inside varint")
        byte = b[0]
        result |= (byte & 0x7F) << shift
        if not (byte & 0x80):
            return result
        shift += 7
    raise ValueError("varint too long")


def write_varuint(buf: BinaryIO, value: int) -> None:
    if value < 0:
        raise ValueError("varuint must be non-negative")
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def read_binary_str(buf: BinaryIO) -> bytes:
    n = read_varuint(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("EOF inside string")
    return data


def read_str(buf: BinaryIO, *, scrub: bool = False) -> str:
    """VarUInt-length-prefixed UTF-8 string (reference lib.rs:68-76).

    ``scrub=True`` reproduces the reference's removal of NUL and
    U+FFFD characters; default keeps bytes faithful.
    """
    s = read_binary_str(buf).decode("utf-8", errors="replace")
    if scrub:
        s = s.replace("\x00", "").replace("�", "")
    return s


def write_str(buf: BinaryIO, s: str | bytes) -> None:
    data = s.encode("utf-8") if isinstance(s, str) else s
    write_varuint(buf, len(data))
    buf.write(data)


@dataclass
class BlockColumn:
    name: str
    type_str: str
    ch_type: CHType
    array: pa.Array


@dataclass
class Block:
    """One Native block. ``header`` holds the (name, type) of every
    column in wire order, decoded or not; ``columns`` holds the decoded
    ones. A ``dead`` block is one PREWHERE proved empty: ``n_rows``
    still counts its rows, but none of its columns are kept."""

    n_rows: int
    columns: list[BlockColumn]
    header: list[tuple[str, CHType]] = field(default_factory=list)
    dead: bool = False

    def to_record_batch(self) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [c.array for c in self.columns], names=[c.name for c in self.columns]
        )


# ---------------------------------------------------------------------------
# column decoding
# ---------------------------------------------------------------------------

_EPOCH_US = 1_000_000


def _strings_from_parts(parts: list[bytes], offsets: np.ndarray, rows: int, scrub: bool) -> pa.Array:
    payload = b"".join(parts)
    if scrub and (b"\x00" in payload or b"\xef\xbf\xbd" in payload):
        # slow path only when scrubbing actually fires (lib.rs:68-76)
        vals = [
            payload[offsets[i] : offsets[i + 1]]
            .decode("utf-8", "replace")
            .replace("\x00", "")
            .replace("�", "")
            for i in range(rows)
        ]
        return pa.array(vals, type=pa.string())
    arr = pa.Array.from_buffers(
        pa.large_string(),
        rows,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(payload)],
    )
    return arr.cast(pa.string())


def _supports_chunk_scan(buf: BinaryIO) -> bool:
    """The bulk-scan string paths over-read and must hand back the
    surplus: possible on seekable sources (negative seek) and on
    streams exposing ``pushback`` (CompressedReader)."""
    try:
        if buf.seekable():
            return True
    except AttributeError:
        pass
    return hasattr(buf, "pushback")


def _restore_surplus(buf: BinaryIO, surplus) -> None:
    if not len(surplus):
        return
    seekable = False
    try:
        seekable = bool(buf.seekable())
    except AttributeError:
        pass
    if seekable:
        try:
            buf.seek(-len(surplus), io.SEEK_CUR)
            return
        except (OSError, io.UnsupportedOperation):
            # a source that claims seekable() but cannot seek backwards:
            # fall through to pushback only if it exists, else surface
            # the real seek error instead of an AttributeError
            if not hasattr(buf, "pushback"):
                raise
    buf.pushback(bytes(surplus))


def _refill(buf: BinaryIO, chunk: int) -> bytes:
    """Fetch more column bytes for a chunk scan. Seekable files read a
    full chunk (blocking on a regular file is free); non-seekable
    sources use ``read1`` when available so an interactive socket
    (native-TCP) is never asked for bytes beyond the frames already
    sent — only called when the column genuinely continues, so at
    least one more frame is guaranteed to be in flight."""
    try:
        if buf.seekable():
            return buf.read(chunk)
    except AttributeError:
        pass
    read1 = getattr(buf, "read1", None)
    if read1 is not None:
        return read1(chunk)
    return buf.read(chunk)


# Raw-buffer residency bound for the chunked string scan: once this
# many consumed bytes accumulate, their payload is flushed into the
# (amortized) output accumulator and the raw prefix is dropped — so a
# multi-GB string block costs ~1x payload + this window, not 2x the
# whole column (raw bytes AND payload copy resident at once).
_SCAN_WINDOW = 8 << 20
# test hook: peak bytes resident in the raw scan buffer (see
# tests/test_codec_properties.py bounded-residency property)
_SCAN_STATS = {"peak_buffer": 0}


def _decode_strings_seekable(buf: BinaryIO, rows: int, *, scrub: bool) -> pa.Array:
    """Fast path for seekable/pushback sources: bulk-read, scan length
    prefixes in a tight integer loop (no per-row I/O or slicing), then
    extract payload spans with numpy masked copies. Surplus bytes are
    returned to the stream. ~3-5x the per-row read() loop.

    Residency: the raw buffer is trimmed every ``_SCAN_WINDOW``
    consumed bytes (the masked payload copy moves into one amortized
    accumulator), so peak memory is ~payload + window regardless of
    the block's string-column size."""
    CHUNK = 4 << 20
    # bytearray: refills grow in place (amortized), instead of
    # re-copying the whole accumulated column per 4 MiB chunk
    data = bytearray(_refill(buf, CHUNK))
    if len(data) > _SCAN_STATS["peak_buffer"]:
        _SCAN_STATS["peak_buffer"] = len(data)
    pos = 0
    # ONE list append per row in the hot loop (r10 decode profile: the
    # previous 3 preallocated-numpy scalar writes per row cost ~3x a
    # single append; the scan loop was the whole string-decode
    # bottleneck).  `starts` records each row's PREFIX byte position
    # within the current buffer window; multi-byte varint prefixes
    # (strings >= 128 bytes — rare in text corpora) go to a per-window
    # exceptions list, and per-row lengths are RECONSTRUCTED
    # vectorized at flush time from consecutive-start differences.
    starts: list[int] = []
    exc: list[tuple[int, int]] = []  # (window-local row idx, prefix adv)
    length_chunks: list[np.ndarray] = []
    payload = bytearray()
    i = 0  # rows decoded so far
    w0 = 0  # first row of the not-yet-flushed window

    def flush() -> None:
        """Move the consumed span's payload (prefixes masked out) into
        the accumulator, derive the window's value lengths, and drop
        the span from the raw buffer.  Invariant used for the length
        reconstruction: at flush time ``pos`` is exactly one past the
        last consumed row's payload, i.e. the would-be next prefix
        start, so diff(starts + [pos]) - prefix_size == value length.
        Row positions recorded after a flush are relative to the
        trimmed buffer, which is what the scan loop sees."""
        nonlocal pos, w0
        if i > w0:
            starts_np = np.array(starts, dtype=np.int64)
            adv = np.ones(len(starts), dtype=np.int64)
            view = np.frombuffer(data, dtype=np.uint8, count=pos)
            mask = np.ones(pos, dtype=bool)
            mask[starts_np] = False
            for local_idx, a in exc:
                adv[local_idx] = a
                mask[starts_np[local_idx] + 1 : starts_np[local_idx] + a] = False
            ends = np.empty(len(starts), dtype=np.int64)
            ends[:-1] = starts_np[1:]
            ends[-1] = pos
            length_chunks.append(ends - starts_np - adv)
            part = view[mask]  # fancy index -> independent copy
            view = None  # release the buffer export before the resize
            payload.extend(memoryview(part))
            starts.clear()
            exc.clear()
        if pos:
            del data[:pos]
            pos = 0
        w0 = i

    ap_start = starts.append
    while i < rows:
        dlen = len(data)
        # scan as far as this buffer allows — bounds-EXACT, so a refill
        # is requested only when a string truly overruns the buffer
        # (an interactive source is never asked for bytes that are not
        # guaranteed to follow)
        while i < rows:
            if pos >= dlen:
                break
            b0 = data[pos]
            if b0 < 0x80:
                nxt = pos + 1 + b0
                if nxt > dlen:
                    break
                ap_start(pos)
                pos = nxt
                i += 1
                continue
            n = b0 & 0x7F
            shift = 7
            adv = 1
            truncated = False
            while True:
                if pos + adv >= dlen:
                    truncated = True
                    break
                byte = data[pos + adv]
                adv += 1
                n |= (byte & 0x7F) << shift
                if not (byte & 0x80):
                    break
                shift += 7
            if truncated or pos + adv + n > dlen:
                break
            exc.append((len(starts), adv))
            ap_start(pos)
            pos += adv + n
            i += 1
        if i < rows:
            if pos >= _SCAN_WINDOW:
                # trim consumed bytes before growing further
                flush()
            more = _refill(buf, CHUNK)
            if not more:
                raise EOFError("EOF inside string column")
            data += more
            if len(data) > _SCAN_STATS["peak_buffer"]:
                _SCAN_STATS["peak_buffer"] = len(data)
        else:
            break
    flush()  # trims all consumed bytes; what remains IS the surplus
    _restore_surplus(buf, data)
    offsets = np.empty(rows + 1, dtype=np.int64)
    offsets[0] = 0
    if length_chunks:
        all_lengths = (
            length_chunks[0]
            if len(length_chunks) == 1
            else np.concatenate(length_chunks)
        )
    else:
        all_lengths = np.empty(0, dtype=np.int64)
    np.cumsum(all_lengths, out=offsets[1:])
    if scrub and (b"\x00" in payload or b"\xef\xbf\xbd" in payload):
        vals = [
            bytes(payload[offsets[r] : offsets[r + 1]])
            .decode("utf-8", "replace")
            .replace("\x00", "")
            .replace("�", "")
            for r in range(rows)
        ]
        return pa.array(vals, type=pa.string())
    arr = pa.Array.from_buffers(
        pa.large_string(),
        rows,
        # memoryview: zero-copy hand-off of the accumulator (it is
        # never resized after this point)
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(memoryview(payload))],
    )
    return arr.cast(pa.string())


def _decode_strings(buf: BinaryIO, rows: int, *, scrub: bool) -> pa.Array:
    """Decode ``rows`` varuint-length-prefixed strings into an Arrow
    string array via one contiguous data buffer + offsets (no per-row
    Python string objects)."""
    if rows == 0:
        return pa.array([], type=pa.string())
    if _supports_chunk_scan(buf):
        return _decode_strings_seekable(buf, rows, scrub=scrub)
    offsets = np.empty(rows + 1, dtype=np.int64)
    offsets[0] = 0
    chunks: list[bytes] = []
    total = 0
    for i in range(rows):
        n = read_varuint(buf)
        data = buf.read(n)
        if len(data) != n:
            raise EOFError("EOF inside string column")
        chunks.append(data)
        total += n
        offsets[i + 1] = total
    return _strings_from_parts(chunks, offsets, rows, scrub)


def _read_exact(buf: BinaryIO, n: int) -> bytes:
    """Read exactly n bytes (looping over short reads); EOFError if the
    stream ends first."""
    data = buf.read(n)
    if len(data) == n:
        return data
    parts = [data]
    got = len(data)
    while got < n:
        more = buf.read(n - got)
        if not more:
            raise EOFError("EOF inside string column")
        parts.append(more)
        got += len(more)
    return b"".join(parts)


def _decode_strings_from_lengths(
    buf: BinaryIO, rows: int, lengths: np.ndarray, *, scrub: bool
) -> Optional[pa.Array]:
    """Marks-sidecar fast path: with per-row value byte lengths known
    up front (native/marks.py — the ClickHouse ``.mrk`` analogue), the
    sequential varuint prefix walk disappears — prefix positions are a
    cumsum, the payload extraction one masked copy, and EVERY prefix
    byte is verified against the reconstruction (vectorized for the
    common 1-byte prefixes). On any mismatch (stale sidecar) the
    consumed bytes are pushed back and None returned so the caller
    falls back to the streaming scan decode. Only called on
    seekable/pushback sources."""
    if rows == 0:
        return pa.array([], type=pa.string())
    lens = lengths.astype(np.int64)
    widths = varint_widths(lens)
    starts = np.empty(rows + 1, dtype=np.int64)
    starts[0] = 0
    np.cumsum(widths + lens, out=starts[1:])
    total = int(starts[-1])
    # tolerant read: a stale sidecar whose claimed total overruns the
    # remaining stream must degrade to the streaming decode (the "stale
    # marks are only a missed fast path" contract), not raise EOFError
    parts = []
    got = 0
    while got < total:
        chunk = buf.read(total - got)
        if not chunk:
            break
        parts.append(chunk)
        got += len(chunk)
    data = parts[0] if len(parts) == 1 else b"".join(parts)
    if got != total:
        _restore_surplus(buf, data)
        return None
    view = np.frombuffer(data, dtype=np.uint8)
    prefix_at = starts[:-1]
    one = widths == 1
    ok = bool(
        np.array_equal(view[prefix_at[one]], lens[one].astype(np.uint8))
    )
    # the 2-byte prefix case (values 128..16383 bytes — most real text
    # corpora) verifies vectorized like the 1-byte case; only 3+ byte
    # prefixes (values >= 16 KiB) walk per row
    two = np.zeros(0, dtype=np.int64)
    rest = ()
    if not one.all():
        is_two = widths == 2
        two = prefix_at[is_two]
        if ok and two.size:
            l2 = lens[is_two]
            ok = bool(
                np.array_equal(
                    view[two], ((l2 & 0x7F) | 0x80).astype(np.uint8)
                )
                and np.array_equal(view[two + 1], (l2 >> 7).astype(np.uint8))
            )
        rest = np.nonzero(widths > 2)[0]
    if ok:
        for i in rest:
            s = int(prefix_at[i])
            v = int(lens[i])
            w = int(widths[i])
            for k in range(w):
                byte = v & 0x7F
                v >>= 7
                if k < w - 1:
                    byte |= 0x80
                if view[s + k] != byte:
                    ok = False
                    break
            if not ok:
                break
    if not ok:
        _restore_surplus(buf, data)
        return None
    mask = np.ones(total, dtype=bool)
    mask[prefix_at[one]] = False
    if two.size:
        mask[two] = False
        mask[two + 1] = False
    for i in rest:
        s = int(prefix_at[i])
        mask[s : s + int(widths[i])] = False
    payload = view[mask]
    offsets = np.empty(rows + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(lens, out=offsets[1:])
    if scrub:
        pb = payload.tobytes()
        if b"\x00" in pb or b"\xef\xbf\xbd" in pb:
            return _strings_from_parts([pb], offsets, rows, scrub)
    arr = pa.Array.from_buffers(
        pa.large_string(),
        rows,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(payload)],
    )
    return arr.cast(pa.string())


def marks_col_info(marks, name: str, type_str: str, n_rows: int):
    """The marks entry for a column IF its recorded wire shape matches
    the block's declared type — plain ``String`` entries only for plain
    String, ``Nullable(String)`` (flagged ``n``) entries only for the
    nullable wire. Mismatch means a stale sidecar: return None so the
    caller streams."""
    if marks is None or type_str not in ("String", "Nullable(String)"):
        return None
    info = marks.col(name, n_rows)
    if info is None or info[2] != (type_str != "String"):
        return None
    return info


def _decode_marked_strings(
    buf: BinaryIO, rows: int, info, *, scrub: bool
) -> Optional[pa.Array]:
    """Decode one marks-covered String / Nullable(String) column;
    None on stale marks (every consumed byte restored)."""
    _wire, lens, nullable = info
    if not nullable:
        return _decode_strings_from_lengths(buf, rows, lens, scrub=scrub)
    mask_raw = buf.read(rows)
    if len(mask_raw) != rows:
        _restore_surplus(buf, mask_raw)
        return None
    arr = _decode_strings_from_lengths(buf, rows, lens, scrub=scrub)
    if arr is None:
        _restore_surplus(buf, mask_raw)
        return None
    mask = np.frombuffer(mask_raw, dtype=np.uint8).astype(bool)  # 1 = NULL
    if mask.any():
        valid = pa.array(~mask)
        arr = pa.compute.if_else(valid, arr, pa.scalar(None, arr.type))
    return arr


def _decode_fixed(buf: BinaryIO, t: CHType, rows: int, *, lossy_uint64: bool) -> pa.Array:
    dtype, width = FIXED_WIDTH[t.base]
    raw = buf.read(width * rows)
    if len(raw) != width * rows:
        raise EOFError(f"EOF inside {t.base} column")
    arr = np.frombuffer(raw, dtype=dtype)
    b = t.base
    if b in ("Enum8", "Enum16"):
        # decode to labels like the reference (lib.rs:157-166), with
        # Unknown(N) fallback for unmapped values
        lookup = t.enum_map
        vals = [lookup.get(int(v), f"Unknown({int(v)})") for v in arr]
        return pa.array(vals, type=pa.string())
    if b == "Bool":
        return pa.array(arr.astype(bool))
    if b == "Date":
        return pa.array(arr.astype(np.int32), type=pa.date32())
    if b == "Date32":
        return pa.array(arr, type=pa.date32())
    if b == "DateTime":
        return pa.array(arr.astype(np.int64) * _EPOCH_US, type=pa.timestamp("us"))
    if b == "DateTime64":
        scale = t.scale
        ticks = arr.astype(np.int64)
        if scale <= 6:
            us = ticks * (10 ** (6 - scale))
        else:
            us = ticks // (10 ** (scale - 6))
        return pa.array(us, type=pa.timestamp("us"))
    if b == "UInt64":
        if lossy_uint64:
            # reference behavior: v as i32 (lib.rs:336-344)
            return pa.array(arr.astype(np.int64).astype(np.int32).astype(np.int32))
        if arr.size and bool((arr >> np.uint64(63)).any()):
            # Int64 cannot represent the upper half of u64; silent
            # two's-complement wrap would serve wrong negatives
            raise ValueError(
                "UInt64 column contains values >= 2^63, which LongType "
                "cannot represent; use lossy_uint64=true for the "
                "reference's truncation semantics, or cast server-side"
            )
        return pa.array(arr.view(np.int64), type=pa.int64())
    if b == "UInt8":
        return pa.array(arr.astype(np.int32 if lossy_uint64 else np.int16))
    if b == "UInt16":
        return pa.array(arr.astype(np.int32))
    if b == "UInt32":
        return pa.array(arr.astype(np.int64))
    return pa.array(arr)


def _skip_bytes(buf: BinaryIO, n: int) -> None:
    """Advance ``n`` bytes; seek when possible, else chunked reads
    (compressed frames / HTTP bodies are not seekable)."""
    if n <= 0:
        return
    try:
        if buf.seekable():
            buf.seek(n, io.SEEK_CUR)
            return
    except (AttributeError, OSError):
        pass
    while n > 0:
        got = buf.read(min(n, 1 << 20))
        if not got:
            raise EOFError("EOF while skipping column payload")
        n -= len(got)


def _skip_fixed(buf: BinaryIO, t: CHType, rows: int) -> None:
    _, width = FIXED_WIDTH[t.base]
    _skip_bytes(buf, width * rows)


def _skip_strings_seekable(buf: BinaryIO, rows: int) -> None:
    """Skip ``rows`` varuint-prefixed strings on a seekable/pushback
    source by bulk-reading and scanning prefixes in a tight in-memory
    loop, then returning the surplus — the skip twin of
    ``_decode_strings_seekable``. The per-row ``read_varuint(buf)``
    loop costs two buffered-IO calls per string; projections over
    string-heavy tables (e.g. two columns out of lineitem) spend more
    time skipping than decoding without this. Unlike the decode twin,
    no history is needed, so the consumed prefix is dropped on every
    refill (keeping it would copy the whole accumulated column per
    4 MiB chunk — O(n^2))."""
    CHUNK = 4 << 20
    data = _refill(buf, CHUNK)
    pos = 0
    i = 0
    while i < rows:
        dlen = len(data)
        # bounds-exact scan; see _decode_strings_seekable for why
        while i < rows:
            if pos >= dlen:
                break
            b0 = data[pos]
            if b0 < 0x80:
                n = b0
                adv = 1
            else:
                n = b0 & 0x7F
                shift = 7
                adv = 1
                truncated = False
                while True:
                    if pos + adv >= dlen:
                        truncated = True
                        break
                    byte = data[pos + adv]
                    adv += 1
                    n |= (byte & 0x7F) << shift
                    if not (byte & 0x80):
                        break
                    shift += 7
                if truncated:
                    break
            if pos + adv + n > dlen:
                break
            pos += adv + n
            i += 1
        if i < rows:
            more = _refill(buf, CHUNK)
            if not more:
                raise EOFError("EOF inside string column")
            data = data[pos:] + more
            pos = 0
        else:
            break
    _restore_surplus(buf, memoryview(data)[pos:])


# Dynamic (docs: sql-reference/data-types/dynamic) — the any-type
# column.  Engine wire layout, structurally modeled on ClickHouse's
# SerializationDynamic V1 and carried by the r14 Variant machinery:
#
#   UInt64  structure version      (1 = V1 with max_types, 2 = V2)
#   varuint max_dynamic_types      (V1 only — a planning hint)
#   varuint number of variant types
#   varuint-length type-name strings (canonical ClickHouse spellings)
#   <Variant body over the SORTED declared set: UInt64 mode 0, one
#    UInt8 discriminator per row (255 = NULL), dense values per type>
#
# The declared name 'SharedVariant' (ClickHouse's overflow carrier for
# values past max_dynamic_types) decodes as String.  Variant member
# types are restricted to SCALARS (ints incl. 128/256, floats, Bool,
# String, FixedString, UUID, IPv4/6, Enum, Decimal, Date/DateTime) —
# the type-erased struct<type,value> mapping needs a canonical text
# rendering, which nested types don't have; a named refusal beats a
# lossy one.
_DYNAMIC_SCALAR_BASES = (
    set(FIXED_WIDTH)
    | set(BIG_INT_WIDTH)
    | {
        "String",
        "FixedString",
        "UUID",
        "IPv4",
        "IPv6",
        "Decimal",
        "Decimal32",
        "Decimal64",
        "Decimal128",
    }
)


def _check_dynamic_member(t: CHType, name: str) -> None:
    if t.base not in _DYNAMIC_SCALAR_BASES or t.nullable:
        raise UnsupportedTypeError(
            f"Dynamic variant type {name!r} is not a supported scalar — "
            "the type-erased struct<type,value> mapping renders scalar "
            "text only (declare an explicit Variant(...) column for "
            "nested member types)"
        )


def _read_dynamic_prefix(buf: BinaryIO) -> list:
    """[(declared_name, CHType)] in the canonical SORTED order the
    body's discriminators refer to."""
    version = _read_u64(buf)
    if version not in (1, 2):
        raise UnsupportedTypeError(
            f"Dynamic structure serialization version {version} "
            "(supported: 1 with max_types, 2 without)"
        )
    if version == 1:
        read_varuint(buf)  # max_dynamic_types — planning hint, unused
    n = read_varuint(buf)
    if n > 255:
        raise ValueError(f"Dynamic declares {n} variant types (max 255)")
    names = []
    for _ in range(n):
        ln = read_varuint(buf)
        raw = buf.read(ln)
        if len(raw) != ln:
            raise EOFError("EOF inside Dynamic type name")
        names.append(raw.decode("utf-8"))
    pairs = []
    for nm in names:
        t = parse_type("String") if nm == "SharedVariant" else parse_type(nm)
        _check_dynamic_member(t, nm)
        pairs.append((nm, t))
    pairs.sort(key=lambda p: p[0])
    return pairs


def _decode_dynamic(
    buf: BinaryIO,
    rows: int,
    *,
    scrub_strings: bool,
    lossy_uint64: bool,
) -> pa.Array:
    import pyarrow.compute as pc

    pairs = _read_dynamic_prefix(buf)
    mode = _read_u64(buf)
    if mode != 0:
        raise UnsupportedTypeError(
            f"Dynamic/Variant discriminator serialization mode {mode} "
            "(only the basic row-discriminator mode 0 is supported)"
        )
    raw = buf.read(rows)
    if len(raw) != rows:
        raise EOFError("EOF inside Dynamic discriminators")
    disc = np.frombuffer(raw, dtype=np.uint8)
    n_var = len(pairs)
    bad = disc[(disc != 255) & (disc >= n_var)]
    if bad.size:
        raise ValueError(
            f"Dynamic discriminator {int(bad[0])} out of range for "
            f"{n_var} declared types"
        )
    null_mask = disc == 255
    value_parts = []
    for i, (_nm, it) in enumerate(pairs):
        sel = disc == i
        count = int(sel.sum())
        dense = decode_column(
            buf, it, count,
            scrub_strings=scrub_strings, lossy_uint64=lossy_uint64,
        )
        dense_s = pc.cast(dense, pa.string())
        idx = np.zeros(rows, dtype=np.int64)
        idx[sel] = np.arange(count)
        value_parts.append(dense_s.take(pa.array(idx, mask=~sel)))
    if value_parts:
        value = value_parts[0]
        for part in value_parts[1:]:
            value = pc.if_else(pc.is_valid(value), value, part)
    else:
        value = pa.nulls(rows, type=pa.string())
    name_lookup = pa.array([nm for nm, _t in pairs], type=pa.string())
    type_col = (
        name_lookup.take(
            pa.array(disc.astype(np.int64), mask=null_mask)
        )
        if n_var
        else pa.nulls(rows, type=pa.string())
    )
    return pa.StructArray.from_arrays(
        [type_col, value], ["type", "value"], mask=pa.array(null_mask)
    )


def decode_column(
    buf: BinaryIO,
    t: CHType,
    rows: int,
    *,
    scrub_strings: bool = False,
    lossy_uint64: bool = False,
) -> pa.Array:
    """Decode one column's payload (reference read_column_data,
    lib.rs:143-175 — extended to the full type matrix)."""
    b = t.base
    if b == "Unsupported":
        # reference-compat placeholder (lib.rs:168-170): emit the literal
        # and consume nothing — see parse_type(unsupported_as_varchar=True)
        return pa.array([f"<unsupported:{t.params}>"] * rows, type=pa.string())
    if t.nullable:
        mask_raw = buf.read(rows)
        if len(mask_raw) != rows:
            raise EOFError("EOF inside null mask")
        mask = np.frombuffer(mask_raw, dtype=np.uint8).astype(bool)  # 1 = NULL
        inner = CHType(**{**t.__dict__, "nullable": False})
        values = decode_column(
            buf, inner, rows, scrub_strings=scrub_strings, lossy_uint64=lossy_uint64
        )
        if mask.any():
            valid = pa.array(~mask)
            values = pa.compute.if_else(valid, values, pa.scalar(None, values.type))
        return values
    if b == "String":
        return _decode_strings(buf, rows, scrub=scrub_strings)
    if b == "FixedString":
        n = t.fixed_len
        raw = buf.read(n * rows)
        if len(raw) != n * rows:
            raise EOFError("EOF inside FixedString column")
        if rows == 0 or n == 0:
            return pa.array([""] * rows, type=pa.string())
        # vectorized trailing-NUL strip: per-row value length from the
        # last nonzero byte, one masked gather for the payload; arrow's
        # utf8 validation on the cast raises on any malformed value, in
        # which case the original per-row 'replace' loop answers
        m = np.frombuffer(raw, dtype=np.uint8).reshape(rows, n)
        nz = m != 0
        lengths = n - nz[:, ::-1].argmax(axis=1).astype(np.int64)
        lengths[~nz.any(axis=1)] = 0
        offsets = np.empty(rows + 1, dtype=np.int64)
        offsets[0] = 0
        np.cumsum(lengths, out=offsets[1:])
        payload = m[np.arange(n)[None, :] < lengths[:, None]]
        try:
            arr = pa.Array.from_buffers(
                pa.large_binary(),
                rows,
                [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(payload)],
            )
            return arr.cast(pa.string())
        except pa.ArrowInvalid:
            vals = [
                raw[i * n : (i + 1) * n].rstrip(b"\x00").decode("utf-8", "replace")
                for i in range(rows)
            ]
            return pa.array(vals, type=pa.string())
    if b == "UUID":
        raw = buf.read(16 * rows)
        if len(raw) != 16 * rows:
            raise EOFError("EOF inside UUID column")
        if rows == 0:
            return pa.array([], type=pa.string())
        # wire = hi u64 LE then lo u64 LE; canonical text is the
        # big-endian hex of (hi << 64 | lo) — i.e. each half's bytes
        # reversed. Hexlify the whole reordered buffer once and
        # scatter the 32 hex chars per row around fixed dash columns.
        import binascii

        m = np.frombuffer(raw, dtype=np.uint8).reshape(rows, 16)
        be = np.concatenate((m[:, 7::-1], m[:, 15:7:-1]), axis=1)
        hx = np.frombuffer(
            binascii.hexlify(np.ascontiguousarray(be).tobytes()), dtype=np.uint8
        ).reshape(rows, 32)
        out = np.empty((rows, 36), dtype=np.uint8)
        out[:, [8, 13, 18, 23]] = ord("-")
        # contiguous slice copies (memcpy), not one fancy-index scatter
        # (element-wise gather: measured ~25x slower at 1M rows)
        out[:, 0:8] = hx[:, 0:8]
        out[:, 9:13] = hx[:, 8:12]
        out[:, 14:18] = hx[:, 12:16]
        out[:, 19:23] = hx[:, 16:20]
        out[:, 24:36] = hx[:, 20:32]
        offsets = np.arange(0, 36 * (rows + 1), 36, dtype=np.int64)
        arr = pa.Array.from_buffers(
            pa.large_string(),
            rows,
            [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(out.tobytes())],
        )
        return arr.cast(pa.string())
    if b == "IPv4":
        # stored as UInt32 LE whose numeric value IS the address
        import ipaddress

        raw = buf.read(4 * rows)
        if len(raw) != 4 * rows:
            raise EOFError("EOF inside IPv4 column")
        ints = np.frombuffer(raw, dtype="<u4")
        return pa.array(
            [str(ipaddress.IPv4Address(int(v))) for v in ints], type=pa.string()
        )
    if b == "IPv6":
        # 16 network-order bytes (FixedString(16) layout)
        import ipaddress

        raw = buf.read(16 * rows)
        if len(raw) != 16 * rows:
            raise EOFError("EOF inside IPv6 column")
        return pa.array(
            [
                str(ipaddress.IPv6Address(raw[i * 16 : (i + 1) * 16]))
                for i in range(rows)
            ],
            type=pa.string(),
        )
    if b == "Array":
        assert t.inner is not None
        raw = buf.read(8 * rows)
        if len(raw) != 8 * rows:
            raise EOFError("EOF inside Array offsets")
        offsets = np.frombuffer(raw, dtype="<u8").astype(np.int64)
        total = int(offsets[-1]) if rows else 0
        inner = decode_column(
            buf, t.inner, total, scrub_strings=scrub_strings, lossy_uint64=lossy_uint64
        )
        arrow_offsets = np.empty(rows + 1, dtype=np.int32)
        arrow_offsets[0] = 0
        arrow_offsets[1:] = offsets
        return pa.ListArray.from_arrays(pa.array(arrow_offsets, type=pa.int32()), inner)
    if b == "Tuple":
        parts = [
            decode_column(buf, it, rows, scrub_strings=scrub_strings, lossy_uint64=lossy_uint64)
            for it in t.tuple_items
        ]
        names = t.tuple_names or [f"_{i+1}" for i in range(len(parts))]
        return pa.StructArray.from_arrays(parts, names)
    if b == "Nested":
        return decode_column(
            buf, _nested_equiv(t), rows,
            scrub_strings=scrub_strings, lossy_uint64=lossy_uint64,
        )
    if b == "JSON":
        # String carrier: valid for our own files and for servers that
        # cast JSON to String on the wire; integrates with the
        # JSONExtract scalar family downstream
        return _decode_strings(buf, rows, scrub=scrub_strings)
    if b in BIG_INT_WIDTH:
        width = BIG_INT_WIDTH[b]
        raw = buf.read(width * rows)
        if len(raw) != width * rows:
            raise EOFError(f"EOF inside {b} column")
        signed = b.startswith("Int")
        vals = [
            int.from_bytes(raw[i * width : (i + 1) * width], "little", signed=signed)
            for i in range(rows)
        ]
        for v in vals:
            if not -(10**38) < v < 10**38:
                raise ValueError(
                    f"{b} value {v} exceeds the decimal128(38, 0) carrier "
                    "(Spark has no wider exact type); filter or cast the "
                    "column server-side"
                )
        return pa.array(vals, type=pa.decimal128(38, 0))
    if b == "Map":
        # Array(Tuple(K, V)) layout: u64 cumulative offsets, then the
        # key payload, then the value payload
        raw = buf.read(8 * rows)
        if len(raw) != 8 * rows:
            raise EOFError("EOF inside Map offsets")
        offsets = np.frombuffer(raw, dtype="<u8").astype(np.int64)
        total = int(offsets[-1]) if rows else 0
        keys = decode_column(
            buf, t.tuple_items[0], total,
            scrub_strings=scrub_strings, lossy_uint64=lossy_uint64,
        )
        items = decode_column(
            buf, t.tuple_items[1], total,
            scrub_strings=scrub_strings, lossy_uint64=lossy_uint64,
        )
        arrow_offsets = np.empty(rows + 1, dtype=np.int32)
        arrow_offsets[0] = 0
        arrow_offsets[1:] = offsets
        return pa.MapArray.from_arrays(
            pa.array(arrow_offsets, type=pa.int32()), keys, items
        )
    if b == "AggregateFunction":
        from .aggstate import decode_states

        return decode_states(
            buf, t.agg, rows,
            scrub_strings=scrub_strings, lossy_uint64=lossy_uint64,
        )
    if b == "Dynamic":
        return _decode_dynamic(
            buf, rows, scrub_strings=scrub_strings, lossy_uint64=lossy_uint64
        )
    if b == "Variant":
        # public layout (cf. ClickHouse SerializationVariant, basic
        # discriminator mode as clickhouse-connect also reads it):
        # UInt64 mode prefix (0 = basic), one UInt8 discriminator per
        # row (255 = NULL; indices refer to the CANONICAL sorted
        # variant order, see parse_type), then each variant's values
        # DENSE in canonical order
        mode = _read_u64(buf)
        if mode != 0:
            raise UnsupportedTypeError(
                f"Variant discriminator serialization mode {mode} "
                "(only the basic row-discriminator mode 0 is supported; "
                "compact granule mode is a MergeTree-part layout)"
            )
        raw = buf.read(rows)
        if len(raw) != rows:
            raise EOFError("EOF inside Variant discriminators")
        disc = np.frombuffer(raw, dtype=np.uint8)
        n_var = len(t.tuple_items)
        bad = disc[(disc != 255) & (disc >= n_var)]
        if bad.size:
            raise ValueError(
                f"Variant discriminator {int(bad[0])} out of range for "
                f"{n_var} variants ({t.name})"
            )
        fields = []
        for i, it in enumerate(t.tuple_items):
            sel = disc == i
            count = int(sel.sum())
            dense = decode_column(
                buf, it, count,
                scrub_strings=scrub_strings, lossy_uint64=lossy_uint64,
            )
            idx = np.zeros(rows, dtype=np.int64)
            idx[sel] = np.arange(count)
            take = pa.array(idx, mask=~sel)  # null index -> null value
            fields.append(dense.take(take))
        return pa.StructArray.from_arrays(
            fields, [it.name for it in t.tuple_items]
        )
    if b in ("Decimal", "Decimal32", "Decimal64", "Decimal128"):
        width = 4 if t.fixed_len <= 9 else 8 if t.fixed_len <= 18 else 16
        raw = buf.read(width * rows)
        if len(raw) != width * rows:
            raise EOFError("EOF inside Decimal column")
        if width == 16:
            ints = [
                int.from_bytes(raw[i * 16 : (i + 1) * 16], "little", signed=True)
                for i in range(rows)
            ]
        else:
            ints = np.frombuffer(raw, dtype=f"<i{width}").tolist()
        import decimal

        # default context precision (28) would raise/round on 29+ digit
        # unscaled values; decimal128 carries up to 38
        with decimal.localcontext() as ctx:
            ctx.prec = 40
            q = decimal.Decimal(1).scaleb(-t.scale)
            vals = [decimal.Decimal(v).scaleb(-t.scale).quantize(q) for v in ints]
        return pa.array(vals, type=pa.decimal128(t.fixed_len, t.scale))
    if b == "LowCardinality":
        return _decode_low_cardinality(
            buf, t, rows, scrub_strings=scrub_strings, lossy_uint64=lossy_uint64
        )
    if b in FIXED_WIDTH:
        return _decode_fixed(buf, t, rows, lossy_uint64=lossy_uint64)
    raise UnsupportedTypeError(f"cannot decode type {t.name}")


# LowCardinality wire constants (public layout, cf. ClickHouse
# SerializationLowCardinality: a shared-dictionary version stamp, then
# per-granule flags | index-width, additional keys, and indices)
_LC_VERSION = 1  # SharedDictionariesWithAdditionalKeys
_LC_HAS_ADDITIONAL_KEYS = 1 << 9
_LC_NEED_GLOBAL_DICT = 1 << 8
_LC_NEED_UPDATE_DICT = 1 << 10
_LC_INDEX_DTYPES = ["<u1", "<u2", "<u4", "<u8"]


def _read_u64(buf: BinaryIO) -> int:
    raw = buf.read(8)
    if len(raw) != 8:
        raise EOFError("EOF inside LowCardinality header")
    return struct.unpack("<Q", raw)[0]


def _decode_low_cardinality(
    buf: BinaryIO,
    t: CHType,
    rows: int,
    *,
    scrub_strings: bool,
    lossy_uint64: bool,
) -> pa.Array:
    """Dictionary-encoded column: version, flags|width, dictionary of
    additional keys (inner type; index 0 is the NULL placeholder when
    the inner type is Nullable), row count, then indices."""
    assert t.inner is not None
    inner = t.inner
    version = _read_u64(buf)
    if version != _LC_VERSION:
        raise UnsupportedTypeError(
            f"LowCardinality keys-serialization version {version} not supported"
        )
    if rows == 0:
        return pa.nulls(0, to_arrow(inner, lossy_uint64=lossy_uint64))
    flags = _read_u64(buf)
    if not flags & _LC_HAS_ADDITIONAL_KEYS:
        raise UnsupportedTypeError(
            "LowCardinality global-dictionary serialization not supported "
            f"(flags {flags:#x})"
        )
    width_code = flags & 0xFF
    if width_code > 3:
        raise UnsupportedTypeError(f"bad LowCardinality index width {width_code}")
    n_keys = _read_u64(buf)
    dense_inner = CHType(**{**inner.__dict__, "nullable": False})
    dictionary = decode_column(
        buf, dense_inner, n_keys, scrub_strings=scrub_strings, lossy_uint64=lossy_uint64
    )
    n_rows = _read_u64(buf)
    if n_rows != rows:
        raise ValueError(f"LowCardinality row count {n_rows} != block rows {rows}")
    dtype = _LC_INDEX_DTYPES[width_code]
    width = int(dtype[2:])
    raw = buf.read(width * rows)
    if len(raw) != width * rows:
        raise EOFError("EOF inside LowCardinality indices")
    idx = np.frombuffer(raw, dtype=dtype).astype(np.int64)
    values = dictionary.take(pa.array(idx))
    if inner.nullable:
        # index 0 is the default-value placeholder meaning NULL
        valid = pa.array(idx != 0)
        values = pa.compute.if_else(valid, values, pa.scalar(None, values.type))
    return values


def _encode_low_cardinality(buf: BinaryIO, t: CHType, arr: pa.Array) -> None:
    assert t.inner is not None
    inner = t.inner
    buf.write(struct.pack("<Q", _LC_VERSION))
    if len(arr) == 0:
        return
    if pa.types.is_dictionary(arr.type):
        arr = arr.cast(arr.type.value_type)
    nullable = inner.nullable or arr.null_count > 0
    dense_inner = CHType(**{**inner.__dict__, "nullable": False})
    if isinstance(arr, pa.ChunkedArray):  # pragma: no cover - combined upstream
        arr = arr.combine_chunks()
    encoded = pa.compute.dictionary_encode(arr)
    dictionary = encoded.dictionary
    indices = encoded.indices.to_numpy(zero_copy_only=False)
    if nullable:
        # prepend the NULL placeholder at index 0 (the inner default)
        placeholder = pa.array([_default_fill(dictionary.type)], type=dictionary.type)
        dictionary = pa.concat_arrays([placeholder, dictionary])
        idx = np.where(
            np.asarray(pa.compute.is_null(arr).to_numpy(zero_copy_only=False)),
            0,
            np.nan_to_num(indices.astype("float64"), nan=0).astype(np.int64) + 1,
        ).astype(np.int64)
    else:
        idx = indices.astype(np.int64)
    n_keys = len(dictionary)
    width_code = 0 if n_keys <= 0xFF else 1 if n_keys <= 0xFFFF else 2 if n_keys <= 0xFFFFFFFF else 3
    flags = _LC_HAS_ADDITIONAL_KEYS | width_code
    buf.write(struct.pack("<Q", flags))
    buf.write(struct.pack("<Q", n_keys))
    encode_column(buf, dense_inner, dictionary)
    buf.write(struct.pack("<Q", len(arr)))
    buf.write(idx.astype(_LC_INDEX_DTYPES[width_code]).tobytes())


def skip_column(buf: BinaryIO, t: CHType, rows: int) -> None:
    """Advance past one column's payload without materializing values
    (used for projection pushdown and block-boundary indexing)."""
    b = t.base
    if b == "Unsupported":
        return  # placeholder type: payload length unknowable, consume nothing
    if t.nullable:
        _skip_bytes(buf, rows)
        inner = CHType(**{**t.__dict__, "nullable": False})
        skip_column(buf, inner, rows)
        return
    if b == "String":
        if rows and _supports_chunk_scan(buf):
            _skip_strings_seekable(buf, rows)
        else:
            for _ in range(rows):
                n = read_varuint(buf)
                _skip_bytes(buf, n)
        return
    if b == "FixedString":
        _skip_bytes(buf, t.fixed_len * rows)
        return
    if b == "UUID":
        _skip_bytes(buf, 16 * rows)
        return
    if b == "IPv4":
        _skip_bytes(buf, 4 * rows)
        return
    if b == "IPv6":
        _skip_bytes(buf, 16 * rows)
        return
    if b == "Array":
        assert t.inner is not None
        raw = buf.read(8 * rows)
        if len(raw) != 8 * rows:
            raise EOFError("EOF inside Array offsets")
        total = int(np.frombuffer(raw, dtype="<u8")[-1]) if rows else 0
        skip_column(buf, t.inner, total)
        return
    if b == "Tuple":
        for it in t.tuple_items:
            skip_column(buf, it, rows)
        return
    if b == "Nested":
        skip_column(buf, _nested_equiv(t), rows)
        return
    if b == "Variant":
        mode = _read_u64(buf)
        if mode != 0:
            raise UnsupportedTypeError(
                f"Variant discriminator serialization mode {mode}"
            )
        raw = buf.read(rows)
        if len(raw) != rows:
            raise EOFError("EOF inside Variant discriminators")
        disc = np.frombuffer(raw, dtype=np.uint8)
        for i, it in enumerate(t.tuple_items):
            skip_column(buf, it, int((disc == i).sum()))
        return
    if b == "Dynamic":
        pairs = _read_dynamic_prefix(buf)
        mode = _read_u64(buf)
        if mode != 0:
            raise UnsupportedTypeError(
                f"Dynamic/Variant discriminator serialization mode {mode}"
            )
        raw = buf.read(rows)
        if len(raw) != rows:
            raise EOFError("EOF inside Dynamic discriminators")
        disc = np.frombuffer(raw, dtype=np.uint8)
        for i, (_nm, it) in enumerate(pairs):
            skip_column(buf, it, int((disc == i).sum()))
        return
    if b == "JSON":
        skip_column(buf, CHType("String"), rows)
        return
    if b == "AggregateFunction":
        from .aggstate import skip_states

        skip_states(buf, t.agg, rows)
        return
    if b in BIG_INT_WIDTH:
        _skip_bytes(buf, BIG_INT_WIDTH[b] * rows)
        return
    if b == "Map":
        raw = buf.read(8 * rows)
        if len(raw) != 8 * rows:
            raise EOFError("EOF inside Map offsets")
        total = int(np.frombuffer(raw, dtype="<u8")[-1]) if rows else 0
        skip_column(buf, t.tuple_items[0], total)
        skip_column(buf, t.tuple_items[1], total)
        return
    if b == "LowCardinality":
        assert t.inner is not None
        version = _read_u64(buf)
        if version != _LC_VERSION:
            raise UnsupportedTypeError(
                f"LowCardinality keys-serialization version {version}"
            )
        if rows == 0:
            return
        flags = _read_u64(buf)
        if not flags & _LC_HAS_ADDITIONAL_KEYS:
            raise UnsupportedTypeError("LowCardinality global dictionary")
        n_keys = _read_u64(buf)
        dense = CHType(**{**t.inner.__dict__, "nullable": False})
        skip_column(buf, dense, n_keys)
        n_rows = _read_u64(buf)
        width = int(_LC_INDEX_DTYPES[flags & 0xFF][2:])
        _skip_bytes(buf, width * n_rows)
        return
    if b in ("Decimal", "Decimal32", "Decimal64", "Decimal128"):
        width = 4 if t.fixed_len <= 9 else 8 if t.fixed_len <= 18 else 16
        _skip_bytes(buf, width * rows)
        return
    if b in FIXED_WIDTH:
        _skip_fixed(buf, t, rows)
        return
    raise UnsupportedTypeError(f"cannot skip type {t.name}")


# ---------------------------------------------------------------------------
# block reading
# ---------------------------------------------------------------------------


def _read_varuint_continuing(buf: BinaryIO, first_byte: int) -> int:
    """Finish a varint whose first byte was already consumed."""
    result = first_byte & 0x7F
    if not (first_byte & 0x80):
        return result
    shift = 7
    for _ in range(MAX_VARINT_BYTES - 1):
        b = buf.read(1)
        if not b:
            raise EOFError("EOF inside varint")
        byte = b[0]
        result |= (byte & 0x7F) << shift
        if not (byte & 0x80):
            return result
        shift += 7
    raise ValueError("varint too long")


def read_block_header(buf: BinaryIO) -> Optional[tuple[int, int]]:
    """Read (n_columns, n_rows) or None at EOF.

    Works on non-seekable streams (e.g. HTTP responses): the EOF probe
    consumes one byte and the varint decode continues from it.
    """
    first = buf.read(1)
    if not first:
        return None
    n_cols = _read_varuint_continuing(buf, first[0])
    n_rows = read_varuint(buf)
    return n_cols, n_rows


def read_block(
    buf: BinaryIO,
    *,
    columns: Optional[set[str]] = None,
    scrub_strings: bool = False,
    lossy_uint64: bool = False,
    unsupported_as_varchar: bool = False,
    marks=None,
    prewhere: Optional[tuple[set[str], Callable[[Block], bool]]] = None,
    header: Optional[list] = None,
) -> Optional[Block]:
    """Read one block; None at EOF or on the 0-row end marker
    (reference lib.rs:215-224). This is the only Native block walker:
    every column's name and type land in ``Block.header``.

    ``columns`` projects: payloads of unrequested columns are skipped,
    not decoded, so ``columns=set()`` is the header-only walk (schema
    probes, block offsets). ``marks`` (a ``native.marks.BlockMarks``
    for THIS block, or None) short-cuts plain String columns: unwanted
    columns seek past their recorded wire size instead of walking
    prefixes, wanted ones decode via the vectorized length path
    (verified, with streaming fallback).

    ``prewhere`` is ``(names, survives)``: the predicate's columns,
    decoded even when ``columns`` leaves them out, and a test of
    whether any row can pass. ``survives(block)`` runs once every
    column of ``names`` has been decoded (before the first column when
    ``names`` is empty), on the block read so far. If it says no, every
    remaining column is skipped and the block comes back ``dead``: no
    columns, ``n_rows`` and ``header`` intact. A block lacking one of
    ``names`` is never judged, so it is never dead.

    ``header``, when given, is the list the (name, type) pairs are
    appended to as they parse, so a caller sees how far a failed walk
    got (the compression sniff in ``compress.py``)."""
    hdr = read_block_header(buf)
    if hdr is None:
        return None
    n_cols, n_rows = hdr
    if n_cols == 0 and n_rows == 0:
        return None
    blk = Block(n_rows=n_rows, columns=[], header=[] if header is None else header)
    names, survives = prewhere or ((), None)
    pending = set(names)
    blk.dead = survives is not None and not pending and not survives(blk)
    for _ in range(n_cols):
        name = read_str(buf)
        type_str = read_str(buf)
        t = parse_type(type_str, unsupported_as_varchar=unsupported_as_varchar)
        blk.header.append((name, t))
        wanted = not blk.dead and (
            columns is None or name in columns or name in pending
        )
        info = marks_col_info(marks, name, type_str, n_rows)
        if not wanted:
            if info is not None:
                buf.seek(info[0], io.SEEK_CUR)
            else:
                skip_column(buf, t, n_rows)
            continue
        arr = None
        if info is not None:
            arr = _decode_marked_strings(buf, n_rows, info, scrub=scrub_strings)
            # None: stale sidecar, bytes were restored; stream decode below
        if arr is None:
            arr = decode_column(
                buf, t, n_rows, scrub_strings=scrub_strings, lossy_uint64=lossy_uint64
            )
        blk.columns.append(
            BlockColumn(name=name, type_str=type_str, ch_type=t, array=arr)
        )
        if name in pending:
            pending.discard(name)
            if not pending and not survives(blk):
                blk.dead = True
                blk.columns = []
    return blk


def iter_blocks(
    buf: BinaryIO,
    *,
    columns: Optional[set[str]] = None,
    scrub_strings: bool = False,
    lossy_uint64: bool = False,
    unsupported_as_varchar: bool = False,
    marks_reader=None,
    prewhere=None,
) -> Iterator[Block]:
    """Lazy block iterator — bounded memory, unlike the reference's
    whole-file materialization (lib.rs:274). ``marks_reader``
    (native.marks.MarksReader) engages the per-block string marks by
    the block's byte offset (``buf.tell()`` before each header), so it
    is only passed for raw uncompressed file streams. ``prewhere``
    passes through to ``read_block``."""
    while True:
        marks = None
        if marks_reader is not None:
            try:
                marks = marks_reader.block_at(buf.tell())
            except (OSError, AttributeError):
                marks_reader = None
        blk = read_block(
            buf,
            columns=columns,
            scrub_strings=scrub_strings,
            lossy_uint64=lossy_uint64,
            unsupported_as_varchar=unsupported_as_varchar,
            marks=marks,
            prewhere=prewhere,
        )
        if blk is None:
            return
        yield blk


def read_file_schema(
    path: str, *, compression: str = "auto", unsupported_as_varchar: bool = False
) -> list[tuple[str, CHType]]:
    """The FIRST block's header — schema discovery without a full file
    parse (fixes the reference's parse-twice lifecycle, lib.rs:251+274).
    Column payloads before later headers are skipped bytewise (one
    seek per String column with a marks sidecar). Transparently
    unwraps compressed frames (compress.py)."""
    from ..filesystem import open_input
    from .compress import maybe_compressed_reader

    with open_input(path, buffer_size=1 << 16) as f:
        buf = maybe_compressed_reader(f, compression=compression)
        marks = None
        if buf is f:
            from .marks import MarksReader

            mr = MarksReader.open(path)
            marks = mr.block_at(0) if mr is not None else None
        blk = read_block(
            buf,
            columns=set(),
            unsupported_as_varchar=unsupported_as_varchar,
            marks=marks,
        )
        return [] if blk is None else blk.header


def scan_blocks(path: str) -> tuple[list[tuple[int, int]], int]:
    """One sequential header-only pass: ([(byte_offset, n_rows), ...]
    per COMPLETE block, the byte just past the last of them) — the
    planning index that lets Spark split one file into parallel
    partitions (the reference is single-threaded, README.md:51), and
    the streaming reader's consumed-bytes offset.

    Truncation-safe: a partial tail block (a writer mid-append, or a
    cut-off copy) is simply not counted. Note seek() happily moves
    past EOF, so fixed-width skips must be validated against the file
    size — a block only counts if it ends at tell() <= size.
    """
    from ..filesystem import file_size, open_input

    out: list[tuple[int, int]] = []
    size = file_size(path)
    with open_input(path) as buf:
        while True:
            pos = buf.tell()
            try:
                blk = read_block(buf, columns=set())
            except EOFError:
                blk = None  # truncated tail block: not counted
            if blk is None or buf.tell() > size:
                return out, pos
            out.append((pos, blk.n_rows))


def scan_block_offsets(path: str) -> list[tuple[int, int]]:
    """[(byte_offset, n_rows), ...] per complete block (``scan_blocks``)."""
    return scan_blocks(path)[0]


# ---------------------------------------------------------------------------
# block writing
# ---------------------------------------------------------------------------


def _encode_fixed_np(arr: pa.Array, dtype: str) -> bytes:
    np_arr = arr.to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(np_arr.astype(dtype, copy=False)).tobytes()


def varint_widths(lengths: np.ndarray) -> np.ndarray:
    """Per-value varuint prefix width (1..10 bytes) for an int64 array
    of byte lengths — one 7-bit group per width step, vectorized."""
    widths = np.ones(len(lengths), dtype=np.int64)
    bound = 1 << 7
    while True:
        over = lengths >= bound
        if not over.any():
            return widths
        widths += over
        bound <<= 7


def _string_array_views(arr: pa.Array):
    """(lengths:int64[n], payload:uint8-view) of a null-free arrow
    string/binary array, honoring slice offsets; None when the array
    is not a flat (large_)string/binary layout."""
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        off_dtype = np.int32
    elif pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        off_dtype = np.int64
    else:
        return None
    n = len(arr)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=off_dtype, count=arr.offset + n + 1)[
        arr.offset :
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    return off[1:] - off[:-1], data[int(off[0]) : int(off[-1])]


def _strings_wire_bytes(arr: pa.Array) -> Optional[bytes]:
    """Serialize a null-free arrow string/binary array as Native
    varuint-length-prefixed values in one vectorized pass — the byte
    stream is identical to the per-row ``write_str`` loop (prefix
    bytes verified against it in tests on hostile boundary lengths).
    Returns None for layouts the fast path does not cover (caller
    falls back to the row loop)."""
    views = _string_array_views(arr)
    if views is None:
        return None
    n = len(arr)
    if n == 0:
        return b""
    lengths, payload = views
    widths = varint_widths(lengths)
    starts = np.empty(n + 1, dtype=np.int64)
    starts[0] = 0
    np.cumsum(widths + lengths, out=starts[1:])
    total = int(starts[-1])
    out = np.empty(total, dtype=np.uint8)
    mask = np.ones(total, dtype=bool)
    prefix_at = starts[:-1]
    one = widths == 1
    p1 = prefix_at[one]
    mask[p1] = False
    out[p1] = lengths[one]
    if not one.all():
        # 2-byte prefixes (values 128..16383 bytes) scatter vectorized
        # like the 1-byte case; only 3+ byte prefixes walk per row
        is_two = widths == 2
        if is_two.any():
            p2 = prefix_at[is_two]
            l2 = lengths[is_two]
            mask[p2] = False
            mask[p2 + 1] = False
            out[p2] = (l2 & 0x7F) | 0x80
            out[p2 + 1] = l2 >> 7
        for i in np.nonzero(widths > 2)[0]:
            s = int(prefix_at[i])
            w = int(widths[i])
            v = int(lengths[i])
            mask[s : s + w] = False
            for k in range(w):
                byte = v & 0x7F
                v >>= 7
                if k < w - 1:
                    byte |= 0x80
                out[s + k] = byte
    out[mask] = payload
    return out.tobytes()


def encode_column(buf: BinaryIO, t: CHType, arr: pa.Array) -> None:
    """Encode one column payload in Native layout."""
    b = t.base
    if (t.nullable or arr.null_count > 0) and b not in (
        "LowCardinality", "Map", "Variant", "Dynamic", "AggregateFunction",
    ):
        # nulls in a LowCardinality column live inside the dictionary
        # (index 0 placeholder), never as an outer Nullable mask;
        # Nullable(Map) does not exist in ClickHouse (nulls -> empty
        # map); Variant NULLs are the 255 discriminator; agg-state
        # nulls (no-value min/max states) live INSIDE the state bytes
        mask = np.asarray(pa.compute.is_null(arr).to_numpy(zero_copy_only=False), dtype=np.uint8)
        buf.write(mask.tobytes())
        arr = pa.compute.fill_null(arr, _default_fill(arr.type))
        t = CHType(**{**t.__dict__, "nullable": False})
    if b == "String":
        # nulls were already filled above (the Nullable mask arm), so
        # the vectorized wire encoder sees a null-free flat array; the
        # row loop stays as the fallback for exotic layouts
        fast = _strings_wire_bytes(arr) if arr.null_count == 0 else None
        if fast is not None:
            buf.write(fast)
            return
        if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type):
            for v in arr:
                write_str(buf, v.as_py() if v.is_valid else b"")
        else:
            for v in arr.cast(pa.string()):
                write_str(buf, v.as_py() if v.is_valid else "")
        return
    if b == "Array":
        assert t.inner is not None
        la = arr.cast(pa.list_(arr.type.value_type)) if not pa.types.is_list(arr.type) else arr
        lengths = pa.compute.list_value_length(la).to_numpy(zero_copy_only=False)
        cumulative = np.cumsum(np.asarray(lengths, dtype=np.int64)).astype("<u8")
        buf.write(cumulative.tobytes())
        encode_column(buf, t.inner, la.flatten())
        return
    if b == "Bool":
        buf.write(_encode_fixed_np(arr, "<u1"))
        return
    if b in ("Date", "Date32"):
        days = arr.cast(pa.int32()).to_numpy(zero_copy_only=False)
        buf.write(days.astype("<u2" if b == "Date" else "<i4").tobytes())
        return
    if b == "DateTime64":
        # rescale from the array's own unit — never a lossy pa.cast
        # (ns-precision parquet data must survive the write intact)
        if pa.types.is_timestamp(arr.type):
            unit_scale = {"s": 0, "ms": 3, "us": 6, "ns": 9}[arr.type.unit]
        else:
            unit_scale = 6
        raw = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
        scale = t.scale
        if scale == unit_scale:
            ticks = raw
        elif scale > unit_scale:
            ticks = raw * (10 ** (scale - unit_scale))
        else:
            ticks = raw // (10 ** (unit_scale - scale))
        buf.write(ticks.astype("<i8").tobytes())
        return
    if b == "DateTime":
        if pa.types.is_timestamp(arr.type):
            arr = arr.cast(pa.timestamp("us"))
        us = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
        buf.write((us // 1_000_000).astype("<u4").tobytes())
        return
    if b in ("Decimal", "Decimal32", "Decimal64", "Decimal128"):
        import decimal

        width = 4 if t.fixed_len <= 9 else 8 if t.fixed_len <= 18 else 16
        with decimal.localcontext() as ctx:
            ctx.prec = 40  # see decode: default prec 28 < decimal128's 38
            for v in arr:
                val = v.as_py()
                unscaled = (
                    int(val.scaleb(t.scale).to_integral_value()) if val is not None else 0
                )
                buf.write(unscaled.to_bytes(width, "little", signed=True))
        return
    if b == "LowCardinality":
        _encode_low_cardinality(buf, t, arr)
        return
    if b == "UUID":
        # canonical hex strings -> (hi64, lo64) little-endian pair,
        # the inverse of the decode layout
        for v in arr.cast(pa.string()):
            s = (v.as_py() or "0" * 32).replace("-", "")
            n = int(s, 16)
            buf.write(struct.pack("<QQ", (n >> 64) & _MASK64_U, n & _MASK64_U))
        return
    if b == "FixedString":
        width = t.fixed_len
        for v in arr.cast(pa.string()):
            raw = (v.as_py() or "").encode("utf-8")[:width]
            buf.write(raw.ljust(width, b"\x00"))
        return
    if b == "IPv4":
        import ipaddress

        for v in arr.cast(pa.string()):
            n = int(ipaddress.IPv4Address(v.as_py() or "0.0.0.0"))
            buf.write(struct.pack("<I", n))
        return
    if b == "IPv6":
        import ipaddress

        for v in arr.cast(pa.string()):
            buf.write(ipaddress.IPv6Address(v.as_py() or "::").packed)
        return
    if b == "Tuple":
        if not pa.types.is_struct(arr.type):
            raise UnsupportedTypeError("Tuple encode expects a struct array")
        for i, it in enumerate(t.tuple_items):
            encode_column(buf, it, arr.field(i))
        return
    if b == "Nested":
        if not pa.types.is_list(arr.type):
            raise UnsupportedTypeError("Nested encode expects a list<struct> array")
        encode_column(buf, _nested_equiv(t), arr)
        return
    if b == "JSON":
        encode_column(buf, CHType("String", nullable=t.nullable), arr)
        return
    if b in BIG_INT_WIDTH:
        width = BIG_INT_WIDTH[b]
        signed = b.startswith("Int")
        if pa.types.is_decimal(arr.type) and arr.type.scale != 0:
            raise UnsupportedTypeError(
                f"{b} encode needs an integral column, got {arr.type}"
            )
        for v in arr:
            val = v.as_py()
            n = int(val) if val is not None else 0
            if not signed and n < 0:
                raise ValueError(f"negative value {n} in a {b} column")
            buf.write(n.to_bytes(width, "little", signed=signed))
        return
    if b == "AggregateFunction":
        from .aggstate import encode_states

        encode_states(buf, t.agg, arr)
        return
    if b == "Variant":
        # inverse of the decode branch: discriminator = index of the
        # single non-null variant field per row (255 when all null),
        # then each variant's values dense in canonical order
        if not pa.types.is_struct(arr.type):
            raise UnsupportedTypeError(
                "Variant encode expects a struct array (one field per "
                "variant, at most one non-null per row)"
            )
        if isinstance(arr, pa.ChunkedArray):  # pragma: no cover
            arr = arr.combine_chunks()
        parent_ok = np.asarray(
            pa.compute.is_valid(arr).to_numpy(zero_copy_only=False), dtype=bool
        )
        n = len(arr)
        disc = np.full(n, 255, dtype=np.uint8)
        for i in range(len(t.tuple_items)):
            v = (
                np.asarray(
                    pa.compute.is_valid(arr.field(i)).to_numpy(
                        zero_copy_only=False
                    ),
                    dtype=bool,
                )
                & parent_ok
            )
            if (disc[v] != 255).any():
                raise ValueError(
                    "Variant row has more than one non-null variant field"
                )
            disc[v] = i
        buf.write(struct.pack("<Q", 0))  # basic discriminator mode
        buf.write(disc.tobytes())
        for i, it in enumerate(t.tuple_items):
            dense = arr.field(i).filter(pa.array(disc == i))
            encode_column(buf, it, dense)
        return
    if b == "Dynamic":
        # inverse of _decode_dynamic: the variant set = the SORTED
        # distinct type names present in the data; prefix (version 1 +
        # max_types + names) then the Variant body, values parsed back
        # from their canonical text
        import pyarrow.compute as pc

        if not pa.types.is_struct(arr.type) or set(
            f.name for f in arr.type
        ) != {"type", "value"}:
            raise UnsupportedTypeError(
                "Dynamic encode expects a struct<type: string, "
                "value: string> array (the type-erased mapping)"
            )
        if isinstance(arr, pa.ChunkedArray):  # pragma: no cover
            arr = arr.combine_chunks()
        parent_ok = np.asarray(
            pa.compute.is_valid(arr).to_numpy(zero_copy_only=False),
            dtype=bool,
        )
        types_f = pc.cast(arr.field("type"), pa.string())
        vals_f = pc.cast(arr.field("value"), pa.string())
        type_py = types_f.to_pylist()
        val_ok = np.asarray(
            pc.is_valid(vals_f).to_numpy(zero_copy_only=False), dtype=bool
        )
        names = sorted(
            {
                nm
                for nm, ok in zip(type_py, parent_ok)
                if ok and nm is not None
            }
        )
        if len(names) > 255:
            raise ValueError(
                f"Dynamic column carries {len(names)} distinct types "
                "(max 255)"
            )
        pairs = []
        for nm in names:
            it = (
                parse_type("String")
                if nm == "SharedVariant"
                else parse_type(nm)
            )
            _check_dynamic_member(it, nm)
            pairs.append((nm, it))
        n = len(arr)
        disc = np.full(n, 255, dtype=np.uint8)
        rank = {nm: i for i, nm in enumerate(names)}
        for row, (nm, ok) in enumerate(zip(type_py, parent_ok)):
            if ok and nm is not None:
                disc[row] = rank[nm]
            elif ok and val_ok[row]:
                raise ValueError(
                    "Dynamic row has a value but a NULL type tag"
                )
        mt = t.fixed_len or 32
        buf.write(struct.pack("<Q", 1))  # structure version V1
        write_varuint(buf, mt)
        write_varuint(buf, len(pairs))
        for nm, _it in pairs:
            raw_nm = nm.encode("utf-8")
            write_varuint(buf, len(raw_nm))
            buf.write(raw_nm)
        buf.write(struct.pack("<Q", 0))  # basic discriminator mode
        buf.write(disc.tobytes())
        for i, (_nm, it) in enumerate(pairs):
            dense = vals_f.filter(pa.array(disc == i))
            if dense.null_count:
                raise ValueError(
                    "Dynamic row has a type tag but a NULL value"
                )
            typed = pc.cast(dense, to_arrow(it))
            encode_column(buf, it, typed)
        return
    if b == "Map":
        if not pa.types.is_map(arr.type):
            raise UnsupportedTypeError("Map encode expects a map array")
        if isinstance(arr, pa.ChunkedArray):  # pragma: no cover
            arr = arr.combine_chunks()
        # .keys/.items are the FULL child arrays even for a sliced map;
        # the offsets window [offs[0], offs[-1]] selects this slice's
        # entries. Null rows carry zero-length windows (ClickHouse has
        # no Nullable(Map); nulls round-trip as empty maps).
        offs = np.asarray(arr.offsets.to_numpy(zero_copy_only=False), dtype=np.int64)
        lengths = np.diff(offs)
        cum = np.cumsum(lengths).astype("<u8")
        buf.write(cum.tobytes())
        start, end = int(offs[0]), int(offs[-1])
        encode_column(buf, t.tuple_items[0], arr.keys.slice(start, end - start))
        encode_column(buf, t.tuple_items[1], arr.items.slice(start, end - start))
        return
    if b in FIXED_WIDTH:
        dtype, _ = FIXED_WIDTH[b]
        buf.write(_encode_fixed_np(arr, dtype))
        return
    raise UnsupportedTypeError(f"cannot encode type {t.name}")


def _default_fill(dt: pa.DataType):
    if pa.types.is_string(dt) or pa.types.is_large_string(dt):
        return ""
    if pa.types.is_binary(dt):
        return b""
    if pa.types.is_boolean(dt):
        return False
    if pa.types.is_timestamp(dt):
        return 0
    if pa.types.is_date(dt):
        return 0
    if pa.types.is_list(dt) or pa.types.is_map(dt):
        return []
    return 0


def _nn(t: CHType) -> str:
    """Render a (possibly Nullable) type name — CHType.name does not
    self-wrap, the writer does."""
    return f"Nullable({t.name})" if t.nullable else t.name


def _promote_nullable(t: CHType, arr: pa.Array) -> CHType:
    """Effective DECLARED type for a write: promote nullability — at
    every nesting level — from the actual null counts, so the type
    string always matches the mask bytes encode_column emits.  (A
    null-bearing Tuple/Array/Map CHILD used to desync the stream: the
    recursion wrote the child's Nullable mask while the header still
    declared the plain type.)"""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    b = t.base
    if b in ("Variant", "Dynamic", "AggregateFunction"):
        # never promoted: Variant/Dynamic NULL rows are discriminator
        # 255; agg-state nulls (no-value min/max states) live INSIDE
        # the state bytes and Nullable(AggregateFunction) is invalid
        return CHType(**{**t.__dict__})
    if b == "LowCardinality":
        eff = CHType(**{**t.__dict__})
        if arr.null_count > 0 and t.inner is not None and not t.inner.nullable:
            eff.inner = CHType(**{**t.inner.__dict__, "nullable": True})
        return eff
    if b == "Map" and t.tuple_items and pa.types.is_map(arr.type):
        kt = t.tuple_items[0]  # CH map keys are non-nullable
        vt = _promote_nullable(t.tuple_items[1], arr.items)
        eff = CHType(**{**t.__dict__})
        eff.tuple_items = [kt, vt]
        eff.params = f"{_nn(kt)}, {_nn(vt)}"
        return eff
    if b == "Tuple" and t.tuple_items and pa.types.is_struct(arr.type):
        items = [
            _promote_nullable(it, arr.field(i))
            for i, it in enumerate(t.tuple_items)
        ]
        eff = CHType(**{**t.__dict__, "nullable": t.nullable or arr.null_count > 0})
        eff.tuple_items = items
        eff.params = ", ".join(_nn(it) for it in items)
        return eff
    if b == "Array" and t.inner is not None and pa.types.is_list(arr.type):
        eff = CHType(**{**t.__dict__, "nullable": t.nullable or arr.null_count > 0})
        eff.inner = _promote_nullable(t.inner, arr.flatten())
        return eff
    if b == "Nested" and t.tuple_items and pa.types.is_list(arr.type):
        flat = arr.flatten()
        items = [
            _promote_nullable(it, flat.field(i))
            for i, it in enumerate(t.tuple_items)
        ]
        eff = CHType(**{**t.__dict__, "nullable": t.nullable or arr.null_count > 0})
        eff.tuple_items = items
        eff.params = ", ".join(
            f"{n} {_nn(it)}" for n, it in zip(t.tuple_names, items)
        )
        return eff
    return CHType(**{**t.__dict__, "nullable": t.nullable or arr.null_count > 0})


def write_block(buf: BinaryIO, batch: pa.RecordBatch, ch_types: list[CHType]) -> None:
    """Write one Native block. The declared type string always matches
    the payload: null-bearing columns are promoted to ``Nullable(T)``
    recursively (``_promote_nullable``) — or, for LowCardinality, to
    ``LowCardinality(Nullable(T))`` since Nullable may not wrap LC."""
    write_varuint(buf, batch.num_columns)
    write_varuint(buf, batch.num_rows)
    for i in range(batch.num_columns):
        t = ch_types[i]
        col = batch.column(i)
        eff = _promote_nullable(t, col)
        if eff.base in ("LowCardinality", "Map", "Variant", "Dynamic"):
            # Nullable may wrap none of these (Map nulls round-trip as
            # empty maps; LC nulls live inside the dictionary; Variant/
            # Dynamic nulls are the 255 discriminator)
            name = eff.name
        else:
            name = _nn(eff)
        write_str(buf, batch.schema.names[i])
        write_str(buf, name)
        encode_column(buf, eff, col)
