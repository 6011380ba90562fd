"""FORMAT Npy — the twelfth wire format for the scan source: a numpy
``.npy`` v1.0 file carrying exactly ONE column (ClickHouse format docs:
interfaces/formats#data-format-npy — "only a single column" on both
SELECT and INSERT).

Read AND write halves:

* read — the body is file-shaped (buffered, like Parquet/ORC); the
  header is parsed by hand (magic ``\\x93NUMPY``, version, the
  little Python-literal header dict) instead of ``np.load`` so that a
  malformed header fails with a named error and ``allow_pickle``-class
  risks never exist (object dtypes are refused before any deserialize).
  Npy is type-self-describing but NAME-less: the single column's name
  rides in from the planning probe, the tskv/values precedent.
* write — one column, no nulls (the format has no null notion:
  a null raises rather than silently writing a filler), numeric/bool
  passthrough, strings as fixed-width ``S`` bytes (ClickHouse's own
  String mapping), little-endian always.

Supported dtypes: i1/i2/i4/i8, u1/u2/u4/u8 (u8 follows the engine-wide
UInt64 contract — values >= 2^63 raise unless ``lossy_uint64``), f4/f8,
bool, Sx/Ux strings.  Timestamps/decimals/nested are refused loudly —
the public format supports them via Array nesting only, out of scope.

Reference surface: the reference reads FORMAT Native only
(clickhouse_scan.rs:131); this is beyond-reference interop.
"""

from __future__ import annotations

import ast
import struct
from typing import BinaryIO, Iterator

import numpy as np
import pyarrow as pa

_MAGIC = b"\x93NUMPY"


def _parse_npy_header(data: bytes) -> tuple[np.dtype, tuple, bool, int]:
    """Parse a .npy v1.x/2.x header by hand; returns
    (dtype, shape, fortran_order, data_offset)."""
    if data[:6] != _MAGIC:
        raise ValueError("not a .npy payload (bad magic)")
    major = data[6]
    if major == 1:
        (hlen,) = struct.unpack_from("<H", data, 8)
        off = 10
    elif major in (2, 3):
        (hlen,) = struct.unpack_from("<I", data, 8)
        off = 12
    else:
        raise ValueError(f"unsupported .npy version {major}")
    header = data[off : off + hlen].decode("latin1")
    try:
        meta = ast.literal_eval(header)
        if not isinstance(meta, dict):
            raise ValueError("header literal is not a dict")
        descr = meta["descr"]
        shape = tuple(meta["shape"])
        fortran = bool(meta["fortran_order"])
    except ValueError:
        raise
    except Exception as e:  # noqa: BLE001 - KeyError/TypeError/Syntax
        raise ValueError(f"malformed .npy header: {e!r}") from None
    if not isinstance(descr, str):
        raise ValueError(
            "structured .npy dtypes are not supported (single plain "
            "column only, per the ClickHouse Npy contract)"
        )
    dt = np.dtype(descr)
    if dt.hasobject:
        raise ValueError("object .npy dtypes are refused (no pickle)")
    return dt, shape, fortran, off + hlen


def _to_arrow(arr: np.ndarray, *, lossy_uint64: bool) -> pa.Array:
    kind = arr.dtype.kind
    if kind in ("i", "f", "b"):
        return pa.array(arr)
    if kind == "u":
        if arr.dtype.itemsize == 8:
            if lossy_uint64:
                # the reference's UInt64 -> i32 wrap, shared with the
                # Arrow wire path (arrowwire._wrap_uint64_i32)
                from .arrowwire import _wrap_uint64_i32

                return _wrap_uint64_i32(pa.array(arr))
            if arr.size and int(arr.max()) > 0x7FFFFFFFFFFFFFFF:
                raise ValueError(
                    "Npy uint64 value >= 2^63; pass lossy_uint64=true "
                    "for the reference's wrap-to-int32 behaviour"
                )
            return pa.array(arr.astype(np.int64))
        return pa.array(arr)
    if kind == "S":
        return pa.array(
            [v.decode("utf-8") for v in arr.tolist()], type=pa.string()
        )
    if kind == "U":
        return pa.array(arr.tolist(), type=pa.string())
    raise ValueError(f"unsupported .npy dtype {arr.dtype!r}")


# RawBatch is arrowwire's Block-alike — shared, not re-implemented
# (review finding: a byte-for-byte duplicate class invites divergence)
from .arrowwire import RawBatch  # noqa: E402


def iter_npy_blocks(
    buf: BinaryIO,
    names_types,
    *,
    lossy_uint64: bool = False,
    block_rows: int = 65_536,
) -> Iterator[RawBatch]:
    """Decode a .npy body into Arrow batches.  ``names_types`` is the
    planning probe's [(name, ch_type)] — exactly one entry (the format
    carries no column name)."""
    if len(names_types) != 1:
        raise ValueError(
            f"FORMAT Npy carries exactly one column; the schema probe "
            f"declared {len(names_types)}"
        )
    name = names_types[0][0]
    data = buf.read()
    dt, shape, fortran, off = _parse_npy_header(data)
    if len(shape) != 1:
        raise ValueError(
            f"FORMAT Npy scalar columns must be 1-D, got shape {shape} "
            "(N-D payloads map to Array columns, not supported here)"
        )
    # fortran_order is irrelevant for 1-D; accept either flag
    n = shape[0]
    arr = np.frombuffer(data, dtype=dt, count=n, offset=off)
    if dt.byteorder == ">":
        arr = arr.astype(dt.newbyteorder("<"))
    col = _to_arrow(arr, lossy_uint64=lossy_uint64)
    for start in range(0, n, block_rows) if n else ():
        chunk = col.slice(start, block_rows)
        yield RawBatch(
            pa.RecordBatch.from_arrays([chunk], names=[name])
        )


def write_npy(buf: BinaryIO, batches, ch_types=None) -> int:
    """Encode exactly one column, no nulls, as a .npy v1.0 body."""
    batches = list(batches)
    if not batches:
        # header for an empty int64 vector — a real server accepts it
        np.save(buf, np.empty(0, dtype=np.int64), allow_pickle=False)
        return 0
    # validate EVERY batch, not just the first: a later wide batch
    # must raise the contract error, never silently drop columns, and
    # a type drift must name the contract instead of surfacing as a
    # raw pyarrow concat error
    first_type = batches[0].column(0).type if batches[0].num_columns else None
    for b in batches:
        if b.num_columns != 1:
            raise ValueError(
                f"FORMAT Npy carries exactly one column; the INSERT "
                f"provides {b.num_columns}"
            )
        if b.column(0).type != first_type:
            raise ValueError(
                f"FORMAT Npy needs one uniform column type; the INSERT "
                f"mixes {first_type} and {b.column(0).type}"
            )
    col = pa.concat_arrays(
        [b.column(0).combine_chunks() if isinstance(b.column(0), pa.ChunkedArray) else b.column(0) for b in batches]
    )
    if col.null_count:
        raise ValueError(
            "FORMAT Npy has no null representation; drop or fill nulls "
            "before an Npy INSERT"
        )
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        vals = [v.encode("utf-8") for v in col.to_pylist()]
        if any(v.endswith(b"\x00") for v in vals):
            # fixed-width S storage NUL-pads, and every reader strips
            # trailing NULs — a value ending in NUL cannot round-trip.
            # Refuse loudly rather than silently truncate (the same
            # contract nulls get).
            raise ValueError(
                "FORMAT Npy cannot represent strings with trailing "
                "NUL bytes (S-dtype padding is indistinguishable from "
                "data); strip them or use another format"
            )
        width = max((len(v) for v in vals), default=1) or 1
        arr = np.array(vals, dtype=f"S{width}")
    elif (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
    ):
        arr = col.to_numpy(zero_copy_only=False)
    else:
        raise ValueError(
            f"FORMAT Npy supports int/uint/float/bool/String columns, "
            f"got {t}"
        )
    np.save(buf, arr, allow_pickle=False)
    return len(arr)
