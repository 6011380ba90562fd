"""Per-block string-column marks sidecar — the ClickHouse ``.mrk``
analogue for this engine's Native parts.

Why: the Native wire format length-prefixes every String value, so a
pure-Python reader must walk prefixes sequentially (the per-thread
floor SCALE.md documents: ~207 ms / 1M short strings decode, ~130 ms
skip). ClickHouse sidesteps the walk with native code; this engine
sidesteps it with data layout, exactly like ClickHouse's marks files:
the WRITER already knows every value's byte length (they are the
arrow offsets it serializes from), so it records them once. The
reader then has prefix positions as a cumsum — decode becomes one
masked numpy copy (every prefix byte verified against the
reconstruction, streaming fallback on mismatch) and column *skip*
becomes one ``seek`` (projections over string-heavy tables previously
walked every skipped string's prefix).

File format (binary, little-endian), written atomically next to the
part as ``_<part>.marks`` (the ``_`` prefix keeps it out of directory
listings, like the stats sidecar)::

    magic   b"CHSMRK1\\n"
    u32     header JSON length
    bytes   header JSON:
            {"file_bytes": <data file size when written>,
             "blocks": [{"o": <block byte offset>, "r": <rows>,
                         "c": {col: {"b": <wire bytes>,
                                     "l": <offset into lens region>,
                                     "n": 1 when the wire is
                                          Nullable(String)}}}]}
    bytes   lens region: concatenated <u4 arrays, one entry per row

Staleness guards, in order: the reader refuses the sidecar unless the
data file's CURRENT size equals ``file_bytes``; a block entry is used
only when its recorded offset AND row count match the block being
read (and its nullable flag matches the block's declared wire type);
and the decode path verifies every reconstructed prefix byte against
the stream before trusting the lengths. Marks cover top-level
``String`` AND ``Nullable(String)`` columns: a nullable entry's wire
bytes include the leading 1-byte-per-row null mask and its lengths
are null-filled (zero at null slots), mirroring the encoder.
"""

from __future__ import annotations

import json
import os
import struct
from typing import Optional

import numpy as np

MAGIC = b"CHSMRK1\n"


def marks_sidecar_path(data_path: str) -> str:
    """``part-000.clickhouse`` -> ``_part-000.clickhouse.marks``."""
    d, base = os.path.split(data_path)
    return os.path.join(d, f"_{base}.marks")


class MarksRecorder:
    """Accumulates per-block string lengths during a Native write.

    Wire shape must agree byte-for-byte with the codec's encoder:
    eligibility is decided from the DECLARED CH types
    (``set_ch_types``) — only top-level plain String columns — plus a
    per-block null-free check (write_block promotes a block with
    nulls to Nullable(String), whose payload has a leading mask the
    marks do not describe)."""

    def __init__(self) -> None:
        self.blocks: list[dict] = []
        self._lens: list[bytes] = []
        self._lens_off = 0
        self.disabled = False
        self._str_cols: Optional[set] = None

    def set_ch_types(self, names, ch_types) -> None:
        # name -> declared nullability. Declared-Nullable columns (and
        # null-bearing blocks of declared-String columns, which the
        # writer promotes) record the Nullable(String) wire shape: a
        # leading 1-byte-per-row mask, then the prefixed values with
        # zero-length entries at null slots (the encoder null-fills).
        self._str_cols = {
            n: bool(t.nullable)
            for n, t in zip(names, ch_types)
            if t.base == "String"
            and t.display is None
            and t.inner is None
        }
        if not self._str_cols:
            self.disabled = True

    def on_block(self, offset: int, piece: "pa.RecordBatch") -> None:
        if self.disabled:
            return
        if offset < 0:  # compressed sink: offsets are meaningless
            self.disabled = True
            self.blocks = []
            self._lens = []
            return
        if self._str_cols is None:
            # declared types unknown: cannot prove the wire layout
            self.disabled = True
            self.blocks = []
            self._lens = []
            return
        from .codec import _default_fill, _string_array_views, varint_widths

        cols: dict = {}
        for idx, name in enumerate(piece.schema.names):
            declared_nullable = self._str_cols.get(name)
            if declared_nullable is None:
                continue
            col = piece.column(idx)
            # wire shape mirrors the encoder: declared-Nullable columns
            # (always) and null-bearing blocks (promoted) write a
            # leading mask + null-filled values; null-free declared-
            # String blocks write the plain layout
            wire_nullable = declared_nullable or bool(col.null_count)
            if col.null_count:
                import pyarrow.compute as pc

                col = pc.fill_null(col, _default_fill(col.type))
            views = _string_array_views(col)
            if views is None:
                continue
            lengths, payload = views
            if len(lengths) and int(lengths.max()) >= 1 << 32:
                continue  # a value too large for the u4 lens entries
            wire = int(varint_widths(lengths).sum()) + int(len(payload))
            if wire_nullable:
                wire += piece.num_rows  # the leading null-mask bytes
            self._lens.append(lengths.astype("<u4").tobytes())
            entry = {"b": wire, "l": self._lens_off}
            if wire_nullable:
                entry["n"] = 1
            cols[name] = entry
            self._lens_off += 4 * piece.num_rows
        self.blocks.append(
            {"o": int(offset), "r": int(piece.num_rows), "c": cols}
        )

    def write(self, data_path: str) -> Optional[str]:
        """Write the sidecar (atomic replace); None when nothing was
        recorded (no eligible column, compressed sink, or disabled)."""
        if self.disabled or not any(b["c"] for b in self.blocks):
            return None
        header = {
            "file_bytes": os.path.getsize(data_path),
            "blocks": self.blocks,
        }
        hb = json.dumps(header, separators=(",", ":")).encode("utf-8")
        path = marks_sidecar_path(data_path)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(MAGIC)
            f.write(struct.pack("<I", len(hb)))
            f.write(hb)
            for chunk in self._lens:
                f.write(chunk)
        os.replace(tmp, path)
        return path


class BlockMarks:
    """One block's marks, handed to ``codec.read_block``."""

    __slots__ = ("_entry", "_reader")

    def __init__(self, entry: dict, reader: "MarksReader") -> None:
        self._entry = entry
        self._reader = reader

    def col(self, name: str, n_rows: int):
        """(wire_bytes, lengths[u4], nullable_wire) for a marked
        column, or None. ``nullable_wire`` means the recorded wire is
        Nullable(String): ``wire_bytes`` includes the leading
        1-byte-per-row null mask and the lengths are null-filled."""
        if self._entry["r"] != n_rows:
            return None
        info = self._entry["c"].get(name)
        if info is None:
            return None
        lens = self._reader._lengths(info["l"], n_rows)
        if lens is None:
            return None
        return info["b"], lens, bool(info.get("n"))


class MarksReader:
    """Reads a ``_<part>.marks`` sidecar; ``open()`` returns None when
    the sidecar is absent, unreadable, or stale (data file size
    changed)."""

    def __init__(self, by_offset: dict, lens_region: bytes) -> None:
        self._by_offset = by_offset
        self._lens = lens_region

    @classmethod
    def open(cls, data_path: str) -> Optional["MarksReader"]:
        path = marks_sidecar_path(data_path)
        try:
            size = os.path.getsize(data_path)
            with open(path, "rb") as f:
                if f.read(len(MAGIC)) != MAGIC:
                    return None
                (hlen,) = struct.unpack("<I", f.read(4))
                header = json.loads(f.read(hlen).decode("utf-8"))
                if header.get("file_bytes") != size:
                    return None  # data file rewritten without marks
                lens_region = f.read()
        except (OSError, ValueError, KeyError, struct.error):
            return None
        by_offset = {
            b["o"]: b for b in header.get("blocks", []) if b.get("c")
        }
        if not by_offset:
            return None
        return cls(by_offset, lens_region)

    def block_at(self, offset: int) -> Optional[BlockMarks]:
        entry = self._by_offset.get(offset)
        if entry is None:
            return None
        return BlockMarks(entry, self)

    def _lengths(self, lens_off: int, rows: int) -> Optional[np.ndarray]:
        end = lens_off + 4 * rows
        if lens_off < 0 or end > len(self._lens):
            return None
        return np.frombuffer(self._lens, dtype="<u4", count=rows, offset=lens_off)
