"""Per-block String column marks sidecar — the ClickHouse ``.mrk``
analogue for this engine's Native parts.

Why: the Native wire format length-prefixes every String value, so a
column's size is only known by walking its prefixes. Like ClickHouse's
marks files, which store byte positions per granule and column, the
sidecar stores each String column's byte span per block, as the
encoder reports it (``codec.write_block``). A reader then skips an
unwanted String column with one ``seek``, and decodes a wanted one
from one exact read of its span, walked by the same String walk every
other Native stream uses (``codec._decode_marked_strings``).

File format, written atomically next to the part as ``_<part>.marks``
(the ``_`` prefix keeps it out of directory listings, like the stats
sidecar): ``MAGIC``, then one JSON object and nothing else::

    {"file_bytes": <data file size when written>,
     "blocks": [{"o": <block byte offset>, "r": <rows>,
                 "c": {col: [<wire type string>, <payload bytes>]}}]}

Only ``String`` and ``Nullable(String)`` columns are recorded; a
Nullable span includes the leading 1-byte-per-row null mask.

Staleness guards, in order: the reader refuses the sidecar unless its
magic is this version's and the data file's CURRENT size equals
``file_bytes`` (an older sidecar reads as none: the part is read
mark-less); a block entry is used only when its offset and row count
match the block being read; a column's span only when its recorded
type string is the block's own; and a decode whose walk does not end
exactly at the span restores every byte it read and leaves the column
to the stream decode.
"""

from __future__ import annotations

import json
import os
from typing import Optional

MAGIC = b"CHSMRK2\n"
MARKED_TYPES = ("String", "Nullable(String)")


def marks_sidecar_path(data_path: str) -> str:
    """``part-000.clickhouse`` -> ``_part-000.clickhouse.marks``."""
    d, base = os.path.split(data_path)
    return os.path.join(d, f"_{base}.marks")


class MarksRecorder:
    """Collects, block by block, the spans the encoder reports for the
    part's String and Nullable(String) columns."""

    def __init__(self) -> None:
        self.blocks: list[dict] = []

    def on_block(self, offset: int, rows: int, columns) -> None:
        """``columns``: ``codec.write_block``'s report for the block
        written at ``offset`` — (name, type string, payload bytes) per
        column."""
        self.blocks.append(
            {
                "o": offset,
                "r": rows,
                "c": {n: [t, b] for n, t, b in columns if t in MARKED_TYPES},
            }
        )

    def write(self, data_path: str) -> Optional[str]:
        """Write the sidecar (atomic replace); None when no block holds
        a String column."""
        if not any(b["c"] for b in self.blocks):
            return None
        header = {"file_bytes": os.path.getsize(data_path), "blocks": self.blocks}
        path = marks_sidecar_path(data_path)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(MAGIC)
            f.write(json.dumps(header, separators=(",", ":")).encode("utf-8"))
        os.replace(tmp, path)
        return path


class MarksReader:
    """Reads a ``_<part>.marks`` sidecar; ``open()`` returns None when
    the sidecar is absent, unreadable, of another version, or stale
    (data file size changed)."""

    def __init__(self, by_offset: dict) -> None:
        self._by_offset = by_offset

    @classmethod
    def open(cls, data_path: str) -> Optional["MarksReader"]:
        try:
            size = os.path.getsize(data_path)
            with open(marks_sidecar_path(data_path), "rb") as f:
                if f.read(len(MAGIC)) != MAGIC:
                    return None
                header = json.loads(f.read().decode("utf-8"))
            if header["file_bytes"] != size:
                return None  # data file rewritten without marks
            by_offset = {}
            for b in header["blocks"]:
                cols = {c: (str(t), int(n)) for c, (t, n) in b["c"].items()}
                if any(n < 0 for _, n in cols.values()):
                    return None
                if cols:
                    by_offset[int(b["o"])] = (int(b["r"]), cols)
        except (OSError, ValueError, KeyError, TypeError, AttributeError):
            return None
        return cls(by_offset) if by_offset else None

    def block_at(self, offset: int) -> Optional[tuple]:
        """The marks of the block at ``offset``: (rows, {column: (type
        string, span bytes)}), or None."""
        return self._by_offset.get(offset)
