"""Lightweight-delete masks — the ClickHouse lightweight DELETE
analogue (``DELETE FROM t WHERE ...`` writes a ``_row_exists`` mask;
parts are rewritten only by later merges/mutations).  Reference
surface: the host engine's DELETE path; the reference repo itself is
read-only (lib.rs:240-366).

A delete is a per-part bitmap sidecar ``_<part>.delmask.json``::

    {"rows": <physical rows>, "deleted": <count>, "b64": <bitmap>}

bit i (little-endian within bytes) set => physical row i is deleted.
The reader drops masked rows as batches decode; nothing else about
the part changes — no data rewrite, O(rows/8) bytes written per part,
and only for parts that actually match the predicate.  Positions are
PHYSICAL row ordinals, so masks compose: a second DELETE ORs into the
existing bitmap.  ``rows`` pins the bitmap to the part's physical row
count — a mismatch (part rewritten underneath the mask) REFUSES
loudly rather than misaligning rows.

Everything that rewrites parts through the reader (mutations, TTL,
OPTIMIZE/compaction) materializes deletes for the parts it touches —
the rewritten output simply lacks the masked rows, and fresh parts
carry no mask.  Untouched parts keep their mask hard-linked alongside
the data (mutations' staging links it with the stats sidecar).
"""

from __future__ import annotations

import base64
import json
import os
from typing import Iterable, Optional


def delmask_path(data_path: str) -> str:
    """``part-000.clickhouse`` -> ``_part-000.clickhouse.delmask.json``
    (leading underscore: invisible to directory listings, like the
    stats sidecar)."""
    d, base = os.path.split(data_path)
    return os.path.join(d, f"_{base}.delmask.json")


def load_delmask(data_path: str) -> Optional[dict]:
    """Parsed, validated mask for ``data_path`` or None.  Malformed
    payloads raise — a half-written mask silently ignored would
    resurrect deleted rows."""
    p = delmask_path(data_path)
    try:
        with open(p) as f:
            mask = json.load(f)
    except OSError:
        return None
    except ValueError as ex:
        raise ValueError(f"corrupt delete mask {p!r}: {ex}") from ex
    try:
        rows = int(mask["rows"])
        deleted = int(mask["deleted"])
        raw = base64.b64decode(mask["b64"])
    except (KeyError, TypeError, ValueError) as ex:
        raise ValueError(f"malformed delete mask {p!r}: {ex}") from ex
    if len(raw) * 8 < rows:
        raise ValueError(
            f"delete mask {p!r} bitmap too short for {rows} rows"
        )
    return {"rows": rows, "deleted": deleted, "raw": raw}


def deleted_count(data_path: str) -> int:
    """Deleted-row count for ``data_path`` (0 when unmasked) — the
    metadata the trivial-count path subtracts."""
    m = load_delmask(data_path)
    return m["deleted"] if m else 0


def mask_bits(mask: dict, start: int, n: int):
    """Boolean numpy KEEP-array for physical rows [start, start+n).
    Rows beyond the mask's coverage (appended after the DELETE ran)
    are KEPT — the mask asserts nothing about them."""
    import numpy as np

    raw = np.frombuffer(mask["raw"], dtype=np.uint8)
    bits = np.unpackbits(raw, bitorder="little")[: mask["rows"]]
    keep = np.ones(n, dtype=bool)
    avail = bits[start : start + n]
    keep[: avail.size] = avail == 0
    return keep


def write_delmask(
    data_path: str, positions: Iterable[int], rows: int
) -> dict:
    """OR ``positions`` (physical row ordinals) into the part's mask;
    atomic replace.  Returns the resulting mask summary."""
    import numpy as np

    pos = np.fromiter(positions, dtype=np.int64)
    if pos.size and (pos.min() < 0 or pos.max() >= rows):
        raise ValueError(
            f"delete positions out of range for {rows}-row part "
            f"{data_path!r}"
        )
    existing = load_delmask(data_path)
    if existing is not None and existing["rows"] != rows:
        raise ValueError(
            f"existing delete mask for {data_path!r} covers "
            f"{existing['rows']} rows, part has {rows} — refusing to "
            "misalign (was the part rewritten underneath its mask?)"
        )
    nbytes = (rows + 7) // 8
    bits = np.zeros(nbytes * 8, dtype=np.uint8)
    if existing is not None:
        old = np.unpackbits(
            np.frombuffer(existing["raw"], dtype=np.uint8),
            bitorder="little",
        )
        bits[: old.size] |= old
    bits[pos] = 1
    deleted = int(bits[:rows].sum())
    payload = {
        "rows": int(rows),
        "deleted": deleted,
        "b64": base64.b64encode(
            np.packbits(bits, bitorder="little").tobytes()
        ).decode(),
    }
    p = delmask_path(data_path)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, p)
    return {"rows": int(rows), "deleted": deleted}
