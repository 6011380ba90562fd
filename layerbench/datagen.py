"""Seeded input generators for every workload.

Every table is a pure function of (seed, size): the same seed gives
byte-identical Arrow tables, a different seed different values. Row
counts never depend on the seed, so run-to-run differences come from
the program, not from the input size.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

CATS = [f"c{i:02d}" for i in range(24)]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table) so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _strings(rng: np.random.Generator, n: int, width: int) -> pa.Array:
    """n random lowercase strings of exactly ``width`` bytes."""
    raw = rng.integers(97, 123, size=n * width, dtype=np.uint8)
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(raw))


def scan_table(seed: int, rows: int) -> pa.Table:
    """native_scan input: Int64, Int32, Float64, low-cardinality String,
    ~25-byte String and Nullable(String)."""
    r = rng_for(seed, "scan")
    ns = pc.if_else(
        pa.array(r.random(rows) < 0.2), pa.scalar(None, pa.string()), _strings(r, rows, 12)
    )
    return pa.table(
        {
            # small ids: the reader's compression sniffing reads byte 16,
            # inside the first id, and misreads some values as a frame
            # header (e.g. a random base of up to 2**40 with seed 42)
            "id": pa.array(np.arange(rows, dtype=np.int64)),
            "k": pa.array(r.integers(-(1 << 30), 1 << 30, rows, dtype=np.int32)),
            "x": pa.array(r.standard_normal(rows)),
            "cat": pa.array(np.array(CATS)[r.integers(0, len(CATS), rows)]),
            "s25": _strings(r, rows, 25),
            "ns": ns,
        }
    )


def selective_table(seed: int, rows: int, days: int) -> pa.Table:
    """native_selective input: ``id`` sorted (min/max ranges), ``uid``
    scattered (bloom), ``cat`` few per part (set index), ``note`` with a
    rare needle (PREWHERE), ``day`` the hive partition key."""
    r = rng_for(seed, "selective")
    per_day = rows // days
    day = np.repeat(np.arange(days, dtype=np.int64), per_day)
    n = len(day)
    # each part of a day draws from a narrow band of categories, so the
    # set index can prove most parts free of a given category
    band = (np.arange(n) // 2048) % len(CATS)
    cat = np.array(CATS)[(band + r.integers(0, 3, n)) % len(CATS)]
    note = _strings(r, n, 20)
    # the needle lives in ~1 of every 64 blocks of 512 rows
    hot_blocks = r.random(n // 512 + 1) < 1 / 64
    hot = hot_blocks[np.arange(n) // 512] & (r.random(n) < 0.05)
    note = pc.if_else(pa.array(hot), pc.binary_join_element_wise("qzx", note, ""), note)
    return pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "uid": pa.array(r.integers(1, 1 << 50, n, dtype=np.int64)),
            "cat": pa.array(cat),
            "val": pa.array(np.round(r.random(n) * 1000, 3)),
            "note": note,
            "day": pa.array(day),
        }
    )


def remote_table(seed: int, rows: int) -> pa.Table:
    """remote_scan input, served by the DuckDB-backed mock server."""
    r = rng_for(seed, "remote")
    return pa.table(
        {
            "id": pa.array(np.arange(rows, dtype=np.int64)),
            "k": pa.array(r.integers(0, 1 << 30, rows, dtype=np.int32)),
            "x": pa.array(np.round(r.random(rows) * 1e6, 2)),
            "cat": pa.array(np.array(CATS)[r.integers(0, len(CATS), rows)]),
            "s": _strings(r, rows, 20),
        }
    )


def write_table(seed: int, rows: int, days: int) -> pa.Table:
    """native_write input: partitioned by ``day``, bloom on ``uid``,
    set index on ``cat``."""
    r = rng_for(seed, "write")
    day = r.integers(0, days, rows, dtype=np.int64)
    # two categories per day: a delete by category rewrites two days'
    # parts and hard-links the rest
    cat = np.array(CATS)[(day + r.integers(0, 2, rows)) % days]
    return pa.table(
        {
            "id": pa.array(np.arange(rows, dtype=np.int64)),
            "uid": pa.array(r.integers(1, 1 << 50, rows, dtype=np.int64)),
            "cat": pa.array(cat),
            "val": pa.array(np.round(r.random(rows) * 1000, 3)),
            "note": _strings(r, rows, 24),
            "day": pa.array(day),
        }
    )
