#!/usr/bin/env python
"""Per-partition decode breakdown of the clickhouse_native scan
(r9 verdict #7): where does one executor thread's time go when it
decodes a Native file — raw I/O, varint/header parsing, numpy bulk
column reads, string-column assembly, Arrow wrapping?

The scan headline (10M rows / 32 files, ~20 M rows/s) is the number
the 100 TB story rests on; this probe names the next 2x if one exists.

Run: python tools/decode_profile.py   (appends a section to SCALE.md
when run with --write; prints to stdout otherwise).
``python tools/decode_profile.py --marks`` prints only the marks-sidecar
decision table: compiled vs pure-Python String walks on a marked and a
mark-less copy of the layerbench ``native_files`` scan table.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _time(fn, reps=5):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def profile_file(path: str, label: str) -> list[str]:
    from duckdb_extension_clickhouse_native_spark.native.codec import (
        iter_blocks,
    )

    size = os.path.getsize(path)
    raw = open(path, "rb").read()  # warm page cache

    lines = [f"### {label} ({size / 1e6:.1f} MB on disk)"]

    # 1. pure I/O floor: read the bytes
    t_io, _ = _time(lambda: open(path, "rb").read())
    # 2. full decode to Arrow from a BytesIO (no disk in the loop)
    def decode_mem():
        n = 0
        for blk in iter_blocks(io.BytesIO(raw)):
            n += blk.n_rows
        return n

    t_dec, n_rows = _time(decode_mem)
    # 3. decode + to_record_batch (what the DataSource emits)
    def decode_rb():
        n = 0
        for blk in iter_blocks(io.BytesIO(raw)):
            n += blk.to_record_batch().num_rows
        return n

    t_rb, _ = _time(decode_rb)

    mrps = n_rows / t_dec / 1e6
    lines.append(
        f"- rows {n_rows:,}; file read {t_io * 1e3:.1f} ms; decode "
        f"{t_dec * 1e3:.1f} ms ({mrps:.1f} M rows/s single-thread); "
        f"decode+RecordBatch {t_rb * 1e3:.1f} ms "
        f"(Arrow wrap adds {(t_rb - t_dec) * 1e3:.1f} ms)"
    )
    return lines


@contextlib.contextmanager
def _fallback():
    """Run the pure-Python String walks (as on a host without ``cc``)."""
    from duckdb_extension_clickhouse_native_spark.native import kernels

    load = kernels.load
    kernels.load = lambda: None
    try:
        yield
    finally:
        kernels.load = load


def marks_decision(base: str, rows: int = 100_000) -> list[str]:
    """What do the ``.marks`` sidecars cost and save? One part of the
    layerbench ``native_files`` scan table (seed 1; Int64, Int32, Float64 and three
    String columns, one Nullable), written with its marks and copied
    without them, read by ``iter_blocks`` with the compiled String walk
    and with the pure-Python fallback: every column decoded, and only
    ``id`` decoded (the String columns skipped: a seek per column with
    marks, a prefix walk without). The writer's cost is the same write
    with the marks recorder switched off, the two alternating 15 times
    (best of each)."""
    import shutil

    from duckdb_extension_clickhouse_native_spark.native import kernels
    from duckdb_extension_clickhouse_native_spark.native.codec import iter_blocks
    from duckdb_extension_clickhouse_native_spark.native.marks import (
        MarksReader,
        MarksRecorder,
        marks_sidecar_path,
    )
    from duckdb_extension_clickhouse_native_spark.native.writer import (
        write_native_file,
    )
    from layerbench import datagen

    table = datagen.scan_table(1, rows)
    marked = os.path.join(base, "scan_marked.clickhouse")
    bare = os.path.join(base, "scan_markless.clickhouse")
    scratch = os.path.join(base, "scan_nomarks_write.clickhouse")
    on_block, write = MarksRecorder.on_block, MarksRecorder.write

    def write_without_marks():
        MarksRecorder.on_block = lambda self, offset, rows, columns: None
        MarksRecorder.write = lambda self, path: None
        try:
            write_native_file(scratch, table)
        finally:
            MarksRecorder.on_block, MarksRecorder.write = on_block, write

    # the two writes alternate, each going first in turn, so host noise
    # falls on both alike
    best = {True: float("inf"), False: float("inf")}
    for i in range(16):
        for with_marks in (i % 2 == 0, i % 2 == 1):
            fn = (lambda: write_native_file(marked, table)) if with_marks else write_without_marks
            best[with_marks] = min(best[with_marks], _time(fn, reps=1)[0])
    t_w1, t_w0 = best[True], best[False]
    shutil.copyfile(marked, bare)
    assert MarksReader.open(bare) is None
    size = os.path.getsize(marked)
    side = os.path.getsize(marks_sidecar_path(marked))

    def scan(path, columns=None):
        marks = MarksReader.open(path)
        with open(path, "rb") as f:
            return sum(
                b.n_rows for b in iter_blocks(f, columns=columns, marks_reader=marks)
            )

    t = {}
    for impl in ("kernel", "python"):
        if impl == "kernel" and kernels.load() is None:
            continue
        with contextlib.ExitStack() as stack:
            if impl == "python":
                stack.enter_context(_fallback())
            for label, path in (("marked", marked), ("mark-less", bare)):
                for op, cols in (("decode", None), ("skip", {"id"})):
                    t[impl, label, op], n = _time(lambda: scan(path, cols))
                    assert n == rows
    lines = [
        "",
        f"### Marks sidecar decision ({rows:,} rows of the native_files scan "
        f"table, {size / 1e6:.1f} MB, marks {side:,} bytes)",
        "",
        "| walk | marked decode | mark-less decode | marked skip | mark-less skip |",
        "|---|---|---|---|---|",
    ]
    for impl in ("kernel", "python"):
        if (impl, "marked", "decode") in t:
            lines.append(
                f"| {impl} | "
                + " | ".join(
                    f"{t[impl, label, op] * 1e3:.1f} ms"
                    for op in ("decode", "skip")
                    for label in ("marked", "mark-less")
                )
                + " |"
            )
    if ("kernel", "marked", "decode") in t:
        lines.append(
            f"- mark-less decode, kernel vs fallback: "
            f"{t['python', 'mark-less', 'decode'] / t['kernel', 'mark-less', 'decode']:.1f}x"
        )
    lines.append(
        f"- writer: {t_w1 * 1e3:.1f} ms with marks, {t_w0 * 1e3:.1f} ms without "
        f"({(t_w1 / t_w0 - 1) * 100:+.0f}%), sidecar {side / size * 100:.3f}% of the part"
    )
    return lines


def main() -> None:
    import numpy as np
    import pyarrow as pa

    base = os.path.join(tempfile.gettempdir(), "chsql_decode_profile")
    os.makedirs(base, exist_ok=True)
    if "--marks" in sys.argv:
        print("\n".join(marks_decision(base)))
        return

    from duckdb_extension_clickhouse_native_spark.native.writer import (
        write_native_file,
    )

    n = 1_000_000
    p_num = os.path.join(base, "numbers.clickhouse")
    if not os.path.exists(p_num):
        write_native_file(
            p_num,
            pa.table({"number": pa.array(np.arange(n, dtype=np.int64))}),
            block_rows=65_409,
        )
    p_str = os.path.join(base, "strings.clickhouse")
    if not os.path.exists(p_str):
        words = np.array([f"word-{i % 9973}-{i % 31}" for i in range(n)])
        write_native_file(
            p_str, pa.table({"s": pa.array(words)}), block_rows=65_409
        )
    p_mix = os.path.join(base, "mixed.clickhouse")
    if not os.path.exists(p_mix):
        write_native_file(
            p_mix,
            pa.table(
                {
                    "id": pa.array(np.arange(n, dtype=np.int64)),
                    "v": pa.array(np.arange(n, dtype=np.float64) / 7),
                    "s": pa.array([f"u{i % 1000}" for i in range(n)]),
                }
            ),
            block_rows=65_409,
        )

    out = ["", "## Per-partition decode breakdown (r10, tools/decode_profile.py)", ""]
    out += profile_file(p_num, "1M-row Int64 column (the benchmark shape)")
    out += profile_file(p_str, "1M-row String column (~15-byte values)")
    out += profile_file(p_mix, "1M-row mixed (Int64 + Float64 + short String)")

    # string-path internals: how much of the string decode is the
    # length-varint scan vs the Arrow array build?
    from duckdb_extension_clickhouse_native_spark.native import codec

    raw = open(p_str, "rb").read()

    def lengths_only():
        # header-only walk: count rows by skipping the string column byte-ranges
        return sum(b.n_rows for b in codec.iter_blocks(io.BytesIO(raw), columns=set()))

    t_skip, n_sk = _time(lengths_only)
    out.append(
        f"- string column SKIP path (header+varint scan, no value "
        f"materialization): {t_skip * 1e3:.1f} ms for {n_sk:,} rows — the "
        "difference to full decode is Arrow string-array assembly"
    )

    # marks sidecar (native/marks.py): each String column's byte span
    # per block, recorded at write time: a skip is one seek, a decode
    # one exact read walked in memory
    from duckdb_extension_clickhouse_native_spark.native.codec import (
        _strings_wire_bytes,
        iter_blocks,
        write_str,
    )
    from duckdb_extension_clickhouse_native_spark.native.marks import MarksReader

    mr = MarksReader.open(p_str)
    if mr is not None:

        def run_file(marks, columns=None):
            with open(p_str, "rb") as f:
                return sum(
                    b.n_rows
                    for b in iter_blocks(f, columns=columns, marks_reader=marks)
                )

        t_d0, _ = _time(lambda: run_file(None))
        t_d1, _ = _time(lambda: run_file(mr))
        t_s0, _ = _time(lambda: run_file(None, columns=set()))
        t_s1, _ = _time(lambda: run_file(mr, columns=set()))
        out.append(
            f"- marks sidecar (string column): decode {t_d0 * 1e3:.1f} -> "
            f"{t_d1 * 1e3:.1f} ms ({t_d0 / t_d1:.1f}x, "
            f"{n / t_d1 / 1e6:.1f} M rows/s single-thread); skip "
            f"{t_s0 * 1e3:.1f} -> {t_s1 * 1e3:.2f} ms (one seek per block)"
        )
    else:
        out.append(
            "- marks sidecar: absent for this fixture (delete the "
            "cached profile dir to regenerate with marks)"
        )

    # LONG strings (>= 128-byte values, 2-byte varint prefixes — the
    # real-text-corpus shape).
    n_long = 300_000
    p_long = os.path.join(base, "longstrings.clickhouse")
    if not os.path.exists(p_long):
        longs = pa.array(
            [
                ("paragraph-%d " % (i % 9973)) * (12 + i % 17)
                for i in range(n_long)
            ]
        )
        write_native_file(p_long, pa.table({"s": longs}), block_rows=65_409)
    mrl = MarksReader.open(p_long)
    if mrl is not None:

        def run_long(marks, columns=None):
            with open(p_long, "rb") as f:
                return sum(
                    b.n_rows
                    for b in iter_blocks(f, columns=columns, marks_reader=marks)
                )

        t_l0, _ = _time(lambda: run_long(None))
        t_l1, _ = _time(lambda: run_long(mrl))
        out.append(
            f"- marks sidecar (LONG strings, >=128-byte values / 2-byte "
            f"prefixes, {os.path.getsize(p_long) / 1e6:.0f} MB): decode "
            f"{t_l0 * 1e3:.1f} -> {t_l1 * 1e3:.1f} ms for {n_long:,} rows "
            f"({t_l0 / t_l1:.1f}x, {n_long / t_l1 / 1e6:.1f} M rows/s, "
            f"{os.path.getsize(p_long) / t_l1 / 1e9:.2f} GB/s single-thread)"
        )

    # Nullable(String) marks: the span covers the null mask and the
    # values
    n_nul = 1_000_000
    p_nul = os.path.join(base, "nullable.clickhouse")
    if not os.path.exists(p_nul):
        vals = pa.array(
            [
                None if i % 11 == 0 else f"word-{i % 9973}-{i % 31}"
                for i in range(n_nul)
            ]
        )
        write_native_file(p_nul, pa.table({"s": vals}), block_rows=65_409)
    mrn = MarksReader.open(p_nul)
    if mrn is not None:

        def run_nul(marks):
            with open(p_nul, "rb") as f:
                return sum(b.n_rows for b in iter_blocks(f, marks_reader=marks))

        t_n0, _ = _time(lambda: run_nul(None))
        t_n1, _ = _time(lambda: run_nul(mrn))
        out.append(
            f"- marks sidecar (Nullable(String), 9% nulls): decode "
            f"{t_n0 * 1e3:.1f} -> {t_n1 * 1e3:.1f} ms / 1M rows "
            f"({t_n0 / t_n1:.1f}x, {n_nul / t_n1 / 1e6:.1f} M rows/s "
            f"single-thread)"
        )

    # string wire ENCODE: vectorized offsets-diff path vs the per-row
    # write_str loop (the mutation/OPTIMIZE rewrite cost)
    words_arr = pa.array([f"word-{i % 9973}-{i % 31}" for i in range(n)])
    t_enc_fast, fast_bytes = _time(lambda: _strings_wire_bytes(words_arr))

    def enc_loop():
        b = io.BytesIO()
        for v in words_arr:
            write_str(b, v.as_py())
        return b.getvalue()

    t_enc_loop, loop_bytes = _time(enc_loop, reps=2)
    assert fast_bytes == loop_bytes
    out.append(
        f"- string wire ENCODE: row loop {t_enc_loop * 1e3:.1f} ms vs "
        f"vectorized {t_enc_fast * 1e3:.1f} ms / 1M values "
        f"({t_enc_loop / t_enc_fast:.1f}x)"
    )
    longs_arr = pa.array(
        [("paragraph-%d " % (i % 9973)) * (12 + i % 17) for i in range(n_long)]
    )
    t_encl, _ = _time(lambda: _strings_wire_bytes(longs_arr))
    out.append(
        f"- string wire ENCODE (LONG values, 2-byte prefixes): "
        f"vectorized {t_encl * 1e3:.1f} ms / {n_long:,} values "
        f"({n_long / t_encl / 1e6:.1f} M rows/s)"
    )
    out += marks_decision(base)
    text = "\n".join(out) + "\n"
    print(text)
    if "--write" in sys.argv:
        with open(os.path.join(REPO, "SCALE.md"), "a") as f:
            f.write(text)
        print("(appended to SCALE.md)")


if __name__ == "__main__":
    main()
