"""String-marks sidecar (native/marks.py, the ClickHouse .mrk
analogue) and the vectorized string wire encoder: byte-identity with
the row-loop paths on hostile boundary lengths, decode/skip identity
with and without marks, and the staleness guards (sidecar version and
file-size checks, the recorded type string, and a span the String walk
must end exactly at, with the stream decode as fallback)."""

from __future__ import annotations

import io
import json
import os
import struct

import numpy as np
import pyarrow as pa
import pytest

from duckdb_extension_clickhouse_native_spark.native import codec, kernels
from duckdb_extension_clickhouse_native_spark.native.codec import (
    _strings_wire_bytes,
    iter_blocks,
    marks_col_info,
    read_file_schema,
    varint_widths,
    write_block,
    write_str,
)
from duckdb_extension_clickhouse_native_spark.native.compress import CompressedWriter
from duckdb_extension_clickhouse_native_spark.native.marks import (
    MAGIC,
    MarksReader,
    MarksRecorder,
    marks_sidecar_path,
)
from duckdb_extension_clickhouse_native_spark.native.types import parse_type
from duckdb_extension_clickhouse_native_spark.native.writer import (
    write_native_file,
)

# lengths straddling every varint prefix-width boundary, plus empties,
# multi-byte UTF-8 and embedded NULs
HOSTILE = [
    "",
    "a",
    "x" * 126,
    "x" * 127,
    "y" * 128,
    "y" * 129,
    "é" * 64,  # 2-byte UTF-8: byte length 128 (2-byte prefix)
    "∑" * 100,  # 3-byte UTF-8
    "w" * 16383,
    "w" * 16384,
    "mid\x00null",
    "q" * 300,
    "",
]


def _row_loop_bytes(arr: pa.Array) -> bytes:
    buf = io.BytesIO()
    for v in arr:
        if isinstance(v, pa.BinaryScalar) and not isinstance(v, pa.StringScalar):
            write_str(buf, v.as_py() if v.is_valid else b"")
        else:
            write_str(buf, v.as_py() if v.is_valid else "")
    return buf.getvalue()


def test_vectorized_encoder_byte_identity_hostile():
    arr = pa.array(HOSTILE, type=pa.string())
    assert _strings_wire_bytes(arr) == _row_loop_bytes(arr)


def test_vectorized_encoder_large_string_and_binary():
    arr = pa.array(HOSTILE, type=pa.large_string())
    assert _strings_wire_bytes(arr) == _row_loop_bytes(arr)
    barr = pa.array([b"", b"\x00\xff" * 70, b"abc", b"z" * 16500], type=pa.binary())
    assert _strings_wire_bytes(barr) == _row_loop_bytes(barr)


def test_vectorized_encoder_sliced_array():
    arr = pa.array(HOSTILE, type=pa.string()).slice(3, 7)
    assert _strings_wire_bytes(arr) == _row_loop_bytes(arr)


def test_varint_widths_boundaries():
    lens = np.array([0, 127, 128, 16383, 16384, (1 << 21) - 1, 1 << 21], dtype=np.int64)
    assert varint_widths(lens).tolist() == [1, 1, 2, 2, 3, 3, 4]


def _write_fixture(tmp_path, rows=5000, block_rows=1024):
    p = os.path.join(str(tmp_path), "part-000.clickhouse")
    t = pa.table(
        {
            "id": pa.array(np.arange(rows, dtype=np.int64)),
            "txt": pa.array(
                [f"doc-{i % 11}-" + "x" * (i % 197) for i in range(rows)]
            ),
            "maybe": pa.array(
                [None if i % 7 == 0 else f"m{i}" for i in range(rows)]
            ),
        }
    )
    write_native_file(p, t, block_rows=block_rows)
    return p


def _decode_all(p, marks=None, columns=None):
    with open(p, "rb") as f:
        return [
            b.to_record_batch()
            for b in iter_blocks(f, columns=columns, marks_reader=marks)
        ]


def _rewrite_marks(p, edit) -> None:
    """Rewrite the part's sidecar header in place through ``edit``
    (file_bytes kept, so only the later guards can catch it)."""
    path = marks_sidecar_path(p)
    header = json.loads(open(path, "rb").read()[len(MAGIC):])
    edit(header["blocks"])
    with open(path, "wb") as f:
        f.write(MAGIC + json.dumps(header).encode())


def _spy_marked(monkeypatch) -> list:
    """Record, per call, whether the marked decode answered (True) or
    handed the column back to the stream decode (False)."""
    real = codec._decode_marked_strings
    answered = []

    def spy(buf, t, rows, span, **kw):
        start = buf.tell()
        out = real(buf, t, rows, span, **kw)
        if out is None:
            assert buf.tell() == start  # every byte it read went back
        answered.append(out is not None)
        return out

    monkeypatch.setattr(codec, "_decode_marked_strings", spy)
    return answered


def _each_walk(monkeypatch):
    """Yield once with the compiled String walk (when this host built
    it) and once with ``kernels.load`` patched to None."""
    if kernels.load() is not None:
        yield "kernel"
    monkeypatch.setattr(kernels, "load", lambda: None)
    yield "python"


def test_marks_written_and_decode_identity(tmp_path, monkeypatch):
    p = _write_fixture(tmp_path)
    assert os.path.exists(marks_sidecar_path(p))
    mr = MarksReader.open(p)
    assert mr is not None
    without = _decode_all(p)
    answered = _spy_marked(monkeypatch)
    for _walk in _each_walk(monkeypatch):
        answered.clear()
        with_marks = _decode_all(p, marks=mr)
        assert answered == [True] * 10  # two String columns x five blocks
        assert len(with_marks) == len(without) > 1
        for a, b in zip(with_marks, without):
            assert a.equals(b)


def test_marks_skip_projection_identity(tmp_path):
    p = _write_fixture(tmp_path)
    mr = MarksReader.open(p)
    with_marks = _decode_all(p, marks=mr, columns={"id"})
    without = _decode_all(p, columns={"id"})
    for a, b in zip(with_marks, without):
        assert a.equals(b)
        assert a.schema.names == ["id"]


def test_nullable_column_marks_decode_identity(tmp_path):
    # 'maybe' has nulls in every block -> recorded under the
    # Nullable(String) wire type; decode via the marks reader must agree
    # column-for-column, nulls included
    p = _write_fixture(tmp_path)
    mr = MarksReader.open(p)
    assert marks_col_info(mr.block_at(0), "maybe", "Nullable(String)", 1024)
    assert marks_col_info(mr.block_at(0), "maybe", "String", 1024) is None
    assert marks_col_info(mr.block_at(0), "maybe", "Nullable(String)", 1023) is None
    with_marks = _decode_all(p, marks=mr)
    without = _decode_all(p)
    for a, b in zip(with_marks, without):
        assert a.column(2).equals(b.column(2))
        assert a.column(2).null_count > 0


def test_sidecar_records_one_span_per_string_column(tmp_path):
    """The v2 sidecar is the magic and one JSON header: per block its
    offset, rows and each String column's [wire type, span bytes]. The
    spans are the columns' true payload sizes, and a 5-block part's
    sidecar stays under a kilobyte."""
    p = _write_fixture(tmp_path)
    raw = open(marks_sidecar_path(p), "rb").read()
    assert raw.startswith(MAGIC) and len(raw) < 1024
    header = json.loads(raw[len(MAGIC):])
    assert header["file_bytes"] == os.path.getsize(p)
    blocks = header["blocks"]
    assert [b["r"] for b in blocks] == [1024] * 4 + [904]
    data = open(p, "rb").read()
    for b in blocks:
        assert b["c"]["txt"][0] == "String"
        assert b["c"]["maybe"][0] == "Nullable(String)"
        # re-walk the block from its header to measure each payload
        src = io.BytesIO(data)
        src.seek(b["o"])
        assert codec.read_block_header(src) == (3, b["r"])
        spans = {}
        for _ in range(3):
            name = codec.read_str(src)
            t = parse_type(codec.read_str(src))
            start = src.tell()
            codec.skip_column(src, t, b["r"])
            spans[name] = src.tell() - start
        assert {c: n for c, (_t, n) in b["c"].items()} == {
            "txt": spans["txt"],
            "maybe": spans["maybe"],
        }


def test_nullable_marks_skip_is_seek_and_identity(tmp_path):
    # projecting away the nullable string column goes through the
    # marks seek (the span includes the null mask) — the following
    # columns must still decode correctly
    rows = 2000
    p = os.path.join(str(tmp_path), "part-n.clickhouse")
    t = pa.table(
        {
            "m": pa.array(
                [
                    None if i % 5 == 0 else f"val-{i}-" + "z" * (i % 200)
                    for i in range(rows)
                ]
            ),
            "k": pa.array(np.arange(rows, dtype=np.int64)),
        }
    )
    write_native_file(p, t, block_rows=512)
    mr = MarksReader.open(p)
    assert mr is not None
    with_marks = _decode_all(p, marks=mr, columns={"k"})
    without = _decode_all(p, columns={"k"})
    for a, b in zip(with_marks, without):
        assert a.equals(b)
        assert a.schema.names == ["k"]


def test_stale_nullable_marks_fall_back(tmp_path, monkeypatch):
    # a nullable column's span one byte long (its mask included): the
    # walk ends short of it, the bytes go back and the streaming decode
    # produces the true rows
    rows = 256
    p = os.path.join(str(tmp_path), "part-sn.clickhouse")
    t = pa.table(
        {
            "m": pa.array(
                [None if i % 3 == 0 else f"x{i}" * (1 + i % 4) for i in range(rows)]
            ),
            "k": pa.array(np.arange(rows, dtype=np.int64)),
        }
    )
    write_native_file(p, t, block_rows=rows)

    def edit(blocks):
        blocks[0]["c"]["m"][1] += 1

    _rewrite_marks(p, edit)
    truth = _decode_all(p)
    answered = _spy_marked(monkeypatch)
    for _walk in _each_walk(monkeypatch):
        answered.clear()
        corrupted = _decode_all(p, marks=MarksReader.open(p))
        assert answered == [False]
        assert len(corrupted) == len(truth) == 1
        assert corrupted[0].equals(truth[0])
        assert corrupted[0].column(0).null_count == len(range(0, rows, 3))


def _shift_txt_span(delta):
    def edit(blocks):
        for b in blocks:
            b["c"]["txt"][1] += delta

    return edit


def _retype_maybe(blocks):
    for b in blocks:
        b["c"]["maybe"][0] = "String"  # the blocks say Nullable(String)


@pytest.mark.parametrize(
    "edit, answers",
    [
        (_shift_txt_span(-1), [False, True]),  # EOF inside the span
        (_shift_txt_span(+1), [False, True]),  # the walk ends before it
        (_retype_maybe, [True]),  # 'maybe' never reaches the marked decode
    ],
    ids=["span_one_byte_short", "span_one_byte_long", "wrong_recorded_type"],
)
def test_stale_span_falls_back(impl, tmp_path, monkeypatch, edit, answers):
    """Same file size and block offsets, but a recorded span or type no
    longer matches the block: the column is decoded from the stream,
    the rows are exactly right and the other marked column still takes
    its marks."""
    p = _write_fixture(tmp_path)
    _rewrite_marks(p, edit)
    answered = _spy_marked(monkeypatch)
    corrupted = _decode_all(p, marks=MarksReader.open(p))
    assert answered == answers * 5
    truth = _decode_all(p)
    assert len(corrupted) == len(truth) == 5
    for a, b in zip(corrupted, truth):
        assert a.equals(b)


@pytest.mark.parametrize("type_str", ["String", "Nullable(String)"])
@pytest.mark.parametrize("delta", [-1, 1])
def test_marked_decode_restores_every_byte_on_a_wrong_span(impl, type_str, delta):
    t = parse_type(type_str)
    if t.nullable:
        vals = ["abc", None, "é" * 70, "", None, "x" * 200]
    else:
        vals = ["abc", "defg", "hi", "y" * 130]
    buf = io.BytesIO()
    codec.encode_column(buf, t, pa.array(vals, pa.string()))
    wire = buf.getvalue()
    src = io.BytesIO(wire + b"TAIL")
    got = codec._decode_marked_strings(src, t, len(vals), len(wire), scrub=False)
    assert got.to_pylist() == vals and src.read() == b"TAIL"
    src = io.BytesIO(wire + b"TAIL")
    span = len(wire) + delta
    assert codec._decode_marked_strings(src, t, len(vals), span, scrub=False) is None
    assert src.read() == wire + b"TAIL"  # fully pushed back


def test_v1_sidecar_reads_mark_less(impl, tmp_path):
    """A sidecar of the earlier per-row-lengths format (magic CHSMRK1,
    a length-prefixed header, then u4 lengths) next to a part is not
    used: the part reads mark-less and returns exactly its rows."""
    p = _write_fixture(tmp_path)
    truth = _decode_all(p, marks=MarksReader.open(p))
    v1 = json.dumps(
        {
            "file_bytes": os.path.getsize(p),
            "blocks": [{"o": 0, "r": 1024, "c": {"txt": {"b": 1, "l": 0}}}],
        }
    ).encode()
    with open(marks_sidecar_path(p), "wb") as f:
        f.write(b"CHSMRK1\n" + struct.pack("<I", len(v1)) + v1 + b"\0" * 4096)
    assert MarksReader.open(p) is None
    assert _decode_all(p, marks=MarksReader.open(p)) == truth
    assert [n for n, _ in read_file_schema(p)] == ["id", "txt", "maybe"]


def test_stale_marks_file_size_mismatch_refused(tmp_path):
    p = _write_fixture(tmp_path)
    with open(p, "ab") as f:
        f.write(b"")  # size unchanged -> still accepted
    assert MarksReader.open(p) is not None
    saved = open(marks_sidecar_path(p), "rb").read()
    _write_fixture(tmp_path, rows=4999)  # rewrites data, different size
    with open(marks_sidecar_path(p), "wb") as f:
        f.write(saved)
    assert MarksReader.open(p) is None  # file_bytes guard


def test_malformed_sidecar_refused(tmp_path):
    p = _write_fixture(tmp_path)
    for bad in (
        lambda blocks: blocks[0]["c"].__setitem__("txt", ["String"]),
        lambda blocks: blocks[0]["c"].__setitem__("txt", ["String", -5]),
        lambda blocks: blocks[0].pop("r"),
    ):
        _rewrite_marks(p, bad)
        assert MarksReader.open(p) is None
    with open(marks_sidecar_path(p), "wb") as f:
        f.write(MAGIC + b"{not json")
    assert MarksReader.open(p) is None


def test_scrub_through_marks_path(tmp_path):
    p = os.path.join(str(tmp_path), "part-000.clickhouse")
    vals = ["clean", "nul\x00inside", "ok"]
    write_native_file(p, pa.table({"s": pa.array(vals)}), block_rows=10)
    mr = MarksReader.open(p)
    assert mr is not None
    with open(p, "rb") as f:
        blks = list(iter_blocks(f, marks_reader=mr, scrub_strings=True))
    got = blks[0].to_record_batch().column(0).to_pylist()
    assert got == ["clean", "nulinside", "ok"]


def test_read_file_schema_uses_marks_seek(tmp_path):
    p = _write_fixture(tmp_path)
    schema = read_file_schema(p)
    assert [n for n, _ in schema] == ["id", "txt", "maybe"]


def test_spark_scan_identity_with_marks(spark, tmp_path):
    """End-to-end through the DataSource: a marked directory scans to
    the same rows as the same data with the sidecars deleted."""
    import shutil

    d1 = os.path.join(str(tmp_path), "marked")
    os.makedirs(d1)
    rows = 4000
    t = pa.table(
        {
            "k": pa.array(np.arange(rows, dtype=np.int64)),
            "s": pa.array([f"v-{i % 13}-" + "y" * (i % 151) for i in range(rows)]),
        }
    )
    for i in range(4):
        write_native_file(
            os.path.join(d1, f"part-{i:03d}.clickhouse"),
            t.slice(i * 1000, 1000),
            block_rows=300,
        )
    d2 = os.path.join(str(tmp_path), "bare")
    shutil.copytree(d1, d2)
    for fn in os.listdir(d2):
        if fn.endswith(".marks"):
            os.remove(os.path.join(d2, fn))
    a = spark.read.format("clickhouse_native").load(d1)
    b = spark.read.format("clickhouse_native").load(d2)
    assert sorted(a.collect()) == sorted(b.collect())
    # projection (skip path) and a pushed string filter (prewhere path)
    assert sorted(a.select("k").collect()) == sorted(b.select("k").collect())
    fa = a.filter("s = 'v-1-y'").count()
    fb = b.filter("s = 'v-1-y'").count()
    assert fa == fb


def test_sink_writes_marks(spark, tmp_path):
    out = os.path.join(str(tmp_path), "sink-out")
    df = spark.range(2000).selectExpr(
        "id", "concat('row-', cast(id % 17 as string)) AS label"
    )
    df.coalesce(1).write.format("clickhouse_native").mode("overwrite").save(out)
    marks = [f for f in os.listdir(out) if f.endswith(".marks")]
    assert marks, "sink did not write a marks sidecar"
    back = spark.read.format("clickhouse_native").load(out)
    assert back.count() == 2000
    assert back.selectExpr("sum(length(label))").collect()[0][0] == df.selectExpr(
        "sum(length(label))"
    ).collect()[0][0]


def test_recorder_skips_compressed_sink():
    """Inside compressed frames the encoder cannot report byte spans,
    so the recorder gets nothing and writes no sidecar."""
    rb = pa.record_batch([pa.array(["a"])], names=["s"])
    string = [parse_type("String")]
    assert write_block(CompressedWriter(io.BytesIO()), rb, string) is None
    assert write_block(io.BytesIO(), rb, string) == [("s", "String", 2)]
    assert MarksRecorder().write("/nonexistent") is None


def test_compressed_file_has_no_marks(tmp_path):
    p = os.path.join(str(tmp_path), "part-c.clickhouse")
    write_native_file(
        p, pa.table({"s": pa.array(["a", "bb", "ccc"])}), compression="lz4"
    )
    assert not os.path.exists(marks_sidecar_path(p))
    assert MarksReader.open(p) is None


def test_parts_with_marks_are_the_string_parts(tmp_path):
    """Exactly the plain parts holding a String or Nullable(String)
    column (binary columns write the String wire) get a marks file;
    numeric-only, compressed, LowCardinality, FixedString and Array
    parts do not — the same parts the per-row-lengths format marked."""
    n = 3000
    ints = pa.array(np.arange(n, dtype=np.int64))
    strs = pa.array([f"s{i}" for i in range(n)])
    nulls = pa.array([None if i % 4 == 0 else f"n{i}" for i in range(n)])
    late = pa.array([None if i == n - 1 else "v" for i in range(n)])
    parts = {
        "str": (pa.table({"s": strs}), None, None),
        "nullable": (pa.table({"ns": nulls}), None, None),
        "numeric": (pa.table({"k": ints, "f": pa.array(np.arange(n) / 3)}), None, None),
        "mixed": (pa.table({"k": ints, "s": strs, "ns": nulls}), None, None),
        "late_null": (pa.table({"k": ints, "s": late}), None, None),
        "empty": (pa.table({"s": pa.array([], pa.string())}), None, None),
        "lz4": (pa.table({"s": strs}), "lz4", None),
        "zstd_mixed": (pa.table({"k": ints, "ns": nulls}), "zstd", None),
        "binary": (pa.table({"b": pa.array([b"x"] * n, pa.binary())}), None, None),
        "lowcard": (pa.table({"s": strs}), None, "LowCardinality(String)"),
        "fixed": (pa.table({"s": pa.array(["ab"] * n)}), None, "FixedString(2)"),
        "array": (pa.table({"a": pa.array([["x"]] * n)}), None, None),
    }
    d = str(tmp_path)
    for name, (t, compression, ch_type) in parts.items():
        write_native_file(
            os.path.join(d, f"{name}.clickhouse"),
            t,
            block_rows=1000,
            compression=compression,
            ch_types=None if ch_type is None else [parse_type(ch_type)],
        )
    marked = {
        name
        for name in parts
        if os.path.exists(marks_sidecar_path(os.path.join(d, f"{name}.clickhouse")))
    }
    assert marked == {"binary", "empty", "late_null", "mixed", "nullable", "str"}
    # the one late null promotes only the last block's column
    p = os.path.join(d, "late_null.clickhouse")
    mr = MarksReader.open(p)
    offsets = [o for o, _rows in codec.scan_block_offsets(p)]
    assert [mr.block_at(o)[1]["s"][0] for o in offsets] == [
        "String",
        "String",
        "Nullable(String)",
    ]
