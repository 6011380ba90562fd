"""PREWHERE-style late materialization in the native reader: blocks
whose predicate columns prove no row survives must never decode their
payload columns, and results must be bit-identical with the feature on
or off. The reader's one block loop (native_datasource.
_iter_blocks_prewhere) hands the predicate to codec.read_block, which
decodes the predicate columns, asks whether any row can survive, and
returns a dead block (row count kept, no columns) when none can."""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import functions as F
import pytest
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    LessThanOrEqual,
    StringStartsWith,
)

from duckdb_extension_clickhouse_native_spark.native import codec
from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file
from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
    ClickHouseNativeReader,
    infer_native_schema,
)


def _mkfile(path, n_blocks=4, rows=100, name_first=False):
    cols = {
        "k": pa.array(range(n_blocks * rows), type=pa.int64()),
        "name": pa.array([f"blk{i // rows}-row{i}" for i in range(n_blocks * rows)]),
    }
    if name_first:
        cols = {"name": cols["name"], "k": cols["k"]}
    write_native_file(path, pa.table(cols), block_rows=rows)


def _reader(d, **opts):
    options = {"path": d, **opts}
    r = ClickHouseNativeReader(infer_native_schema(options), options)
    return r


def _collect(r):
    out = []
    for p in r.partitions():
        for b in r.read(p):
            out.extend(b.to_pylist())
    return sorted(out, key=lambda x: x["k"])


def _counting(monkeypatch):
    calls = []
    real = codec.decode_column

    def counting(buf, t, rows, **kw):
        calls.append(t.base)
        return real(buf, t, rows, **kw)

    monkeypatch.setattr(codec, "decode_column", counting)
    # the marks sidecar (native/marks.py) decodes String payloads via
    # the vectorized length path instead of decode_column — count a
    # SUCCESSFUL marks decode as a String decode so these assertions
    # keep meaning "this block's payload was materialized"
    real_marks = codec._decode_strings_from_lengths

    def counting_marks(buf, rows, lengths, **kw):
        out = real_marks(buf, rows, lengths, **kw)
        if out is not None:
            calls.append("String")
        return out

    monkeypatch.setattr(codec, "_decode_strings_from_lengths", counting_marks)
    return calls


def test_dead_blocks_skip_payload_decode(tmp_path, monkeypatch):
    d = str(tmp_path)
    _mkfile(os.path.join(d, "f.clickhouse"))
    calls = _counting(monkeypatch)

    # k == 250 lives in block 2 only; skipping=false isolates prewhere
    # from the planning-time sidecar block pruning
    r = _reader(d, skipping="false")
    list(r.pushFilters([EqualTo(("k",), 250)]))
    rows = _collect(r)
    assert [x["name"] for x in rows] == ["blk2-row250"]
    # 4 blocks x predicate col + 1 live block x payload col
    assert calls.count("Int64") == 4 and calls.count("String") == 1

    calls.clear()
    r = _reader(d, skipping="false", prewhere="false")
    list(r.pushFilters([EqualTo(("k",), 250)]))
    assert _collect(r) == rows
    assert calls.count("String") == 4  # plain path decodes every block


@pytest.mark.parametrize(
    "opts, deleted",
    [
        ({"row_index_column": "_row"}, []),
        ({}, [250]),
        ({"row_index_column": "_row"}, [250]),
        ({"row_index_column": "_row", "split_blocks": "true",
          "target_partition_bytes": "1"}, [250]),
        ({"file_column": "_src"}, []),
    ],
)
def test_row_index_and_delete_mask_keep_prewhere(
    tmp_path, monkeypatch, opts, deleted
):
    """Dead blocks keep their row count, so row_index_column, delete
    masks and file_column no longer force the plain path: same rows and
    physical ordinals as prewhere=false, and dead blocks decode no
    payload."""
    from duckdb_extension_clickhouse_native_spark.native.delmask import (
        write_delmask,
    )

    d = str(tmp_path)
    path = os.path.join(d, "f.clickhouse")
    _mkfile(path)
    if deleted:
        write_delmask(path, deleted, 400)
    calls = _counting(monkeypatch)
    filters = [GreaterThanOrEqual(("k",), 249), LessThanOrEqual(("k",), 252)]

    r = _reader(d, skipping="false", **opts)
    list(r.pushFilters(filters))
    rows = _collect(r)
    want = [k for k in range(249, 253) if k not in deleted]
    assert [x["k"] for x in rows] == want
    if "row_index_column" in opts:
        assert [x["_row"] for x in rows] == want  # physical ordinal == k
    # 4 blocks x predicate col + 1 live block (k 200..299) x payload col
    assert calls.count("Int64") == 4 and calls.count("String") == 1

    calls.clear()
    r = _reader(d, skipping="false", prewhere="false", **opts)
    list(r.pushFilters(filters))
    assert _collect(r) == rows
    assert calls.count("String") == 4


def test_string_predicate_prunes_at_read_time(tmp_path, monkeypatch):
    """StringStartsWith can't use min/max sidecars effectively — the
    case planning-time pruning cannot cover and prewhere does."""
    d = str(tmp_path)
    _mkfile(os.path.join(d, "f.clickhouse"), name_first=True)
    calls = _counting(monkeypatch)
    r = _reader(d)  # sidecars on; string-prefix filter defeats them
    list(r.pushFilters([StringStartsWith(("name",), "blk3-")]))
    rows = _collect(r)
    assert len(rows) == 100 and all(x["name"].startswith("blk3-") for x in rows)
    # name is first in file order -> decoded for all 4 blocks; k (the
    # payload here) decodes only for the surviving block
    assert calls.count("String") == 4 and calls.count("Int64") == 1


def test_predicate_after_payload_column_still_correct(tmp_path):
    """The predicate column sits physically AFTER the payload column:
    payload decodes eagerly (as the plain path would) but results stay
    identical — prewhere degrades gracefully, never wrongly."""
    d = str(tmp_path)
    _mkfile(os.path.join(d, "f.clickhouse"), name_first=True)
    r_on = _reader(d, skipping="false")
    list(r_on.pushFilters([EqualTo(("k",), 7)]))
    r_off = _reader(d, skipping="false", prewhere="false")
    list(r_off.pushFilters([EqualTo(("k",), 7)]))
    assert _collect(r_on) == _collect(r_off) != []


def test_hive_partition_constant_predicate_skips_all_blocks(
    tmp_path, monkeypatch
):
    d = str(tmp_path)
    for part in ("a", "b"):
        os.makedirs(os.path.join(d, f"src={part}"), exist_ok=True)
        _mkfile(os.path.join(d, f"src={part}", "f.clickhouse"), n_blocks=2)
    calls = _counting(monkeypatch)
    r = _reader(d, skipping="false")
    list(r.pushFilters([EqualTo(("src",), "b")]))
    parts = r.partitions()
    out = []
    for p in parts:
        for b in r.read(p):
            out.extend(b.to_pylist())
    # directory pruning may already drop src=a; if both partitions
    # survive planning, the src=a blocks must decode NOTHING
    assert len(out) == 200 and all(x["src"] == "b" for x in out)
    live_partitions = len(parts)
    assert calls.count("Int64") <= 2 * live_partitions
    if live_partitions == 2:
        assert calls.count("String") == 2  # only src=b blocks decoded


def test_end_to_end_parity_compressed_and_split(spark, tmp_path):
    d_plain = str(tmp_path / "plain")
    d_zstd = str(tmp_path / "zstd")
    os.makedirs(d_plain), os.makedirs(d_zstd)
    t = pa.table(
        {
            "k": pa.array(range(2000), type=pa.int64()),
            "name": pa.array([f"blk{i // 500}-row{i}" for i in range(2000)]),
        }
    )
    write_native_file(os.path.join(d_plain, "f.clickhouse"), t, block_rows=500)
    write_native_file(
        os.path.join(d_zstd, "f.clickhouse"), t, block_rows=500, compression="zstd"
    )
    for d, opts in [
        (d_plain, {}),
        (d_plain, {"split_blocks": "true"}),
        (d_zstd, {}),
    ]:
        base = spark.read.format("clickhouse_native").options(**opts)
        got = (
            base.load(d)
            .filter(F.col("k").between(498, 502))
            .orderBy("k")
            .collect()
        )
        want = (
            base.option("prewhere", "false")
            .load(d)
            .filter(F.col("k").between(498, 502))
            .orderBy("k")
            .collect()
        )
        assert [r.k for r in got] == list(range(498, 503))
        assert got == want
