"""The Native part writer's array-level work: skip-index accumulation
over a part's blocks (``native/writer.py`` ``_accumulate``) and the
hive fan-out of the DataSource writer (``ClickHouseNativeWriter._split``).
Sidecar values are pinned from the per-value build they replaced, so
the sidecar wire format cannot move."""

from __future__ import annotations

import datetime
import hashlib
import json
import os

import pyarrow as pa
import pytest
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from duckdb_extension_clickhouse_native_spark.native.codec import iter_blocks
from duckdb_extension_clickhouse_native_spark.native.writer import (
    load_stats,
    stats_sidecar_path,
    write_native_file,
)
from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
    ClickHouseNativeWriter,
)

N = 120


def _table() -> pa.Table:
    return pa.table(
        {
            "i64": pa.array([(-1) ** i * (i % 9) * (1 << 58) for i in range(N)], pa.int64()),
            "u64": pa.array([2**64 - 1 - (i % 5) for i in range(N)], pa.uint64()),
            "dstr": pa.array(
                [["x", "héllo", "日本語"][i % 3] for i in range(N)]
            ).dictionary_encode(),
            # null in the first blocks: an all-null block keeps the index
            "nullfirst": pa.array([None if i < 40 else i % 4 for i in range(N)], pa.int64()),
            "allnull": pa.array([None] * N, pa.int64()),
            "b": pa.array([i % 2 == 0 for i in range(N)]),
            "f": pa.array([i / 4 for i in range(N)]),
            "dt": pa.array([datetime.date(2024, 1, 1 + i % 20) for i in range(N)]),
            "bin": pa.array([b"k%d" % (i % 6) for i in range(N)]),
            # 101 distinct values: one past the set cap
            "cap": pa.array([i % 101 for i in range(N)], pa.int64()),
        }
    )


E58 = 1 << 58
PINNED_SET = {
    "i64": [k * E58 for k in range(-8, 9)],
    "u64": [2**64 - 5 + k for k in range(5)],
    "dstr": ["héllo", "x", "日本語"],
    "nullfirst": [0, 1, 2, 3],
}
# column -> (m, k, sha256(b64)[:16])
PINNED_BLOOM = {
    "i64": (176, 7, "b6adf3516ecfa395"),
    "u64": (64, 7, "3bc547d5d57c60ee"),
    "dstr": (64, 7, "e3cf30585ead642a"),
    "nullfirst": (64, 7, "a99ef4bfacde23ab"),
    "cap": (1016, 7, "7bc3a9ef9312de28"),
}


@pytest.mark.parametrize("block_rows", [16, 1000])
def test_accumulated_indexes_match_pinned_sidecar(tmp_path, block_rows):
    t = _table()
    p = str(tmp_path / "p.clickhouse")
    cols = t.schema.names
    write_native_file(p, t, block_rows=block_rows, index_bloom=cols, index_set=cols)
    side = json.load(open(stats_sidecar_path(p)))
    # kept: int64, uint64, dictionary<string>, null-led; all-null
    # stores nothing; bool/float/date/binary are dropped; "cap" is
    # past the set cap but well inside the bloom's
    assert side["set"] == PINNED_SET
    assert list(side["set"]) == list(PINNED_SET)
    got = {
        c: (b["m"], b["k"], hashlib.sha256(b["b64"].encode()).hexdigest()[:16])
        for c, b in side["bloom"].items()
    }
    assert got == PINNED_BLOOM
    assert list(got) == list(PINNED_BLOOM)


def test_token_indexes_union_over_distinct_strings(tmp_path):
    from duckdb_extension_clickhouse_native_spark.native.bloomindex import (
        build_bloom,
        string_ngrams,
        string_tokens,
    )

    vals = ["alpha beta", None, "beta gamma", "alpha beta", "日本語 x"]
    p = str(tmp_path / "p.clickhouse")
    write_native_file(
        p,
        pa.table({"s": pa.array(vals)}),
        block_rows=2,
        index_ngrambf=["s"],
        index_tokenbf=["s"],
    )
    side = json.load(open(stats_sidecar_path(p)))
    present = [v for v in vals if v is not None]
    assert side["ngrambf"]["s"] == build_bloom(set().union(*map(string_ngrams, present)))
    assert side["tokenbf"]["s"] == build_bloom(set().union(*map(string_tokens, present)))


SCHEMA = StructType(
    [
        StructField("a", LongType()),
        StructField("b", StringType()),
        StructField("c", LongType()),
        StructField("id", LongType()),
    ]
)


def _read_ids(path: str) -> list:
    with open(path, "rb") as f:
        return [
            v for blk in iter_blocks(f) for v in blk.to_record_batch().column(0).to_pylist()
        ]


def test_hive_fanout_keeps_combo_and_row_order(tmp_path):
    combos = [(2, "y", 0), (1, "x", 1), (2, "y", 1), (1, "x", 0), (2, "x", 0)]
    # interleaved: the combo of row i cycles with a stride that
    # revisits earlier combos before later ones first appear
    pattern = [0, 1, 0, 2, 1, 3, 0, 2, 4, 1, 3, 3, 0, 4, 2]
    rows = [combos[pattern[i % len(pattern)]] for i in range(45)]
    batch = pa.RecordBatch.from_pydict(
        {
            "a": pa.array([r[0] for r in rows], pa.int64()),
            "b": pa.array([r[1] for r in rows]),
            "c": pa.array([r[2] for r in rows], pa.int64()),
            "id": pa.array(range(len(rows)), pa.int64()),
        }
    )
    w = ClickHouseNativeWriter(SCHEMA, {"path": str(tmp_path), "partition_by": "a,b,c"}, False)
    msg = w.write(iter([batch]))
    assert msg.rows == len(rows)
    first_seen = list(dict.fromkeys(rows))
    assert [os.path.relpath(os.path.dirname(p), tmp_path) for p in msg.paths] == [
        f"a={a}/b={b}/c={c}" for a, b, c in first_seen
    ]
    for p, combo in zip(msg.paths, first_seen):
        assert _read_ids(p) == [i for i, r in enumerate(rows) if r == combo]


def test_hive_fanout_null_key_raises(tmp_path):
    batch = pa.RecordBatch.from_pydict(
        {
            "a": pa.array([1, 1, 2], pa.int64()),
            "b": pa.array(["x", None, "y"]),
            "c": pa.array([0, 0, 0], pa.int64()),
            "id": pa.array([0, 1, 2], pa.int64()),
        }
    )
    w = ClickHouseNativeWriter(SCHEMA, {"path": str(tmp_path), "partition_by": "a,b,c"}, False)
    with pytest.raises(ValueError) as e:
        w.write(iter([batch]))
    assert str(e.value) == (
        "NULL partition value for ['a', 'b', 'c'] (hive paths cannot encode NULL)"
    )


def test_hive_fanout_float_keys_write_every_row(tmp_path):
    """NaN keys are one directory and one file, across batches too
    (each NaN row used to open its own sink on the same file, keeping
    only the last); -0.0 and 0.0 compare equal and share the directory
    of the first one seen."""
    schema = StructType([StructField("k", DoubleType()), StructField("v", LongType())])
    batch = pa.RecordBatch.from_pydict(
        {
            "k": pa.array([float("nan"), 1.0, float("nan"), -0.0, 0.0]),
            "v": pa.array([1, 2, 3, 4, 5], pa.int64()),
        }
    )
    w = ClickHouseNativeWriter(schema, {"path": str(tmp_path), "partition_by": "k"}, False)
    # the second batch's NaN rows join the first batch's NaN file
    msg = w.write(iter([batch, batch.slice(0, 1)]))
    dirs = [os.path.relpath(os.path.dirname(p), tmp_path) for p in msg.paths]
    assert dirs == ["k=nan", "k=1.0", "k=-0.0"]
    assert msg.rows == 6
    assert [load_stats(p)["rows"] for p in msg.paths] == [3, 1, 2]
    assert [_read_ids(p) for p in msg.paths] == [[1, 3, 1], [2], [4, 5]]
