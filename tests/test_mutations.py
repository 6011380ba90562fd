"""ClickHouse mutation analogue (operators/mutations.py): DELETE /
UPDATE over a Native directory with sidecar-proven part reuse."""

from __future__ import annotations

import os

import pyarrow as pa

from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file
from duckdb_extension_clickhouse_native_spark.operators.mutations import (
    mutate_native_dir,
)


def _range_dir(d: str, n_parts: int = 4, per: int = 250) -> None:
    for i in range(n_parts):
        lo = i * per
        t = pa.table(
            {
                "k": pa.array(range(lo, lo + per), type=pa.int64()),
                "name": pa.array([f"p{i}-r{j}" for j in range(per)]),
            }
        )
        write_native_file(os.path.join(d, f"part-{i:03d}.clickhouse"), t)


def _read(spark, d):
    return spark.read.format("clickhouse_native").load(d)


def test_delete_reuses_provably_untouched_parts(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _range_dir(src)  # parts hold k in [0,250) [250,500) [500,750) [750,1000)
    stats = mutate_native_dir(
        spark, src, out, delete_where=[("k", "<", 250)]
    )
    # parts 1-3 provably contain no k<250 -> linked, only part 0 rewritten
    assert stats == {
        "untouched_parts": 3,
        "rewritten_parts": 1,
        "out_dir": out,
    }
    kept = [f for f in os.listdir(out) if f.startswith("keep-")]
    assert len([f for f in kept if f.endswith(".clickhouse")]) == 3
    # hard links (or byte-identical copies) — never re-encoded
    linked = os.path.join(out, sorted(kept)[0])
    assert os.stat(linked).st_nlink >= 2 or os.path.getsize(linked) > 0
    got = sorted(r.k for r in _read(spark, out).collect())
    assert got == list(range(250, 1000))


def test_set_index_conjunction_leaves_part_untouched(spark, tmp_path):
    # min/max 2..34 admits 5 <= g <= 10 and so does each bound alone;
    # only the set index checked against BOTH bounds proves no row
    # matches — the reader prunes this part, so triage must link it
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    t = pa.table(
        {
            "g": pa.array([2, 18, 34], pa.int64()),
            "x": pa.array([1, 2, 3], pa.int64()),
        }
    )
    write_native_file(os.path.join(src, "part-000.clickhouse"), t, index_set=["g"])
    stats = mutate_native_dir(
        spark, src, out, delete_where=[("g", ">=", 5), ("g", "<=", 10)]
    )
    assert stats["untouched_parts"] == 1
    assert stats["rewritten_parts"] == 0
    got = sorted((r.g, r.x) for r in _read(spark, out).collect())
    assert got == [(2, 1), (18, 2), (34, 3)]


def test_update_where_applies_conditionally(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _range_dir(src, n_parts=2, per=10)  # k in [0,10) and [10,20)
    mutate_native_dir(
        spark,
        src,
        out,
        update_set={"name": "concat(name, '!')", "k": "k + 100"},
        update_where=[("k", ">=", 15)],
    )
    rows = {r.name: r.k for r in _read(spark, out).collect()}
    assert rows["p0-r0"] == 0  # untouched row
    assert rows["p1-r5!"] == 115  # k=15 updated: renamed AND shifted
    assert rows["p1-r4"] == 14  # below the WHERE bound
    assert len(rows) == 20  # UPDATE never deletes


def test_combined_delete_then_update(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _range_dir(src, n_parts=2, per=10)
    stats = mutate_native_dir(
        spark,
        src,
        out,
        delete_where=[("k", ">=", 18)],
        update_set={"k": "k * 2"},
        update_where=[("k", "<", 2)],
    )
    # update_where k<2 only provably misses part 1, but delete k>=18
    # touches it -> both parts rewritten
    assert stats["rewritten_parts"] == 2
    got = sorted(r.k for r in _read(spark, out).collect())
    assert got == [0, 2, 2, 3, 4, 5, 6, 7, 8, 9] + list(range(10, 18))


def test_missing_sidecar_means_touched(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _range_dir(src, n_parts=2, per=10)
    # strip one sidecar: that part can no longer prove itself untouched
    from duckdb_extension_clickhouse_native_spark.native.writer import (
        stats_sidecar_path,
    )

    os.remove(stats_sidecar_path(os.path.join(src, "part-001.clickhouse")))
    stats = mutate_native_dir(
        spark, src, out, delete_where=[("k", "<", 0)]  # matches nothing
    )
    assert stats["untouched_parts"] == 1 and stats["rewritten_parts"] == 1
    assert len(_read(spark, out).collect()) == 20


def test_requires_some_mutation(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        mutate_native_dir(spark, str(tmp_path), str(tmp_path / "o"))


def test_update_snapshot_semantics_between_set_columns(spark, tmp_path):
    """All SET expressions see the OLD row (ClickHouse UPDATE snapshot
    semantics): k's expression references name, name's references k —
    neither may observe the other's mutation."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    t = pa.table({"k": pa.array([1], type=pa.int64()), "name": pa.array(["a"])})
    write_native_file(os.path.join(src, "part-000.clickhouse"), t)
    mutate_native_dir(
        spark,
        src,
        out,
        update_set={"name": "concat(name, k)", "k": "k + length(name)"},
    )
    [r] = _read(spark, out).collect()
    # old row (k=1, name='a'): name -> 'a1', k -> 1 + len('a') = 2
    # (sequential evaluation would give k = 1 + len('a1') = 3)
    assert (r.k, r.name) == (2, "a1")


def test_hive_layout_mutates_per_directory(spark, tmp_path):
    # r11: hive layouts mutate per partition directory (full coverage
    # in tests/test_mutations_hive.py); the smallest case end-to-end
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(os.path.join(src, "lang=de"))
    t = pa.table({"k": pa.array([1, 2], type=pa.int64())})
    write_native_file(os.path.join(src, "lang=de", "p.clickhouse"), t)
    st = mutate_native_dir(spark, src, out, delete_where=[("k", "=", 1)])
    assert st["rewritten_parts"] == 1 and st["partition_dirs"] == 1
    rows = _read(spark, out).collect()
    assert [(r.k, r.lang) for r in rows] == [(2, "de")]


def test_detach_attach_roundtrip(spark, tmp_path):
    from duckdb_extension_clickhouse_native_spark.operators.mutations import (
        attach_parts,
        detach_parts,
    )

    d = str(tmp_path / "t")
    os.makedirs(d)
    _range_dir(d, n_parts=3, per=10)  # k in [0,30)
    assert _read(spark, d).count() == 30
    detach_parts(d, ["part-001.clickhouse"])
    got = sorted(r.k for r in _read(spark, d).collect())
    assert got == list(range(0, 10)) + list(range(20, 30))
    attach_parts(d)  # re-attach everything detached
    assert _read(spark, d).count() == 30


def test_attach_from_other_table_links_zero_copy(spark, tmp_path):
    from duckdb_extension_clickhouse_native_spark.operators.mutations import (
        attach_parts,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a), os.makedirs(b)
    _range_dir(a, n_parts=2, per=5)  # k in [0,10)
    import pyarrow as pa

    t = pa.table(
        {
            "k": pa.array(range(100, 105), type=pa.int64()),
            "name": pa.array([f"x{j}" for j in range(5)]),
        }
    )
    write_native_file(os.path.join(b, "part-zzz.clickhouse"), t)
    st = attach_parts(a, b)
    assert st["attached"] == ["part-zzz.clickhouse"]
    got = sorted(r.k for r in _read(spark, a).collect())
    assert got == list(range(0, 10)) + list(range(100, 105))
    # hard link, not a copy (zero-copy attach)
    assert os.stat(os.path.join(a, "part-zzz.clickhouse")).st_nlink >= 2


def test_attach_refuses_schema_mismatch(spark, tmp_path):
    import pyarrow as pa
    import pytest

    from duckdb_extension_clickhouse_native_spark.operators.mutations import (
        attach_parts,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a), os.makedirs(b)
    _range_dir(a, n_parts=1, per=5)
    t = pa.table({"k": pa.array([1.5])})  # Float64 k, missing name
    write_native_file(os.path.join(b, "part-bad.clickhouse"), t)
    with pytest.raises(ValueError, match="schema mismatch"):
        attach_parts(a, b)


def test_attach_refuses_hive_source(spark, tmp_path):
    import pytest

    from duckdb_extension_clickhouse_native_spark.operators.mutations import (
        attach_parts,
    )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a)
    os.makedirs(os.path.join(b, "k=1"))
    _range_dir(a, n_parts=1, per=5)
    _range_dir(os.path.join(b, "k=1"), n_parts=1, per=5)
    with pytest.raises(NotImplementedError, match="hive"):
        attach_parts(a, b)
