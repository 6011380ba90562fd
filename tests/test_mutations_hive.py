"""Hive-partitioned mutations (r10 verdict item 3): ALTER
DELETE/UPDATE over ``key=value`` layouts — partition-key predicate
terms prune whole directories to hard-links, residual data-column
terms are proven per part, the touched parts of every directory
rewrite in one job, and the output mirrors the source tree."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file
from duckdb_extension_clickhouse_native_spark.operators.mutations import (
    apply_ttl,
    mutate_native_dir,
)


def _hive_dir(d: str) -> None:
    """lang in {de, en, fr}; per lang two parts of 50 rows, k unique
    across the table: de=[0,100), en=[100,200), fr=[200,300)."""
    for li, lang in enumerate(["de", "en", "fr"]):
        for part in range(2):
            lo = li * 100 + part * 50
            t = pa.table(
                {
                    "k": pa.array(range(lo, lo + 50), type=pa.int64()),
                    "v": pa.array([1] * 50, type=pa.int64()),
                }
            )
            sub = os.path.join(d, f"lang={lang}")
            os.makedirs(sub, exist_ok=True)
            write_native_file(
                os.path.join(sub, f"part-{part:03d}.clickhouse"), t
            )


def _read(spark, d):
    return spark.read.format("clickhouse_native").load(d)


def test_hive_delete_on_partition_key_links_other_dirs(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    st = mutate_native_dir(
        spark, src, out, delete_where=[("lang", "=", "en")]
    )
    # en's 2 parts die wholesale; de/fr hard-link, nothing decoded
    assert st["untouched_parts"] == 4
    assert st["rewritten_parts"] == 2
    assert st["partition_dirs"] == 3
    rows = _read(spark, out).collect()
    assert sorted({r.lang for r in rows}) == ["de", "fr"]
    assert len(rows) == 200
    # linked parts are hard links (or byte-identical copies)
    de = os.path.join(out, "lang=de")
    kept = [f for f in os.listdir(de) if f.endswith(".clickhouse")]
    assert len(kept) == 2 and all(f.startswith("keep-") for f in kept)


def test_hive_delete_mixed_partition_and_data_terms(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    # delete en rows with k < 150: en/part-000 rewritten empty-handed?
    # no — en has parts [100,150) and [150,200): part-000 is fully
    # deleted via the data term, part-001 provably untouched (sidecar)
    st = mutate_native_dir(
        spark,
        src,
        out,
        delete_where=[("lang", "=", "en"), ("k", "<", 150)],
    )
    # de/fr: conjunction unmatchable -> 4 linked parts; en: sidecar
    # proves part-001 (k>=150) untouched -> 5 untouched, 1 rewritten
    assert st["untouched_parts"] == 5 and st["rewritten_parts"] == 1
    got = sorted(r.k for r in _read(spark, out).collect())
    assert got == [k for k in range(300) if not (100 <= k < 150)]


def test_hive_update_where_with_partition_term(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    st = mutate_native_dir(
        spark,
        src,
        out,
        update_set={"v": "v * 10"},
        update_where=[("lang", "!=", "fr"), ("k", ">=", 150)],
    )
    # fr links (2 parts); de: k<100 everywhere, sidecar proves both
    # parts untouched; en: part-000 [100,150) untouched, part-001 hit
    assert st["untouched_parts"] == 5 and st["rewritten_parts"] == 1
    rows = _read(spark, out).collect()
    assert len(rows) == 300
    assert {r.v for r in rows if r.k >= 150 and r.lang == "en"} == {10}
    assert {r.v for r in rows if r.k < 150 or r.lang == "fr"} == {1}
    # partition columns still reconstruct from the mirrored tree
    assert sorted({r.lang for r in rows}) == ["de", "en", "fr"]


def test_hive_unconditional_update_touches_every_dir(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    st = mutate_native_dir(spark, src, out, update_set={"v": "v + 1"})
    assert st["untouched_parts"] == 0 and st["rewritten_parts"] == 6
    rows = _read(spark, out).collect()
    assert len(rows) == 300 and {r.v for r in rows} == {2}


def test_hive_update_partition_column_refused(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    with pytest.raises(ValueError, match="partition column"):
        mutate_native_dir(
            spark, src, out, update_set={"lang": "'xx'"}
        )


def test_hive_pk_type_mismatch_raises(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    with pytest.raises(ValueError, match="not a string"):
        mutate_native_dir(spark, src, out, delete_where=[("lang", "=", 3)])


def test_hive_int_partition_key_comparisons(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    for y in (2023, 2024):
        sub = os.path.join(src, f"year={y}")
        os.makedirs(sub)
        t = pa.table({"v": pa.array(range(10), type=pa.int64())})
        write_native_file(os.path.join(sub, "p.clickhouse"), t)
    st = mutate_native_dir(
        spark, src, out, delete_where=[("year", "<", 2024)]
    )
    assert st["untouched_parts"] == 1 and st["rewritten_parts"] == 1
    rows = _read(spark, out).collect()
    assert len(rows) == 10 and {r.year for r in rows} == {2024}


def test_hive_ttl_delete_via_mutation_path(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    st = apply_ttl(spark, src, out, ttl_where=[("k", "<", 100)])
    # de's two parts fully expire (k<100); en/fr link
    assert st["untouched_parts"] == 4 and st["rewritten_parts"] == 2
    got = sorted(r.k for r in _read(spark, out).collect())
    assert got == list(range(100, 300))


def test_hive_ttl_rollup_partition_keys_in_group_by(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)  # lang dirs de/en/fr, k unique, v=1
    st = apply_ttl(
        spark,
        src,
        out,
        ttl_where=[("k", "<", 150)],
        group_by=["lang"],
        set_exprs={"v": "SUM(v)", "k": "MAX(k)"},
    )
    # de: both parts expire wholesale (k<100<150) -> 1 rollup row
    # en: part-000 [100,150) expires, part-001 sidecar-proven kept
    # fr: untouched via sidecar (k>=200)
    rows = sorted(
        (r.lang, r.k, r.v)
        for r in _read(spark, out).collect()
    )
    # de rollup: SUM(v)=100, MAX(k)=99; en rollup: SUM=50, MAX=149
    assert (str("de"), 99, 100) in rows
    assert ("en", 149, 50) in rows
    # kept rows: en [150,200) + all fr -> 50 + 100 verbatim
    kept = [r for r in rows if r[2] == 1]
    assert len(kept) == 150
    assert st["partition_dirs"] == 3


def test_hive_ttl_rollup_pk_expiry_term_prunes_dirs(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    st = apply_ttl(
        spark,
        src,
        out,
        ttl_where=[("lang", "=", "en")],  # whole en tree expires
        group_by=["lang"],
        set_exprs={"v": "SUM(v)", "k": "COUNT(*)"},
    )
    # de/fr directories hard-link (4 parts); en rolls to one row
    assert st["untouched_parts"] == 4 and st["rewritten_parts"] == 2
    rows = sorted((r.lang, r.k, r.v) for r in _read(spark, out).collect())
    en = [r for r in rows if r[0] == "en"]
    assert en == [("en", 100, 100)]
    assert len(rows) == 201


def test_hive_ttl_rollup_refuses_group_without_partition_keys(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    with pytest.raises(NotImplementedError, match="partition key"):
        apply_ttl(
            spark, src, out, ttl_where=[("k", "<", 10)], group_by=["v"]
        )
    with pytest.raises(ValueError, match="SET partition"):
        apply_ttl(
            spark,
            src,
            out,
            ttl_where=[("k", "<", 10)],
            group_by=["lang"],
            set_exprs={"lang": "MAX(lang)"},
        )


def test_hive_mutation_idempotent_rerun(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    _hive_dir(src)
    for _ in range(2):  # second run rebuilds the mirrored tree cleanly
        st = mutate_native_dir(
            spark, src, out, delete_where=[("lang", "=", "en")]
        )
        rows = _read(spark, out).collect()
        assert len(rows) == 200
    assert st["partition_dirs"] == 3
