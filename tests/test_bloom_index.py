"""Bloom-filter skip index (native/bloomindex.py + writer option
``index_bloom`` + reader-side pruning): the ClickHouse ``bloom_filter``
data-skipping analogue. Min/max stats cannot prune a point lookup that
lands inside a part's value range; the bloom proves definite absence
for `=` / `IN` on int and string columns."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from duckdb_extension_clickhouse_native_spark.native.bloomindex import (
    MAX_DISTINCT,
    bloom_maybe_contains,
    build_bloom,
    value_bytes,
)
from duckdb_extension_clickhouse_native_spark.native.writer import (
    stats_sidecar_path,
    write_native_file,
)


# ---- pure unit level -------------------------------------------------------


def test_bloom_no_false_negatives_and_low_fp():
    vals = [f"user-{i * 7}" for i in range(5000)]
    bl = build_bloom(value_bytes(v) for v in vals)
    assert all(bloom_maybe_contains(bl, v) for v in vals)  # never miss
    probes = [f"user-{i * 7 + 3}" for i in range(5000)]  # none present
    fp = sum(bloom_maybe_contains(bl, p) for p in probes)
    assert fp / len(probes) < 0.03  # ~1% design point, 3% ceiling


def test_bloom_type_tagging_and_unsupported():
    bl = build_bloom([value_bytes(42), value_bytes("42")])
    assert bloom_maybe_contains(bl, 42) and bloom_maybe_contains(bl, "42")
    # int 7 and string '7' don't alias each other
    bl2 = build_bloom([value_bytes(7)])
    assert not bloom_maybe_contains(bl2, "7")
    # unsupported types never prune
    assert bloom_maybe_contains(bl2, 3.14) and bloom_maybe_contains(bl2, True)
    assert value_bytes(True) is None and value_bytes(2.5) is None
    # over-cap and empty inputs build nothing
    assert build_bloom([]) is None
    assert build_bloom(value_bytes(i) for i in range(MAX_DISTINCT + 1)) is None


# build_bloom outputs pinned before the array-level build: the sidecar
# wire format must not move (parts written by either build prune alike)
GOLDEN_BLOOMS = {
    "ints": ([0, 1, 42, 1 << 62], "RIghlRMnamA="),
    "negative_ints": ([-1, -7, -(1 << 62)], "ckEFQ7iCIAw="),
    "uint64_max": ([2**64 - 1], "AUgAAoAAJAA="),
    "strings": (["a", "user-1", ""], "QKNggRaESjg="),
    "unicode": (["héllo", "日本語", "🙂"], "EAQB+oshhEA="),
}


@pytest.mark.parametrize("case", sorted(GOLDEN_BLOOMS))
def test_bloom_bitset_golden(case):
    vals, b64 = GOLDEN_BLOOMS[case]
    bl = build_bloom(value_bytes(v) for v in vals)
    assert bl == {"m": 64, "k": 7, "b64": b64}
    assert all(bloom_maybe_contains(bl, v) for v in vals)


@pytest.mark.parametrize("case", sorted(GOLDEN_BLOOMS))
def test_arrow_tagging_matches_value_bytes(case):
    from duckdb_extension_clickhouse_native_spark.native.bloomindex import (
        value_bytes_array,
    )

    vals, _ = GOLDEN_BLOOMS[case]
    arr = pa.array(vals, pa.uint64() if case == "uint64_max" else None)
    assert value_bytes_array(arr) == [value_bytes(v) for v in vals]
    big = pa.array(vals, pa.large_string()) if arr.type == pa.string() else arr
    assert value_bytes_array(big) == [value_bytes(v) for v in vals]


@pytest.mark.parametrize(
    "vals, m, digest",
    [
        # 2000 ints around zero: m = 10 bits/value
        (
            range(-500, 1500),
            20000,
            "8a71969567e589cb128887a24530208dfd6ff049c7c1bf6edea9d9636b151e0b",
        ),
        # past the bit cap: m = 2^21
        (
            (f"u{i}" for i in range(300_000)),
            1 << 21,
            "a1073538e2ac84828249ce2bd2a46bbbdea956307d865211ccdd5d4d04fcfc9d",
        ),
    ],
)
def test_bloom_bitset_golden_wide(vals, m, digest):
    import hashlib

    bl = build_bloom(value_bytes(v) for v in vals)
    assert (bl["m"], bl["k"]) == (m, 7)
    assert hashlib.sha256(bl["b64"].encode()).hexdigest() == digest


def test_bloom_malformed_entry_never_prunes():
    assert bloom_maybe_contains({}, "x")
    assert bloom_maybe_contains({"m": -1, "k": 7, "b64": ""}, "x")
    assert bloom_maybe_contains({"m": 64, "k": 2, "b64": "AA=="}, 5) in (
        False,
        True,
    )  # short bitset -> conservative True
    assert bloom_maybe_contains({"m": 64, "k": 2, "b64": "AA=="}, 5) is True


def test_in_list_decodes_the_bitset_once(tmp_path, monkeypatch):
    """Planning an ``IN`` of 100 values against one bloom-indexed part
    base64-decodes its bitset once, not once per probed value."""
    import base64

    from pyspark.sql.datasource import In

    from duckdb_extension_clickhouse_native_spark.native import bloomindex
    from duckdb_extension_clickhouse_native_spark.native.writer import load_stats
    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        _stats_exclude,
    )

    p = str(tmp_path / "b.clickhouse")
    t = pa.table({"u": pa.array([f"in-once-{i * 3}" for i in range(2000)])})
    write_native_file(p, t, index_bloom=["u"])
    # 100 in-range values the filter proves absent (skipping its false
    # positives), so every one of them is probed
    bloom = load_stats(p)["bloom"]["u"]
    absent = [
        v for v in (f"in-once-{i * 3 + 1}" for i in range(500))
        if not bloom_maybe_contains(bloom, v)
    ][:100]
    assert len(absent) == 100
    calls = []
    real = base64.b64decode
    monkeypatch.setattr(
        bloomindex.base64, "b64decode", lambda s: calls.append(1) or real(s)
    )
    assert _stats_exclude([In(("u",), tuple(absent))], load_stats(p))
    assert len(calls) == 1


# ---- writer sidecar --------------------------------------------------------


def _write_part(d, name, uids, index_bloom=("uid",)):
    t = pa.table(
        {
            "uid": pa.array(uids),
            "v": pa.array(range(len(uids)), type=pa.int64()),
        }
    )
    p = os.path.join(d, name)
    write_native_file(p, t, index_bloom=list(index_bloom))
    return p


def test_writer_emits_bloom_sidecar(tmp_path):
    d = str(tmp_path)
    p = _write_part(d, "p0.clickhouse", ["a", "zzz", "m"])
    side = json.load(open(stats_sidecar_path(p)))
    assert "bloom" in side and "uid" in side["bloom"]
    bl = side["bloom"]["uid"]
    assert bloom_maybe_contains(bl, "zzz")
    assert not bloom_maybe_contains(bl, "q")  # inside min/max, absent
    # min/max CANNOT prune 'q' ('a' <= 'q' <= 'zzz') — that's the point
    assert side["columns"]["uid"]["min"] == "a"
    assert side["columns"]["uid"]["max"] == "zzz"


def test_writer_drops_bloom_on_unsupported_type(tmp_path):
    d = str(tmp_path)
    t = pa.table({"f": pa.array([1.5, 2.5])})
    p = os.path.join(d, "p0.clickhouse")
    write_native_file(p, t, index_bloom=["f"])
    side = json.load(open(stats_sidecar_path(p)))
    assert "bloom" not in side  # float equality pruning refused


# ---- end-to-end scan pruning ----------------------------------------------


def _scattered_dir(spark, d, n_parts=8, per=200):
    """uid values hash-scattered across parts: every part's min/max
    spans nearly the whole key space, so ONLY the bloom can prune a
    point probe."""
    import hashlib

    os.makedirs(d, exist_ok=True)
    buckets = {i: [] for i in range(n_parts)}
    for i in range(n_parts * per):
        uid = f"u{i}"
        h = int(hashlib.md5(uid.encode()).hexdigest(), 16) % n_parts
        buckets[h].append(uid)
    for b, uids in buckets.items():
        _write_part(d, f"part-{b:03d}.clickhouse", uids)
    return buckets


def _planned_partitions(spark, df) -> int:
    df.count()  # force execution
    # the DataSource plans one partition per kept file; assert via the
    # reader's own pruning by re-deriving kept paths
    return df.rdd.getNumPartitions()


def test_scan_prunes_on_bloom_absent_value(spark, tmp_path):
    d = str(tmp_path / "tbl")
    buckets = _scattered_dir(spark, d)
    probe = "u42"
    import hashlib

    home = int(hashlib.md5(probe.encode()).hexdigest(), 16) % 8

    df = (
        spark.read.format("clickhouse_native")
        .load(d)
        .filter(f"uid = '{probe}'")
    )
    rows = df.collect()
    assert len(rows) == 1 and rows[0].uid == probe
    # the planner kept ONLY the probe's home part (7 of 8 bloom-pruned;
    # min/max alone cannot prune: every part spans u0..u9xx)
    assert _planned_partitions(spark, df) == 1
    # a value absent everywhere plans the conservative 1-file floor
    df2 = (
        spark.read.format("clickhouse_native")
        .load(d)
        .filter("uid = 'not-there'")
    )
    assert df2.count() == 0
    assert _planned_partitions(spark, df2) == 1  # paths[:1] floor


def test_scan_prunes_on_in_list(spark, tmp_path):
    d = str(tmp_path / "tbl")
    _scattered_dir(spark, d)
    df = (
        spark.read.format("clickhouse_native")
        .load(d)
        .filter("uid IN ('u42', 'u43')")
    )
    assert sorted(r.uid for r in df.collect()) == ["u42", "u43"]
    assert _planned_partitions(spark, df) <= 2


def test_ngrambf_unit_contract():
    from duckdb_extension_clickhouse_native_spark.native.bloomindex import (
        ngrambf_may_match_substring,
        string_ngrams,
    )

    corpus = ["the quick brown fox", "jumps over", "lazy dog"]
    grams = set()
    for v in corpus:
        grams |= string_ngrams(v)
    bl = build_bloom(grams)
    # every true substring's grams are present
    assert ngrambf_may_match_substring(bl, "quick bro")
    assert ngrambf_may_match_substring(bl, "dog")
    # a needle with a gram nowhere in the corpus is provably absent
    assert not ngrambf_may_match_substring(bl, "zebra")
    # short needles never prune (no gram to probe)
    assert ngrambf_may_match_substring(bl, "zq")
    assert ngrambf_may_match_substring(bl, "")


def test_scan_prunes_on_substring_predicate(spark, tmp_path):
    d = str(tmp_path / "tbl")
    os.makedirs(d)
    t0 = pa.table({"s": pa.array(["alpha beta", "gamma delta"])})
    t1 = pa.table({"s": pa.array(["omega psi", "sigma tau"])})
    write_native_file(
        os.path.join(d, "p0.clickhouse"), t0, index_ngrambf=["s"]
    )
    write_native_file(
        os.path.join(d, "p1.clickhouse"), t1, index_ngrambf=["s"]
    )
    df = (
        spark.read.format("clickhouse_native")
        .load(d)
        .filter("s LIKE '%omega%'")
    )
    assert [r.s for r in df.collect()] == ["omega psi"]
    assert _planned_partitions(spark, df) == 1  # p0 ngram-pruned
    # startswith/endswith prune through the same gram proof
    df2 = (
        spark.read.format("clickhouse_native")
        .load(d)
        .filter("s LIKE 'gamma%'")
    )
    assert [r.s for r in df2.collect()] == ["gamma delta"]
    assert _planned_partitions(spark, df2) == 1
    # a 2-char needle cannot prune; result still correct
    df3 = (
        spark.read.format("clickhouse_native").load(d).filter("s LIKE '%ps%'")
    )
    assert [r.s for r in df3.collect()] == ["omega psi"]
    assert _planned_partitions(spark, df3) == 2


def test_ngrambf_sidecar_dropped_for_non_string(tmp_path):
    t = pa.table({"n": pa.array([1, 2], type=pa.int64())})
    p = os.path.join(str(tmp_path), "p0.clickhouse")
    write_native_file(p, t, index_ngrambf=["n"])
    side = json.load(open(stats_sidecar_path(p)))
    assert "ngrambf" not in side


def test_mutation_part_reuse_uses_bloom(spark, tmp_path):
    """_part_untouched consults the same sidecars: a DELETE on a
    bloom-absent value hard-links every other part untouched."""
    from duckdb_extension_clickhouse_native_spark.operators.mutations import (
        mutate_native_dir,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _scattered_dir(spark, src)
    st = mutate_native_dir(
        spark, src, out, delete_where=[("uid", "=", "u42")]
    )
    assert st["untouched_parts"] == 7 and st["rewritten_parts"] == 1
    assert (
        spark.read.format("clickhouse_native").load(out).count() == 8 * 200 - 1
    )


@pytest.mark.parametrize("renamed", [False, True])
def test_rewritten_parts_keep_skip_indexes(spark, tmp_path, renamed):
    """A mutation rebuilds the skip indexes of the parts it rewrites
    (as ClickHouse does): the rewritten sidecar keeps its bloom and set
    entries, so a point lookup on the output still prunes that part —
    also when the indexed column was renamed after the parts were
    written (their sidecars name it by its old physical name)."""
    import hashlib

    from duckdb_extension_clickhouse_native_spark.native.tableschema import (
        alter_rename_column,
    )
    from duckdb_extension_clickhouse_native_spark.operators.mutations import (
        mutate_native_dir,
    )

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    buckets = {b: [] for b in range(4)}
    for i in range(800):
        uid = f"u{i}"
        buckets[int(hashlib.md5(uid.encode()).hexdigest(), 16) % 4].append(uid)
    for b, uids in buckets.items():
        t = pa.table(
            {
                "uid": pa.array(uids),
                "cat": pa.array([f"c{b}{i % 2}" for i in range(len(uids))]),
            }
        )
        write_native_file(
            os.path.join(src, f"part-{b}.clickhouse"),
            t,
            index_bloom=["uid"],
            index_set=["cat"],
        )
    uid = "user_id" if renamed else "uid"
    if renamed:
        alter_rename_column(src, "uid", uid)
    victim = buckets[0][0]
    st = mutate_native_dir(spark, src, out, delete_where=[(uid, "=", victim)])
    assert st["untouched_parts"] == 3 and st["rewritten_parts"] == 1
    (rewritten,) = [
        f for f in os.listdir(out) if f.endswith(".clickhouse") and not f.startswith("keep-")
    ]
    side = json.load(open(stats_sidecar_path(os.path.join(out, rewritten))))
    assert {"bloom", "set"} <= set(side)
    assert list(side["bloom"]) == [uid] and list(side["set"]) == ["cat"]
    assert sorted(side["set"]["cat"]) == ["c00", "c01"]
    # a uid of another part that the rewritten part's min/max cannot
    # rule out: only its bloom can prune the rewritten part
    lo, hi = side["columns"][uid]["min"], side["columns"][uid]["max"]
    probe = next(u for u in buckets[1] if lo < u < hi)
    df = spark.read.format("clickhouse_native").load(out).filter(f"{uid} = '{probe}'")
    assert [r[uid] for r in df.collect()] == [probe]
    assert _planned_partitions(spark, df) == 1
