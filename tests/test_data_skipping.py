"""File-level data skipping: the writer's min/max sidecar + the
reader's planning-time pruning must (a) skip exactly the files a
pushed predicate excludes and (b) never change query results."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    In,
    IsNull,
    LessThan,
    StringStartsWith,
)

from duckdb_extension_clickhouse_native_spark.native.writer import (
    stats_sidecar_path,
    write_native_file,
)
from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
    ClickHouseNativeReader,
    NativeFileGroupPartition,
    _filter_excludes_file,
    infer_native_schema,
)


@pytest.fixture(scope="module")
def range_dir(tmp_path_factory):
    """4 files with disjoint k ranges: [0,250) [250,500) [500,750) [750,1000)."""
    d = str(tmp_path_factory.mktemp("skip"))
    for i in range(4):
        lo = i * 250
        t = pa.table(
            {
                "k": pa.array(range(lo, lo + 250), type=pa.int64()),
                "name": pa.array([f"file{i}-row{j}" for j in range(250)]),
            }
        )
        write_native_file(os.path.join(d, f"part-{i:03d}.clickhouse"), t)
    return d


def _reader(d, **opts) -> ClickHouseNativeReader:
    options = {"path": d, **opts}
    return ClickHouseNativeReader(infer_native_schema(options), options)


def _planned(reader, root) -> list:
    """Root-relative paths of every file the planned partitions read,
    packed groups expanded to their members — independent of how many
    files the host's parallelism floor lets packing put in one bin."""
    out = []
    for p in reader.partitions():
        members = p.parts if isinstance(p, NativeFileGroupPartition) else (p,)
        out += [os.path.relpath(m.path, root) for m in members]
    return sorted(out)


_PARTS = [f"part-{i:03d}.clickhouse" for i in range(4)]


def test_sidecar_written_and_listed_nowhere(range_dir):
    side = stats_sidecar_path(os.path.join(range_dir, "part-000.clickhouse"))
    st = json.load(open(side))
    assert st["rows"] == 250
    assert st["columns"]["k"] == {"min": 0, "max": 249, "nulls": 0}
    assert st["columns"]["name"]["min"].startswith("file0")
    from duckdb_extension_clickhouse_native_spark.filesystem import resolve_paths

    assert all(p.endswith(".clickhouse") for p in resolve_paths(range_dir))


def test_partitions_pruned_by_pushed_filters(range_dir):
    r = _reader(range_dir)
    list(r.pushFilters([LessThan(("k",), 250)]))
    assert _planned(r, range_dir) == _PARTS[:1]  # only file 0 can match
    r = _reader(range_dir)
    list(r.pushFilters([GreaterThan(("k",), 499)]))
    assert _planned(r, range_dir) == _PARTS[2:]
    r = _reader(range_dir)
    list(r.pushFilters([EqualTo(("k",), 600)]))
    assert _planned(r, range_dir) == [_PARTS[2]]
    r = _reader(range_dir)
    list(r.pushFilters([In(("k",), (10, 990))]))
    assert _planned(r, range_dir) == [_PARTS[0], _PARTS[3]]
    # unsatisfiable predicate keeps ONE file (empty result, valid plan)
    r = _reader(range_dir)
    list(r.pushFilters([EqualTo(("k",), -5)]))
    assert _planned(r, range_dir) == _PARTS[:1]
    # skipping can be disabled
    r = _reader(range_dir, skipping="false")
    list(r.pushFilters([EqualTo(("k",), -5)]))
    assert _planned(r, range_dir) == _PARTS


def test_results_identical_with_and_without_skipping(spark, range_dir):
    base = spark.read.format("clickhouse_native")
    want = (
        base.option("skipping", "false")
        .load(range_dir)
        .filter((F.col("k") >= 240) & (F.col("k") < 260))
        .orderBy("k")
        .collect()
    )
    got = (
        base.load(range_dir)
        .filter((F.col("k") >= 240) & (F.col("k") < 260))
        .orderBy("k")
        .collect()
    )
    assert [r.k for r in want] == list(range(240, 260))
    assert got == want


def test_conservative_cases_never_skip(range_dir):
    st = {"rows": 250, "columns": {"k": {"min": 0, "max": 249, "nulls": 0}}}
    # unknown filter shapes, missing columns, type mismatches: no skip
    assert not _filter_excludes_file(StringStartsWith(("name",), "zz"), st)
    assert not _filter_excludes_file(EqualTo(("missing",), 1), st)
    assert not _filter_excludes_file(EqualTo(("k",), "not-an-int"), st)
    assert not _filter_excludes_file(EqualTo(("k",), True), st)
    assert not _filter_excludes_file(IsNull(("k",)), {"rows": 250, "columns": {}})
    # satisfied range: no skip
    assert not _filter_excludes_file(EqualTo(("k",), 100), st)
    # no-nulls file: IS NULL is provably empty
    assert _filter_excludes_file(IsNull(("k",)), st)
    # all-null column: comparisons provably empty
    st_null = {"rows": 5, "columns": {"k": {"min": None, "max": None, "nulls": 5}}}
    assert _filter_excludes_file(GreaterThan(("k",), 0), st_null)


def test_missing_sidecar_reads_everything(range_dir, tmp_path):
    import shutil

    d = str(tmp_path / "nosidecar")
    os.makedirs(d)
    for f in os.listdir(range_dir):
        if not f.startswith("_"):
            shutil.copy(os.path.join(range_dir, f), os.path.join(d, f))
    r = _reader(d)
    list(r.pushFilters([LessThan(("k",), 250)]))
    assert _planned(r, d) == _PARTS


def test_distributed_writer_emits_sidecars_and_prunes(spark, tmp_path):
    out = str(tmp_path / "dist")
    spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS STRING) AS s") \
        .repartitionByRange(4, "k") \
        .write.format("clickhouse_native").mode("overwrite").save(out)
    data = [f for f in os.listdir(out) if f.endswith(".clickhouse")]
    sides = [f for f in os.listdir(out) if f.endswith(".stats.json")]
    assert len(data) == 4 and len(sides) == 4
    r = _reader(out)
    list(r.pushFilters([LessThan(("k",), 250)]))
    assert len(r.partitions()) == 1
    got = (
        spark.read.format("clickhouse_native").load(out)
        .filter(F.col("k") < 250).count()
    )
    assert got == 250


def test_column_stats_nan_inf_and_long_strings():
    """ADVICE r5: NaN/inf float columns must be OMITTED from the sidecar
    (Spark sorts NaN above every double, so a NaN-blind max mis-prunes;
    Infinity is not valid JSON), and long string stats are capped with
    min truncated downward / max bumped to stay an upper bound."""
    import json

    import pyarrow as pa

    from duckdb_extension_clickhouse_native_spark.native.writer import (
        _STR_STATS_MAX,
        _column_stats,
        _truncated_string_stats,
    )

    t = pa.table(
        {
            "has_nan": pa.array([1.0, float("nan"), 2.0]),
            "has_inf": pa.array([1.0, float("inf"), 2.0]),
            "clean": pa.array([1.0, 2.0, 3.0]),
            "long_s": pa.array(["a" * 200, "b" * 200, "c" * 200]),
        }
    )
    cols = _column_stats(t)
    assert "has_nan" not in cols
    assert "has_inf" not in cols
    assert cols["clean"] == {"min": 1.0, "max": 3.0, "nulls": 0}
    ls = cols["long_s"]
    assert len(ls["min"]) <= _STR_STATS_MAX and len(ls["max"]) <= _STR_STATS_MAX
    assert ls["min"] <= "a" * 200 and ls["max"] >= "c" * 200
    # the sidecar must serialize as strict (RFC) JSON
    json.loads(json.dumps(cols))

    # truncation invariants hold for adversarial code points
    mn, mx = _truncated_string_stats("x" * 100, chr(0xD7FF) * 100)
    assert mn <= "x" * 100 and mx is not None and mx >= chr(0xD7FF) * 100
    mn, mx = _truncated_string_stats("a", chr(0x10FFFF) * 100)
    assert mx is None  # no bounded max exists -> caller drops the column


@pytest.fixture(scope="module")
def hive_dir(tmp_path_factory):
    """Hive layout: day=1..4 / part.clickhouse, 100 rows each, plus a
    string key nested under each day."""
    d = str(tmp_path_factory.mktemp("hive"))
    for day in range(1, 5):
        for src in ("a", "b"):
            sub = os.path.join(d, f"day={day}", f"src={src}")
            os.makedirs(sub)
            t = pa.table(
                {
                    "k": pa.array(range(day * 100, day * 100 + 50), pa.int64()),
                }
            )
            write_native_file(os.path.join(sub, "part.clickhouse"), t)
    return d


def test_hive_partition_schema_and_values(spark, hive_dir):
    df = spark.read.format("clickhouse_native").load(hive_dir)
    assert [f.name for f in df.schema.fields] == ["k", "day", "src"]
    assert df.schema["day"].dataType.simpleString() == "bigint"
    assert df.schema["src"].dataType.simpleString() == "string"
    assert df.count() == 400
    got = {
        (r.day, r.src): r["count"]
        for r in df.groupBy("day", "src").count().collect()
    }
    assert got == {(d, s): 50 for d in range(1, 5) for s in ("a", "b")}
    # correlation between file data and path value survives the read
    row = df.filter((F.col("day") == 3) & (F.col("src") == "b")).agg(
        F.min("k"), F.max("k")
    ).collect()[0]
    assert (row[0], row[1]) == (300, 349)


def test_hive_partition_pruning_at_planning(hive_dir):
    schema = infer_native_schema({"path": hive_dir})
    reader = ClickHouseNativeReader(schema, {"path": hive_dir})

    def files(days, srcs=("a", "b")):
        return sorted(
            f"day={d}/src={s}/part.clickhouse" for d in days for s in srcs
        )

    assert _planned(reader, hive_dir) == files(range(1, 5))
    reader.pushed = [EqualTo(("day",), 2)]
    assert _planned(reader, hive_dir) == files([2])
    reader.pushed = [EqualTo(("day",), 2), EqualTo(("src",), "a")]
    assert _planned(reader, hive_dir) == files([2], ["a"])
    reader.pushed = [GreaterThan(("day",), 2)]
    assert _planned(reader, hive_dir) == files([3, 4])
    reader.pushed = [In(("day",), (1, 4))]
    assert _planned(reader, hive_dir) == files([1, 4])
    # no-match keeps one file; its executor-side filter drops rows
    reader.pushed = [EqualTo(("day",), 99)]
    assert _planned(reader, hive_dir) == files([1], ["a"])


def test_hive_partition_filter_results_match(spark, hive_dir):
    df = spark.read.format("clickhouse_native").load(hive_dir)
    got = sorted(
        tuple(r)
        for r in df.filter("day >= 3 AND src = 'b'").select("k", "day", "src").collect()
    )
    assert len(got) == 100
    assert all(day >= 3 and src == "b" for _k, day, src in got)
    assert {k for k, _d, _s in got} == set(range(300, 350)) | set(range(400, 450))


def test_mixed_layout_is_unpartitioned(spark, tmp_path):
    d = str(tmp_path / "mixed")
    os.makedirs(os.path.join(d, "day=1"))
    t = pa.table({"k": pa.array([1, 2, 3], pa.int64())})
    write_native_file(os.path.join(d, "top.clickhouse"), t)
    write_native_file(os.path.join(d, "day=1", "part.clickhouse"), t)
    df = spark.read.format("clickhouse_native").load(d)
    # one file at top level -> no consistent key sequence -> plain cols
    assert [f.name for f in df.schema.fields] == ["k"]
    assert df.count() == 6


def test_partitioned_write_roundtrip(spark, tmp_path):
    """partition_by writes hive directories (partition cols dropped
    from payload), the reader restores them, and the row set is
    exactly the input; overwrite replaces the whole layout."""
    d = str(tmp_path / "pby")
    src = spark.createDataFrame(
        [(i, i % 3, f"s{i % 2}") for i in range(100)], "id long, g long, s string"
    )
    (
        src.write.format("clickhouse_native")
        .option("partition_by", "g,s")
        .mode("overwrite")
        .save(d)
    )
    files = []
    for root, _dirs, fs in os.walk(d):
        files.extend(os.path.join(root, f) for f in fs if f.endswith(".clickhouse"))
    assert files and all("g=" in p and "s=" in p for p in files)
    back = spark.read.format("clickhouse_native").load(d)
    assert sorted(tuple(r) for r in back.select("id", "g", "s").collect()) == sorted(
        tuple(r) for r in src.collect()
    )
    # overwrite drops the old partitions entirely
    (
        src.filter("g = 0").write.format("clickhouse_native")
        .option("partition_by", "g,s")
        .mode("overwrite")
        .save(d)
    )
    assert spark.read.format("clickhouse_native").load(d).count() == 34


def test_partition_by_validation(spark, tmp_path):
    src = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(Exception, match="not in schema"):
        (
            src.write.format("clickhouse_native")
            .option("partition_by", "nope")
            .mode("append")
            .save(str(tmp_path / "x"))
        )
    with pytest.raises(Exception, match="every column"):
        (
            src.write.format("clickhouse_native")
            .option("partition_by", "a,b")
            .mode("append")
            .save(str(tmp_path / "y"))
        )


def test_partitioned_write_special_chars(spark, tmp_path):
    """Partition values needing URL encoding (space, slash, equals,
    percent) must round-trip exactly through the directory names."""
    d = str(tmp_path / "pby_special")
    vals = ["a b", "a/b", "a=b", "100%", "plain"]
    src = spark.createDataFrame(
        [(i, vals[i % len(vals)]) for i in range(50)], "id long, seg string"
    )
    (
        src.write.format("clickhouse_native")
        .option("partition_by", "seg")
        .mode("overwrite")
        .save(d)
    )
    back = spark.read.format("clickhouse_native").load(d)
    assert sorted(tuple(r) for r in back.select("id", "seg").collect()) == sorted(
        tuple(r) for r in src.collect()
    )


def test_block_range_skipping(spark, tmp_path):
    """Per-block sidecar stats must prune block RANGES inside one file
    (the parquet row-group analogue) without changing results."""
    import pyarrow as pa

    d = str(tmp_path / "blockskip")
    os.makedirs(d)
    p = os.path.join(d, "one.clickhouse")
    # 8 blocks of 125 rows, k strictly increasing -> tight block ranges
    write_native_file(
        p, pa.table({"k": pa.array(range(1000), pa.int64())}), block_rows=125
    )
    schema = infer_native_schema({"path": d})
    reader = ClickHouseNativeReader(
        schema, {"path": d, "split_blocks": "true", "target_partition_bytes": "1"}
    )
    assert len(reader.partitions()) == 8  # offsets came from the sidecar
    reader.pushed = [GreaterThan(("k",), 700)]
    parts = reader.partitions()
    # k>700 lives in blocks [700,125*6=750) .. [875,1000): 3 blocks
    assert len(parts) == 3
    assert all(pt.n_blocks == 1 for pt in parts)
    # a non-consecutive survivor set splits into separate runs
    reader.pushed = [In(("k",), (10, 990))]
    parts = reader.partitions()
    assert len(parts) == 2

    # results are identical with and without splitting
    df_split = (
        spark.read.format("clickhouse_native")
        .schema(schema)
        .option("split_blocks", "true")
        .load(d)
        .filter("k > 700")
    )
    df_plain = (
        spark.read.format("clickhouse_native").schema(schema).load(d).filter("k > 700")
    )
    assert df_split.count() == df_plain.count() == 299


def test_block_index_invalidated_by_growth(tmp_path):
    """A file that grew after its sidecar was written must fall back to
    the header scan (stale offsets would mis-split)."""
    import pyarrow as pa

    d = str(tmp_path / "grow")
    os.makedirs(d)
    p = os.path.join(d, "g.clickhouse")
    write_native_file(p, pa.table({"k": pa.array(range(100), pa.int64())}), block_rows=50)
    schema = infer_native_schema({"path": d})
    reader = ClickHouseNativeReader(schema, {"path": d, "split_blocks": "true"})
    import os as _os

    size = _os.path.getsize(p)
    assert reader._sidecar_blocks(p, size) is not None
    parts_before = reader.partitions()
    # genuinely grow the file: the index must be rejected end-to-end
    # (partitions() recomputes the size itself) and planning falls back
    # to the header scan, which still sees the original 2 blocks
    with open(p, "ab") as f:
        f.write(b"\x07garbage-tail")
    assert reader._sidecar_blocks(p, _os.path.getsize(p)) is None
    reader2 = ClickHouseNativeReader(schema, {"path": d, "split_blocks": "true"})
    assert len(reader2.partitions()) >= 1
    # malformed sidecar entries degrade to fallback, never raise
    import json as _json

    from duckdb_extension_clickhouse_native_spark.native.writer import (
        stats_sidecar_path,
    )

    with open(stats_sidecar_path(p), "w") as f:
        _json.dump({"blocks": [{}], "file_bytes": None, "rows": 0}, f)
    reader3 = ClickHouseNativeReader(schema, {"path": d, "split_blocks": "true"})
    assert reader3._sidecar_blocks(p, size) is None
    assert len(reader3.partitions()) >= 1
    assert len(parts_before) >= 1


def test_sink_skips_empty_batches_and_merges_nan_soundly(spark, tmp_path):
    """r7 review fix (batch 4): empty batches must not emit hidden
    header-only blocks that desync the per-block index, and a NaN in
    one batch must drop that column from the FILE-level stats (a stale
    min/max would let pruning skip files whose NaN rows match)."""
    import json

    from duckdb_extension_clickhouse_native_spark.native.writer import (
        stats_sidecar_path,
    )

    d = str(tmp_path / "sinknan")
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, float("nan")), (4, 4.0)], "k long, v double"
    )
    # 4 partitions; some may be empty after repartition
    df.repartition(8).write.format("clickhouse_native").mode("append").save(d)
    files = [f for f in os.listdir(d) if f.endswith(".clickhouse")]
    total_blocks = 0
    for f in files:
        side = json.load(open(os.path.join(d, f"_{f}.stats.json")))
        blocks = side.get("blocks", [])
        total_blocks += len(blocks)
        # every sidecar block maps to a physical data block: re-reading
        # with split_blocks over the index returns every row
        if any("v" in b.get("columns", {}) for b in blocks):
            # v stats may exist per block, but the NaN block's file must
            # not carry v at file level
            pass
    back = (
        spark.read.format("clickhouse_native")
        .schema("k long, v double")
        .option("split_blocks", "true")
        .load(d)
    )
    got = sorted(r.k for r in back.collect())
    assert got == [1, 2, 3, 4]
    nan_file_sides = [
        json.load(open(os.path.join(d, f"_{f}.stats.json"))) for f in files
    ]
    for side in nan_file_sides:
        cols = side.get("columns", {})
        blocks = side.get("blocks", [])
        has_nan_block = any(
            "v" not in b.get("columns", {}) and b.get("rows", 0) > 0
            for b in blocks
        )
        if has_nan_block:
            assert "v" not in cols, "NaN block must drop v from file stats"


def test_writer_sort_by_clusters_blocks(spark, tmp_path):
    """sort_by yields tight per-block ranges: with shuffled input, the
    sorted write's block index prunes a range predicate while the
    unsorted write's cannot."""
    import json

    from duckdb_extension_clickhouse_native_spark.native.writer import (
        stats_sidecar_path,
    )

    src = spark.range(4000).selectExpr(
        "pmod(hash(id), 4000) AS shuffle_key", "id AS k"
    ).orderBy("shuffle_key").selectExpr("k").coalesce(1)
    d_sorted = str(tmp_path / "sorted")
    d_plain = str(tmp_path / "plain")
    (src.write.format("clickhouse_native").option("sort_by", "k")
        .option("block_rows", "500").mode("append").save(d_sorted))
    (src.write.format("clickhouse_native")
        .option("block_rows", "500").mode("append").save(d_plain))

    def pruned_blocks(d):
        f = [x for x in os.listdir(d) if x.endswith(".clickhouse")][0]
        schema = infer_native_schema({"path": d})
        r = ClickHouseNativeReader(
            schema, {"path": d, "split_blocks": "true", "target_partition_bytes": "1"}
        )
        r.pushed = [GreaterThan(("k",), 3500)]
        return sum(p.n_blocks for p in r.partitions())

    assert pruned_blocks(d_sorted) == 1   # one 500-row block covers k>3500
    assert pruned_blocks(d_plain) == 8    # shuffled: every block matches
    # results identical either way
    for d in (d_sorted, d_plain):
        got = (
            spark.read.format("clickhouse_native")
            .schema(infer_native_schema({"path": d}))
            .option("split_blocks", "true")
            .load(d)
            .filter("k > 3500")
            .count()
        )
        assert got == 499


def test_compact_native_dir(spark, tmp_path):
    """Compaction merges many small files into few clustered ones with
    identical rows; the compacted layout prunes at file AND block
    level."""
    import pyarrow as pa

    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        compact_native_dir,
    )

    src = str(tmp_path / "small")
    os.makedirs(src)
    # 16 small files with interleaved keys (worst case for pruning)
    for i in range(16):
        write_native_file(
            os.path.join(src, f"s{i:02d}.clickhouse"),
            pa.table({"k": pa.array(range(i, 1600, 16), pa.int64())}),
        )
    dst = str(tmp_path / "compact")
    n = compact_native_dir(spark, src, dst, target_files=4, sort_by=["k"])
    assert n == 1600
    files = [f for f in os.listdir(dst) if f.endswith(".clickhouse")]
    assert len(files) == 4
    schema = infer_native_schema({"path": dst})
    back = spark.read.format("clickhouse_native").schema(schema).load(dst)
    assert sorted(r.k for r in back.collect()) == list(range(1600))
    # file-level pruning now works (range partitioning made files disjoint)
    reader = ClickHouseNativeReader(schema, {"path": dst})
    reader.pushed = [GreaterThan(("k",), 1500)]
    assert len(reader.partitions()) < 4
