"""Round-7 behavioral guarantees (VERDICT/ADVICE r6 items):

* ``_table_stamp`` is nanosecond-resolution — a parquet rewritten
  within the same wall-clock second still invalidates the plan cache.
* ``_restore_surplus`` surfaces the REAL seek error on a source that
  claims seekable() but cannot seek backwards and has no pushback
  (instead of masking it with an AttributeError).
* scoped session confs are restored when the next build starts, and
  builds materialize intermediates through ``localCheckpoint`` only:
  nothing is left in Spark's CacheManager, and the ngram index is read
  back as a checkpointed RDD scan.
* the stream-sink fixture is guarded by a cross-process lockfile
  (stale locks from dead pids are broken) and older content-stamped
  sink dirs for the same source are pruned.
* ``real_decode`` probes for PIL at runtime: NotImplementedError
  without it, a real byte->pixels decode with it; the deterministic
  stub path is untouched either way.
* the as-of join's broadcast-right fast path plans a
  BroadcastHashJoin and returns the same rows as the bucket path.
"""
from __future__ import annotations

import io
import os

import pytest

from conftest import SF_SMALL


def test_table_stamp_nanosecond_resolution(tmp_path):
    from duckdb_extension_clickhouse_native_spark.plans.base import _table_stamp

    p = tmp_path / "t.parquet"
    p.write_bytes(b"x" * 64)
    os.utime(p, ns=(1_000_000_000, 1_000_000_500))
    s1 = _table_stamp(str(tmp_path), "t")
    os.utime(p, ns=(1_000_000_000, 1_000_000_900))  # same second, +400ns
    s2 = _table_stamp(str(tmp_path), "t")
    assert s1 != s2, "same-second rewrite did not change the stamp"


class _FakeSeekableNoBackward(io.RawIOBase):
    """Claims seekable() but refuses negative relative seeks (e.g. a
    wrapped pipe that only supports forward skip)."""

    def seekable(self):
        return True

    def seek(self, offset, whence=io.SEEK_SET):
        raise OSError("backward seek unsupported")


def test_restore_surplus_reraises_seek_error_without_pushback():
    from duckdb_extension_clickhouse_native_spark.native.codec import _restore_surplus

    buf = _FakeSeekableNoBackward()
    with pytest.raises(OSError, match="backward seek"):
        _restore_surplus(buf, b"abc")


def test_restore_surplus_falls_back_to_pushback():
    from duckdb_extension_clickhouse_native_spark.native.codec import _restore_surplus

    class WithPushback(_FakeSeekableNoBackward):
        def __init__(self):
            self.pushed = None

        def pushback(self, data):
            self.pushed = data

    buf = WithPushback()
    _restore_surplus(buf, b"abc")
    assert buf.pushed == b"abc"


def test_scoped_conf_restored_on_next_build(spark):
    from duckdb_extension_clickhouse_native_spark.plans.base import (
        restore_scoped_confs,
        scoped_conf,
    )

    restore_scoped_confs()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    scoped_conf(spark, "spark.sql.shuffle.partitions", "5")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    restore_scoped_confs()  # what the next build's wrapper calls
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_registry_build_releases_prior_persists(spark):
    """No build leaves a relation in Spark's CacheManager: the one way
    to materialize an intermediate is localCheckpoint, whose blocks
    belong to the checkpointed RDD, not to a cached plan."""
    import __spark_entry__  # noqa: F401

    from duckdb_extension_clickhouse_native_spark.plans.base import REGISTRY

    cache = spark._jsparkSession.sharedState().cacheManager()
    REGISTRY.all()["dedup_ngram_jaccard"].build(spark, SF_SMALL).collect()
    assert cache.isEmpty(), "ngram build left a cached relation"
    REGISTRY.all()["dedup_exact"].build(spark, SF_SMALL).collect()
    assert cache.isEmpty()


def test_ngram_jaccard_reads_checkpointed_index(spark):
    """The inverted index's consumers read the checkpointed RDD
    (``Scan ExistingRDD``), not an in-memory cached relation."""
    import __spark_entry__  # noqa: F401

    from duckdb_extension_clickhouse_native_spark.plans.base import REGISTRY

    df = REGISTRY.all()["dedup_ngram_jaccard"].build(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    assert "InMemoryTableScan" not in plan, plan


def test_sink_lock_breaks_stale_and_blocks_nothing(tmp_path):
    from duckdb_extension_clickhouse_native_spark.plans.streaming_queries import (
        _cross_process_lock,
    )

    work = str(tmp_path / "w")
    os.makedirs(work)
    # stale lock from a dead pid is broken, not waited on
    with open(os.path.join(work, "_LOCK"), "w") as f:
        f.write("999999999")
    with _cross_process_lock(work):
        assert os.path.exists(os.path.join(work, "_LOCK"))
    assert not os.path.exists(os.path.join(work, "_LOCK")), "lock not released"


def test_prune_stale_sink_dirs(tmp_path):
    from duckdb_extension_clickhouse_native_spark.plans.streaming_queries import (
        _prune_stale_sink_dirs,
    )

    parent = str(tmp_path)
    keep = os.path.join(parent, "stream-sink-2-200")
    for d in ("stream-sink-1-100", "stream-sink-2-200", "unrelated"):
        os.makedirs(os.path.join(parent, d))
    _prune_stale_sink_dirs(parent, keep=keep)
    assert sorted(os.listdir(parent)) == ["stream-sink-2-200", "unrelated"]


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(_has_pil(), reason="PIL present: stub path covered by the PIL test")
def test_real_decode_raises_without_pil():
    from duckdb_extension_clickhouse_native_spark.functions.multimodal import real_decode

    with pytest.raises(NotImplementedError):
        real_decode(b"\x89PNG\r\n\x1a\n")


@pytest.mark.skipif(not _has_pil(), reason="PIL not available in this container")
def test_real_decode_with_pil():
    from PIL import Image

    from duckdb_extension_clickhouse_native_spark.functions.multimodal import real_decode

    buf = io.BytesIO()
    Image.new("RGB", (4, 2), color=(10, 20, 30)).save(buf, format="PNG")
    out = real_decode(buf.getvalue())
    assert out["width"] == 4 and out["height"] == 2 and out["channels"] == 3
    assert out["mean_pixel"] == pytest.approx(20.0)


def test_asof_broadcast_path_plan_and_parity(spark):
    from pyspark.sql import functions as F

    from duckdb_extension_clickhouse_native_spark.operators.asof import asof_join
    from duckdb_extension_clickhouse_native_spark.plans.base import load_tables

    t = load_tables(spark, SF_SMALL, ["events", "orders"])
    events = t["events"].select("event_id", "user_id", "ts")
    orders = (
        t["orders"]
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("last_order_ts"),
        )
        .agg(
            F.max(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("last_order_price")
        )
    )
    schema = (
        "event_id bigint, user_id bigint, ts timestamp_ntz, "
        "last_order_ts timestamp_ntz, last_order_price double"
    )
    kwargs = dict(
        key="user_id",
        left_ts="ts",
        right_ts="last_order_ts",
        out_schema=schema,
        value_cols=["last_order_price"],
    )
    bc = asof_join(events, orders, strategy="broadcast", **kwargs)
    assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()
    bk = asof_join(events, orders, strategy="bucket", **kwargs)
    assert {tuple(r) for r in bc.collect()} == {tuple(r) for r in bk.collect()}


def test_asof_broadcast_preserves_duplicate_left_rows(spark):
    """r7 review fix: the broadcast path groups on a per-row id, so two
    IDENTICAL left rows each keep their own output row (the bucket
    path always behaved this way); explicit n_buckets under auto means
    the caller asked for the bucket shape; output column order follows
    out_schema on both paths."""
    import pandas as pd

    from duckdb_extension_clickhouse_native_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1], "lt": [10, 10, 5]})  # two identical rows
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "rt": [4, 9], "v": [40.0, 90.0]})
    )
    # out_schema deliberately NOT in lcols+[right_ts]+value order
    schema = "v double, k bigint, lt bigint, rt bigint"
    kwargs = dict(
        key="k", left_ts="lt", right_ts="rt", out_schema=schema, value_cols=["v"]
    )
    bc = asof_join(left, right, strategy="broadcast", **kwargs)
    assert bc.columns == ["v", "k", "lt", "rt"], "out_schema order not honored"
    rows = sorted(tuple(r) for r in bc.collect())
    assert rows == [(40.0, 1, 5, 4), (90.0, 1, 10, 9), (90.0, 1, 10, 9)], rows
    # auto + explicit n_buckets takes the bucket path (no broadcast join)
    auto_bk = asof_join(left, right, n_buckets=2, strategy="auto", **kwargs)
    plan = auto_bk._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert sorted(tuple(r) for r in auto_bk.collect()) == rows


def test_prune_skips_dirs_with_live_lock(tmp_path):
    """r7 review fix: a sibling sink dir whose _LOCK names a LIVE pid
    is a concurrent run's checkpoint — pruning must skip it."""
    from duckdb_extension_clickhouse_native_spark.plans.streaming_queries import (
        _prune_stale_sink_dirs,
    )

    parent = str(tmp_path)
    keep = os.path.join(parent, "stream-sink-9-900")
    live = os.path.join(parent, "stream-sink-1-100")
    dead = os.path.join(parent, "stream-sink-2-200")
    for d in (keep, live, dead):
        os.makedirs(d)
    with open(os.path.join(live, "_LOCK"), "w") as f:
        f.write(str(os.getpid()))  # our own live pid
    with open(os.path.join(dead, "_LOCK"), "w") as f:
        f.write("999999999")
    _prune_stale_sink_dirs(parent, keep=keep)
    assert os.path.isdir(live), "live-locked sibling was pruned"
    assert not os.path.isdir(dead), "dead-locked sibling survived"
    assert os.path.isdir(keep)


def test_stream_reads_hive_partitioned_layout(spark, tmp_path):
    """r7 review fix (batch 2): the streaming reader must thread hive
    partition values onto every micro-batch partition — including for
    files that appear AFTER the stream was planned."""
    import pyarrow as pa

    from duckdb_extension_clickhouse_native_spark.native import write_native_file
    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        infer_native_schema,
    )

    d = str(tmp_path / "hive_stream")
    def add(day, lo):
        sub = os.path.join(d, f"day={day}")
        os.makedirs(sub, exist_ok=True)
        write_native_file(
            os.path.join(sub, f"part-{lo}.clickhouse"),
            pa.table({"k": pa.array(range(lo, lo + 10), pa.int64())}),
        )

    add(1, 0)
    add(2, 100)
    stream = (
        spark.readStream.format("clickhouse_native")
        .schema(infer_native_schema({"path": d}))
        .load(d)
    )
    import uuid as _uuid

    name = f"hive_stream_{_uuid.uuid4().hex[:8]}"
    q = stream.writeStream.format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        got = {(r.day, r.k) for r in spark.table(name).collect()}
        assert got == {(1, k) for k in range(10)} | {(2, k) for k in range(100, 110)}
        # a file that appears mid-stream derives its values from its path
        add(3, 200)
        q.processAllAvailable()
        got = {(r.day, r.k) for r in spark.table(name).collect()}
        assert {(3, k) for k in range(200, 210)} <= got
    finally:
        q.stop()


def test_partition_by_null_value_clear_error(spark, tmp_path):
    """r7 review fix (batch 2): a NULL partition value in a mixed
    batch must raise the designed error, not a sort TypeError."""
    src = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, seg string"
    )
    with pytest.raises(Exception, match="NULL partition value"):
        (
            src.coalesce(1)
            .write.format("clickhouse_native")
            .option("partition_by", "seg")
            .mode("append")
            .save(str(tmp_path / "nullpart"))
        )


def test_uri_dir_listing_matches_local_per_directory(tmp_path):
    """r7 review fix (batch 3): suffix preference / fallback must apply
    PER DIRECTORY on the URI branch, exactly like the local branch —
    a partition whose files lack the preferred suffix must not vanish."""
    from duckdb_extension_clickhouse_native_spark.filesystem import resolve_paths

    d = tmp_path / "tbl"
    (d / "day=1").mkdir(parents=True)
    (d / "day=2").mkdir()
    (d / "day=1" / "part-0.native").write_bytes(b"x")
    (d / "day=2" / "part-0.data").write_bytes(b"x")
    local = [os.path.relpath(p, d) for p in resolve_paths(str(d))]
    via_uri = [
        os.path.relpath(p.replace("file://", ""), d)
        for p in resolve_paths(f"file://{d}")
    ]
    assert local == via_uri == ["day=1/part-0.native", "day=2/part-0.data"]


def test_asof_rejects_unknown_direction(spark):
    """r7 review fix (batch 3): an unsupported direction must raise
    instead of silently diverging between strategies ('nearest' is
    implemented engine-wide since r8, so the probe uses a direction
    that stays unknown)."""
    from duckdb_extension_clickhouse_native_spark.operators.asof import asof_join

    df = spark.range(1).selectExpr("id AS k", "id AS t")
    with pytest.raises(ValueError, match="direction"):
        asof_join(df, df, "k", "t", "t", "k long, t long", [], direction="sideways")


def test_stream_adopts_layout_discovered_after_planning(spark, tmp_path):
    """r7 review fix (batch 3): a stream planned on an EMPTY directory
    must still restore partition values for late files (layout adopted
    from the first file's path, typed from the declared schema)."""
    import pyarrow as pa

    from duckdb_extension_clickhouse_native_spark.native import write_native_file

    d = str(tmp_path / "late_hive")
    os.makedirs(d)
    schema = "k bigint, day bigint"
    stream = (
        spark.readStream.format("clickhouse_native").schema(schema).load(d)
    )
    import uuid as _uuid

    name = f"late_hive_{_uuid.uuid4().hex[:8]}"
    q = stream.writeStream.format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        sub = os.path.join(d, "day=5")
        os.makedirs(sub)
        write_native_file(
            os.path.join(sub, "p.clickhouse"),
            pa.table({"k": pa.array([1, 2], pa.int64())}),
        )
        q.processAllAvailable()
        got = sorted((r.day, r.k) for r in spark.table(name).collect())
        assert got == [(5, 1), (5, 2)]
    finally:
        q.stop()
