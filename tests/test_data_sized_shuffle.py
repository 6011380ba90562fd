"""``data_sized_shuffle`` sizes a table by its bytes on disk, whether
the table is one parquet file or a directory of part files, through
``shuffle_width``: floored at a quarter of the cluster and capped at
the session's own ``spark.sql.shuffle.partitions``. A stream drain
sizes its state store to the same rule.

The part files are sparse (``truncate`` writes no blocks), so a few
hundred MiB of "table" costs nothing to create.
"""

from __future__ import annotations

import math

from conftest import SF_SMALL

from duckdb_extension_clickhouse_native_spark.plans import base

KEY = "spark.sql.shuffle.partitions"
PART_SIZES = [150 << 20, 100 << 20, 50 << 20]


def _sized(spark, sf_dir: str) -> int:
    try:
        base.data_sized_shuffle(spark, sf_dir, ["documents"])
        return int(spark.conf.get(KEY))
    finally:
        base.restore_scoped_confs()


def _expected(spark, total: int) -> int:
    floor = max(2, spark.sparkContext.defaultParallelism // 4)
    cap = int(spark.conf.get(KEY))
    return min(
        cap,
        max(
            floor,
            math.ceil(
                total * base.SHUFFLE_EXPANSION / base.SHUFFLE_BYTES_PER_PARTITION
            ),
        ),
    )


def _directory_table(tmp_path) -> str:
    table = tmp_path / "documents.parquet"
    table.mkdir()
    for i, n in enumerate(PART_SIZES):
        with open(table / f"part-{i:05d}.parquet", "wb") as f:
            f.truncate(n)
    return str(tmp_path)


def test_directory_table_sized_by_its_files(spark, tmp_path):
    sf_dir = _directory_table(tmp_path)
    floor = max(2, spark.sparkContext.defaultParallelism // 4)
    n = _sized(spark, sf_dir)
    assert n > floor, f"directory table sized to the floor ({n})"
    assert n == _expected(spark, sum(PART_SIZES))


def test_file_and_directory_forms_size_alike(spark, tmp_path):
    flat = tmp_path / "flat"
    flat.mkdir()
    with open(flat / "documents.parquet", "wb") as f:
        f.truncate(sum(PART_SIZES))
    nested = tmp_path / "nested" / "documents.parquet" / "day=1"
    nested.mkdir(parents=True)
    for i, n in enumerate(PART_SIZES):
        with open(nested / f"part-{i:05d}.parquet", "wb") as f:
            f.truncate(n)
    assert base.table_bytes(str(flat), "documents") == sum(PART_SIZES)
    assert base.table_bytes(str(tmp_path / "nested"), "documents") == sum(PART_SIZES)
    assert base.table_bytes(str(tmp_path), "missing") == 0
    assert _sized(spark, str(flat)) == _sized(spark, str(tmp_path / "nested"))


def test_width_capped_at_session_width(spark, tmp_path, monkeypatch):
    """A 100 TB corpus sizes to the deployment's width, not to one
    reducer per 4 MiB (~24 million)."""
    monkeypatch.setattr(base, "table_bytes", lambda _d, _t: 100 * 10**12)
    assert _sized(spark, str(tmp_path)) == int(spark.conf.get(KEY))


def test_raised_session_width_raises_the_cap(spark, tmp_path):
    sf_dir = _directory_table(tmp_path)
    old = spark.conf.get(KEY)
    spark.conf.set(KEY, "64")
    try:
        assert _sized(spark, sf_dir) == 64
    finally:
        spark.conf.set(KEY, old)


def test_cap_is_the_width_before_the_build_scoped_it(spark, tmp_path):
    """A second sizing in the same build is capped by the session's
    width, not by the first sizing's narrower value."""
    old = spark.conf.get(KEY)
    try:
        base.scoped_conf(spark, KEY, 1)
        assert base.shuffle_width(spark, 100 * 10**12) == int(old)
    finally:
        base.restore_scoped_confs()
    assert spark.conf.get(KEY) == old


def test_stream_state_store_uses_shuffle_width(spark):
    """Every progress event of a drained stateful twin reports its
    state operators at ``shuffle_width(spark)`` partitions."""
    import threading

    import __spark_entry__  # noqa: F401 - populates REGISTRY
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.widths: list[int] = []
            self.terminated = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.widths += [
                op.numShufflePartitions for op in event.progress.stateOperators
            ]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

    rec = Recorder()
    spark.streams.addListener(rec)
    try:
        q = base.REGISTRY.all()["stream_collapsing_merge"]
        q.build(spark, SF_SMALL)
        width = base.shuffle_width(spark)
        assert rec.terminated.wait(60), "no termination event"
    finally:
        spark.streams.removeListener(rec)
        base.restore_scoped_confs()
    assert rec.widths, "no state operator progress reported"
    assert set(rec.widths) == {width}, (rec.widths, width)
