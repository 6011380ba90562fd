"""The per-call hooks of Spark Python workers (worker_imports.py): the
zip-directory cache and the heap freeze at the start of each call.

The probe tests run in a fresh interpreter, because installing the
hooks patches ``zipimport``, ``importlib`` and the collector for the
whole process; the Spark test checks real task workers of the session
after a ``clickhouse_native`` read.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Puts a zip holding module ``zmod`` on sys.path, imports it, marks the
# process as a Spark worker (or not) and imports the package. Then it
# simulates 20 worker calls (the call-start hook, a reference cycle made
# and dropped, the daemon's collection after the call), recording the
# freeze count and what each collection found, and counts
# zipimport._read_directory calls per phase.
_PROBE = textwrap.dedent(
    """
    import gc, importlib, json, os, sys, weakref, zipfile, zipimport

    worker, zpath = sys.argv[1] == "worker", sys.argv[2]

    def write_zip(value):
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("zmod.py", f"VALUE = {value!r}\\n")

    write_zip(1)
    sys.path.insert(0, zpath)
    import zmod

    stdlib_method = zipimport.zipimporter.invalidate_caches
    from pyspark.core.files import SparkFiles

    SparkFiles._is_running_on_worker = worker
    import duckdb_extension_clickhouse_native_spark  # noqa: F401

    class Node:
        pass

    frozen, found, freed = [], [], []
    for _ in range(20):
        importlib.invalidate_caches()  # what setup_spark_files() calls
        frozen.append(gc.get_freeze_count())
        a, b = Node(), Node()
        a.peer, b.peer = b, a
        ref = weakref.ref(a)
        del a, b
        found.append(gc.collect())
        freed.append(ref() is None)
        del ref

    reads = []
    orig_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return orig_read(path)

    zipimport._read_directory = counting
    out = {
        "stdlib": zipimport.zipimporter.invalidate_caches is stdlib_method,
        "frozen": frozen, "found": found, "freed": freed,
    }
    importlib.invalidate_caches()  # an importer's first call stamps it
    del reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    out["repeated"] = reads.count(zpath)

    write_zip("rewritten")
    del reads[:]
    importlib.invalidate_caches()
    out["after_rewrite"] = reads.count(zpath)
    del sys.modules["zmod"]
    import zmod

    out["value"] = zmod.VALUE
    print(json.dumps(out))
    """
)


def _probe(tmp_path, worker: bool) -> dict:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    ))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, "worker" if worker else "driver",
         str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_worker_skips_rereading_an_unchanged_zip(tmp_path):
    got = _probe(tmp_path, worker=True)
    assert not got["stdlib"]
    assert got["repeated"] == 0
    # a rewritten archive is re-read and its new body is what imports
    assert got["after_rewrite"] >= 1
    assert got["value"] == "rewritten"


def test_worker_freezes_only_what_outlived_the_last_call(tmp_path):
    got = _probe(tmp_path, worker=True)
    frozen = got["frozen"]
    assert frozen[0] > 0
    # from the second call on nothing new is frozen: no call's garbage
    assert max(frozen[1:]) == frozen[1]
    # and every collection after a call still frees that call's cycle
    assert all(n >= 2 for n in got["found"])
    assert all(got["freed"])


def test_driver_keeps_the_stdlib_method(tmp_path):
    got = _probe(tmp_path, worker=False)
    assert got["stdlib"]
    assert set(got["frozen"]) == {0}
    if sys.version_info < (3, 13):  # 3.13's method only drops the cache
        assert got["repeated"] == 5
    assert got["value"] == "rewritten"


def test_task_worker_that_read_native_has_the_wrapper(spark, tmp_path):
    from duckdb_extension_clickhouse_native_spark.native.writer import write_native_file

    tbl = pa.table({"k": pa.array(range(4000), pa.int64())})
    for i in range(4):
        write_native_file(str(tmp_path / f"p{i}.clickhouse"), tbl.slice(i * 1000, 1000))
    df = spark.read.format("clickhouse_native").load(str(tmp_path / "*.clickhouse"))
    assert df.agg({"k": "sum"}).collect()[0][0] == sum(range(4000))

    def report(batches):
        # imports nothing of the package: only a worker that ran the read has it
        import gc
        import os
        import sys
        import time
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        time.sleep(0.5)  # hold the worker so every idle one gets a task
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(),
            "has_package": "duckdb_extension_clickhouse_native_spark" in sys.modules,
            "module": zipimport.zipimporter.invalidate_caches.__module__,
            "frozen": gc.get_freeze_count(),
        }])

    n = spark.sparkContext.defaultParallelism
    seen = spark.range(n, numPartitions=n).mapInArrow(
        report, "pid long, has_package boolean, module string, frozen long"
    ).collect()
    readers = {r.pid: r for r in seen if r.has_package}
    assert readers, f"no probed worker had run the read: {seen}"
    assert {r.module for r in readers.values()} == {
        "duckdb_extension_clickhouse_native_spark.worker_imports"
    }
    # this call started by freezing what the earlier calls left alive
    assert all(r.frozen > 0 for r in readers.values()), seen
