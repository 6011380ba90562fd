"""The benchmark's tracer (``layerbench/tracer.py``) wraps functions of
the package by name. A rename makes ``install_layer_hooks`` fail, or
makes a layer's spans silently vanish from the benchmark. This guard
installs every hook, checks that the names it needs resolved, and
removes the hooks again; it needs no Spark session."""

from __future__ import annotations

import inspect

from layerbench.tracer import Tracer, install_layer_hooks

from duckdb_extension_clickhouse_native_spark.native import codec, marks, writer
from duckdb_extension_clickhouse_native_spark.sources import native_datasource as nds

# hooks a change to the marks and the String decode could rename away
MUST_RESOLVE = [
    (codec, "_decode_marked_strings"),
    (codec, "decode_column"),
    (codec, "read_block"),
    (codec, "write_block"),
    (marks.MarksReader, "open"),
    (marks.MarksRecorder, "on_block"),
    (marks.MarksRecorder, "write"),
    (writer.BlockStatsRecorder, "on_block"),
    (nds.ClickHouseNativeReader, "_concat_batches"),
]


def test_every_layer_hook_resolves():
    originals = {
        (owner, attr): inspect.getattr_static(owner, attr)
        for owner, attr in MUST_RESOLVE
    }
    tr = Tracer()
    try:
        install_layer_hooks(tr)  # AttributeError on any renamed name
        patched = {(owner, attr) for owner, attr, _raw in tr._patches}
        assert not set(MUST_RESOLVE) - patched
        for owner, attr in MUST_RESOLVE:
            assert inspect.getattr_static(owner, attr) is not originals[owner, attr]
    finally:
        tr.unpatch_all()
    for owner, attr in MUST_RESOLVE:
        assert inspect.getattr_static(owner, attr) is originals[owner, attr]
