"""Spans and counts recorded around calls into the program's layers.

The tracer wraps public functions of each layer module from outside
(the program's files are not edited). A span is (name, start, end,
parent, op id); counts are recorded at the same boundaries. Only the
thread that opened an operation records, so the mock server's threads,
which run the same codec and frame code, never pollute client spans.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent, op, phase, child_s]
        self.counts: dict[tuple, float] = defaultdict(float)
        self.ops: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._patches: list[tuple] = []

    # -- operation and span context ---------------------------------------

    @contextmanager
    def op(self, op_id: str, phase: str):
        """Record spans and counts on this thread for one operation."""
        self._local.op = (op_id, phase)
        self._local.stack = []
        self.ops[phase] += 1
        try:
            yield
        finally:
            self._local.op = None

    def _ctx(self):
        return getattr(self._local, "op", None)

    @contextmanager
    def span(self, name: str):
        ctx = self._ctx()
        stack = getattr(self._local, "stack", None)
        # a layer re-entering itself (recursive decode) keeps one span
        if ctx is None or any(self.spans[i][0] == name for i in stack):
            yield False
            return
        parent = stack[-1] if stack else None
        rec = [name, time.perf_counter(), None, parent, ctx[0], ctx[1], 0.0]
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield True
        finally:
            rec[2] = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.spans[parent][6] += rec[2] - rec[1]

    def inside(self, name: str) -> bool:
        """True when a span called ``name`` is open on this thread."""
        stack = getattr(self._local, "stack", None) or ()
        return any(self.spans[i][0] == name for i in stack)

    def add(self, name: str, value: float = 1) -> None:
        ctx = self._ctx()
        if ctx is not None:
            self.counts[(ctx[1], name)] += value

    # -- wrapping layer functions -------------------------------------------

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``.
        ``after(result, args, kwargs)`` records counts from the call.
        Generator functions get one span per resumption, so the time the
        consumer spends between items is never charged to the layer."""
        raw = inspect.getattr_static(owner, attr)
        kind = type(raw) if isinstance(raw, (staticmethod, classmethod)) else None
        fn = getattr(owner, attr) if kind is classmethod else (
            raw.__func__ if kind is staticmethod else raw
        )
        tracer = self

        if inspect.isgeneratorfunction(fn):

            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                gen = fn(*args, **kwargs)
                while True:
                    with tracer.span(name) as recorded:
                        try:
                            item = next(gen)
                        except StopIteration:
                            return
                    if after is not None and recorded:
                        after(item, args, kwargs)
                    yield item

        else:

            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with tracer.span(name) as recorded:
                    out = fn(*args, **kwargs)
                if after is not None and recorded:
                    after(out, args, kwargs)
                return out

        if kind is classmethod:
            new = classmethod(lambda cls, *a, **k: wrapper(*a, **k))
        elif kind is staticmethod:
            new = staticmethod(wrapper)
        else:
            new = wrapper
        self._patches.append((owner, attr, raw))
        setattr(owner, attr, new)

    def replace(self, owner, attr: str, new) -> None:
        """Install a hand-written wrapper; undone by ``unpatch_all``."""
        self._patches.append((owner, attr, inspect.getattr_static(owner, attr)))
        setattr(owner, attr, new)

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    # -- results ----------------------------------------------------------------

    def totals(self) -> dict[tuple, dict]:
        """(phase, name) -> {"s": total, "self_s": total minus children, "n": calls}."""
        out: dict[tuple, dict] = defaultdict(lambda: {"s": 0.0, "self_s": 0.0, "n": 0})
        for name, start, end, _parent, _op, phase, child in self.spans:
            if end is None:
                continue
            t = out[(phase, name)]
            t["s"] += end - start
            t["self_s"] += end - start - child
            t["n"] += 1
        return out

    def dump(self, path: str) -> None:
        totals = self.totals()
        with open(path, "w") as f:
            json.dump(
                {
                    "ops": dict(self.ops),
                    "layers": {f"{p}/{n}": v for (p, n), v in sorted(totals.items())},
                    "counts": {f"{p}/{n}": v for (p, n), v in sorted(self.counts.items())},
                    "spans": self.spans,
                },
                f,
            )


def install_layer_hooks(tr: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark names."""
    from duckdb_extension_clickhouse_native_spark import filesystem
    from duckdb_extension_clickhouse_native_spark.native import codec, compress, marks, writer
    from duckdb_extension_clickhouse_native_spark.sources import (
        native_datasource as nds,
        retry,
        scan_datasource as sds,
        tcp_client,
        tcp_protocol,
    )

    tr.patch(filesystem, "open_input", "filesystem.open",
             after=lambda out, a, k: tr.add("filesystem.files_opened"))

    def _listed(out, a, k):
        # the schema probe lists too; count the reader's own listing
        if tr.inside("native_datasource.plan"):
            tr.add("native_datasource.files_listed", len(out))

    tr.patch(nds, "_resolve_paths", "native_datasource.list", after=_listed)
    tr.patch(nds, "infer_native_schema", "native_datasource.schema_probe")
    tr.patch(nds.ClickHouseNativeReader, "_concat_batches", "native_datasource.coalesce")

    def _yielded(out, a, k):
        tr.add("native_datasource.batches_yielded")
        tr.add("native_datasource.rows_yielded", out.num_rows)

    tr.patch(nds.ClickHouseNativeReader, "read", "native_datasource.read", after=_yielded)

    def _block(out, a, k):
        if out is None:
            tr.add("codec.blocks_skipped")
        else:
            tr.add("codec.blocks_decoded")
            tr.add("native_datasource.rows_decoded", out.n_rows)

    # plain reads and the wire decode blocks through read_block; the
    # PREWHERE path parses blocks itself and yields None for skipped ones
    for owner in (codec, tcp_protocol):
        tr.patch(owner, "read_block", "codec.read_block",
                 after=lambda out, a, k: out is not None and _block(out, a, k))
    tr.patch(nds.ClickHouseNativeReader, "_iter_blocks_prewhere", "codec.read_block",
             after=_block)

    def _decoded(out, a, k):
        if out is not None:
            tr.add("codec.decoded_bytes", out.nbytes)

    tr.patch(codec, "decode_column", "codec.decode", after=_decoded)
    tr.patch(codec, "_decode_marked_strings", "codec.decode", after=_decoded)
    for owner in (codec, writer, tcp_protocol):
        tr.patch(owner, "write_block", "codec.encode")

    def _marks(out, a, k):
        tr.add("marks.opens")
        tr.add("marks.files_with_marks", out is not None)

    tr.patch(marks.MarksReader, "open", "marks.open", after=_marks)

    tr.patch(compress, "cityhash128", "compress.checksum")
    orig_codec_for = compress._codec_for

    class _TimedCodec:
        """Frame codec proxy: times and sizes every (de)compression."""

        def __init__(self, inner):
            self._inner = inner

        def decompress(self, payload, **kw):
            with tr.span("compress.decompress"):
                out = self._inner.decompress(payload, **kw)
            tr.add("compress.frames")
            tr.add("compress.bytes_in", len(payload))
            tr.add("compress.bytes_out", len(out))
            return out

        def compress(self, chunk, **kw):
            with tr.span("compress.compress"):
                return self._inner.compress(chunk, **kw)

    def codec_for(method):
        c = orig_codec_for(method)
        return c if c is None or tr._ctx() is None else _TimedCodec(c)

    tr.replace(compress, "_codec_for", codec_for)

    client = tcp_client.ClickHouseTCPClient
    orig_connect = client.connect

    def connect(self):
        if self._sock is not None:
            return orig_connect(self)
        with tr.span("tcp_client.connect"):
            out = orig_connect(self)
        tr.add("tcp_client.connects")
        _rfile_pos(self)  # count every byte after the handshake
        return out

    tr.replace(client, "connect", connect)

    def _acquired(out, a, k):
        tr.add("tcp_client.acquires")
        tr.add("tcp_client.pool_reuses", out._sock is not None)

    tr.patch(tcp_client, "acquire_pooled", "tcp_client.acquire", after=_acquired)
    tr.patch(tcp_protocol, "read_data_packet", "tcp_protocol.read_packet")
    tr.patch(retry.RetryPolicy, "sleep", "retry.sleep",
             after=lambda out, a, k: tr.add("tcp_client.retries"))

    orig_exec = client.execute_blocks

    def execute_blocks(self, query, **kw):
        t0 = time.perf_counter()
        start = _rfile_pos(self)
        gen = orig_exec(self, query, **kw)
        first = True
        while True:
            with tr.span("tcp_client.execute"):
                try:
                    blk = next(gen)
                except StopIteration:
                    break
            if first:
                tr.add("tcp_client.first_block_s", time.perf_counter() - t0)
                tr.add("tcp_client.queries")
                first = False
            yield blk
        tr.add("tcp_protocol.bytes_received", _rfile_pos(self) - start)

    tr.replace(client, "execute_blocks", execute_blocks)

    tr.patch(sds.ClickHouseScanDataSource, "schema", "scan_datasource.probe")
    tr.patch(sds.ClickHouseScanReader, "read", "scan_datasource.read")

    tr.patch(nds.ClickHouseNativeWriter, "write", "writer.write")
    tr.patch(nds.ClickHouseNativeWriter, "commit", "writer.commit")
    for cls, attr in (
        (writer.BlockStatsRecorder, "on_block"),
        (writer.BlockStatsRecorder, "sidecar"),
        (marks.MarksRecorder, "on_block"),
        (marks.MarksRecorder, "write"),
    ):
        tr.patch(cls, attr, "writer.sidecar")


class _CountingReader:
    """Byte-counting view over a client's socket reader."""

    def __init__(self, inner):
        self._inner = inner
        self.n = 0

    def read(self, n=-1):
        b = self._inner.read(n)
        self.n += len(b)
        return b

    def read1(self, n=-1):
        b = self._inner.read1(n)
        self.n += len(b)
        return b

    def readinto(self, buf):
        n = self._inner.readinto(buf)
        self.n += n or 0
        return n

    def __getattr__(self, attr):
        return getattr(self._inner, attr)


def _rfile_pos(client) -> int:
    """Bytes read so far on the client's socket (wrapping it on first use)."""
    rf = client._rfile
    if rf is None:
        return 0
    if not isinstance(rf, _CountingReader):
        client._rfile = rf = _CountingReader(rf)
    return rf.n
