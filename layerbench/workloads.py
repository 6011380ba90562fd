"""The workloads. Each builds its inputs from the seed, lists the
operations of one pass, checks every answer against a value computed
independently (generator arithmetic or DuckDB), and can replay an
operation's layer calls in-process for the traced run."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import datagen


@dataclass
class Op:
    name: str
    run: Callable[[], tuple[bool, int]]  # -> (answer correct, rows delivered)
    replay: Callable[[object], object]  # the op's layer calls, in-process


def _close(a: float, b: float, scale: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, scale)


def _file_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, spark, work: str, seed: int, cpus: int, smoke: bool) -> None:
        self.spark = spark
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.cpus = cpus
        self.smoke = smoke
        os.makedirs(self.work, exist_ok=True)

    def size(self, key: str):
        full, small = self.sizes[key]
        return small if self.smoke else full

    def setup(self) -> None:
        """Generate inputs and write fixtures; repeatable."""

    def start(self) -> None:
        """One-time set-up after the timed repetitions (caches, servers)."""

    def ops(self) -> list[Op]:
        raise NotImplementedError


# -- native_scan --------------------------------------------------------------


class NativeScan(Workload):
    name = "native_scan"
    sizes = {"rows": (800_000, 40_000), "files": (8, 2)}

    def setup(self) -> None:
        from duckdb_extension_clickhouse_native_spark.native import write_native_file

        rows, files = self.size("rows"), self.size("files")
        self.table = datagen.scan_table(self.seed, rows)
        self.dir = os.path.join(self.work, "t")
        os.makedirs(self.dir, exist_ok=True)
        per = rows // files
        for i in range(files):
            write_native_file(
                os.path.join(self.dir, f"part-{i:03d}.clickhouse"),
                self.table.slice(i * per, per if i < files - 1 else rows - i * per),
            )
        t = self.table
        self.expect = (
            t.num_rows,
            pc.sum(t["id"]).as_py(),
            pc.sum(t["k"]).as_py(),
            pc.sum(t["x"]).as_py(),
            pc.sum(pc.utf8_length(t["cat"])).as_py(),
            pc.sum(pc.utf8_length(t["s25"])).as_py(),
            t.num_rows - t["ns"].null_count,
        )
        self.xscale = pc.sum(pc.abs(t["x"])).as_py()

    def options(self) -> dict:
        return {"path": self.dir}

    def query(self, df):
        from pyspark.sql import functions as F

        return df.agg(
            F.count("*"), F.sum("id"), F.sum("k"), F.sum("x"),
            F.sum(F.length("cat")), F.sum(F.length("s25")), F.count("ns"),
        ).collect()[0]

    def check(self, row) -> bool:
        e = self.expect
        return (
            tuple(row[i] for i in (0, 1, 2, 4, 5, 6)) == tuple(e[i] for i in (0, 1, 2, 4, 5, 6))
            and _close(row[3], e[3], self.xscale)
        )

    def _op(self) -> tuple[bool, int]:
        from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
            infer_native_schema,
        )

        schema = infer_native_schema(self.options())
        df = self.spark.read.format("clickhouse_native").schema(schema).load(self.dir)
        return self.check(self.query(df)), self.expect[0]

    def replay(self, tr) -> list:
        return replay_native(tr, self.options(), [])

    def ops(self) -> list[Op]:
        return [Op("full_scan", self._op, self.replay)]


def replay_native(tr, options: dict, filters: list) -> list:
    """The Native source's planning and read, in-process: schema probe,
    reader construction + pushFilters + partitions(), then every
    partition read to exhaustion. Returns the yielded batches."""
    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        ClickHouseNativeDataSource,
        infer_native_schema,
    )

    schema = infer_native_schema(options)
    with tr.span("native_datasource.plan"):
        reader = ClickHouseNativeDataSource(dict(options)).reader(schema)
        list(reader.pushFilters(list(filters)))
        parts = reader.partitions()
    tr.add("native_datasource.partitions_planned", len(parts))
    tr.add(
        "native_datasource.files_after_pruning",
        sum(len(getattr(p, "parts", None) or (p,)) for p in parts),
    )
    out = []
    for p in parts:
        out.append(list(reader.read(p)))
    return out


# -- native_selective ---------------------------------------------------------


class NativeSelective(Workload):
    name = "native_selective"
    sizes = {"rows": (160_000, 32_000), "days": (8, 4), "parts": (8, 2)}

    def setup(self) -> None:
        from duckdb_extension_clickhouse_native_spark.native import write_native_file

        rows, days, parts = self.size("rows"), self.size("days"), self.size("parts")
        self.table = t = datagen.selective_table(self.seed, rows, days)
        self.dir = os.path.join(self.work, "t")
        per_day = t.num_rows // days
        per_part = per_day // parts
        for d in range(days):
            ddir = os.path.join(self.dir, f"day={d}")
            os.makedirs(ddir, exist_ok=True)
            for i in range(parts):
                lo = d * per_day + i * per_part
                n = per_part if i < parts - 1 else per_day - i * per_part
                write_native_file(
                    os.path.join(ddir, f"part-{i:03d}.clickhouse"),
                    t.slice(lo, n).drop_columns(["day"]),
                    block_rows=512,
                    index_bloom=["uid"],
                    index_set=["cat"],
                )
        r = datagen.rng_for(self.seed, "selective-ops")
        n = t.num_rows
        a, b = r.choice(datagen.CATS, 2, replace=False)
        lo = int(r.integers(0, n - 4000))
        self.queries = [
            ("bloom_point", "uid", "=", t["uid"][int(r.integers(0, n))].as_py()),
            ("set_in", "cat", "in", (str(a), str(b))),
            ("minmax_range", "id", "between", (lo, lo + 3000)),
            ("hive_day", "day", "=", int(r.integers(0, days))),
            ("prewhere_needle", "note", "contains", "qzx"),
        ]

    def _mask(self, col, op, v):
        c = self.table[col]
        if op == "=":
            return pc.equal(c, v)
        if op == "in":
            return pc.is_in(c, value_set=pa.array(list(v)))
        if op == "between":
            return pc.and_(pc.greater_equal(c, v[0]), pc.less_equal(c, v[1]))
        return pc.match_substring(c, v)

    def _column(self, col, op, v):
        from pyspark.sql import functions as F

        c = F.col(col)
        if op == "=":
            return c == F.lit(v)
        if op == "in":
            return c.isin(list(v))
        if op == "between":
            return (c >= F.lit(v[0])) & (c <= F.lit(v[1]))
        return c.contains(v)

    def _filters(self, col, op, v):
        from pyspark.sql.datasource import (
            EqualTo, GreaterThanOrEqual, In, LessThanOrEqual, StringContains,
        )

        a = (col,)
        if op == "=":
            return [EqualTo(a, v)]
        if op == "in":
            return [In(a, tuple(v))]
        if op == "between":
            return [GreaterThanOrEqual(a, v[0]), LessThanOrEqual(a, v[1])]
        return [StringContains(a, v)]

    def start(self) -> None:
        from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
            infer_native_schema,
        )

        self.schema = infer_native_schema({"path": self.dir})
        self.expect = []
        for _, col, op, v in self.queries:
            hit = self.table.filter(self._mask(col, op, v))
            # an empty match sums to null, as Spark's sum does
            self.expect.append((hit.num_rows, pc.sum(hit["id"]).as_py()))

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        out = []
        for i, (name, col, op, v) in enumerate(self.queries):
            def run(i=i, col=col, op=op, v=v):
                df = self.spark.read.format("clickhouse_native").schema(self.schema).load(self.dir)
                row = df.filter(self._column(col, op, v)).agg(F.count("*"), F.sum("id")).collect()[0]
                # every query covers the whole table; matching rows would
                # make the rate depend on the seed
                return (row[0], row[1]) == self.expect[i], self.table.num_rows

            def replay(tr, col=col, op=op, v=v):
                replay_native(tr, {"path": self.dir}, self._filters(col, op, v))

            out.append(Op(name, run, replay))
        return out


# -- remote_scan --------------------------------------------------------------


class _TimedConnection:
    """DuckDB connection handed to the mock server; accumulates the
    server's own query time so client time = op time - server time."""

    def __init__(self, con) -> None:
        self._con = con
        self._lock = threading.Lock()
        self.server_s = 0.0

    def execute(self, q, *a):
        t0 = time.perf_counter()
        res = self._con.execute(q, *a)
        self._charge(time.perf_counter() - t0)
        return _TimedResult(res, self)

    def _charge(self, dt: float) -> None:
        with self._lock:
            self.server_s += dt

    def __getattr__(self, attr):
        return getattr(self._con, attr)


class _TimedResult:
    def __init__(self, res, owner: _TimedConnection) -> None:
        self._res = res
        self._owner = owner

    def fetch_arrow_table(self):
        t0 = time.perf_counter()
        out = self._res.fetch_arrow_table()
        self._owner._charge(time.perf_counter() - t0)
        return out

    def __getattr__(self, attr):
        return getattr(self._res, attr)


class RemoteScan(Workload):
    name = "remote_scan"
    sizes = {"rows": (60_000, 6_000)}

    def setup(self) -> None:
        import duckdb

        self.table = t = datagen.remote_table(self.seed, self.size("rows"))
        con = duckdb.connect()
        # one server thread: the stand-in's CPU time is part of the pass
        con.execute("SET threads = 1")
        con.register("src", t)
        con.execute("CREATE TABLE t_remote AS SELECT * FROM src")
        con.unregister("src")
        # expected answers from DuckDB over the same rows
        self.expect = con.execute(
            "SELECT count(*), sum(id), sum(k), sum(length(s)), sum(length(cat)), sum(x) FROM t_remote"
        ).fetchone()
        self.con = con

    def start(self) -> None:
        from duckdb_extension_clickhouse_native_spark.sources.mock_tcp_server import (
            build_tcp_handler,
            serve_tcp,
        )

        self.timed = _TimedConnection(self.con)
        host, port = serve_tcp(build_tcp_handler(self.timed))
        self.url = f"tcp://{host}:{port}"

    def options(self, comp: str, split: int) -> dict:
        o = {"url": self.url, "query": "SELECT * FROM t_remote", "compression": comp}
        if split > 1:
            o.update(
                partition_column="id", num_partitions=str(split),
                lower_bound="0", upper_bound=str(self.table.num_rows),
            )
        return o

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        out = []
        for comp in ("false", "lz4"):
            for split in (1, self.cpus):
                opts = self.options(comp, split)

                def run(opts=opts):
                    df = self.spark.read.format("clickhouse_scan").options(**opts).load()
                    row = df.agg(
                        F.count("*"), F.sum("id"), F.sum("k"), F.sum(F.length("s")),
                        F.sum(F.length("cat")), F.sum("x"),
                    ).collect()[0]
                    e = self.expect
                    ok = tuple(row[:5]) == tuple(e[:5]) and _close(row[5], e[5], e[5])
                    return ok, e[0]

                def replay(tr, opts=opts):
                    from duckdb_extension_clickhouse_native_spark.sources.scan_datasource import (
                        ClickHouseScanDataSource,
                    )

                    before = self.timed.server_s
                    ds = ClickHouseScanDataSource(dict(opts))
                    schema = ds.schema()
                    with tr.span("scan_datasource.plan"):
                        reader = ds.reader(schema)
                        list(reader.pushFilters([]))
                        parts = reader.partitions()
                    for p in parts:
                        for _ in reader.read(p):
                            pass
                    tr.add("server.query_s", self.timed.server_s - before)

                name = f"{'lz4' if comp == 'lz4' else 'plain'}_x{split}"
                out.append(Op(name, run, replay))
        return out


# -- native_write -------------------------------------------------------------


class NativeWrite(Workload):
    name = "native_write"
    sizes = {"rows": (80_000, 8_000), "days": (8, 4)}
    WRITE_OPTS = {"partition_by": "day", "index_bloom": "uid", "index_set": "cat"}

    def setup(self) -> None:
        days = self.size("days")
        self.table = t = datagen.write_table(self.seed, self.size("rows"), days)
        self.src = os.path.join(self.work, "input.parquet")
        pq.write_table(t, self.src)
        r = datagen.rng_for(self.seed, "write-ops")
        self.targets = [datagen.CATS[int(d)] for d in r.permutation(days)]
        self.expect_left = {
            c: t.num_rows - pc.sum(pc.equal(t["cat"], c)).as_py() for c in self.targets
        }

    def start(self) -> None:
        self.df = self.spark.read.parquet(self.src).cache()
        self.df.count()
        self.out = os.path.join(self.work, "out")
        self.mut = os.path.join(self.work, "mutated")
        self.n = 0

    def _rows_on_disk(self, root: str) -> int:
        from duckdb_extension_clickhouse_native_spark.native.writer import stats_sidecar_path

        total = 0
        for p in glob.glob(os.path.join(root, "**", "*.clickhouse"), recursive=True):
            with open(stats_sidecar_path(p)) as f:
                total += int(json.load(f)["rows"])
        return total

    def _mutate(self, src: str, dst: str, cat: str) -> dict:
        from duckdb_extension_clickhouse_native_spark.operators.mutations import mutate_native_dir

        return mutate_native_dir(self.spark, src, dst, delete_where=[("cat", "=", cat)])

    def ops(self) -> list[Op]:
        def run():
            cat = self.targets[self.n % len(self.targets)]
            self.n += 1
            self.df.write.format("clickhouse_native").options(**self.WRITE_OPTS).mode(
                "overwrite"
            ).save(self.out)
            written = self._rows_on_disk(self.out)
            self._mutate(self.out, self.mut, cat)
            ok = written == self.table.num_rows and self._rows_on_disk(self.mut) == self.expect_left[cat]
            return ok, self.table.num_rows

        return [Op("write_mutate", run, self.replay)]

    def replay(self, tr) -> None:
        from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
            ClickHouseNativeWriter,
        )

        dst = os.path.join(self.work, "replay")
        w = ClickHouseNativeWriter(self.df.schema, {"path": dst, **self.WRITE_OPTS}, True)
        batches = self.table.to_batches(max_chunksize=-(-self.table.num_rows // self.cpus))
        msgs = [w.write(iter([b])) for b in batches]
        w.commit(msgs)
        stored = _file_bytes(dst)
        tr.add("writer.files_written", sum(len(m.paths) for m in msgs))
        tr.add("writer.bytes_written", stored)
        tr.add("writer.input_bytes", self.table.nbytes)
        with tr.span("mutations.mutate"):
            res = self._mutate(dst, os.path.join(self.work, "replay_mut"), self.targets[0])
        tr.add("mutations.parts_rewritten", res.get("rewritten_parts", 0))
        tr.add("mutations.parts_linked", res.get("untouched_parts", 0))


# -- native_files -------------------------------------------------------------


class NativeFiles(Workload):
    """Every layer of the Native file source and writer in one pass: the
    full scan, the selective query mix and the write + mutation. One
    workload with long runs is steadier than three short ones."""

    name = "native_files"

    def __init__(self, spark, work: str, seed: int, cpus: int, smoke: bool) -> None:
        super().__init__(spark, work, seed, cpus, smoke)
        self.parts = [
            w(spark, self.work, seed, cpus, smoke) for w in (NativeScan, NativeSelective, NativeWrite)
        ]
        self.scan = self.parts[0]

    def setup(self) -> None:
        for w in self.parts:
            w.setup()

    def start(self) -> None:
        for w in self.parts:
            w.start()

    def ops(self) -> list[Op]:
        return [op for w in self.parts for op in w.ops()]


WORKLOADS = {w.name: w for w in (NativeFiles, RemoteScan)}
