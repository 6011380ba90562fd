"""Layered benchmark for the Native file source and the clickhouse_scan client.

    python3 layerbench/run.py --workload native_files --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process starts Spark
local[k] (k = min(2, cores)) and runs one closed-loop client: each
operation starts when the previous one returns. The last line of
stdout is one JSON object with the end-to-end metrics (--trace 0) or
the per-layer metrics (--trace 1). ``--smoke`` shrinks every input so
a workload finishes in seconds.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# end-to-end metrics (--trace 0) and per-layer metrics (--trace 1), with units
E2E = {
    "setup_s": "s",
    "pass_ref_cpu_s": "s",
    "rows_per_ref_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}
# median CPU time of procstats.reference_cpu() on an idle 4-vCPU Xeon VM;
# it sets only the scale of the *_ref_cpu_* metrics
REF_CPU_S = 0.06
LAYER_TIMES = [
    "filesystem.open_s",
    "native_datasource.plan_s",
    "native_datasource.schema_probe_s",
    "native_datasource.read_s",
    "native_datasource.coalesce_s",
    "codec.decode_s",
    "codec.encode_s",
    "marks.open_s",
    "compress.decompress_s",
    "compress.checksum_s",
    "compress.compress_s",
    "tcp_client.connect_s",
    "tcp_protocol.read_packet_s",
    "scan_datasource.probe_s",
    "scan_datasource.plan_s",
    "scan_datasource.align_s",
    "writer.write_s",
    "writer.sidecar_s",
    "writer.commit_s",
    "mutations.mutate_s",
]
# split of each traced operation into Spark actions and driver-side work
PLAN_TIMES = ["plans.build_s", "spark.execute_s"]
LAYER_COUNTS = [
    "filesystem.files_opened",
    "native_datasource.files_listed",
    "native_datasource.files_after_pruning",
    "native_datasource.partitions_planned",
    "native_datasource.batches_yielded",
    "native_datasource.rows_decoded",
    "native_datasource.rows_yielded",
    "codec.blocks_decoded",
    "codec.blocks_skipped",
    "compress.frames",
    "compress.bytes_in",
    "compress.bytes_out",
    "tcp_client.connects",
    "tcp_client.retries",
    "tcp_protocol.bytes_received",
    "writer.files_written",
    "writer.bytes_written",
    "mutations.parts_rewritten",
    "mutations.parts_linked",
    "plans.scan_nodes",
    "plans.exchanges",
    "plans.persists",
    "spark.python_worker_spawns",
]
LAYER = {
    **{m: "s/op" for m in LAYER_TIMES + PLAN_TIMES},
    **{m: "count/op" for m in LAYER_COUNTS},
    "native_datasource.rows_yielded_per_decoded": "ratio",
    "codec.decode_mb_per_s": "MB/s",
    "marks.files_with_marks_ratio": "ratio",
    "tcp_client.pool_reuse_ratio": "ratio",
    "tcp_client.first_block_s": "s",
    "server.query_s": "s/op",
    "writer.stored_bytes_per_input_byte": "ratio",
    "spark.handoff_s": "s/op",
    "trace.overhead_ratio": "ratio",
}
# span names whose duration is reported as <name>_s (self time where noted)
SPAN_OF = {m: m[: -len("_s")] for m in LAYER_TIMES}
# frames are checksummed and decompressed lazily, inside column decode
SELF_TIME = {"scan_datasource.align_s": "scan_datasource.read", "codec.decode_s": "codec.decode"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for self-tests")
    return p.parse_args(argv)


def start_spark(cpus: int, work: str):
    """Spark from the program's own ``get_spark``, with every temporary
    directory inside the benchmark's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # no console progress bar: its polling thread would add CPU time
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from duckdb_extension_clickhouse_native_spark import get_spark

    spark = get_spark(cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from layerbench.handoff import PassThroughDataSource

    spark.dataSource.register(PassThroughDataSource)
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    from layerbench.procstats import tree, wait_gone

    pids = tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for p in wait_gone(pids, 20):
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    wait_gone(pids, 10)


class Runner:
    """Closed-loop measurement of one workload."""

    def __init__(self, ops: list, sampler) -> None:
        self.sampler = sampler
        self.ops = ops
        self.attempted = 0
        self.failed = 0

    def run_op(self, op) -> tuple[float, float, int]:
        """(wall seconds, CPU seconds of the process tree, rows delivered)."""
        c0 = self.sampler.cpu()
        t0 = time.perf_counter()
        try:
            ok, rows = op.run()
        except Exception as e:  # a crash is a failed operation
            print(f"[layerbench] {op.name} failed: {e!r}", file=sys.stderr)
            ok, rows = False, 0
        dt = time.perf_counter() - t0
        cpu = self.sampler.cpu() - c0
        self.attempted += 1
        self.failed += not ok
        return dt, cpu, rows

    def passes(self, seconds: float) -> tuple[list[tuple[str, float, float, int]], list[float]]:
        """Operations in pass order until ``seconds`` have elapsed and at
        least one pass is complete: (name, wall s, CPU s, rows) of each,
        and the reference computation's CPU time before each."""
        from layerbench.procstats import reference_cpu

        out, refs = [], []
        t_start = time.perf_counter()
        while len(out) < len(self.ops) or time.perf_counter() - t_start < seconds:
            op = self.ops[len(out) % len(self.ops)]
            refs.append(reference_cpu())
            out.append((op.name, *self.run_op(op)))
        return out, refs

    def traced_op(self, op, tr, op_id: str) -> tuple[float, float, int]:
        self.sampler.sample()
        before = len(self.sampler.workers)
        with tr.op(op_id, "spark"):
            with tr.span("spark.op"):
                out = self.run_op(op)
            self.sampler.sample()
            tr.add("spark.python_worker_spawns", len(self.sampler.workers) - before)
        return out


def end_to_end(setup_s: float, samples: list, refs: list, peak: int) -> tuple[dict, dict]:
    """Gated metrics from CPU time at the reference host speed; wall-clock
    figures and the raw CPU time are printed alongside."""
    from statistics import median

    from layerbench.procstats import tail

    names = list(dict.fromkeys(s[0] for s in samples))
    # per operation of the pass, its median over the run: wall, CPU, rows
    med = [{n: median(s[i] for s in samples if s[0] == n) for n in names} for i in (1, 2, 3)]
    pass_wall, pass_cpu, rows = (sum(m.values()) for m in med)
    pass_ref_cpu = pass_cpu * REF_CPU_S / median(refs)
    lat = [s[1] for s in samples]
    tail_v, tail_p = tail(lat)
    m = {
        "setup_s": setup_s,
        "pass_ref_cpu_s": pass_ref_cpu,
        "rows_per_ref_cpu_s": rows / pass_ref_cpu,
        "peak_rss_mb": peak / 1e6,
    }
    info = {
        "pass_s": round(pass_wall, 4),
        "rows_per_s": round(rows / pass_wall, 1),
        "op_p50_s": round(median(lat), 4),
        "op_tail_s": round(tail_v, 4),
        "op_tail_percentile": round(tail_p, 4),
        "pass_cpu_s": round(pass_cpu, 4),
        "reference_cpu_s": round(median(refs), 5),
        "op_samples": len(lat),
        "op_latencies_s": [round(x, 4) for x in lat],
        "op_cpu_median_s": {n: round(v, 4) for n, v in med[1].items()},
        "op_cpu_s": [round(s[2], 3) for s in samples],
    }
    return m, info


def layer_metrics(tr, handoff_s: float, overhead: float) -> dict:
    """Per-operation layer numbers from the tracer's spans and counts:
    taken from the in-process replay when the layer ran there, from the
    traced Spark phase otherwise."""
    totals = tr.totals()

    def phase_of(key_exists) -> str | None:
        for ph in ("replay", "spark"):
            if key_exists(ph):
                return ph
        return None

    def span_total(span: str, self_time: bool = False, phase: str | None = None) -> float:
        ph = phase or phase_of(lambda p: (p, span) in totals)
        if (ph, span) not in totals:
            return 0.0
        return totals[(ph, span)]["self_s" if self_time else "s"] / tr.ops[ph]

    def count(name: str) -> float:
        ph = phase_of(lambda p: (p, name) in tr.counts)
        return 0.0 if ph is None else tr.counts[(ph, name)] / tr.ops[ph]

    m = {}
    for name in LAYER_TIMES:
        if name in SELF_TIME:
            m[name] = span_total(SELF_TIME[name], self_time=True)
        else:
            m[name] = span_total(SPAN_OF[name])
    # the Spark phase splits each operation into its actions and the
    # driver-side work around them (building the DataFrame, probes)
    m["spark.execute_s"] = span_total("spark.execute", phase="spark")
    m["plans.build_s"] = span_total("spark.op", phase="spark") - m["spark.execute_s"]
    for name in LAYER_COUNTS:
        m[name] = count(name)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m["native_datasource.rows_yielded_per_decoded"] = ratio(
        count("native_datasource.rows_yielded"), count("native_datasource.rows_decoded")
    )
    m["codec.decode_mb_per_s"] = ratio(
        count("codec.decoded_bytes") / 1e6, m["codec.decode_s"]
    )
    m["marks.files_with_marks_ratio"] = ratio(count("marks.files_with_marks"), count("marks.opens"))
    m["tcp_client.pool_reuse_ratio"] = ratio(
        count("tcp_client.pool_reuses"), count("tcp_client.acquires")
    )
    m["tcp_client.first_block_s"] = ratio(
        count("tcp_client.first_block_s"), count("tcp_client.queries")
    )
    m["server.query_s"] = count("server.query_s")
    m["writer.stored_bytes_per_input_byte"] = ratio(
        count("writer.bytes_written"), count("writer.input_bytes")
    )
    m["spark.handoff_s"] = handoff_s
    m["trace.overhead_ratio"] = overhead
    return m


def measure_handoff(wl, spark, batches_by_part: list) -> float:
    """Median time for Spark to pull the replayed Native batches through
    the pass-through source, with the same aggregate as the scan op."""
    import pyarrow as pa

    from statistics import median

    d = os.path.join(wl.work, "handoff")
    os.makedirs(d, exist_ok=True)
    files = []
    for i, batches in enumerate(batches_by_part):
        if not batches:
            continue
        path = os.path.join(d, f"part-{i}.arrow")
        with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, batches[0].schema) as w:
            for b in batches:
                w.write_batch(b)
        files.append(path)
    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        infer_native_schema,
    )

    schema = infer_native_schema(wl.options())
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        df = spark.read.format("layerbench_passthrough").schema(schema).option(
            "files", json.dumps(files)
        ).load()
        ok = wl.check(wl.query(df))
        times.append(time.perf_counter() - t0)
        if not ok:
            raise RuntimeError("pass-through source returned different rows")
    return median(times)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import duckdb_extension_clickhouse_native_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"layerbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    from layerbench import workloads
    from statistics import median

    from layerbench.procstats import TreeSampler

    cls = workloads.WORKLOADS.get(args.workload)
    if cls is None:
        print(f"layerbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = min(2, os.cpu_count() or 1)
    wdir = os.path.join(WORK, args.workload)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    spark = start_spark(cpus, wdir)
    try:
        session_s = time.perf_counter() - T0
        wl = cls(spark, wdir, args.seed, cpus, args.smoke)
        reps = []
        for _ in range(1 if args.smoke else 3):
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.start()
        start_s = time.perf_counter() - t0
        setup_s = session_s + median(reps) + start_s

        sampler = TreeSampler()
        runner = Runner(wl.ops(), sampler)
        t0 = time.perf_counter()
        for op in runner.ops:  # warm-up: Python workers and each code path
            runner.run_op(op)
        print(
            f"[layerbench] session {session_s:.1f}s, set-up reps "
            f"{' '.join(f'{r:.1f}s' for r in reps)}, start {start_s:.1f}s, "
            f"warm-up {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )

        if args.trace:
            metrics = traced_run(args, wl, spark, runner, sampler)
            units = LAYER
        else:
            sampler.start()
            samples, refs = runner.passes(args.seconds)
            sampler.stop()
            metrics, info = end_to_end(setup_s, samples, refs, sampler.peak)
            units = E2E
            print(f"[layerbench] {args.workload} seed={args.seed} " + json.dumps(info))
            for k, unit in (("pass_s", "s"), ("rows_per_s", "1/s"), ("op_p50_s", "s"), ("op_tail_s", "s")):
                print(f"[layerbench] {k} = {info[k]:.6g} {unit} (wall clock, not gated)")
            print(f"[layerbench] pass_cpu_s = {info['pass_cpu_s']:.6g} s (raw CPU time, not gated)")
        print(
            f"[layerbench] attempted={runner.attempted} failed={runner.failed} "
            f"failed_ratio={runner.failed / max(1, runner.attempted):.4f}"
        )
        for k in units:
            print(f"[layerbench] {k} = {metrics[k]:.6g} {units[k]}")
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        print(
            f"[layerbench] wall {time.perf_counter() - T0:.1f}s, "
            f"stop {time.perf_counter() - t_stop:.1f}s",
            file=sys.stderr,
        )
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


def traced_run(args, wl, spark, runner, sampler) -> dict:
    """Whole passes alternating without and with the layer hooks (their
    latency ratio is the tracing overhead, and alternating keeps JVM
    warm-up from biasing it), then one in-process replay of every
    operation for the layer spans."""
    from layerbench.tracer import Tracer, install_layer_hooks

    tr = Tracer()
    lat: dict[bool, list] = {False: [], True: []}
    n, k = 0, len(runner.ops)
    t0 = time.perf_counter()
    while n < 2 * k or time.perf_counter() - t0 < args.seconds:
        traced = (n // k) % 2 == 1
        if traced and n % k == 0:
            install_layer_hooks(tr)
            _install_plan_hooks(tr)
        op = runner.ops[n % k]
        dt = (runner.traced_op(op, tr, f"{op.name}#{n}") if traced else runner.run_op(op))[0]
        lat[traced].append(dt)
        n += 1
        if traced and n % k == 0:
            tr.unpatch_all()
    install_layer_hooks(tr)
    try:
        batches = []
        for i, op in enumerate(runner.ops):
            with tr.op(f"{op.name}#replay{i}", "replay"):
                out = op.replay(tr)
            if op.name == "full_scan":
                batches = out
    finally:
        tr.unpatch_all()
        from duckdb_extension_clickhouse_native_spark.sources.tcp_client import clear_pool

        clear_pool()
    handoff_s = measure_handoff(wl.scan, spark, batches) if batches else 0.0
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tr.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    return layer_metrics(tr, handoff_s, mean(lat[True]) / mean(lat[False]))


def _install_plan_hooks(tr) -> None:
    """Spark actions: their time, the scan and exchange nodes of the
    executed plan, and persist calls (``track_persist`` makes them)."""
    from pyspark.sql import DataFrameWriter

    try:  # pyspark 4 splits the API class from its classic implementation
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    def plan_nodes(df) -> None:
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        tr.add("plans.scan_nodes", sum("Scan " in ln for ln in lines))
        tr.add("plans.exchanges", sum("Exchange " in ln for ln in lines))

    tr.patch(DataFrame, "collect", "spark.execute", after=lambda out, a, k: plan_nodes(a[0]))
    tr.patch(DataFrameWriter, "save", "spark.execute", after=lambda out, a, k: plan_nodes(a[0]._df))
    tr.patch(DataFrame, "persist", "plans.persist", after=lambda out, a, k: tr.add("plans.persists"))


if __name__ == "__main__":
    sys.exit(main())
