"""Self-tests of the benchmark: seeded inputs, smoke runs of every
workload, and metric names against BENCHMARK.json.

    python3 -m pytest layerbench/test_layerbench.py -q
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from layerbench import datagen, run, workloads  # noqa: E402

GENERATORS = {
    "scan": lambda s: datagen.scan_table(s, 5_000),
    "selective": lambda s: datagen.selective_table(s, 8_000, 4),
    "remote": lambda s: datagen.remote_table(s, 5_000),
    "write": lambda s: datagen.write_table(s, 5_000, 4),
}


def _bytes(t: pa.Table) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return sink.getvalue()


@pytest.mark.parametrize("gen", sorted(GENERATORS))
def test_seeded_inputs(gen):
    make = GENERATORS[gen]
    assert _bytes(make(7)) == _bytes(make(7))
    assert _bytes(make(7)) != _bytes(make(8))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.LAYER
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert b["command"] == ["python3", "layerbench/run.py"]


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "layerbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.LAYER if trace else run.E2E
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program():
    # a checkout holding only BENCHMARK.json and the benchmark's files
    bare = os.path.join(HERE, ".work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(
        HERE, os.path.join(bare, "layerbench"),
        ignore=shutil.ignore_patterns(".work", "__pycache__"),
    )
    out = _run(bare, "native_files", 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
