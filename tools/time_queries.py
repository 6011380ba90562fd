#!/usr/bin/env python
"""Session A/B timing harness: time named registry queries the way
bench.py does (noop sink, one untimed full warm-up, median of N runs).
Builds materialize intermediates only through localCheckpoint, whose
blocks no later build can reuse, so every timed run is cold.

Each entry prints its times in run order, with the median and the IQR.
One warm-up does not finish warming a session: an entry can keep
speeding up for ~8 more builds, so the run-order list shows a
downward drift that a sorted list would hide. An A/B comparison of two
trees therefore needs >= 10 alternating invocations (A, B, A, B, ...),
each a fresh process, compared by the median over invocations.

Run: python tools/time_queries.py name1,name2,... [runs]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    names = sys.argv[1].split(",")
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from duckdb_extension_clickhouse_native_spark import get_spark
    import __spark_entry__  # noqa: F401 - populates REGISTRY
    from duckdb_extension_clickhouse_native_spark.plans.base import REGISTRY

    spark = get_spark(app_name="time-queries", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    from duckdb_extension_clickhouse_native_spark.plans.sources import (
        native_fixture_dir,
    )

    for table in ("lineitem", "orders", "documents"):
        native_fixture_dir(spark, sf_dir, table)
    tiny = native_fixture_dir(spark, sf_dir, "documents")
    spark.read.format("clickhouse_native").load(tiny).limit(1).count()

    def mat(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    all_q = REGISTRY.all()
    for name in names:
        q = all_q[name]
        spark.sparkContext.setJobDescription(f"timeq:{name}")
        mat(q.build(spark, sf_dir))  # untimed full warm-up
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            mat(q.build(spark, sf_dir))
            ts.append(time.perf_counter() - t0)
        # the width this entry's build scoped (or the session's); the
        # next build restores it
        width = spark.conf.get("spark.sql.shuffle.partitions")
        q1, med, q3 = statistics.quantiles(ts, n=4) if len(ts) > 1 else ts * 3
        print(
            f"{name}: median {med:.3f}s iqr {q3 - q1:.3f} min {min(ts):.3f} "
            f"width {width} runs={[round(t, 3) for t in ts]}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
