#!/usr/bin/env python
"""Run the driver's correctness gate locally: every REGISTRY query vs
its DuckDB oracle at the given sf dir (default sf0.01, the driver's
scale). Exit code 1 on any mismatch.

Run: python tools/sweep_oracle.py [sf_dir] [cpus] [name_substr,...]
(optional third arg: comma-separated substrings — only queries whose
name contains one of them are swept; exit code 2 when it matches
none)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    name_filter = sys.argv[3].split(",") if len(sys.argv) > 3 else None

    from duckdb_extension_clickhouse_native_spark import get_spark
    import __spark_entry__  # noqa: F401 - populates REGISTRY
    from duckdb_extension_clickhouse_native_spark.plans.base import REGISTRY
    from oracle_harness import duckdb_connection, compare

    selected = [
        (name, q)
        for name, q in sorted(REGISTRY.all().items())
        if not name_filter or any(s in name for s in name_filter)
    ]
    if not selected:
        print(f"no registry entry matches {sys.argv[3]!r}; nothing swept")
        return 2
    spark = get_spark(app_name="oracle-sweep", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)
    bad = []
    t0 = time.time()
    for name, q in selected:
        try:
            df = q.build(spark, sf_dir)
            if q.oracle is None:
                n = df.count()
                assert n >= 0
                print(f"  {name}: rows-only ok ({n})")
                continue
            ok, msg = compare(df, con, q.oracle)
            print(f"  {name}: {'ok' if ok else 'MISMATCH'}")
            if not ok:
                bad.append((name, msg[:200]))
        except Exception as ex:
            print(f"  {name}: EXC {str(ex)[:120]}")
            bad.append((name, f"EXC {ex}"[:200]))
    print(
        f"swept {len(selected)} of {len(REGISTRY.all())} queries at {sf_dir} "
        f"in {time.time() - t0:.0f}s; {len(bad)} failures"
    )
    for n, m in bad:
        print("FAIL", n, m)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
