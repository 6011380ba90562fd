#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line to stdout:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "scan_mrows_per_sec": ...,
   "calibration_*_sec": ..., "bimodal": [...], "detail_file": ...,
   "sf": <dir>}
sized to fit the driver's ~2000-char stdout capture (r14 item 7); the
FULL record (dispersion, per-tier maps, mutation components) goes to
$SPARK_GRAFT_BENCH_DETAIL (default bench_detail.json in the repo).

The headline set spans the engine's surfaces: the Native-source scan
(the reference's own benchmark shape — count over ~600k rows at
sf0.1, cf. BASELINE.md's 1M-row count), TPC-H-style joins/aggs,
windows/sessionization, and the pipeline operators (MinHash LSH,
SimHash, ANN top-k).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "native_scan_count_max",   # reference's benchmark query shape
    "native_filter_project",
    "native_compressed_scan",  # LZ4 frames + checksums
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q9_product_profit",
    "agg_global",
    "window_topk_per_group",
    "events_sessionize",
    "asof_join_events_orders",
    "asof_join_window",       # same semantics, pure-window plan (no Python)
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_substring_spans",    # duplicated w-gram spans, one COUNT-OVER pass
    "dedup_connected_components",  # iterative label propagation
    "kmeans_embeddings",           # Lloyd k-means (default = broadcast-numpy fast form, r11)
    "kmeans_embeddings_sql",       # SQL-parity conformance form
    "decontaminate_ngram",
    "bm25_topk",
    "sim_topk_fast",
    "sim_topk_pq",              # PQ-ADC (default = one-pass numpy form, r11)
    "sim_topk_pq_sql",          # SQL-parity conformance form
    "text_quality",
    "skew_salted_agg",
    "pipeline_end_to_end",      # quality->dedup->mixture->shards, one plan
    "rag_pipeline_topk",        # quality->chunk->BM25->cosine->RRF, one plan
]


def _bench_mutation_components(spark, sf_dir: str, runs: int) -> dict:
    """Per-component timing for the two hive-mutation entries: fixture
    access (process-cached), the mutation call against a fresh
    destination, and the scan+aggregate of the mutated tree. The graded
    tier times all three fused; this split shows the mutate-only cost
    (target <= 2 s at sf0.1 — work is proportional to TOUCHED parts,
    untouched directories hard-link)."""
    import shutil
    import tempfile

    from duckdb_extension_clickhouse_native_spark.operators.mutations import (
        apply_ttl,
        mutate_native_dir,
    )
    from duckdb_extension_clickhouse_native_spark.plans.sources import (
        _hive_events_fixture,
    )
    from duckdb_extension_clickhouse_native_spark.sources.native_datasource import (
        infer_native_schema,
    )
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    src = _hive_events_fixture(spark, sf_dir)
    fixture_sec = time.perf_counter() - t0

    def mutate_delete_update(out: str):
        return mutate_native_dir(
            spark,
            src,
            out,
            delete_where=[("event_type", "=", "view"), ("value", "<", 50.0)],
            update_set={"value": "value * 2"},
            update_where=[("event_type", "=", "click")],
        )

    def mutate_ttl(out: str):
        return apply_ttl(
            spark,
            src,
            out,
            ttl_where=[("day", "<=", 19733), ("value", "<", 50.0)],
            group_by=["event_type", "day"],
            set_exprs={
                "value": "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)",
                "event_id": "COUNT(*)",
            },
        )

    out_comp: dict = {}
    for mname, fn in (
        ("mutation_delete_update_hive", mutate_delete_update),
        ("mutation_ttl_rollup_hive", mutate_ttl),
    ):
        mutate_ts: list[float] = []
        scan_ts: list[float] = []
        for i in range(runs + 1):  # first iteration = untimed warm-up
            out = tempfile.mkdtemp(prefix="chsql_bench_mut")
            shutil.rmtree(out)
            t1 = time.perf_counter()
            fn(out)
            t2 = time.perf_counter()
            df = (
                spark.read.format("clickhouse_native")
                .schema(infer_native_schema({"path": out}))
                .load(out)
            )
            df.groupBy("event_type").agg(F.count("*").alias("n")).collect()
            t3 = time.perf_counter()
            if i > 0:
                mutate_ts.append(t2 - t1)
                scan_ts.append(t3 - t2)
            shutil.rmtree(out, ignore_errors=True)
        mutate_ts.sort()
        scan_ts.sort()
        out_comp[mname] = {
            "fixture_cached_sec": round(fixture_sec, 4),
            "mutate_sec_median": round(mutate_ts[len(mutate_ts) // 2], 4),
            "scan_agg_sec_median": round(scan_ts[len(scan_ts) // 2], 4),
            "runs": runs,
        }
    return out_comp


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from duckdb_extension_clickhouse_native_spark import get_spark

    # __spark_entry__ imports EVERY plan module — benching through it
    # keeps this list from silently drifting behind the registry (the
    # compat_r12c KeyError: bench.py's own import list lacked the new
    # tranche modules while r12_names already referenced their entries)
    import __spark_entry__  # noqa: F401
    from duckdb_extension_clickhouse_native_spark.plans.base import REGISTRY

    spark = get_spark(app_name="chsql-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM + python worker pool so per-query numbers measure the
    # queries, not session spin-up
    spark.range(1000).selectExpr("sum(id)").collect()

    # HOST CALIBRATION (r13): a fixed pure-JVM workload — range sum
    # through whole-stage codegen, none of this repo's code — so
    # cross-round comparisons can separate host drift from real
    # regressions (r13 observed the same binaries run 1.4x slower
    # after hours of sustained load; every tier moved together while
    # this calibration moved with them).
    cal_df = spark.range(500_000_000).selectExpr("sum(id) AS s")
    cal_df.collect()  # untimed warmup
    cal_ts: list[float] = []
    for _ in range(5):
        t0 = time.perf_counter()
        cal_df.collect()
        cal_ts.append(time.perf_counter() - t0)
    cal_ts.sort()
    # second axis: python-worker round-trip (32 tasks x identity
    # mapInPandas) — the fixed cost every python-DataSource scan pays;
    # host drift shows here before it shows in pure-JVM codegen
    import pandas as _pd  # noqa: F401

    def _ident(it):
        yield from it

    py_df = spark.range(32_000).repartition(32).mapInPandas(
        _ident, "id long"
    )
    py_df.count()  # untimed warmup
    py_ts: list[float] = []
    for _ in range(5):
        t0 = time.perf_counter()
        py_df.count()
        py_ts.append(time.perf_counter() - t0)
    py_ts.sort()
    # third axis (r14): a fixed SHUFFLE workload — the r14 final bench
    # found join/shuffle-heavy TPC-H rows ~1.25x slower than r13 while
    # codegen and python-roundtrip matched, i.e. the exchange path
    # (serialize + spill files + fetch) drifts independently of the
    # other two axes; future rounds difference against this number
    sh_df = (
        spark.range(20_000_000)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum"})
    )
    sh_df.count()  # untimed warmup
    sh_ts: list[float] = []
    for _ in range(5):
        t0 = time.perf_counter()
        sh_df.count()
        sh_ts.append(time.perf_counter() - t0)
    sh_ts.sort()
    # fourth axis (r15): a fixed TEXT/HASH expression workload — the
    # r15 bench found a text/hash-heavy cohort (rag_pipeline_topk,
    # dedup_simhash, text_quality) drifting ~1.2x while codegen/python/
    # shuffle all said the host was FASTER, i.e. string-expression
    # throughput moves independently of the other three.  A FRESH plan
    # per iteration: re-collecting ONE DataFrame lets AQE reuse its
    # materialized shuffle stages, so the repeat measures stage-reuse
    # overhead, not the 3M sha2+regexp evaluations (measured: 0.048 s
    # reused vs 0.48 s fresh on the r15 host).  The three axes above
    # keep their original same-instance semantics for cross-round
    # comparability — their historical numbers carry the same reuse.
    def _tx_df():
        return spark.range(3_000_000).selectExpr(
            "sum(length(regexp_replace(sha2(cast(id as string), 256), "
            "'[0-9]', ''))) AS t"
        )

    _tx_df().collect()  # untimed warmup (codegen/JIT)
    tx_ts: list[float] = []
    for _ in range(5):
        t0 = time.perf_counter()
        _tx_df().collect()
        tx_ts.append(time.perf_counter() - t0)
    tx_ts.sort()

    # fresh-plan codegen pair, start half (r15): the SAME-INSTANCE
    # cal_df re-collects ride AQE stage reuse, so a start-vs-later
    # comparison of THAT number measures reuse depth, not drift
    # (observed 0.0524 -> 0.0161 within one healthy run).  The drift
    # pair therefore uses a FRESH plan at both measurement points.
    def _fresh_cal():
        return spark.range(500_000_000).selectExpr("sum(id) AS s")

    _fresh_cal().collect()  # warmup
    fc_ts: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        _fresh_cal().collect()
        fc_ts.append(time.perf_counter() - t0)
    fc_ts.sort()
    calibration = {
        "workload": "spark.range(500M).sum codegen",
        "sec_median": round(cal_ts[len(cal_ts) // 2], 4),
        "sec_best": round(cal_ts[0], 4),
        "python_roundtrip_workload": "32-task identity mapInPandas",
        "python_roundtrip_sec_median": round(py_ts[len(py_ts) // 2], 4),
        "shuffle_workload": "range(20M) groupBy(id%100k) sum, 1 exchange",
        "shuffle_sec_median": round(sh_ts[len(sh_ts) // 2], 4),
        "text_workload": "range(3M) sha2+regexp+length sum, fresh plan",
        "text_sec_median": round(tx_ts[len(tx_ts) // 2], 4),
        "codegen_fresh_sec": round(fc_ts[len(fc_ts) // 2], 4),
    }
    print(f"# host calibration: {calibration}", file=sys.stderr)
    # materialize the Native-file fixtures outside the timed region: the
    # reference's benchmark (BASELINE.md) reads a pre-existing file, so
    # fixture *generation* is scaffolding, not the measured scan
    from duckdb_extension_clickhouse_native_spark.plans.sources import (
        native_fixture_dir,
    )

    for table in ("lineitem", "orders", "documents"):
        native_fixture_dir(spark, sf_dir, table)
    # warm the Python DataSource worker pool (driver-side planner +
    # executor workers) with a tiny scan: first-use spin-up is ~3s of
    # process startup that would otherwise be billed to the first
    # native query
    tiny = native_fixture_dir(spark, sf_dir, "documents")
    spark.read.format("clickhouse_native").load(tiny).limit(1).count()

    # median-of-5 with reported dispersion (r9 verdict #2): the host
    # shows up-to-2x external noise with zero in-guest load, so a
    # best-of-2 scalar cannot tell a regression from a noisy run.  Each
    # query reports {min, p25, median, p75, runs}; the scalar per-query
    # number IS the median.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    all_q = REGISTRY.all()
    results: dict[str, float] = {}
    total = 0.0

    # Scan-dominated native benchmark: the reference publishes one number
    # (0.095 s cold count over a 1M-row single-column Native file =
    # 10.5 M rows/s, BASELINE.md). At 1M rows Spark's ~0.35 s fixed
    # planning/launch cost floors the comparison; at 10M rows x 32 files
    # the scan itself dominates, which is the regime that matters at
    # 100 TB (SCALE.md). Fixture build is cached and untimed, like the
    # reference's pre-generated benchmark file.
    import tempfile

    from tools.scale_probe import build_fixture

    scan_rows = 10_000_000
    fixture = build_fixture(
        scan_rows, 32, os.path.join(tempfile.gettempdir(), "chsql_scale_probe")
    )
    # DEFAULT path — packing is on by default since r14 (VERDICT r13
    # item 2): 32 tiny files bin to ~cores/2 partitions
    scan_df = spark.read.format("clickhouse_native").load(fixture)
    # the scan number is the headline baseline comparison and jitters
    # +-30% with machine state at ~0.5 s. The HEADLINE is the MEDIAN
    # (r10 verdict item 2: best-of-N overstated the margin on a noisy
    # host); best/max are reported alongside for dispersion.
    scan_df.count()  # one untimed warmup: JVM/codegen + page cache
    scan_ts: list[float] = []
    for _ in range(max(runs, 3)):
        t0 = time.perf_counter()
        n = scan_df.count()
        scan_ts.append(time.perf_counter() - t0)
    assert n == scan_rows
    scan_ts.sort()
    median_scan = scan_ts[len(scan_ts) // 2]
    results["native_scan_10m_count"] = round(median_scan, 4)
    total += median_scan
    mrps = scan_rows / median_scan / 1e6
    print(
        f"# native_scan_10m_count (default, packed): median "
        f"{median_scan:.3f}s "
        f"({mrps:.1f} M rows/s vs reference 10.5 M rows/s; "
        f"best {scan_ts[0]:.3f}s, "
        f"{scan_df.rdd.getNumPartitions()} partitions)",
        file=sys.stderr,
    )
    # per-file opt-out (max_partition_bytes=0): the pre-r14 default,
    # kept as the comparison series — the DEFAULT series above is the
    # packed plan now (r13 VERDICT item 2 flipped it)
    perfile_df = (
        spark.read.format("clickhouse_native")
        .option("max_partition_bytes", "0")
        .load(fixture)
    )
    perfile_df.count()  # untimed warmup
    perfile_ts: list[float] = []
    for _ in range(max(runs, 3)):
        t0 = time.perf_counter()
        n = perfile_df.count()
        perfile_ts.append(time.perf_counter() - t0)
    assert n == scan_rows
    perfile_ts.sort()
    median_perfile = perfile_ts[len(perfile_ts) // 2]
    results["native_scan_10m_count_perfile"] = round(median_perfile, 4)
    print(
        f"# native_scan_10m_count_perfile (opt-out): median "
        f"{median_perfile:.3f}s "
        f"({scan_rows / median_perfile / 1e6:.1f} M rows/s, "
        f"{perfile_df.rdd.getNumPartitions()} partitions)",
        file=sys.stderr,
    )
    scan_throughput = {
        "rows": scan_rows,
        "files": 32,
        # the headline == median of the DEFAULT plan (packed since r14)
        "count_sec": round(median_scan, 4),
        "count_sec_best": round(scan_ts[0], 4),
        "count_sec_median": round(median_scan, 4),
        "count_sec_max": round(scan_ts[-1], 4),
        "runs": len(scan_ts),
        "mrows_per_sec": round(mrps, 1),
        "mrows_per_sec_best": round(scan_rows / scan_ts[0] / 1e6, 1),
        "default_partitions": scan_df.rdd.getNumPartitions(),
        # pre-r14 one-partition-per-file plan (opt-out series)
        "count_sec_perfile_median": round(median_perfile, 4),
        "mrows_per_sec_perfile": round(scan_rows / median_perfile / 1e6, 1),
        "perfile_partitions": perfile_df.rdd.getNumPartitions(),
        "baseline_mrows_per_sec": 10.5,
    }
    def materialize(df) -> None:
        """Force full evaluation of EVERY output column.

        Timing ``df.count()`` lets Catalyst prune a map-only query body
        down to a zero-column scan + count(1) — for queries like
        ``text_quality`` none of the measured expressions survive the
        prune, so the number measures nothing (VERDICT r8 #1, confirmed
        empirically). The noop DSv2 sink materializes every row with all
        columns evaluated and discards them, which matches how the
        reference's benchmark returns full results.
        """
        df.write.format("noop").mode("overwrite").save()

    dispersion: dict[str, dict] = {}

    def _quantile(sorted_ts: list[float], q: float) -> float:
        # linear interpolation, matching numpy's default
        idx = q * (len(sorted_ts) - 1)
        lo = int(idx)
        hi = min(lo + 1, len(sorted_ts) - 1)
        return sorted_ts[lo] + (sorted_ts[hi] - sorted_ts[lo]) * (idx - lo)

    def _time_batch(q) -> list[float]:
        ts: list[float] = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = q.build(spark, sf_dir)
            materialize(df)
            ts.append(time.perf_counter() - t0)
        ts.sort()
        return ts

    def run_tier(names: list[str]) -> tuple[dict[str, float], float]:
        tier: dict[str, float] = {}
        tier_total = 0.0
        for name in names:
            q = all_q[name]
            # untimed FULL warm-up (materialize, not count: a count
            # warm-up leaves the pruned-away expressions cold and the
            # first timed run pays their compile) + a cheap count for
            # the log line
            warm = q.build(spark, sf_dir)
            materialize(warm)
            n = warm.count()
            ts = _time_batch(q)
            med = _quantile(ts, 0.5)
            p25 = _quantile(ts, 0.25)
            entry = {
                "min": round(ts[0], 4),
                "p25": round(p25, 4),
                "median": round(med, 4),
                "p75": round(_quantile(ts, 0.75), 4),
                "runs": runs,
            }
            # BIMODALITY GUARD (r14 verdict item 6): r14's
            # stats_mean_ztest read as a x4.25 regression because 3 of
            # 5 runs stalled (scheduling/GC) while min/p25 sat at the
            # r13 speed — a median/p25 > 2 row is a stall pattern, not
            # a measurement. Re-run the whole batch once and report the
            # FASTER batch's median, flagging the row so drift
            # adjudication can discount it.
            if runs >= 3 and p25 > 0 and med / p25 > 2:
                ts2 = _time_batch(q)
                med2 = _quantile(ts2, 0.5)
                entry["bimodal"] = True
                entry["median_first"] = round(med, 4)
                entry["median_rerun"] = round(med2, 4)
                if med2 < med:
                    ts, med = ts2, med2
                    entry.update(
                        {
                            "min": round(ts[0], 4),
                            "p25": round(_quantile(ts, 0.25), 4),
                            "median": round(med, 4),
                            "p75": round(_quantile(ts, 0.75), 4),
                        }
                    )
                print(
                    f"# {name}: BIMODAL (median/p25 > 2) — re-ran; "
                    f"first {entry['median_first']:.3f}s, rerun "
                    f"{entry['median_rerun']:.3f}s",
                    file=sys.stderr,
                )
            dispersion[name] = entry
            tier[name] = round(med, 4)
            tier_total += med
            print(
                f"# {name}: median {med:.3f}s "
                f"[p25 {_quantile(ts, 0.25):.3f} p75 {_quantile(ts, 0.75):.3f} "
                f"min {ts[0]:.3f}] ({n} rows)",
                file=sys.stderr,
            )
        return tier, tier_total

    headline, headline_total = run_tier(HEADLINE)
    results.update(headline)
    total += headline_total

    # INTRA-SESSION drift marker (r15): re-measure the FRESH-PLAN
    # codegen workload right after the headline tier — the r14 session
    # saw identical binaries move 22.14 -> 18.51 s hours apart, and
    # r15 saw the same query differ between tiers of ONE run; a
    # start-vs-post-headline pair of the SAME fresh-plan workload
    # makes within-run drift visible instead of inferred (the
    # same-instance cal_df number is NOT used here — its re-collects
    # ride AQE stage reuse and measure reuse depth, not drift)
    def _fresh_cal2():
        return spark.range(500_000_000).selectExpr("sum(id) AS s")

    ph_ts: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        _fresh_cal2().collect()
        ph_ts.append(time.perf_counter() - t0)
    ph_ts.sort()
    calibration["codegen_fresh_sec_postheadline"] = round(
        ph_ts[len(ph_ts) // 2], 4
    )
    print(
        "# fresh-plan codegen post-headline: "
        f"{calibration['codegen_fresh_sec_postheadline']} (start: "
        f"{calibration['codegen_fresh_sec']})",
        file=sys.stderr,
    )

    # second tier: the FULL TPC-H set, so plan regressions on the long
    # tail (q4..q22) are caught by numbers, not just by EXPLAIN diffs.
    # Kept out of the headline "value" so the round-over-round headline
    # comparison stays like-for-like; q1/q3/q5/q6/q9 are re-timed here
    # so the block is self-contained.
    tpch_names = sorted(
        (n for n in all_q if n[0] == "q" and n[1].isdigit()),
        key=lambda n: int("".join(c for c in n[1:3] if c.isdigit())),
    )
    tpch, tpch_total = run_tier(tpch_names)

    # third tier: round-9 operator additions (kept out of the headline
    # so its round-over-round comparison stays like-for-like)
    r9_names = [
        "text_bpe_merge_stats",
        "multimodal_audio_decode",
        "multimodal_audio_features",
        "dedup_substring_spans_twophase",
        "events_sum_map",
        "agg_sum_array_combinator",
        "events_limit_by",
        "docs_left_array_join",
        "dict_get_region",
        "events_topk_values",
        "events_minmax_map",
        "events_running_difference",
        # late-tranche interval analytics + compat
        "events_max_intersections",
        "events_max_intersections_twophase",
        "events_interval_length_sum",
        "events_moving_sum",
        "events_exp_moving_avg",
        "events_lttb_downsample",
        "events_sequence_next_node",
        "events_bounding_ratio",
        "agg_avg_weighted",
        "join_paste_leaderboards",
    ]
    r9_ops, r9_total = run_tier(r9_names)

    # fourth tier: round-10 additions (same rationale — new operators
    # get their own tier so the headline stays comparable)
    r10_names = [
        "native_sql_using_view",
        "scan_remote_arrowstream",
        "scan_remote_parquet",
        "dedup_substring_spans_window",
        "events_max_intersections_window",
        "events_with_fill_step",
        "events_sequence_match_timed",
        "select_except_modifier",
        "text_ngram_distance",
        "array_cumsum_difference",
        "stats_mann_whitney_u",
        "stats_ks_distance",
        "stats_welch_ttest",
        "text_ngram_search",
        "scan_remote_pushdown_filter",
        "stats_simple_linreg",
        "agg_entropy_events",
        "agg_sum_foreach",
        "events_group_bitmap",
        "scalar_url_funcs",
        "tf_numbers_range",
        "native_prewhere_scan",
        "join_any_left",
        "scalar_geo_funcs",
        "docs_array_enumerate_uniq",
        "window_value_functions",
        "scalar_bit_funcs",
        "mutation_delete_update",
        "native_parts_info",
        "native_projection_agg",
        "optimize_table_dedup",
        "native_columns_info",
        "text_multi_search",
        "array_set_functions",
        "scalar_encoding_funcs",
        "scalar_ip_funcs",
        "events_cumulative_uniques",
        "mutation_ttl_rollup",
        "events_window_funnel_strict",
        "stats_student_ttest",
        "scalar_transform_func",
        "stats_cramers_v",
        "stats_roc_auc",
        "stats_spearman_corr",
        "mutation_attach_parts",
        "scalar_vector_funcs",
        "quantile_exact_multi",
        "native_sql_insert_into",
        "scalar_format_datetime",
        "scalar_parse_datetime",
        "scalar_date_arithmetic",
        "multimodal_png_decode",
        "multimodal_gif_decode",
    ]
    r10_ops, r10_total = run_tier(r10_names)

    # fifth tier: round-11 additions (hive maintenance, skip indexes,
    # the same-oracle scale twins and the parity forms left behind by
    # the fast-default promotion, unicode dedup)
    r11_names = [
        "mutation_delete_update_hive",
        "mutation_ttl_rollup_hive",
        "native_bloom_skip_scan",
        "text_ngram_distance_sql",
        "sim_topk_pq_sql",
        "kmeans_embeddings_sql",
        "text_unicode_normalize_dedup",
    ]
    r11_ops, r11_total = run_tier(r11_names)

    # sixth tier: round-12 additions (merge-engine semantics, sketch
    # set-ops, recursive CTE, quality screens, set index, lightweight
    # deletes + trivial count, schema evolution, sort projections)
    r12_names = [
        "events_collapsing_merge",
        "events_collapsing_versioned",
        "agg_sum_resample",
        "events_with_fill_interpolate",
        "approx_theta_setops",
        "cte_recursive_calendar",
        "stats_mad_outliers",
        "stats_benford_digits",
        "sim_matryoshka_topk",
        "native_set_skip_scan",
        "mutation_lightweight_delete",
        "native_trivial_count",
        "mutation_schema_evolution",
        "native_projection_sort",
        "events_nonneg_derivative",
        "agg_sparkbar_hours",
        "stats_two_proportion_z",
        "stream_collapsing_merge",
        "scan_remote_jsonobjects",
        "agg_combinator_matrix",
        # late-session additions: compat tranche 2, binary retrieval,
        # 9th wire format, cluster read, tokenbf, merge(), stream twin
        "events_retention_matrix",
        "stats_theils_u",
        "stats_anova_f",
        "scalar_format_readable",
        "dict_range_lookup",
        "text_readability",
        "sim_topk_binary",
        "sim_binary_recall",
        "scan_remote_values",
        "scan_remote_cluster",
        "native_tokenbf_skip_scan",
        "tf_merge_tables",
        "stream_retention",
        "sim_cascade_topk",
        "select_replace_modifier",
        "select_columns_apply",
        "scan_remote_tskv",
        "stream_scan_remote_cursor",
        "sim_ann_partition_pruned",
        "query_cache_roundtrip",
        "mutation_column_ttl",
        "mutation_materialize_column",
        "scan_cluster_colocated_join",
        "optimize_dedupe_by",
        "backup_restore_roundtrip",
        "catalog_exchange_tables",
        # third compat tranche (r12c): pad/split, agg grab-bag, array
        # fold/membership, meanZTest, quantileTiming, categorical IV,
        # numbers()+LCG
        "scalar_string_pad_split",
        "agg_group_uniq_array",
        "array_fold_has_ops",
        "stats_mean_ztest",
        "quantile_timing_grid",
        "agg_categorical_iv",
        "tf_numbers_lcg",
        # 11th + 12th wire formats (r12c)
        "scan_remote_orc",
        "scan_remote_npy",
        # SAMPLE clause over a sample_by table (r12c)
        "native_sample_clause",
        # fourth compat tranche (r12d): composite-key dict, positional
        # array agg, filtered map sums, determinator quantile, GLOBAL IN
        "dict_complex_key_lookup",
        "agg_group_array_insert_at",
        "agg_summap_filtered",
        "quantile_deterministic",
        "scan_cluster_global_in",
        # 19th stream twin (r12d)
        "stream_quantile_timing",
        # fifth compat tranche (r12e): WITH TIES, concurrency sweep,
        # array rotation/shingles, timeSlots
        "topk_with_ties",
        "events_running_concurrency",
        "array_rotate_shingles",
        "scalar_time_slots",
        # INTO OUTFILE (r12e)
        "native_into_outfile",
        # sixth compat tranche (r12f)
        "window_lag_in_frame",
        "scalar_json_extract_family",
        "array_join_multi",
        # row-level security (r12f)
        "catalog_row_policy",
        # DESCRIBE TABLE introspection (r12f)
        "native_describe_table",
        # hive-preserving OPTIMIZE (r12f)
        "optimize_compact_hive",
        # FREEZE PARTITION (r12f)
        "mutation_freeze_partition",
        # CHECK TABLE + 20th stream twin (r12f)
        "catalog_check_table",
        "stream_time_slots",
        # URL canonicalization dedup (r12f)
        "dedup_url_canonical",
    ]
    r12_ops, r12_total = run_tier(r12_names)

    # seventh tier: round-13 additions (fast-default parity forms are
    # benched in their landing tiers; these are the new type-long-tail
    # scans)
    r13_names = [
        "native_nested_scan",
        "native_int128_scan",
        "native_json_scan",
    ]
    r13_ops, r13_total = run_tier(r13_names)

    # eighth tier: every entry that landed AFTER the r13 definitive
    # bench (r13 verdict item 7: sweep-at-close discipline — no
    # registry entry without a timed row in some BENCH_local tier):
    # the r13 third-tranche url() family + the r14 additions
    r14_names = [
        "tf_url_csv_scan",  # r13 tranche 2 (post-definitive-bench)
        "tf_format_inline",  # r13 tranche 2
        "tf_url_insert_roundtrip",  # r13 tranche 2
        "tf_url_structure_scan",  # r13 tranche 3
        "native_geo_scan",  # r14
        "tf_url_glob_scan",  # r14
        "native_variant_scan",  # r14
        "tf_remote_table",  # r14
        "tf_file_scan",  # r14
        "tf_generate_random",  # r14
        "tf_url_withnames_scan",  # r14
    ]
    r14_ops, r14_total = run_tier(r14_names)

    # ninth tier: round-15 additions (compressed url()/file() reads,
    # the s3() table function, Dynamic-type decode)
    r15_names = [
        "tf_file_compressed_scan",
        "tf_url_compressed_scan",
        "tf_s3_scan",
        "native_dynamic_scan",
        "tf_s3_insert_roundtrip",
        "tf_file_archive_scan",
        "tf_file_union_schema_scan",
        # fourth tranche (agg states, raw-text/JSON formats, generated
        # relations, external stores)
        "native_aggstate_scan",
        "tf_file_lineasstring_scan",
        "tf_file_regexp_scan",
        "tf_file_ndjson_infer_scan",
        "tf_numbers_offset_step",
        "tf_sqlite_scan",
        "tf_deltalake_scan",
        "tf_file_avro_roundtrip",
        "tf_iceberg_scan",
    ]
    r15_ops, r15_total = run_tier(r15_names)

    # hive-mutation component split (r12 verdict item 5): the graded
    # tier numbers above time build(query)+materialize end to end; this
    # section separates fixture access (cached), the mutation call
    # itself against a FRESH destination, and the scan+aggregate over
    # the mutated tree, so the mutate-only cost is visible. Median of
    # `runs` after one untimed warm-up.
    mutation_components = _bench_mutation_components(spark, sf_dir, runs)
    for mname, comp in mutation_components.items():
        print(f"# {mname} components: {comp}", file=sys.stderr)

    # FULL record -> a detail FILE; stdout gets ONE COMPACT line.
    # The driver captures only the last ~2000 chars of stdout
    # (BENCH_r13/r14 recorded "parsed": null with a truncated tail once
    # the single line outgrew that window — r14 verdict item 7), so the
    # machine-readable stdout line must stay small; everything else
    # (dispersion, per-tier maps, mutation components) lives in the
    # detail file this line points at.
    detail = {
        "metric": "headline_suite_total",
        "value": round(total, 4),
        "unit": "sec",
        "timing": (
            f"median-of-{runs} per query with reported "
            "dispersion (r10: host noise up to 2x made best-of-2 "
            "regressions indistinguishable from noise); each run "
            "materializes ALL output columns via the noop DSv2 "
            "sink (r9 methodology fix: df.count() let Catalyst "
            "prune map-only query bodies to a zero-column scan, "
            "so pre-r9 numbers for map-only queries were hollow); "
            "rows with median/p25 > 2 are flagged bimodal and re-run "
            "once, reporting the faster batch (r14 item 6)"
        ),
        "queries": results,
        "dispersion": dispersion,
        "scan_throughput": scan_throughput,
        "tpch_full": tpch,
        "tpch_full_total": round(tpch_total, 4),
        "r9_ops": r9_ops,
        "r9_ops_total": round(r9_total, 4),
        "r10_ops": r10_ops,
        "r10_ops_total": round(r10_total, 4),
        "r11_ops": r11_ops,
        "r11_ops_total": round(r11_total, 4),
        "r12_ops": r12_ops,
        "r12_ops_total": round(r12_total, 4),
        "r13_ops": r13_ops,
        "r13_ops_total": round(r13_total, 4),
        "r14_ops": r14_ops,
        "r14_ops_total": round(r14_total, 4),
        "r15_ops": r15_ops,
        "r15_ops_total": round(r15_total, 4),
        "mutation_components": mutation_components,
        "host_calibration": calibration,
        "sf": sf_dir,
    }
    # cpu-suffixed default (r15 verdict #3): the driver runs the bench
    # at two core counts back to back; an unsuffixed path lost the
    # 32-core detail under the 8-core run's
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(REPO, f"bench_detail_c{cpus}.json"),
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f)
    print(f"# full record written to {detail_path}", file=sys.stderr)
    bimodal_rows = sorted(
        n for n, d in dispersion.items() if d.get("bimodal")
    )
    compact = {
        "metric": "headline_suite_total",
        "value": round(total, 4),
        "unit": "sec",
        "queries": results,
        "scan_mrows_per_sec": scan_throughput["mrows_per_sec"],
        "scan_baseline_mrows_per_sec": scan_throughput[
            "baseline_mrows_per_sec"
        ],
        "calibration_codegen_sec": calibration["sec_median"],
        "calibration_python_sec": calibration[
            "python_roundtrip_sec_median"
        ],
        "calibration_shuffle_sec": calibration["shuffle_sec_median"],
        "calibration_text_sec": calibration["text_sec_median"],
        "bimodal": bimodal_rows,
        "detail_file": os.path.basename(detail_path),
        "sf": sf_dir,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # keep the driver-parseable guarantee even if the headline set
        # grows: drop per-query floats before the metric itself
        compact["queries"] = {"total_only": round(total, 4)}
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
