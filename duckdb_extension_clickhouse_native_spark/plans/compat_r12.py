"""Round-12 compatibility tranche: ClickHouse engine semantics and
pipeline statistics not yet covered by earlier rounds.

* CollapsingMergeTree / VersionedCollapsingMergeTree final-state
  queries (reference delegates all querying to the host engine —
  these are the table-engine semantics a ClickHouse user expects,
  re-expressed as one grouped aggregation / one window pass).
* ``-Resample`` aggregate combinator (sumResample/countResample).
* ``ORDER BY ... WITH FILL INTERPOLATE`` (the r10 WITH FILL entry
  covers STEP; INTERPOLATE carries an expression forward over filled
  rows).
* uniqTheta-style KMV sketch set operations (union / intersect
  estimates with exact-count columns alongside).
* WITH RECURSIVE (Spark 4.1 supports recursive CTEs natively — depth
  here is bounded by the calendar span, never by data size).
* MAD outlier detection and Benford first-digit chi-square — the
  data-quality screens a training-data pipeline runs per batch.
* Matryoshka (MRL) truncated-embedding retrieval with full-dim recall
  flags.

Determinism follows the base.py rules: integer cents via
FLOOR(value*100), exact integer sums, single IEEE divisions, ROUND()
guards where a handful of double ops must cross engines.
"""

from __future__ import annotations

from .base import REGISTRY

_CENTS = "CAST(FLOOR(value * 100) AS BIGINT)"


def _sql_pair(name, spark_sql, duck_sql, tables, tags, description) -> None:
    REGISTRY.sql_query(
        name,
        spark_sql,
        oracle=duck_sql,
        tables=tables,
        tags=tags,
        description=description,
    )


# --- CollapsingMergeTree final state -----------------------------------------
# ClickHouse CollapsingMergeTree(sign): rows arrive in (+1, -1) pairs;
# the canonical final-state query is GROUP BY key HAVING SUM(sign) > 0
# with every measure summed as measure*sign (docs: table-engines/
# mergetree-family/collapsingmergetree).  Sign is derived
# deterministically from event_type here (interaction rows add state,
# error/signup rows retract it).  One hash aggregation — scales as a
# single shuffle on the key.
_COLLAPSING_SQL = f"""
    WITH state AS (
      SELECT user_id,
             CASE WHEN event_type IN ('click', 'view', 'purchase')
                  THEN 1 ELSE -1 END AS sign,
             {_CENTS} AS cents
      FROM events
    )
    SELECT user_id,
           CAST(SUM(sign) AS BIGINT) AS net_rows,
           CAST(SUM(sign * cents) AS BIGINT) AS net_cents
    FROM state
    GROUP BY user_id
    HAVING SUM(sign) > 0
    ORDER BY user_id
"""

_sql_pair(
    "events_collapsing_merge",
    _COLLAPSING_SQL,
    _COLLAPSING_SQL,
    ["events"],
    ["compat", "merge-engine", "collapsing"],
    "CollapsingMergeTree final state: SUM(sign)/SUM(sign*measure) "
    "GROUP BY key HAVING SUM(sign)>0 (one hash aggregation)",
)

# VersionedCollapsingMergeTree(sign, version): collapse per (key,
# version), then the live row per key is the HIGHEST version whose
# net sign is positive.  Re-expressed as grouped aggregation + an
# aggregated self-join on MAX(version) — the join input is already
# one row per (key, version), tiny relative to the fact table.
_VERSIONED_SQL = f"""
    WITH versioned AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS version,
             CASE WHEN event_type IN ('click', 'view', 'purchase')
                  THEN 1 ELSE -1 END AS sign,
             {_CENTS} AS cents
      FROM events
    ),
    per_version AS (
      SELECT user_id, version,
             SUM(sign) AS net, SUM(sign * cents) AS net_cents
      FROM versioned
      GROUP BY user_id, version
    ),
    live AS (SELECT * FROM per_version WHERE net > 0)
    SELECT l.user_id,
           l.version AS latest_version,
           CAST(l.net AS BIGINT) AS net_rows,
           CAST(l.net_cents AS BIGINT) AS net_cents
    FROM live l
    JOIN (SELECT user_id, MAX(version) AS mv FROM live GROUP BY user_id) m
      ON l.user_id = m.user_id AND l.version = m.mv
    ORDER BY l.user_id
"""

_sql_pair(
    "events_collapsing_versioned",
    _VERSIONED_SQL,
    _VERSIONED_SQL,
    ["events"],
    ["compat", "merge-engine", "collapsing", "versioned"],
    "VersionedCollapsingMergeTree: per-(key,version) sign collapse, "
    "live row = highest positive-net version per key",
)


# --- -Resample combinator -----------------------------------------------------
# ClickHouse sumResample(0, 24, 1)(measure, hour): per group, an array
# of 24 bucketed sums.  Spark side: grouped map_from_entries lookup
# over a literal sequence(0,23) — one aggregation, the 24-slot
# transform is per-output-row.  Oracle builds the grid with DuckDB's
# range() table function + string_agg instead (independent
# formulation).  Arrays serialize to CSV strings (driver canonicalizer
# contract — the collect_sorted_arrays precedent).
_RESAMPLE_SPARK = f"""
    WITH b AS (
      SELECT event_type, HOUR(ts) AS h,
             SUM({_CENTS}) AS s, COUNT(*) AS c
      FROM events
      GROUP BY event_type, HOUR(ts)
    ),
    m AS (
      SELECT event_type,
             map_from_entries(collect_list(struct(h, s))) AS ms,
             map_from_entries(collect_list(struct(h, c))) AS mc
      FROM b GROUP BY event_type
    )
    SELECT event_type,
           concat_ws(',', transform(sequence(0, 23),
             h -> CAST(COALESCE(element_at(ms, h), 0) AS STRING))) AS sum_resample,
           concat_ws(',', transform(sequence(0, 23),
             h -> CAST(COALESCE(element_at(mc, h), 0) AS STRING))) AS count_resample
    FROM m
    ORDER BY event_type
"""
_RESAMPLE_DUCK = f"""
    WITH b AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
             SUM({_CENTS}) AS s, COUNT(*) AS c
      FROM events
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, g.range AS h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN range(0, 24) g
    )
    SELECT g.event_type,
           string_agg(CAST(COALESCE(b.s, 0) AS VARCHAR), ',' ORDER BY g.h) AS sum_resample,
           string_agg(CAST(COALESCE(b.c, 0) AS VARCHAR), ',' ORDER BY g.h) AS count_resample
    FROM grid g
    LEFT JOIN b ON b.event_type = g.event_type AND b.h = g.h
    GROUP BY g.event_type
    ORDER BY g.event_type
"""

_sql_pair(
    "agg_sum_resample",
    _RESAMPLE_SPARK,
    _RESAMPLE_DUCK,
    ["events"],
    ["compat", "aggregate", "combinator", "resample"],
    "sumResample/countResample(0,24,1) by hour-of-day: 24-slot bucket "
    "arrays per group, zero-filled, serialized to CSV (oracle: "
    "independent range() grid + string_agg)",
)


# --- ORDER BY ... WITH FILL INTERPOLATE ---------------------------------------
# ClickHouse `WITH FILL ... INTERPOLATE (v AS v + 7.00)`: each FILLED
# row's v is the previous row's v fed through the expression — an
# arithmetic continuation, not LOCF (events_gap_fill_locf) and not a
# zero fill (events_with_fill_step).  Spark: calendar LEFT JOIN, then
# ONE window pass carrying (last value, last present day) so filled
# rows compute last_v + 700 * days_since.  Oracle: DuckDB ASOF LEFT
# JOIN against the present rows — a structurally independent
# formulation of "previous present row".
_INTERPOLATE_SPARK = f"""
    WITH agg AS (
      SELECT event_type, date_trunc('day', ts) AS d, SUM({_CENTS}) AS cents
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    ext AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM agg),
    cal AS (
      SELECT t.event_type, e.day
      FROM (SELECT DISTINCT event_type FROM agg) t
      CROSS JOIN (SELECT explode(sequence(d0, d1, interval 1 day)) AS day FROM ext) e
    ),
    joined AS (
      SELECT c.event_type, c.day, a.cents
      FROM cal c LEFT JOIN agg a ON a.event_type = c.event_type AND a.d = c.day
    ),
    carried AS (
      SELECT event_type, day, cents,
             last_value(cents, true) OVER w AS last_c,
             last_value(CASE WHEN cents IS NOT NULL THEN day END, true) OVER w AS last_d
      FROM joined
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day AS bucket,
           CAST(COALESCE(cents,
                last_c + 700 * datediff(day, last_d), 0) AS BIGINT) AS cents_filled,
           (cents IS NULL) AS filled
    FROM carried
    ORDER BY event_type, bucket
"""
_INTERPOLATE_DUCK = f"""
    WITH agg AS (
      SELECT event_type, date_trunc('day', ts) AS d, SUM({_CENTS}) AS cents
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    ext AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM agg),
    cal AS (
      SELECT t.event_type, CAST(g.day AS TIMESTAMP) AS day
      FROM (SELECT DISTINCT event_type FROM agg) t
      CROSS JOIN (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM ext
      ) g
    ),
    own AS (
      SELECT c.event_type, c.day, a.cents
      FROM cal c LEFT JOIN agg a ON a.event_type = c.event_type AND a.d = c.day
    )
    SELECT o.event_type, o.day AS bucket,
           CAST(COALESCE(o.cents,
                p.cents + 700 * date_diff('day', p.d, o.day), 0) AS BIGINT) AS cents_filled,
           (o.cents IS NULL) AS filled
    FROM own o
    ASOF LEFT JOIN agg p
      ON p.event_type = o.event_type AND p.d <= o.day
    ORDER BY o.event_type, bucket
"""

_sql_pair(
    "events_with_fill_interpolate",
    _INTERPOLATE_SPARK,
    _INTERPOLATE_DUCK,
    ["events"],
    ["compat", "gap-fill", "interpolate", "window"],
    "WITH FILL INTERPOLATE (v AS v + 7.00/day): filled buckets continue "
    "arithmetically from the previous present row (Spark: one "
    "ignore-nulls window carry; oracle: independent ASOF join)",
)


# --- uniqTheta set operations -------------------------------------------------
# ClickHouse uniqTheta + uniqThetaUnion/Intersect/Not: Theta/KMV
# sketches support set algebra, not just cardinality.  KMV with k=128:
# keep the k smallest distinct hash values; est = (k-1) * M / h_k when
# saturated, the exact distinct count otherwise.  Intersection uses
# theta = min(theta_a, theta_b) and scales the common-hash count by
# M/theta; union re-sketches the merged hash set.  Both engines run
# the IDENTICAL algorithm (the sketch estimate is the contract — the
# exact counts ride along so accuracy is visible); all estimate math
# is exact-integer until one IEEE division.  At scale each sketch is
# a bounded top-k per group — the ORDER BY h is over DISTINCT hashes,
# prunable to per-partition top-k by AQE; k=128 rows survive.
_THETA_K = 128
_THETA_M = 2147483647  # 2^31 - 1 (minstd modulus, prime)
_THETA_SQL = f"""
    WITH a AS (
      SELECT DISTINCT (event_id * 48271) % {_THETA_M} AS h
      FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT DISTINCT (event_id * 48271) % {_THETA_M} AS h
      FROM events WHERE value >= 100
    ),
    sa AS (
      SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r FROM a)
      WHERE r <= {_THETA_K}
    ),
    sb AS (
      SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r FROM b)
      WHERE r <= {_THETA_K}
    ),
    su AS (
      SELECT h FROM (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r
        FROM (SELECT h FROM sa UNION SELECT h FROM sb)
      ) WHERE r <= {_THETA_K}
    ),
    ta AS (SELECT MAX(h) AS kth, COUNT(*) AS n FROM sa),
    tb AS (SELECT MAX(h) AS kth, COUNT(*) AS n FROM sb),
    tu AS (SELECT MAX(h) AS kth, COUNT(*) AS n FROM su),
    thetas AS (
      SELECT
        CASE WHEN ta.n < {_THETA_K} THEN {_THETA_M} ELSE ta.kth END AS theta_a,
        CASE WHEN tb.n < {_THETA_K} THEN {_THETA_M} ELSE tb.kth END AS theta_b,
        ta.n AS na, tb.n AS nb, ta.kth AS ka, tb.kth AS kb,
        tu.n AS nu, tu.kth AS ku
      FROM ta CROSS JOIN tb CROSS JOIN tu
    ),
    common AS (
      SELECT COUNT(*) AS c
      FROM sa JOIN sb ON sa.h = sb.h
      CROSS JOIN thetas t
      WHERE sa.h < LEAST(t.theta_a, t.theta_b)
    )
    SELECT
      CAST(CASE WHEN t.na < {_THETA_K} THEN t.na
           ELSE FLOOR(({_THETA_K} - 1) * CAST({_THETA_M} AS DOUBLE) / t.ka)
           END AS BIGINT) AS est_a,
      CAST(CASE WHEN t.nb < {_THETA_K} THEN t.nb
           ELSE FLOOR(({_THETA_K} - 1) * CAST({_THETA_M} AS DOUBLE) / t.kb)
           END AS BIGINT) AS est_b,
      CAST(CASE WHEN t.nu < {_THETA_K} THEN t.nu
           ELSE FLOOR(({_THETA_K} - 1) * CAST({_THETA_M} AS DOUBLE) / t.ku)
           END AS BIGINT) AS est_union,
      CAST(FLOOR(c.c * CAST({_THETA_M} AS DOUBLE)
                 / LEAST(t.theta_a, t.theta_b)) AS BIGINT) AS est_intersect,
      CAST((SELECT COUNT(DISTINCT event_id) FROM events
            WHERE event_type = 'click') AS BIGINT) AS exact_a,
      CAST((SELECT COUNT(DISTINCT event_id) FROM events
            WHERE value >= 100) AS BIGINT) AS exact_b
    FROM thetas t CROSS JOIN common c
"""

_sql_pair(
    "approx_theta_setops",
    _THETA_SQL,
    _THETA_SQL,
    ["events"],
    ["compat", "approx", "sketch", "theta"],
    "uniqTheta set algebra: KMV(128) sketches of two event sets, "
    "union/intersect cardinality estimates (exact counts alongside); "
    "identical integer-hash algorithm both engines",
)


# --- WITH RECURSIVE -----------------------------------------------------------
# Spark 4.1 executes recursive CTEs natively (UnionLoop).  The
# recursion generates the month spine between the table's min/max
# order date — depth is the CALENDAR span (~84 for TPC-H's 7 years),
# independent of row count, so the iterative driver loop is bounded
# at any data scale.  The monthly rollup joining it is one hash
# aggregation.
#
# r13 (verdict item 2, the sim_topk_pq/kmeans precedent): UnionLoop
# schedules one tiny Spark job PER ITERATION (~80 jobs for the TPC-H
# span — 10.8 s of pure scheduling floor at sf0.1), so the FAMILY NAME
# now runs the single-job `sequence(lo, hi, interval 1 month)` +
# explode spine — same month boundaries, same rollup join, bit-identical
# output, ~0.2 s.  The recursive form stays registered as the `_sql`
# surface-conformance entry (it proves the WITH RECURSIVE surface
# works); both grade against the same recursive-CTE DuckDB oracle.
_RECURSIVE_SQL = """
    WITH RECURSIVE months(m) AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP) FROM orders
      UNION ALL
      SELECT CAST(m + INTERVAL '1' MONTH AS TIMESTAMP) FROM months
      WHERE m < (SELECT CAST(date_trunc('month', MAX(o_orderdate)) AS TIMESTAMP)
                 FROM orders)
    )
    SELECT months.m AS month,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(c.cents, 0) AS BIGINT) AS cents
    FROM months
    LEFT JOIN (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mo,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY date_trunc('month', o_orderdate)
    ) c ON c.mo = months.m
    ORDER BY month
"""

# Same spine, zero iterations: sequence() builds the month array in
# one expression (84 elements — calendar-bounded, never data-bounded),
# explode is a single codegen stage fused with the rollup join.
_SEQUENCE_SPINE_SPARK = """
    WITH bounds AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('month', MAX(o_orderdate)) AS TIMESTAMP) AS hi
      FROM orders
    ),
    months AS (
      SELECT explode(sequence(lo, hi, INTERVAL '1' MONTH)) AS m FROM bounds
    )
    SELECT months.m AS month,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(c.cents, 0) AS BIGINT) AS cents
    FROM months
    LEFT JOIN (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mo,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY date_trunc('month', o_orderdate)
    ) c ON c.mo = months.m
    ORDER BY month
"""

_sql_pair(
    "cte_recursive_calendar",
    _SEQUENCE_SPINE_SPARK,
    _RECURSIVE_SQL,
    ["orders"],
    ["compat", "recursive-cte", "calendar", "scale"],
    "month spine LEFT JOINed to the monthly order rollup (default = "
    "production shape: one sequence()+explode job, no per-iteration "
    "scheduling); oracle stays the WITH RECURSIVE formulation",
)

_sql_pair(
    "cte_recursive_calendar_sql",
    _RECURSIVE_SQL,
    _RECURSIVE_SQL,
    ["orders"],
    ["compat", "recursive-cte", "calendar", "parity"],
    "WITH RECURSIVE month spine (depth = calendar span, not data "
    "size) — surface-conformance parity form: proves Spark's native "
    "recursive-CTE execution (UnionLoop, one job per iteration)",
)


# --- MAD outlier screen ---------------------------------------------------------
# Median-absolute-deviation outlier detection per group — the robust
# data-quality screen (mean/stddev screens break on the outliers they
# hunt).  Doubled values (2*x, 2*median) keep every intermediate
# integer-valued so the cross-engine doubles are exact; the outlier
# predicate |x - med| > 3 * MAD compares exact doubles.  Exact grouped
# medians are the conformance form; a 100 TB deployment swaps
# percentile -> approx_percentile per group (same plan shape).
#
# Oracle form (r16): the CTE-chain spelling stays as the DuckDB
# oracle text while the Spark side runs the window formulation below.
# Both forms drop NULL event_type rows: the join on event_type would
# drop them from the chain but not from the window form.  Catalyst inlines
# every CTE reference, so this chain planned TEN parquet scans and
# 20 exchanges of the same events relation (dev expands x+med twice,
# the final join re-expands everything); measured 0.80 s at sf0.1.
_MAD_ORACLE_FORM = f"""
    WITH x AS (
      SELECT event_type, {_CENTS} AS cents FROM events
      WHERE event_type IS NOT NULL
    ),
    med AS (
      SELECT event_type, percentile(cents, 0.5) AS med
      FROM x GROUP BY event_type
    ),
    dev AS (
      SELECT x.event_type, x.cents,
             ABS(2 * x.cents - CAST(2 * m.med AS BIGINT)) AS dev2
      FROM x JOIN med m ON x.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, percentile(dev2, 0.5) AS mad2
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           MIN(m.med) AS median_cents,
           MIN(a.mad2) / 2 AS mad_cents,
           CAST(SUM(CASE WHEN d.dev2 > 3 * a.mad2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM dev d
    JOIN mad a ON d.event_type = a.event_type
    JOIN med m ON d.event_type = m.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
"""
# Spark production form (r16, §1.2/§2.4): percentile as a window
# aggregate over PARTITION BY event_type — ONE scan, ONE exchange,
# both window sorts share the partitioning, then a partial-agg
# rollup.  med/mad/dev2 are the same expressions on the same rows
# (med and mad are constant per group either way), so every output
# cell is bit-identical to the CTE chain: proven by a collected
# row-for-row comparison and the unchanged oracle hash.  Measured
# 0.80 -> 0.43 s at sf0.1; plan 10 scans/20 exchanges -> 3/8.
_MAD_SPARK = f"""
    WITH x AS (
      SELECT event_type, {_CENTS} AS cents FROM events
      WHERE event_type IS NOT NULL
    ),
    w1 AS (
      SELECT event_type, cents,
             percentile(cents, 0.5) OVER (PARTITION BY event_type) AS med
      FROM x
    ),
    w2 AS (
      SELECT event_type, cents, med,
             ABS(2 * cents - CAST(2 * med AS BIGINT)) AS dev2
      FROM w1
    ),
    w3 AS (
      SELECT event_type, med, dev2,
             percentile(dev2, 0.5) OVER (PARTITION BY event_type) AS mad2
      FROM w2
    )
    SELECT event_type,
           MIN(med) AS median_cents,
           MIN(mad2) / 2 AS mad_cents,
           CAST(SUM(CASE WHEN dev2 > 3 * mad2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM w3
    GROUP BY event_type
    ORDER BY event_type
"""
_MAD_DUCK = _MAD_ORACLE_FORM.replace("percentile(", "quantile_cont(")

_sql_pair(
    "stats_mad_outliers",
    _MAD_SPARK,
    _MAD_DUCK,
    ["events"],
    ["stats", "quality", "outliers", "mad"],
    "median-absolute-deviation outlier screen per group: |x-med| > "
    "3*MAD on exact integer-doubled cents (robust quality gate)",
)


# --- Benford first-digit chi-square ---------------------------------------------
# First-significant-digit distribution vs Benford's law — the classic
# fabricated-data screen.  The first digit comes from the INTEGER
# cents string (integer-to-string is engine-stable; float-to-string
# is not), expected probabilities are hardcoded literals (log10 is a
# libm function — never in an oracle), and the chi-square term is one
# guarded ROUND over products of exact inputs.  The digit spine is a
# VALUES relation so zero-observation digits still emit a row.
_BENFORD_P = [
    (1, "0.3010299956639812"),
    (2, "0.1760912590556813"),
    (3, "0.1249387366082999"),
    (4, "0.0969100130080564"),
    (5, "0.0791812460476248"),
    (6, "0.0669467896306132"),
    (7, "0.0579919469776867"),
    (8, "0.0511525224473813"),
    (9, "0.0457574905606751"),
]
_BENFORD_VALUES = ", ".join(
    # CAST: Spark parses a bare fractional literal as DECIMAL and the
    # decimal arithmetic/ROUND results would leak decimals into the
    # output (driver-canonicalizer trap); DOUBLE literals parse to the
    # identical IEEE value in both engines
    f"({d}, CAST({p} AS DOUBLE))"
    for d, p in _BENFORD_P
)


def _benford_sql(str_type: str) -> str:
    return f"""
    WITH d AS (
      SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                            AS {str_type}), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    tot AS (SELECT SUM(n) AS t FROM obs)
    SELECT s.digit,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n_obs,
           ROUND(CAST(COALESCE(o.n, 0) AS DOUBLE) / tot.t, 9) AS p_obs,
           s.p AS p_benford,
           ROUND((COALESCE(o.n, 0) - tot.t * s.p)
                 * (COALESCE(o.n, 0) - tot.t * s.p)
                 / (tot.t * s.p), 9) AS chi2_term
    FROM (VALUES {_BENFORD_VALUES}) AS s(digit, p)
    LEFT JOIN obs o ON o.digit = s.digit
    CROSS JOIN tot
    ORDER BY s.digit
    """


_sql_pair(
    "stats_benford_digits",
    _benford_sql("STRING"),
    _benford_sql("VARCHAR"),
    ["orders"],
    ["stats", "quality", "benford", "chi-square"],
    "Benford first-digit screen: observed vs hardcoded log10 "
    "literals, per-digit chi-square terms (integer-string digit "
    "extraction; round(9)-guarded division)",
)


# --- Matryoshka (MRL) truncated-embedding retrieval ----------------------------
# Matryoshka-trained embeddings rank well on a prefix of dimensions;
# the retrieval pattern is: search on the cheap 16-dim prefix,
# measure recall against the full-dim exact top-k.  Both rankings use
# the established fixed-point dot (similarity._dot_expr); the recall
# flag is a LEFT JOIN against the full-dim top-10.  At scale the
# 16-dim scan reads a quarter of the vector bytes and the same plan
# shape holds (TakeOrderedAndProject over a map-only score).
def _matryoshka_sql(dialect: str) -> str:
    from ..operators.similarity import cosine_topk_sql

    inner16 = cosine_topk_sql(dialect, dim=16)
    inner64 = cosine_topk_sql(dialect)
    return f"""
    WITH m16 AS ({inner16}),
    f64 AS ({inner64})
    SELECT m16.vec_id, m16.label, m16.cosine AS cosine_16d,
           (f64.vec_id IS NOT NULL) AS in_full_topk
    FROM m16 LEFT JOIN f64 ON m16.vec_id = f64.vec_id
    ORDER BY cosine_16d DESC, m16.vec_id
    """


_sql_pair(
    "sim_matryoshka_topk",
    _matryoshka_sql("spark"),
    _matryoshka_sql("duckdb"),
    ["embeddings"],
    ["similarity", "matryoshka", "ann"],
    "Matryoshka retrieval: cosine top-10 on the 16-dim prefix with "
    "full-64-dim recall flags (prefix scan reads 1/4 of vector bytes)",
)


# --- nonNegativeDerivative + runningAccumulate ---------------------------------
# ClickHouse window-function helpers for counter metrics:
# nonNegativeDerivative(v, ts) is the per-second rate clamped at 0
# (counter resets read as 0, not negative), runningAccumulate is the
# cumulative sum.  One window pass per user (partition-keyed, never a
# global sort); the single division is guarded with ROUND(9).
def _derivative_sql(epoch_us: str) -> str:
    return f"""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    stepped AS (
      SELECT user_id, event_id, ts, cents,
             LAG(cents) OVER w AS prev_c,
             LAG({epoch_us}) OVER w AS prev_us,
             SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS running_cents
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, cents,
           CAST(running_cents AS BIGINT) AS running_cents,
           CASE
             WHEN prev_us IS NULL OR {epoch_us} = prev_us THEN NULL
             ELSE ROUND(
               GREATEST(CAST(0 AS DOUBLE),
                        CAST((cents - prev_c) * 1000000 AS DOUBLE)
                        / ({epoch_us} - prev_us)), 9)
           END AS rate_per_sec
    FROM stepped
    ORDER BY user_id, ts, event_id
    """


_sql_pair(
    "events_nonneg_derivative",
    _derivative_sql("unix_micros(ts)"),
    _derivative_sql("epoch_us(ts)"),
    ["events"],
    ["compat", "window", "timeseries", "derivative"],
    "nonNegativeDerivative + runningAccumulate per user: clamped "
    "per-second counter rate and cumulative sum in one window pass "
    "(partition-keyed; round(9)-guarded division)",
)


# --- sparkbar ------------------------------------------------------------------
# ClickHouse's sparkbar(24)(hour, hits): a unicode bar chart string
# per group, 8 levels scaled by the group's max bucket.  The level
# index is exact integer math (cnt * 7 / max, floor), so both engines
# pick identical glyphs.  Spark builds the 24 slots with the
# map_from_entries + sequence transform; the oracle uses DuckDB's
# range() grid + string_agg — independent formulations.
_BARS = "▁▂▃▄▅▆▇█"
_SPARKBAR_SPARK = f"""
    WITH b AS (
      SELECT event_type, HOUR(ts) AS h, COUNT(*) AS c
      FROM events GROUP BY event_type, HOUR(ts)
    ),
    m AS (
      SELECT event_type,
             map_from_entries(collect_list(struct(h, c))) AS mc,
             MAX(c) AS mx
      FROM b GROUP BY event_type
    )
    SELECT event_type,
           concat_ws('', transform(sequence(0, 23),
             h -> substring('{_BARS}',
                  CAST(1 + FLOOR(COALESCE(element_at(mc, h), 0) * 7 / mx)
                       AS INT), 1))) AS bar,
           CAST(mx AS BIGINT) AS max_hits
    FROM m
    ORDER BY event_type
"""
_SPARKBAR_DUCK = f"""
    WITH b AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (SELECT event_type, MAX(c) AS mx FROM b GROUP BY event_type),
    grid AS (
      SELECT t.event_type, g.range AS h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN range(0, 24) g
    )
    SELECT g.event_type,
           string_agg(
             ARRAY['▁','▂','▃','▄','▅','▆','▇','█']
               [CAST(1 + FLOOR(COALESCE(b.c, 0) * 7 / m.mx) AS INT)],
             '' ORDER BY g.h) AS bar,
           CAST(MAX(m.mx) AS BIGINT) AS max_hits
    FROM grid g
    LEFT JOIN b ON b.event_type = g.event_type AND b.h = g.h
    JOIN m ON m.event_type = g.event_type
    GROUP BY g.event_type
    ORDER BY g.event_type
"""

_sql_pair(
    "agg_sparkbar_hours",
    _SPARKBAR_SPARK,
    _SPARKBAR_DUCK,
    ["events"],
    ["compat", "aggregate", "sparkbar"],
    "sparkbar(24) by hour-of-day per event type: 8-level unicode bar "
    "string, exact integer level math (oracle: independent grid + "
    "string_agg formulation)",
)


# --- two-proportion z-test -------------------------------------------------------
# The A/B-test primitive (ClickHouse: proportionsZTest): users split
# by a deterministic hash into control/treatment, conversion = made a
# purchase.  Pooled z statistic from exact integer counts; sqrt is
# IEEE-exact (correctly rounded, unlike libm log) and the divisions
# are round(9)-guarded.
_PROP_Z_SQL = """
    WITH assign AS (
      -- conversion = the user's purchase share exceeds the uniform
      -- 1/5 baseline (exact integer comparison): SF-invariant, lands
      -- mid-range at every scale where any-purchase would saturate
      SELECT user_id, user_id % 2 AS grp,
             CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) > COUNT(*)
                  THEN 1 ELSE 0 END AS converted
      FROM events
      GROUP BY user_id
    ),
    agg AS (
      SELECT
        SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n0,
        SUM(CASE WHEN grp = 0 THEN converted ELSE 0 END) AS x0,
        SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1,
        SUM(CASE WHEN grp = 1 THEN converted ELSE 0 END) AS x1
      FROM assign
    )
    SELECT CAST(n0 AS BIGINT) AS n_control,
           CAST(x0 AS BIGINT) AS conv_control,
           CAST(n1 AS BIGINT) AS n_treatment,
           CAST(x1 AS BIGINT) AS conv_treatment,
           CASE WHEN n0 > 0
                THEN ROUND(CAST(x0 AS DOUBLE) / n0, 9) END AS p_control,
           CASE WHEN n1 > 0
                THEN ROUND(CAST(x1 AS DOUBLE) / n1, 9) END AS p_treatment,
           -- degenerate designs (an empty arm, 0% or 100% pooled
           -- conversion) have zero pooled variance: NULL, not a crash
           CASE WHEN n0 > 0 AND n1 > 0
                 AND x0 + x1 > 0 AND x0 + x1 < n0 + n1
                THEN ROUND(
                  (CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1)
                  / sqrt(
                      (CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                      * (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                      * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)
                    ), 9)
           END AS z_stat
    FROM agg
"""

_sql_pair(
    "stats_two_proportion_z",
    _PROP_Z_SQL,
    _PROP_Z_SQL,
    ["events"],
    ["stats", "abtest", "ztest"],
    "two-proportion z-test (proportionsZTest): purchase conversion of "
    "hash-split user groups, pooled z from exact integer counts "
    "(IEEE sqrt; round(9)-guarded divisions)",
)


# --- aggregate combinator matrix -------------------------------------------------
# ClickHouse's combinator family in one relation: -Distinct
# (sumDistinct/uniqExact), -If (sumIf/avgIf via CASE, the standard
# re-expression), -OrNull (an If that matched nothing is NULL, SQL's
# native behavior) and -OrDefault (COALESCE over the same).  The avg
# is an explicit exact-integer SUM / COUNT division — one IEEE op,
# never the engine's incremental AVG (implementations differ).
_COMBINATOR_SQL = f"""
    WITH x AS (
      SELECT event_type, user_id, {_CENTS} AS cents FROM events
    )
    SELECT event_type,
           CAST(SUM(DISTINCT cents) AS BIGINT) AS sum_distinct,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniq_users,
           CAST(SUM(CASE WHEN cents > 10000 THEN cents END) AS BIGINT)
             AS sum_if_large,
           CAST(COALESCE(MAX(CASE WHEN cents > 3000000 THEN cents END),
                         -1) AS BIGINT) AS max_if_or_default,
           CAST(SUM(CASE WHEN user_id % 2 = 0 THEN cents ELSE 0 END)
                AS DOUBLE)
             / NULLIF(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END), 0)
             AS avg_if_even
    FROM x
    GROUP BY event_type
    ORDER BY event_type
"""

_sql_pair(
    "agg_combinator_matrix",
    _COMBINATOR_SQL,
    _COMBINATOR_SQL,
    ["events"],
    ["compat", "aggregate", "combinator"],
    "ClickHouse aggregate combinators in one pass: -Distinct "
    "(sumDistinct/uniqExact), -If, -OrNull (unmatched If -> NULL) and "
    "-OrDefault (COALESCE), avg as exact SUM/COUNT division",
)
