"""The whole training-data pipeline as ONE declarative query:

    quality filter -> exact dedup -> temperature mixture sample
    -> two-phase shard assignment

Each stage is the same logic as its standalone conformance twin
(``text_quality``, ``dedup_exact``, ``sample_mixture_temperature``,
``shard_assignment``), composed in a single WITH chain — so Catalyst
sees the full pipeline and can pipeline map-side stages, prune
columns across stage boundaries, and reuse exchanges. The point:
curation at 100 TB is not a sequence of materialized jobs, it is one
plan whose shuffles (dedup keep-first window, mixture window, two-phase
rank window, shard group-by) are each keyed differently but never
global. Dedup keeps the first doc per text-hash with a window, not a
keep-list self-join — one shuffle instead of two plus a join, and no
re-derivation of the upstream CTEs on the join's second branch.

The ``clean`` relation feeds two consumers (the tiny per-source
aggregate and the ranking window). Catalyst inlines CTEs per
reference, so the Spark path checkpoints ``clean``
(``localCheckpoint(eager=False)``) before fanning out — the expensive
text-feature map stage (split/array_distinct/regexp per doc) runs
once, not once per consumer. That is the production posture at 100 TB too: cut the
pipeline at the cleaned corpus, which is orders of magnitude smaller
than the raw input (three scalar columns, post-filter, post-dedup).
The DuckDB oracle remains the single WITH-chain SQL — same rows.

Cross-engine exactness: the quality score is a rounded composite of
integer features, quotas are exact integer arithmetic, ranks are md5
ordered — every stage inherits its twin's parity rules, so the final
per-shard summary hash-matches DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def clean_corpus_sql(dialect: str, quality_min: float = 0.65) -> str:
    """quality filter -> exact dedup; yields (doc_id, source, n_tok).

    The Spark branch counts tokens and punctuation with length
    arithmetic instead of materializing arrays — ``size(split(text,
    ' '))`` is exactly spaces+1 (Spark split keeps trailing empties),
    and each ``[^a-zA-Z0-9 ]`` match is one character, so the count is
    a length diff through ``regexp_replace``. Only the type-token
    ratio still builds the token array (``array_distinct`` needs it).
    Same integers, one array materialization instead of three — the
    flagship's feature stage is its map-side hot spot at 100 TB. The
    DuckDB oracle keeps the straightforward list forms."""
    if dialect == "spark":
        n_tok0 = "length(text) - length(replace(text, ' ', '')) + 1"
        n_distinct = "size(array_distinct(split(text, ' ')))"
        n_punct = "length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', ''))"
    else:
        n_tok0 = "len(string_split(text, ' '))"
        n_distinct = "len(list_distinct(string_split(text, ' ')))"
        n_punct = "len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))"
    return f"""
    SELECT doc_id, source, n_tok FROM (
      SELECT doc_id, source, n_tok,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rn
      FROM (
        SELECT doc_id, source, text,
               n_tok0 AS n_tok
        FROM (
          SELECT doc_id, source, text,
                 CAST({n_tok0} AS BIGINT) AS n_tok0,
                 CAST({n_distinct} AS BIGINT) AS n_uniq,
                 CAST({n_punct} AS BIGINT) AS n_punct
          FROM documents
        ) f
        WHERE ROUND(
                0.4 * LEAST(CAST(n_tok0 AS DOUBLE) / 100.0, 1.0)
              + 0.3 * (CAST(n_uniq AS DOUBLE) / CAST(n_tok0 AS DOUBLE))
              + 0.3 * (1.0 - LEAST(CAST(n_punct AS DOUBLE) / CAST(n_tok0 AS DOUBLE), 1.0))
              , 8) >= {quality_min}
      ) kept
    ) z WHERE dup_rn = 1
    """


def pipeline_tail_sql(
    dialect: str,
    clean_rel: str = "clean",
    target_pct: int = 60,
    shard_docs: int = 32,
) -> str:
    """mixture sample -> two-phase shard rank -> per-shard summary,
    reading the cleaned corpus from relation ``clean_rel``."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    idiv = "DIV" if dialect == "spark" else "//"
    return f"""
    WITH src_stats AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS src_tok
      FROM {clean_rel} GROUP BY source
    ),
    weights AS (
      SELECT source, n_docs,
             CAST(FLOOR(sqrt(CAST(src_tok AS DOUBLE)) * 1000000) AS BIGINT) AS w
      FROM src_stats
    ),
    totals AS (SELECT SUM(w) AS sum_w, SUM(n_docs) AS n_total FROM weights),
    quotas AS (
      SELECT w.source,
             CAST(LEAST(w.n_docs, GREATEST(CAST(1 AS BIGINT),
               ({target_pct} * t.n_total * w.w) {idiv} (100 * t.sum_w))) AS BIGINT) AS quota
      FROM weights w CROSS JOIN totals t
    ),
    src_ranked AS (
      SELECT doc_id, source, n_tok,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS {s})), doc_id) AS rn
      FROM {clean_rel}
    ),
    sampled AS (
      SELECT r.doc_id, r.n_tok, md5(CAST(r.doc_id AS {s})) AS k
      FROM src_ranked r JOIN quotas q ON r.source = q.source
      WHERE r.rn <= q.quota
    ),
    bucketed AS (SELECT doc_id, n_tok, k, substring(k, 1, 2) AS b FROM sampled),
    local_rank AS (
      SELECT doc_id, n_tok, b,
             ROW_NUMBER() OVER (PARTITION BY b ORDER BY k, doc_id) AS lrn
      FROM bucketed
    ),
    bucket_offsets AS (
      SELECT b, COALESCE(SUM(n) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM (SELECT b, COUNT(*) AS n FROM bucketed GROUP BY b) z
    ),
    ranked AS (
      SELECT l.doc_id, l.n_tok, o.off + l.lrn - 1 AS grank
      FROM local_rank l JOIN bucket_offsets o ON l.b = o.b
    )
    SELECT CAST(grank {idiv} {shard_docs} AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM ranked
    GROUP BY grank {idiv} {shard_docs}
    """


def pipeline_e2e_sql(
    dialect: str,
    quality_min: float = 0.65,
    target_pct: int = 60,
    shard_docs: int = 32,
) -> str:
    """Per-shard summary of the fully curated corpus, as ONE SQL string
    (the DuckDB oracle; also valid Spark SQL)."""
    return (
        f"WITH clean AS ({clean_corpus_sql(dialect, quality_min)})"
        + pipeline_tail_sql(dialect, "clean", target_pct, shard_docs).replace(
            "WITH ", ", ", 1
        )
    )


def pipeline_tail_spark_sql(
    clean_rel: str = "pipeline_clean_corpus",
    target_pct: int = 60,
    shard_docs: int = 32,
) -> str:
    """Stage-fused Spark form of ``pipeline_tail_sql`` — identical
    rows, ~2 fewer exchanges:

    * the per-source stats ride along INSIDE the ranking window
      (COUNT/SUM OVER the same PARTITION BY source spec) instead of a
      separate group-by + re-join, so each row carries its source's
      totals out of the one by-source shuffle;
    * the corpus-wide weight totals aggregate only the rn=1 rows (one
      row per source — never the corpus) and broadcast back, keeping
      the global step O(#sources) exactly as before;
    * the per-bucket counts for the two-phase rank come from a
      group-by that reuses the local-rank window's hash partitioning
      (no extra exchange), and the 256-row offsets relation broadcasts.

    The two-phase shard rank is unchanged — still no single-reducer
    window, the property that matters at 100 TB."""
    return f"""
    WITH src_ranked AS (
      SELECT doc_id, source, n_tok,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_docs,
             SUM(n_tok) OVER (PARTITION BY source) AS src_tok
      FROM {clean_rel}
    ),
    totals AS (
      SELECT SUM(CAST(FLOOR(sqrt(CAST(src_tok AS DOUBLE)) * 1000000) AS BIGINT)) AS sum_w,
             SUM(n_docs) AS n_total
      FROM src_ranked WHERE rn = 1
    ),
    sampled AS (
      SELECT /*+ BROADCAST(t) */ doc_id, n_tok, md5(CAST(doc_id AS STRING)) AS k,
             substring(md5(CAST(doc_id AS STRING)), 1, 2) AS b
      FROM src_ranked CROSS JOIN totals t
      WHERE rn <= LEAST(n_docs, GREATEST(CAST(1 AS BIGINT),
              ({target_pct} * t.n_total *
               CAST(FLOOR(sqrt(CAST(src_tok AS DOUBLE)) * 1000000) AS BIGINT))
              DIV (100 * t.sum_w)))
    ),
    local_rank AS (
      SELECT doc_id, n_tok, b,
             ROW_NUMBER() OVER (PARTITION BY b ORDER BY k, doc_id) AS lrn
      FROM sampled
    ),
    bucket_offsets AS (
      SELECT b, COALESCE(SUM(n) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM (SELECT b, COUNT(*) AS n FROM sampled GROUP BY b) z
    ),
    ranked AS (
      SELECT /*+ BROADCAST(o) */ l.doc_id, l.n_tok, o.off + l.lrn - 1 AS grank
      FROM local_rank l JOIN bucket_offsets o ON l.b = o.b
    )
    SELECT CAST(grank DIV {shard_docs} AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM ranked
    GROUP BY grank DIV {shard_docs}
    """


def pipeline_e2e_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark production path: checkpoint the cleaned corpus before the
    fan-out so the text-feature extraction runs once, and size the
    query's reducers to the input bytes (``data_sized_shuffle``, a
    stat() on the source, no job): AQE never coalesces below core
    count, so a pipeline whose working set is kilobytes would
    otherwise pay ~10 core-wide stages of pure task scheduling. At
    100 TB the same rule sizes up to the deployment's
    ``spark.sql.shuffle.partitions`` and stops there."""
    from ..plans.base import data_sized_shuffle, load_tables

    load_tables(spark, sf_dir, ["documents"])
    data_sized_shuffle(spark, sf_dir, ["documents"])
    clean = spark.sql(clean_corpus_sql("spark"))
    clean.localCheckpoint(eager=False).createOrReplaceTempView("pipeline_clean_corpus")
    return spark.sql(pipeline_tail_spark_sql("pipeline_clean_corpus"))
