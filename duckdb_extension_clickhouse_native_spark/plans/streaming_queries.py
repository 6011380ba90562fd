"""Streaming conformance — Structured Streaming runs driven to
completion over bounded input, with the FINAL state hash-compared to
batch SQL over the same data (a stronger check than rows-only: the
streaming and batch semantics must agree exactly).

The reference is batch-only (SURVEY.md §2.2 'Streaming: absent');
these entries are the north-star extension, exercised through real
micro-batch execution (file source, memory sink,
``processAllAvailable``), not batch shortcuts.
"""

from __future__ import annotations

import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..sources.native_datasource import read_native
from .base import REGISTRY, SHUFFLE_KEY, scoped_conf, shuffle_width

_SINK_LOCK = threading.Lock()


_LOCK_MAX_AGE_S = 600  # a holder older than this is presumed wedged/recycled


def _lock_pid_alive(lock_path: str) -> bool:
    """True iff the lockfile names a live pid AND is younger than
    ``_LOCK_MAX_AGE_S``. Empty/corrupt content reads as dead: the
    acquire path publishes the pid ATOMICALLY (tmp-write + link), so a
    contentless lockfile can only be debris."""
    import os
    import time

    try:
        st = os.stat(lock_path)
        if time.time() - st.st_mtime > _LOCK_MAX_AGE_S:
            return False
        with open(lock_path) as f:
            pid = int(f.read().strip() or "0")
    except (OSError, ValueError):
        return False
    if not pid:
        return False
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by another user


def _cross_process_lock(work: str):
    """Lockfile guarding the sink fixture across PROCESSES (the
    threading lock only covers this interpreter; parallel pytest or a
    concurrent grading run could otherwise both miss ``_DONE`` and
    drive two StreamingQuery instances into the same checkpoint).
    Returns a context manager.

    Race-free by construction (the r7 review fixes):
    * acquisition writes the pid to a tmp file and publishes it with
      ``os.link`` — atomic create WITH content, so no reader can ever
      observe an empty lockfile and judge a live lock stale;
    * a stale lock (dead pid, or older than ``_LOCK_MAX_AGE_S`` —
      the recycled-pid escape hatch) is taken over via ``os.rename``
      to a per-process name — exactly one contender wins the rename,
      so two waiters can never each unlink-and-recreate and both
      proceed."""
    import contextlib
    import os
    import time

    lock_path = os.path.join(work, "_LOCK")

    @contextlib.contextmanager
    def guard():
        os.makedirs(work, exist_ok=True)
        tmp = f"{lock_path}.{os.getpid()}.tmp"
        while True:
            with open(tmp, "w") as f:
                f.write(str(os.getpid()))
            try:
                os.link(tmp, lock_path)  # atomic publish with content
                os.unlink(tmp)
                break
            except FileExistsError:
                os.unlink(tmp)
                if _lock_pid_alive(lock_path):
                    time.sleep(0.2)
                    continue
                # stale: single-winner takeover via rename
                claimed = f"{lock_path}.stale.{os.getpid()}"
                try:
                    os.rename(lock_path, claimed)
                    os.unlink(claimed)
                except OSError:
                    pass  # another contender won the rename; retry
        try:
            yield
        finally:
            try:
                os.unlink(lock_path)
            except OSError:
                pass

    return guard()


def _prune_stale_sink_dirs(parent: str, keep: str) -> None:
    """Drop older content-stamped sink dirs for the same source — each
    events.parquet rewrite mints a new stamp, and without pruning the
    dead ones accumulate in the system temp dir unboundedly. A sibling
    whose ``_LOCK`` names a LIVE pid is skipped (r7 review fix): a
    concurrent process may still be driving a StreamingQuery against
    its checkpoint there, and rmtree'ing it mid-query corrupts that
    run — it becomes prunable once its holder exits or goes stale."""
    import os
    import shutil

    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for name in entries:
        full = os.path.join(parent, name)
        if not name.startswith("stream-sink-") or full == keep:
            continue
        if _lock_pid_alive(os.path.join(full, "_LOCK")):
            continue
        shutil.rmtree(full, ignore_errors=True)


def _drain(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a stream to completion into a memory sink and return the
    sink's table. Its shuffle width is ``shuffle_width(spark)`` (the
    floor) for the rest of the build: Spark freezes a stateful
    stream's partition count into its checkpoint at first start, one
    state store per partition per operator per micro-batch, before
    any input size is known."""
    spark = stream_df.sparkSession
    scoped_conf(spark, SHUFFLE_KEY, shuffle_width(spark))
    name = f"stream_conf_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import read_events_stream, windowed_counts

    events = read_events_stream(spark, sf_dir)
    # complete mode: every window's final value is emitted, so the
    # result equals the batch group-by exactly
    return _drain(windowed_counts(events), "complete")


REGISTRY.df_query(
    "stream_windowed_counts",
    _stream_windowed_counts,
    oracle="""
    SELECT time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)) AS window_start,
           time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP))
             + INTERVAL 5 MINUTE AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=["streaming", "window", "watermark"],
    description="watermarked tumbling-window stream, final state == batch group-by",
)


def _stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..streaming.events_stream import read_events_stream, running_sessions

    events = read_events_stream(spark, sf_dir)
    updates = _drain(running_sessions(events), "update")
    # update mode emits one state row per user per micro-batch; keep
    # only the FINAL state (session counters are monotone per user)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("session_no"), F.desc("n_events"), F.desc("last_ts")
    )
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "session_no", "n_events", "last_ts")
    )


REGISTRY.df_query(
    "stream_stateful_sessions",
    _stream_stateful_sessions,
    oracle="""
    WITH e AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS t
      FROM events
    ),
    marked AS (
      SELECT user_id, t,
             CASE WHEN lag(t) OVER w IS NULL
                       OR t - lag(t) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t)
    ),
    sessions AS (
      SELECT user_id, t,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    )
    SELECT user_id,
           CAST(MAX(sess) AS BIGINT) AS session_no,
           CAST(COUNT(*) FILTER (
             WHERE sess = (SELECT MAX(s2.sess) FROM sessions s2
                           WHERE s2.user_id = sessions.user_id)
           ) AS BIGINT) AS n_events,
           MAX(t) AS last_ts
    FROM sessions
    GROUP BY user_id
    """,
    tags=["streaming", "stateful", "applyInPandasWithState"],
    description="gap-based session state via applyInPandasWithState, final state == batch sessionization",
)


def _stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_heavy_hitters``: a stateful
    streaming count per user (complete mode — state is one counter per
    key, the streaming-agg analogue of the batch recount stage), then
    the same total-relative threshold applied to the FINAL state. The
    batch path's Misra-Gries candidate pruning is a per-batch memory
    bound; in streaming, the state store itself is the bounded
    structure, so the plain stateful count IS the scale shape (state
    O(distinct users), not O(events))."""
    from pyspark.sql import functions as F

    from ..streaming.events_stream import read_events_stream

    events = read_events_stream(spark, sf_dir)
    counts = _drain(
        events.groupBy("user_id").agg(F.count("*").alias("n_events")),
        "complete",
    )
    total = counts.agg(F.sum("n_events").alias("total_events"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n_events") * 130 >= F.col("total_events"))
        .orderBy("user_id")
        .select("user_id", "n_events")
    )


REGISTRY.df_query(
    "stream_heavy_hitters",
    _stream_heavy_hitters,
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) * 130 >= (SELECT COUNT(*) FROM events)
    ORDER BY user_id
    """,
    tags=["streaming", "stateful", "sketch"],
    description="stateful streaming per-user counts; final state thresholded == "
    "batch heavy hitters exactly",
)


def _stream_replacing_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ReplacingMergeTree/FINAL: latest row per
    (user_id, event_type) by (ts, event_id) version, maintained as a
    stateful streaming max_by aggregate (state = one struct per key —
    exactly the background merge a ClickHouse server would run,
    expressed as streaming state). Final state == the batch
    REPLACING_MERGE_SQL oracle."""
    from pyspark.sql import functions as F

    from ..streaming.events_stream import read_events_stream

    events = read_events_stream(spark, sf_dir)
    latest = _drain(
        events.groupBy("user_id", "event_type").agg(
            F.max_by(
                F.struct(
                    F.col("value").cast("double").alias("latest_value"),
                    F.col("event_id").alias("latest_event_id"),
                ),
                F.struct(F.col("ts"), F.col("event_id")),
            ).alias("s")
        ),
        "complete",
    )
    return latest.select(
        "user_id", "event_type", "s.latest_value", "s.latest_event_id"
    ).orderBy("user_id", "event_type")


REGISTRY.df_query(
    "stream_replacing_merge",
    _stream_replacing_merge,
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type,
           CAST(value AS DOUBLE) AS latest_value,
           event_id AS latest_event_id
    FROM ranked WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    tags=["streaming", "stateful", "merge"],
    description="streaming FINAL: stateful max_by latest-row-per-key, final "
    "state == batch ReplacingMergeTree read exactly",
)


def _stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` over the key columns,
    driven through real micro-batches; the set of emitted keys must
    equal batch DISTINCT exactly (each key appears once, whichever
    micro-batch it first arrived in).

    State note: keyed dedup state here is unbounded (fine for the
    bounded conformance stream); at 100 TB on a real stream use
    ``dropDuplicatesWithinWatermark`` so state evicts with the event-
    time watermark — same plan shape, bounded state."""
    from ..streaming.events_stream import read_events_stream

    events = read_events_stream(spark, sf_dir)
    deduped = events.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _drain(deduped, "append")


REGISTRY.df_query(
    "stream_dedup_keys",
    _stream_dedup_keys,
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=["streaming", "dedup"],
    description="streaming dropDuplicates; emitted key set == batch DISTINCT",
)


def _stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import click_purchase_join, read_events_stream

    events = read_events_stream(spark, sf_dir)
    return _drain(click_purchase_join(events), "append")


REGISTRY.df_query(
    "stream_interval_join",
    _stream_interval_join,
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           p.value AS purchase_value,
           CAST(epoch_us(CAST(p.ts AS TIMESTAMP))
                - epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS gap_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 60 MINUTE
    """,
    tags=["streaming", "join", "watermark"],
    description="watermarked stream-stream interval join (click->purchase attribution) == batch join",
)


def _stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: the same events stream read TWICE
    and unioned (every row a guaranteed duplicate), then
    ``dropDuplicatesWithinWatermark`` on the key — state evicts with
    the event-time watermark instead of growing forever, which is what
    makes streaming dedup viable on an unbounded 100 TB stream (the
    plain ``dropDuplicates`` entry keeps all keys). Each key's first
    arrival is emitted; the emitted key set must equal batch DISTINCT."""
    from ..streaming.events_stream import read_events_stream

    doubled = read_events_stream(spark, sf_dir).unionAll(
        read_events_stream(spark, sf_dir)
    )
    deduped = (
        doubled.withWatermark("ts", "4 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _drain(deduped, "append")


REGISTRY.df_query(
    "stream_dedup_watermarked",
    _stream_dedup_watermarked,
    oracle="SELECT DISTINCT event_id, user_id, event_type FROM events",
    tags=["streaming", "dedup", "watermark"],
    description="dropDuplicatesWithinWatermark over a doubled stream == batch DISTINCT (bounded state)",
)


def _stream_native_sink_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the full ingest loop: events stream -> foreachBatch
    distributed Native writer -> DataSource read-back -> aggregate.
    The aggregate (not the file bytes) is the graded value, so the
    check spans the stream reader, the sink, the codec and the scan.

    The sink output lives under the content-stamped fixture cache (the
    ``_materialize_fixture`` keying from ``plans/sources.py``), not a
    temp dir — so the returned aggregate stays a LAZY plan over the
    sink files instead of a driver-side ``collect()`` round-trip, and
    repeat runs skip the stream replay. A run interrupted before the
    ``_DONE`` marker resumes from the streaming checkpoint (the sink
    is exactly-once per batch), so a partial cache is self-healing."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..streaming.events_stream import read_events_stream, write_stream_native

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    st = os.stat(src)
    work = os.path.join(
        tempfile.gettempdir(),
        "chsql_native_fixtures",
        hashlib.md5(src.encode()).hexdigest()[:10],
        f"stream-sink-{int(st.st_mtime)}-{st.st_size}",
    )
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    done = os.path.join(work, "_DONE")
    with _SINK_LOCK:
        if not os.path.exists(done):
            _prune_stale_sink_dirs(os.path.dirname(work), keep=work)
            with _cross_process_lock(work):
                # re-check under the lock: another process may have
                # finished the sink while this one waited
                if not os.path.exists(done):
                    events = read_events_stream(spark, sf_dir)
                    q = write_stream_native(
                        events.select("event_id", "user_id", "event_type", "value"),
                        out,
                        ckpt,
                    )
                    try:
                        q.processAllAvailable()
                    finally:
                        q.stop()
                    with open(done, "w") as f:
                        f.write("")
    back = read_native(spark, os.path.join(out, "batch-*"))
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


REGISTRY.df_query(
    "stream_native_sink_agg",
    _stream_native_sink_agg,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=["streaming", "sink", "native"],
    description="stream -> Native-format sink -> read-back aggregate == batch group-by",
)


def _stream_partitioned_sink_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest loop with a HIVE-PARTITIONED sink: events stream ->
    foreachBatch partitioned Native writer (partition_by=event_type)
    -> per-batch hive discovery + partition-pruned read-back ->
    aggregate over a partition-column filter. Grades the r7 write-side
    fan-out and read-side directory pruning under streaming
    exactly-once semantics; fixture-cache/locking as in
    ``_stream_native_sink_agg``."""
    import glob as globmod
    import hashlib
    import os
    import tempfile

    from functools import reduce

    from pyspark.sql import functions as F

    from ..streaming.events_stream import read_events_stream, write_stream_native

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    st = os.stat(src)
    work = os.path.join(
        tempfile.gettempdir(),
        "chsql_native_fixtures",
        hashlib.md5(src.encode()).hexdigest()[:10],
        f"stream-psink-{int(st.st_mtime)}-{st.st_size}",
    )
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    done = os.path.join(work, "_DONE")
    with _SINK_LOCK:
        if not os.path.exists(done):
            _prune_stale_sink_dirs(os.path.dirname(work), keep=work)
            with _cross_process_lock(work):
                if not os.path.exists(done):
                    events = read_events_stream(spark, sf_dir)
                    q = write_stream_native(
                        events.select("event_id", "user_id", "event_type", "value"),
                        out,
                        ckpt,
                        partition_by="event_type",
                    )
                    try:
                        q.processAllAvailable()
                    finally:
                        q.stop()
                    with open(done, "w") as f:
                        f.write("")
    batch_dirs = sorted(globmod.glob(os.path.join(out, "batch-*")))
    if not batch_dirs:
        # a stale _DONE marker with pruned output (or an empty source)
        # would otherwise surface as a bare reduce() TypeError far from
        # the cause
        raise RuntimeError(
            f"stream sink at {out} committed zero batch directories; "
            "remove the _DONE marker to re-run the stream"
        )
    parts = [read_native(spark, d) for d in batch_dirs]
    back = reduce(lambda a, b: a.unionByName(b), parts)
    return (
        back.filter(F.col("event_type").isin("click", "purchase", "signup"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "stream_partitioned_sink_agg",
    _stream_partitioned_sink_agg,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE event_type IN ('click', 'purchase', 'signup')
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["streaming", "sink", "native", "hive", "partition"],
    description="stream -> hive-partitioned Native sink -> pruned read-back == batch filter+group-by",
)


def register() -> None:
    """Import side effect — queries registered above."""


def _stream_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel levels == batch window_funnel_sql: the stream
    replays events in row (= event-time) order across 4 micro-batches,
    the stateful operator advances the greedy DP per user, and the
    final level per user (updates are monotone, so MAX over the update
    log) must hash-match the batch oracle exactly."""
    from ..streaming.events_stream import read_events_stream_parts, running_funnel

    from pyspark.sql import functions as F

    events = read_events_stream_parts(spark, sf_dir)
    updates = _drain(running_funnel(events), "update")
    return (
        updates.groupBy("user_id")
        .agg(F.max("funnel_level").cast("int").alias("funnel_level"))
        .orderBy("user_id")
    )


REGISTRY.df_query(
    "stream_window_funnel",
    _stream_window_funnel,
    oracle=__import__(
        "duckdb_extension_clickhouse_native_spark.operators.funnel",
        fromlist=["window_funnel_sql"],
    ).window_funnel_sql("duckdb"),
    tags=["streaming", "funnel", "applyInPandasWithState"],
    description=(
        "stateful streaming funnel: per-user greedy chain-start DP across "
        "micro-batches; final levels == batch windowFunnel exactly"
    ),
)


def _stream_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection — the LSH index-maintenance shape a
    100 TB ingest pipeline runs: documents arrive in micro-batches,
    every doc's MinHash band keys are computed STATELESSLY per row
    (``minhash_row_band_exprs`` — array HOFs, no explode/groupBy, the
    signature math is bit-identical to the batch ``minhash_lsh_sql``),
    and a custom stateful operator keyed by (band_idx, band_key) keeps
    each bucket's doc-id list as state, emitting a candidate pair the
    moment the later document arrives. State per bucket = its occupancy
    (LSH-uniform md5 keys — the same boundedness argument as the batch
    band join); on a real stream the operator would add a TTL eviction,
    same code path.

    The emitted pair SET is arrival-order independent (every co-bucket
    pair is emitted exactly when its later member lands), so the final
    result equals batch LSH exactly. Multi-band duplicates and exact
    token-Jaccard verification are a batch post-pass on the drained
    output (candidates x static corpus join) — verification needs the
    token arrays, which live in the static table, not the stream.
    Graded against the batch ``minhash_lsh_sql('duckdb')`` oracle —
    the strongest form of the streaming==batch claim."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import SPARK as SPARK_D
    from ..operators.dedup import (
        MINHASH_DEFAULT_THRESHOLD,
        minhash_row_band_exprs,
        minhash_verify_pairs_sql,
    )
    from ..streaming.events_stream import read_documents_stream
    from .base import load_tables

    docs = read_documents_stream(spark, sf_dir)
    s1, s2, s3 = minhash_row_band_exprs()
    banded = docs.selectExpr(*s1).selectExpr(*s2).selectExpr(*s3)
    band_rows = banded.select(
        "doc_id",
        F.posexplode(F.array(*[f"band{b}" for b in range(4)])).alias(
            "band_idx", "band_key"
        ),
    )

    def bucket_pairs(key, pdf_iter, state: GroupState):
        existing = list(state.get[0]) if state.exists else []
        seen = set(existing)
        new_docs = []
        for pdf in pdf_iter:
            for d in pdf["doc_id"].tolist():
                if d not in seen:
                    seen.add(d)
                    new_docs.append(d)
        out_a, out_b = [], []
        for i, d in enumerate(new_docs):
            for e in existing + new_docs[:i]:
                a, b = (e, d) if e < d else (d, e)
                out_a.append(a)
                out_b.append(b)
        state.update((existing + new_docs,))
        if out_a:
            yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b})

    cands = band_rows.groupBy("band_idx", "band_key").applyInPandasWithState(
        bucket_pairs,
        outputStructType="doc_a bigint, doc_b bigint",
        stateStructType="docs array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = _drain(cands, "append")
    # batch post-pass: dedup multi-band pairs, then the SAME verify tail
    # as the batch path (shared minhash_verify_pairs_sql + shared
    # threshold default — one Jaccard formula, no drift). The shingled
    # relation feeds both join sides, so checkpoint it exactly as
    # minhash_lsh_query checkpoints mh_shingled (Catalyst inlines CTEs —
    # without this the corpus tokenize+distinct runs twice).
    load_tables(spark, sf_dir, ["documents"])
    drained.createOrReplaceTempView("stream_mh_cands")
    d = SPARK_D
    shingled = spark.sql(
        f"SELECT doc_id, {d['distinct'].format(arr=d['tokens'].format(col='text'))} AS toks_d "
        "FROM documents"
    )
    shingled.localCheckpoint(eager=False).createOrReplaceTempView("stream_mh_shingled")
    return spark.sql(
        "WITH candidates AS (SELECT DISTINCT doc_a, doc_b FROM stream_mh_cands),"
        + minhash_verify_pairs_sql(
            d, "candidates", "stream_mh_shingled", MINHASH_DEFAULT_THRESHOLD
        ).lstrip()
    )


REGISTRY.df_query(
    "stream_minhash_candidates",
    _stream_minhash_candidates,
    oracle=__import__(
        "duckdb_extension_clickhouse_native_spark.operators.dedup",
        fromlist=["minhash_lsh_sql"],
    ).minhash_lsh_sql("duckdb"),
    tags=["streaming", "dedup", "lsh", "applyInPandasWithState"],
    description=(
        "streaming LSH index maintenance: per-row HOF MinHash bands, stateful "
        "band-bucket pair emission across micro-batches, batch-verified; "
        "result == batch minhash_lsh_sql exactly"
    ),
)


def _stream_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming interval-union index == batch intervalLengthSum: each
    user's state is their MERGED island list (sorted starts/ends
    arrays); every micro-batch folds its new closed-open intervals in
    and emits a (seen, covered_us, n_islands) snapshot.  Interval
    union is a SET operation, so the final state is arrival-order
    independent — the snapshot with the max ``seen`` counter per user
    must hash-match the batch gaps-and-islands oracle exactly.

    100 TB posture: state per user is the disjoint-island list
    (bounded by interval count, typically far smaller after merging);
    a production deploy would add watermark-driven finalization of
    closed islands — same code path, smaller state."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.events_stream import read_events_stream_parts

    events = read_events_stream_parts(spark, sf_dir)
    iv = events.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * 100).cast("long") * 1_000_000
        ).alias("e"),
    )

    def merge_islands(key, pdf_iter, state: GroupState):
        if state.exists:
            starts, ends, seen = (
                list(state.get[0]),
                list(state.get[1]),
                int(state.get[2]),
            )
            islands = list(zip(starts, ends))
        else:
            islands, seen = [], 0
        new = []
        for pdf in pdf_iter:
            new.extend(zip(pdf["s"].tolist(), pdf["e"].tolist()))
        if new:
            merged: list = []
            for s, e in sorted(islands + new):
                # s <= prev max e merges (touching endpoints merge) —
                # the batch template's `s > prev_max_e` island rule
                if merged and s <= merged[-1][1]:
                    if e > merged[-1][1]:
                        merged[-1] = (merged[-1][0], e)
                else:
                    merged.append((s, e))
            islands = merged
            seen += len(new)
        state.update(
            ([s for s, _ in islands], [e for _, e in islands], seen)
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "seen": [seen],
                "covered_us": [sum(e - s for s, e in islands)],
                "n_islands": [len(islands)],
            }
        )

    upd = iv.groupBy("user_id").applyInPandasWithState(
        merge_islands,
        outputStructType=(
            "user_id bigint, seen bigint, covered_us bigint, n_islands bigint"
        ),
        stateStructType=(
            "starts array<bigint>, ends array<bigint>, seen bigint"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = _drain(upd, "append")
    return (
        drained.groupBy("user_id")
        .agg(F.max(F.struct("seen", "covered_us", "n_islands")).alias("m"))
        .select(
            "user_id",
            F.col("m.covered_us").alias("covered_us"),
            F.col("m.n_islands").alias("n_islands"),
        )
        .orderBy("user_id")
    )


REGISTRY.df_query(
    "stream_interval_union",
    _stream_interval_union,
    oracle=__import__(
        "duckdb_extension_clickhouse_native_spark.plans.timeseries",
        fromlist=["_INTERVAL_LENGTH_SUM_TEMPLATE", "_IV_DUCK"],
    )._INTERVAL_LENGTH_SUM_TEMPLATE.format(
        IV=__import__(
            "duckdb_extension_clickhouse_native_spark.plans.timeseries",
            fromlist=["_IV_DUCK"],
        )._IV_DUCK
    ),
    tags=["streaming", "interval", "applyInPandasWithState"],
    description=(
        "streaming interval-union index: per-user merged-island state "
        "across micro-batches; final covered length == batch "
        "intervalLengthSum exactly (set semantics, order independent)"
    ),
)


def _stream_exp_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming online-feature computation == batch
    events_exp_moving_avg: each user's state is their last 15
    (ts, event_id, cents) taps; every arriving event emits its exact
    dyadic EMA numerator/denominator pair.  Rows within a micro-batch
    are sorted by the same verified-unique (ts, event_id) key the
    batch window orders by; across batches the file stream replays in
    row order (ascending part mtimes) — the in-order ingest the
    stateful funnel documents.  Must hash-match the 16-tap LAG-window
    batch oracle exactly."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.events_stream import read_events_stream_parts

    taps = 16
    events = read_events_stream_parts(spark, sf_dir)
    iv = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tu"),
        F.floor(F.col("value") * 100).cast("long").alias("vc"),
    )

    def ema(key, pdf_iter, state: GroupState):
        hist = (
            [tuple(r) for r in zip(*state.get)] if state.exists else []
        )  # [(tu, event_id, vc)] oldest..newest, len <= taps-1
        rows = []
        for pdf in pdf_iter:
            rows.extend(
                zip(pdf["tu"].tolist(), pdf["event_id"].tolist(), pdf["vc"].tolist())
            )
        rows.sort(key=lambda r: (r[0], r[1]))
        out_e, out_n, out_d = [], [], []
        for tu, eid, vc in rows:
            window = (hist + [(tu, eid, vc)])[-taps:]
            num = den = 0
            for j, (_t, _e, v) in enumerate(reversed(window)):
                w = 1 << (taps - 1 - j)
                num += v * w
                den += w
            out_e.append(eid)
            out_n.append(num)
            out_d.append(den)
            hist = (hist + [(tu, eid, vc)])[-(taps - 1):]
        state.update(
            (
                [r[0] for r in hist],
                [r[1] for r in hist],
                [r[2] for r in hist],
            )
        )
        if out_e:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_e),
                    "event_id": out_e,
                    "ema_num": out_n,
                    "ema_den": out_d,
                }
            )

    upd = iv.groupBy("user_id").applyInPandasWithState(
        ema,
        outputStructType=(
            "user_id bigint, event_id bigint, ema_num bigint, ema_den bigint"
        ),
        stateStructType=(
            "tus array<bigint>, eids array<bigint>, vcs array<bigint>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(upd, "append").orderBy("user_id", "event_id")


REGISTRY.df_query(
    "stream_exp_moving_avg",
    _stream_exp_moving_avg,
    oracle=__import__(
        "duckdb_extension_clickhouse_native_spark.plans.timeseries",
        fromlist=["_EMA_SQL"],
    )._EMA_SQL,
    tags=["streaming", "ema", "applyInPandasWithState"],
    description=(
        "streaming online EMA features: last-15-tap state per user, exact "
        "dyadic num/den per event across micro-batches; == batch 16-tap "
        "LAG window exactly"
    ),
)


def _stream_limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LIMIT 3 BY user == batch ``events_limit_by``: each
    user's state is how many rows it has already admitted; an arriving
    event is emitted iff fewer than 3 came before it.  Rows within a
    micro-batch are sorted by the verified-unique (ts, event_id) key
    the batch window orders by; across batches the file stream replays
    in row order (ascending part mtimes) — the in-order ingest the
    stateful funnel/EMA twins document.  Must hash-match the batch
    ranked-window form exactly."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.events_stream import read_events_stream_parts

    events = read_events_stream_parts(spark, sf_dir)
    iv = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tu"),
    )

    def first_n(key, pdf_iter, state: GroupState):
        taken = state.get[0] if state.exists else 0
        rows = []
        for pdf in pdf_iter:
            rows.extend(
                zip(
                    pdf["tu"].tolist(),
                    pdf["event_id"].tolist(),
                    pdf["event_type"].tolist(),
                )
            )
        rows.sort(key=lambda r: (r[0], r[1]))
        out_e, out_t = [], []
        for _tu, eid, etype in rows:
            if taken < 3:
                out_e.append(eid)
                out_t.append(etype)
                taken += 1
            else:
                break
        state.update((taken,))
        if out_e:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_e),
                    "event_id": out_e,
                    "event_type": out_t,
                }
            )

    upd = iv.groupBy("user_id").applyInPandasWithState(
        first_n,
        outputStructType="user_id bigint, event_id bigint, event_type string",
        stateStructType="taken int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain(upd, "append").orderBy("user_id", "event_id")


REGISTRY.df_query(
    "stream_limit_by",
    _stream_limit_by,
    oracle=__import__(
        "duckdb_extension_clickhouse_native_spark.plans.advanced",
        fromlist=["LIMIT_BY_ORACLE_SQL"],
    ).LIMIT_BY_ORACLE_SQL,
    tags=["streaming", "limit-by", "applyInPandasWithState"],
    description=(
        "streaming LIMIT 3 BY user: per-user admitted-count state across "
        "micro-batches; == the batch ranked-window form exactly"
    ),
)


def _stream_sequence_match_timed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequenceMatch('(?1)(?t<=600)(?2)') == batch
    ``events_sequence_match_timed``: each user's state is its recent
    'click' timestamps (pruned to the 10-minute horizon as event time
    advances — bounded state); each arriving 'purchase' counts the
    retained clicks it pairs with.  Emissions are per-batch DELTAS
    (pairs found, tightest gap in this batch) so the downstream batch
    aggregation — SUM of pairs, MIN of gaps, COUNT DISTINCT matched
    users — recovers the exact global summary.  In-order ingest per
    the file-stream mtime contract the other stateful twins document."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming.events_stream import read_events_stream_parts

    horizon_us = 600 * 1_000_000
    events = read_events_stream_parts(spark, sf_dir)
    iv = events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tu"),
    )

    def matcher(key, pdf_iter, state: GroupState):
        clicks = list(state.get[0]) if state.exists else []
        rows = []
        for pdf in pdf_iter:
            rows.extend(
                zip(
                    pdf["tu"].tolist(),
                    pdf["event_id"].tolist(),
                    pdf["event_type"].tolist(),
                )
            )
        rows.sort(key=lambda r: (r[0], r[1]))
        pairs = 0
        min_gap = None
        for tu, _eid, etype in rows:
            if etype == "click":
                clicks.append(tu)
            else:  # purchase
                # strict b.ts > a.ts and b.ts <= a.ts + 10 min
                for ctu in clicks:
                    gap = tu - ctu
                    if 0 < gap <= horizon_us:
                        pairs += 1
                        if min_gap is None or gap < min_gap:
                            min_gap = gap
            # prune clicks that can never match future events (event
            # time ascends within and across batches)
            clicks = [c for c in clicks if tu - c <= horizon_us]
        state.update((clicks,))
        if pairs:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "pairs": [pairs],
                    "min_gap_us": [min_gap],
                }
            )

    upd = iv.groupBy("user_id").applyInPandasWithState(
        matcher,
        outputStructType="user_id bigint, pairs bigint, min_gap_us bigint",
        stateStructType="clicks array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    deltas = _drain(upd, "append")
    return deltas.agg(
        F.countDistinct("user_id").cast("long").alias("users_matched"),
        F.sum("pairs").cast("long").alias("pairs"),
        F.min("min_gap_us").cast("long").alias("min_gap_us"),
    )


REGISTRY.df_query(
    "stream_sequence_match_timed",
    _stream_sequence_match_timed,
    oracle=__import__(
        "duckdb_extension_clickhouse_native_spark.plans.timeseries",
        fromlist=["SEQ_MATCH_TIMED_ORACLE_SQL"],
    ).SEQ_MATCH_TIMED_ORACLE_SQL,
    tags=["streaming", "sequence", "applyInPandasWithState"],
    description=(
        "streaming sequenceMatch with time condition: per-user pruned "
        "click-horizon state, per-batch pair deltas aggregated to the "
        "exact batch summary (users/pairs/tightest gap)"
    ),
)


def _stream_group_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_group_bitmap``: the state store holds
    one counter per distinct (user_id, event_type) pair — the streaming
    analogue of a per-type user bitmap, O(users x 3 types) state however
    many events flow through. Streaming aggregation cannot express
    COUNT(DISTINCT ...), so distinctness IS the state key; membership
    cardinalities are computed from the FINAL drained state and must
    equal the batch set algebra exactly."""
    from pyspark.sql import functions as F

    from ..streaming.events_stream import read_events_stream

    events = read_events_stream(spark, sf_dir)
    pairs = _drain(
        events.filter(
            F.col("event_type").isin("view", "click", "purchase")
        ).groupBy("user_id", "event_type").count(),
        "complete",
    )
    k = pairs.groupBy("user_id").agg(F.count("*").alias("k"))
    return k.agg(
        F.sum(F.when(F.col("k") == 3, 1).otherwise(0)).alias("and_card"),
        F.sum(F.when(F.col("k") >= 1, 1).otherwise(0)).alias("or_card"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).alias("exactly_one_card"),
    )


REGISTRY.df_query(
    "stream_group_bitmap",
    _stream_group_bitmap,
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
         INTERSECT
         SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
        AS and_card,
      (SELECT COUNT(DISTINCT user_id) FROM events
        WHERE event_type IN ('view','click','purchase')) AS or_card,
      (SELECT COUNT(*) FROM (
         SELECT user_id
         FROM (SELECT DISTINCT user_id, event_type FROM events
                WHERE event_type IN ('view','click','purchase'))
         GROUP BY user_id HAVING COUNT(*) = 1)) AS exactly_one_card
    """,
    tags=["streaming", "stateful", "setop"],
    description="stateful distinct-membership stream: final "
    "(user,type)-pair state thresholded == batch groupBitmapAnd/Or "
    "set algebra exactly",
)


def _stream_projection_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse materialized-view / AggregatingMergeTree analogue:
    insert-time PARTIAL aggregation. Each events micro-batch computes
    mergeable states (count / decimal sum / max) per event_type in
    foreachBatch and appends them as its own Native batch directory
    (deterministic batchId + overwrite = exactly-once, the
    write_stream_native contract); the graded value is the read-time
    MERGE of the stored states — the same partial/merge split
    operators/projections.py materializes for static directories, here
    maintained incrementally by the stream. Equal to the batch GROUP
    BY oracle over the whole table."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..streaming.events_stream import read_events_stream

    src = os.path.abspath(f"{sf_dir}/events.parquet")
    st = os.stat(src)
    work = os.path.join(
        tempfile.gettempdir(),
        "chsql_native_fixtures",
        hashlib.md5(src.encode()).hexdigest()[:10],
        f"stream-mv-{int(st.st_mtime)}-{st.st_size}",
    )
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    done = os.path.join(work, "_DONE")
    with _SINK_LOCK:
        if not os.path.exists(done):
            _prune_stale_sink_dirs(os.path.dirname(work), keep=work)
            with _cross_process_lock(work):
                if not os.path.exists(done):
                    events = read_events_stream(spark, sf_dir)

                    def _mv_batch(batch_df, batch_id: int) -> None:
                        states = batch_df.groupBy("event_type").agg(
                            F.count(F.lit(1)).alias("cnt__rows"),
                            F.sum(
                                F.col("value").cast("decimal(18,4)")
                            ).alias("sum__value"),
                            F.max("user_id").alias("max__user_id"),
                        )
                        states.write.format("clickhouse_native").mode(
                            "overwrite"
                        ).save(os.path.join(out, f"batch-{batch_id:05d}"))

                    q = (
                        events.writeStream.foreachBatch(_mv_batch)
                        .option("checkpointLocation", ckpt)
                        .trigger(availableNow=True)
                        .start()
                    )
                    try:
                        q.awaitTermination()
                    finally:
                        q.stop()
                    with open(done, "w") as f:
                        f.write("")
    mv = read_native(spark, os.path.join(out, "batch-*"))
    return mv.groupBy("event_type").agg(
        F.sum("cnt__rows").alias("n"),
        F.sum("sum__value").cast("double").alias("total_value"),
        F.max("max__user_id").alias("max_user"),
    )


REGISTRY.df_query(
    "stream_projection_mv",
    _stream_projection_mv,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           MAX(user_id) AS max_user
    FROM events
    GROUP BY event_type
    """,
    tags=["streaming", "projection", "materialized-view"],
    description="insert-time materialized view: per-micro-batch partial "
    "aggregate states appended as Native parts, merged at read == batch "
    "GROUP BY (the AggregatingMergeTree MV pattern)",
)


def _stream_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_cumulative_uniques``
    (runningAccumulate(uniqState) by day): the state store carries one
    MIN(first-seen day) per user — O(users) state regardless of event
    volume — plus a per-day presence aggregation from a second pass
    over the same source; the cumulative distinct-user curve derived
    from the FINAL drained state must equal the batch form exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..streaming.events_stream import read_events_stream

    firsts = _drain(
        read_events_stream(spark, sf_dir)
        .select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day")),
        "complete",
    )
    days = _drain(
        read_events_stream(spark, sf_dir)
        .select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .count(),
        "complete",
    ).select("day")
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    joined = days.join(daily, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    ).orderBy("day")


REGISTRY.df_query(
    "stream_cumulative_uniques",
    _stream_cumulative_uniques,
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM d)
    SELECT day,
           (SELECT COUNT(DISTINCT user_id) FROM d WHERE d.day <= days.day)
         - (SELECT COUNT(DISTINCT user_id) FROM d WHERE d.day < days.day)
             AS new_users,
           (SELECT COUNT(DISTINCT user_id) FROM d WHERE d.day <= days.day)
             AS cum_users
    FROM days
    ORDER BY day
    """,
    tags=["streaming", "stateful", "cumulative"],
    description="stateful first-seen-day stream state (O(users)) -> "
    "per-day new users + cumulative distinct curve == batch "
    "runningAccumulate(uniqState) exactly",
)


def _stream_collapsing_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CollapsingMergeTree: the (sign, measure*sign) running
    sums per key maintained as streaming state — exactly the collapse
    a ClickHouse background merge performs, with the HAVING SUM(sign)>0
    final-state filter applied on the drained result.  Final state ==
    the batch events_collapsing_merge oracle."""
    from pyspark.sql import functions as F

    from ..streaming.events_stream import read_events_stream

    events = read_events_stream(spark, sf_dir)
    signed = events.select(
        "user_id",
        F.when(
            F.col("event_type").isin("click", "view", "purchase"), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("sign"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    net = _drain(
        signed.groupBy("user_id").agg(
            F.sum("sign").alias("net_rows"),
            F.sum(F.col("sign") * F.col("cents")).alias("net_cents"),
        ),
        "complete",
    )
    return (
        net.filter(F.col("net_rows") > 0)
        .select(
            "user_id",
            F.col("net_rows").cast("bigint").alias("net_rows"),
            F.col("net_cents").cast("bigint").alias("net_cents"),
        )
        .orderBy("user_id")
    )


# same oracle as the batch entry (compat_r12._COLLAPSING_SQL): the
# streaming twin must agree with the batch collapse bit-for-bit
from .compat_r12 import _COLLAPSING_SQL as _COLLAPSING_ORACLE  # noqa: E402

REGISTRY.df_query(
    "stream_collapsing_merge",
    _stream_collapsing_merge,
    oracle=_COLLAPSING_ORACLE,
    tags=["streaming", "stateful", "merge", "collapsing"],
    description="streaming CollapsingMergeTree: stateful sign/measure "
    "running sums per key, HAVING net>0 on the final state == batch "
    "collapse exactly (shared oracle)",
)


def _stream_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming retention(): the per-user condition flags maintained
    as streaming MAX-aggregation state (four booleans per user — the
    smallest retention state possible), then the r_i = cond1 AND
    cond_i products summed over the drained per-user state.  Final
    curve == the batch events_retention_matrix oracle exactly."""
    from pyspark.sql import functions as F

    from ..streaming.events_stream import read_events_stream

    events = read_events_stream(spark, sf_dir)
    flags = events.select(
        "user_id",
        F.when(F.col("event_type") == "signup", 1).otherwise(0).alias("c1"),
        F.when(
            F.col("event_type").isin("click", "view")
            & F.hour("ts").between(0, 7),
            1,
        )
        .otherwise(0)
        .alias("c2"),
        F.when(
            F.col("event_type").isin("click", "view")
            & F.hour("ts").between(8, 15),
            1,
        )
        .otherwise(0)
        .alias("c3"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("c4"),
    )
    per_user = _drain(
        flags.groupBy("user_id").agg(
            F.max("c1").alias("c1"),
            F.max("c2").alias("c2"),
            F.max("c3").alias("c3"),
            F.max("c4").alias("c4"),
        ),
        "complete",
    )
    return per_user.agg(
        F.sum("c1").cast("bigint").alias("r1"),
        F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("r2"),
        F.sum(F.col("c1") * F.col("c3")).cast("bigint").alias("r3"),
        F.sum(F.col("c1") * F.col("c4")).cast("bigint").alias("r4"),
        F.count("*").alias("n_users"),
    )


# same oracle as the batch entry: the streaming twin must agree with
# the batch retention curve bit-for-bit
from .compat_r12b import _RETENTION_SPARK as _RETENTION_ORACLE  # noqa: E402

REGISTRY.df_query(
    "stream_retention",
    _stream_retention,
    oracle=_RETENTION_ORACLE,
    tags=["streaming", "stateful", "retention", "funnel"],
    description="streaming retention(): per-user condition-flag MAX "
    "state, r_i = cond1 AND cond_i summed on the final state == batch "
    "retention curve exactly (shared oracle) — 18th streaming twin",
)


def _stream_scan_remote_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor-based incremental replication of a REMOTE table (the
    ClickHouse ingestion pattern: poll max(cursor), fetch the new
    window): readStream over clickhouse_scan with cursor_column =
    event_id, drained to completion and aggregated — result == the
    batch oracle over the same events exactly."""
    from pyspark.sql import functions as F

    from .base import ensure_session
    from ..sources.mock_server import mock_clickhouse_url

    ensure_session(spark)
    url = mock_clickhouse_url(sf_dir)
    # parallel window fetch (r16, §2): split each integer-cursor
    # micro-batch window into parallelism/8 disjoint sub-ranges so the
    # fetch+decode runs concurrently instead of through one task (the
    # union of the sub-windows is exactly the committed range — same
    # rows); scales with the session, floor 2
    n_fetch = max(2, spark.sparkContext.defaultParallelism // 8)
    sdf = (
        spark.readStream.format("clickhouse_scan")
        .option(
            "query",
            "SELECT event_id, user_id, event_type, "
            "CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events",
        )
        .option("url", url)
        .option("cursor_column", "event_id")
        .option("fetch_partitions", str(n_fetch))
        .load()
    )
    drained = _drain(sdf, "append")
    return (
        drained.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


REGISTRY.df_query(
    "stream_scan_remote_cursor",
    _stream_scan_remote_cursor,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=["streaming", "source", "scan", "cursor", "incremental"],
    description="cursor-based incremental remote ingestion: readStream "
    "over clickhouse_scan (offsets = cursor values, max(cursor) probe "
    "per micro-batch), drained == batch aggregation exactly",
)


def _stream_quantile_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """19th stream twin: quantileTiming as a STREAMING aggregate. The
    timing grid bounds the state (< 3000 distinct cells by
    construction — exactly why ClickHouse's quantileTiming sketch is
    streamable), so the stream maintains grid-cell counts in complete
    mode and the quantile extraction is a tiny batch finalize over the
    drained sketch, mirroring how an AggregateFunction state
    finalizes. Result == quantile_timing_grid's batch plan."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..streaming.events_stream import read_events_stream

    events = read_events_stream(spark, sf_dir)
    ms = F.floor(F.col("value") * 37).cast("bigint") % 40000
    grid_cell = (
        F.when(ms < 1024, ms)
        .when(ms <= 30000, F.floor(ms / 16).cast("bigint") * 16)
        .otherwise(F.lit(30000).cast("bigint"))
    )
    counts = _drain(
        events.withColumn("t", grid_cell).groupBy("t").count(), "complete"
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy(F.lit(1))
    cum = counts.select(
        "t",
        F.sum("count").over(w_cum).alias("cum"),
        F.sum("count").over(w_all).alias("n"),
    )
    return cum.agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(0.5 * F.col("n")), F.col("t"))
        ).alias("p50"),
        F.min(
            F.when(F.col("cum") >= F.ceil(0.9 * F.col("n")), F.col("t"))
        ).alias("p90"),
        F.min(
            F.when(F.col("cum") >= F.ceil(0.99 * F.col("n")), F.col("t"))
        ).alias("p99"),
        F.min("n").cast("bigint").alias("n_rows"),
    )


REGISTRY.df_query(
    "stream_quantile_timing",
    _stream_quantile_timing,
    oracle="""
    WITH ms AS (
      SELECT CAST(FLOOR(value * 37) AS BIGINT) % 40000 AS ms
      FROM events
    ),
    g AS (
      SELECT CASE
               WHEN ms < 1024 THEN ms
               WHEN ms <= 30000 THEN CAST(FLOOR(ms / 16) * 16 AS BIGINT)
               ELSE CAST(30000 AS BIGINT)
             END AS t
      FROM ms
    ),
    c AS (SELECT t, COUNT(*) AS cnt FROM g GROUP BY t),
    cum AS (
      SELECT t,
             SUM(cnt) OVER (ORDER BY t) AS cum,
             SUM(cnt) OVER () AS n
      FROM c
    )
    SELECT MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN t END) AS p50,
           MIN(CASE WHEN cum >= CEIL(0.9 * n) THEN t END) AS p90,
           MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN t END) AS p99,
           CAST(MIN(n) AS BIGINT) AS n_rows
    FROM cum
    """,
    tags=["streaming", "quantile", "sketch"],
    description="quantileTiming as a streaming aggregate: bounded-grid "
    "cell counts maintained in complete mode, sketch finalized batch-"
    "side; == the quantile_timing_grid batch oracle (19th stream twin)",
)


def _stream_time_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20th stream twin: timeSlots as a streaming aggregate — each
    purchase span explodes into its 300 s slot grid map-side and the
    per-slot counts stream in complete mode (a bounded-domain
    aggregate, like the quantileTiming grid); the drained sketch
    finalizes to the batch entry's scalar fingerprints."""
    from pyspark.sql import functions as F

    from ..streaming.events_stream import read_events_stream

    events = read_events_stream(spark, sf_dir)
    b = F.unix_timestamp(F.col("ts")).cast("bigint")
    dur = 1 + F.floor(F.col("value") * 100).cast("bigint") % 900
    slots = (
        events.filter("event_type = 'purchase'")
        .withColumn(
            "slot",
            F.explode(
                F.sequence(
                    (F.floor(b / 300) * 300).cast("bigint"),
                    b + dur,
                    F.lit(300).cast("bigint"),
                )
            ),
        )
        .groupBy("slot")
        .count()
    )
    counts = _drain(slots, "complete")
    return counts.agg(
        F.sum("count").alias("n_slot_rows"),
        F.count("*").alias("n_distinct_slots"),
        F.min("slot").alias("min_slot"),
        F.max("slot").alias("max_slot"),
    )


REGISTRY.df_query(
    "stream_time_slots",
    _stream_time_slots,
    oracle="""
    WITH iv AS (
      SELECT event_id,
             CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS b,
             1 + CAST(FLOOR(value * 100) AS BIGINT) % 900 AS dur
      FROM events
      WHERE event_type = 'purchase'
    ),
    slots AS (
      SELECT event_id, unnest(generate_series(
               CAST(FLOOR(b / 300) * 300 AS BIGINT),
               b + dur,
               300
             )) AS slot
      FROM iv
    )
    SELECT COUNT(*) AS n_slot_rows,
           COUNT(DISTINCT slot) AS n_distinct_slots,
           MIN(slot) AS min_slot,
           MAX(slot) AS max_slot
    FROM slots
    """,
    tags=["streaming", "datetime", "sketch"],
    description="timeSlots as a streaming aggregate: map-side slot "
    "explosion + complete-mode per-slot counts (bounded domain), "
    "finalized batch-side == the scalar_time_slots oracle (20th "
    "stream twin)",
)
