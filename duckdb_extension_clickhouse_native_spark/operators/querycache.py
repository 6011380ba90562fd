"""Query result cache — the ClickHouse ``use_query_cache`` analogue
(docs: operations/query-cache).

ClickHouse's query cache is TTL-VALID, not invalidation-based: an
entry created by one execution serves identical queries for
``query_cache_ttl`` seconds (default 60) and then expires — the
documented trade is bounded staleness for zero invalidation machinery.
This module reproduces those semantics Spark-first:

* the cache KEY is the md5 of the query's CANONICALIZED optimized plan
  (Catalyst's canonical form normalizes expression ids and alias
  cosmetics, so two textually different but semantically identical
  DataFrames share an entry — strictly better than ClickHouse's
  AST-hash key, same spirit);
* the cache VALUE is the materialized result written ONCE as a Native
  file (the engine's own storage format — a cache hit is an ordinary
  ``clickhouse_native`` scan, partition-parallel like any other);
* entries carry ``{created_at, ttl, row_count, schema}`` metadata;
  a hit within TTL NEVER re-reads the source (ClickHouse semantics:
  source mutations inside the TTL window are intentionally invisible);
  expiry or schema drift falls through to a fresh execution that
  atomically replaces the entry.

Scale note: results intended for caching are by nature small
(dashboards, repeated aggregates). The write is one task per result
partition; the driver only touches metadata. Entries self-clean on
read (an expired entry found by any lookup is removed), and
``purge_query_cache`` clears a directory wholesale.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time
from typing import Callable, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from ..sources.native_datasource import read_native

DEFAULT_TTL = 60.0  # seconds — ClickHouse query_cache_ttl default


def _default_cache_dir() -> str:
    return os.path.join(tempfile.gettempdir(), "chsql_query_cache")


def plan_cache_key(df: DataFrame) -> str:
    """md5 of the canonicalized OPTIMIZED plan + the output column
    names (canonicalization erases aliases, and two plans differing
    only in output names must not share a served result: an as-of
    join's forward right side ``next_order_ts`` and backward
    ``last_order_ts`` canonicalize identically)."""
    # optimizedPlan, not analyzed: Catalyst normalizes filter/project
    # order there, so `filter().select()` and `select().filter()` key
    # identically (the analyzed plan still tells them apart)
    canon = df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    names = ",".join(df.columns)
    return hashlib.md5((canon + "\n" + names).encode()).hexdigest()


def cached_query(
    spark: SparkSession,
    df: DataFrame,
    *,
    ttl: float = DEFAULT_TTL,
    cache_dir: Optional[str] = None,
    now_fn: Callable[[], float] = time.time,
) -> Tuple[DataFrame, bool]:
    """Serve ``df``'s result from the query cache when a fresh entry
    exists; otherwise execute it once, store the result, and serve the
    stored copy.  Returns ``(result_df, was_hit)``.

    The returned DataFrame always reads the CACHED Native file (on a
    miss too): the caller observes identical plans for hot and cold
    calls, and the execute-then-serve shape makes the result exactly
    as stale as its ``created_at``, never a mix."""
    base = cache_dir or _default_cache_dir()
    key = plan_cache_key(df)
    entry = os.path.join(base, key)
    meta_path = os.path.join(entry, "meta.json")
    data_dir = os.path.join(entry, "data")

    now = now_fn()
    if os.path.exists(meta_path):
        try:
            meta = json.load(open(meta_path))
            fresh = now - float(meta["created_at"]) < float(meta["ttl"])
            same_schema = meta.get("schema") == df.schema.json()
        except (OSError, ValueError, KeyError):
            fresh, same_schema = False, False
        if fresh and same_schema:
            return _serve(spark, data_dir, df), True
        shutil.rmtree(entry, ignore_errors=True)  # self-clean on expiry

    # miss: execute once, stage atomically, publish
    os.makedirs(base, exist_ok=True)
    stage = entry + f".stage-{os.getpid()}-{int(now * 1e6)}"
    (
        df.write.format("clickhouse_native")
        .mode("overwrite")
        .save(os.path.join(stage, "data"))
    )
    meta = {
        "created_at": now,
        "ttl": float(ttl),
        "schema": df.schema.json(),
        "columns": df.columns,
    }
    with open(os.path.join(stage, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(entry, ignore_errors=True)
    try:
        os.rename(stage, entry)
    except OSError:
        # a concurrent miss published first — serve theirs, drop ours
        shutil.rmtree(stage, ignore_errors=True)
    return _serve(spark, data_dir, df), False


def _serve(spark: SparkSession, data_dir: str, df: DataFrame) -> DataFrame:
    out = read_native(spark, data_dir)
    # Native files carry nullable columns; re-assert the original
    # column ORDER (the writer preserves it, select is a no-op guard)
    return out.select(*df.columns)


def query_cache_entries(cache_dir: Optional[str] = None) -> list[dict]:
    """``system.query_cache`` analogue: one row per live entry."""
    base = cache_dir or _default_cache_dir()
    if not os.path.isdir(base):
        return []
    out = []
    for key in sorted(os.listdir(base)):
        meta_path = os.path.join(base, key, "meta.json")
        try:
            meta = json.load(open(meta_path))
        except (OSError, ValueError):
            continue
        out.append(
            {
                "key": key,
                "created_at": float(meta.get("created_at", 0)),
                "ttl": float(meta.get("ttl", 0)),
                "columns": meta.get("columns", []),
            }
        )
    return out


def purge_query_cache(cache_dir: Optional[str] = None) -> int:
    """Drop every entry (``SYSTEM DROP QUERY CACHE``); returns the
    number removed."""
    base = cache_dir or _default_cache_dir()
    if not os.path.isdir(base):
        return 0
    n = 0
    for key in os.listdir(base):
        p = os.path.join(base, key)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
            n += 1
    return n
