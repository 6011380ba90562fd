"""ClickHouse mutation analogues over Native-file directories:
``ALTER TABLE ... DELETE WHERE`` / ``UPDATE col = expr WHERE``, table
and column TTL and ``MATERIALIZE COLUMN`` (the host surface the
reference's files are produced by; the reference itself is read-only
— lib.rs reads, never mutates).

ClickHouse executes mutations part by part and REUSES parts the
mutation provably cannot touch. Every operation here is one call of
:func:`rewrite_parts`, the single part-rewrite primitive. It asks the
operation's ``triage(part, pk_vals)`` for one verdict per part:

- ``keep``: the part is hard-linked (falling back to copy) into the
  destination untouched — no decode, no re-encode, no new stats pass;
- ``rewrite``: the part is symlink-staged under its src-relative
  path and flows through ONE Spark job (DataSource read -> the
  operation's ``transform`` -> DataSource write);
- ``drop``: every row of the part dies; it is neither read nor linked.

A flat directory is a hive layout with zero partition keys:
``pk_vals`` holds the part's ``key=value`` directory values (empty
when flat), the staged read restores them as real columns and the
write mirrors them with ``partition_by``, so one job serves any
number of partition directories.

Predicates for DELETE/UPDATE-WHERE and TTL use a small structured
form — ``(column, op, literal)`` conjunctions with op in = != < <= > >=
— because triage proves them against sidecar stats and directory
values; UPDATE's SET expressions are free-form Spark SQL (they never
prune anything). This mirrors ClickHouse's own mutation guidance:
cheap predicates, arbitrary assignment expressions.
"""

from __future__ import annotations

import contextlib
import hashlib
import operator
import os
import shutil
import tempfile
from collections import Counter
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.native_datasource import NativeTable, read_native

Pred = tuple  # (column, op, literal)

_COMPARE = {
    "=": operator.eq,
    "!=": operator.ne,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}

# triage verdicts
KEEP, REWRITE, DROP = "keep", "rewrite", "drop"


def _pred_to_filter(p: Pred):
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
        Not,
    )

    col, op, val = p
    attr = (col,)
    if op == "=":
        return EqualTo(attr, val)
    if op == "!=":
        return Not(EqualTo(attr, val))
    if op == "<":
        return LessThan(attr, val)
    if op == "<=":
        return LessThanOrEqual(attr, val)
    if op == ">":
        return GreaterThan(attr, val)
    if op == ">=":
        return GreaterThanOrEqual(attr, val)
    raise ValueError(f"unsupported mutation predicate op {op!r}")


def _conj(preds: Sequence[Pred]):
    cond = None
    for col, op, val in preds:
        c = _COMPARE[op](F.col(col), F.lit(val))
        cond = c if cond is None else cond & c
    return cond


def _part_untouched(
    part_path: str,
    pred_sets: list[Sequence[Pred]],
    aliases: Optional[dict] = None,
) -> bool:
    """True iff the part's sidecar PROVES every mutation predicate set
    matches zero rows in it — the reader's own pruning test
    (conservative: missing/malformed sidecar or un-provable predicate
    means touched)."""
    from ..native.writer import load_stats
    from ..sources.native_datasource import _stats_exclude

    st = load_stats(part_path)
    if st is None:
        return False
    for preds in pred_sets:
        if not preds:
            return False  # empty conjunction matches every row
        try:
            filters = [_pred_to_filter(p) for p in preds]
        except (TypeError, ValueError):
            return False
        if not _stats_exclude(filters, st, aliases):
            return False
    return True


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _symlink(src: str, dst: str) -> None:
    os.symlink(os.path.abspath(src), dst)


_PLACE = {"link": _link_or_copy, "symlink": _symlink, "move": os.replace}


def place_part(src: str, dst: str, how: str = "link") -> None:
    """Place part ``src`` at path ``dst`` together with its existing
    companion files (``native.writer.part_companions``, renamed to
    follow the part): ``link`` hard-links (falling back to a copy),
    ``symlink`` symlinks, ``move`` renames. A part placed without its
    delete mask would resurrect deleted rows."""
    from ..native.writer import part_companions

    place = _PLACE[how]
    place(src, dst)
    for csrc, cdst in zip(part_companions(src), part_companions(dst)):
        if os.path.exists(csrc):
            place(csrc, cdst)


def _guard_out_dir(src_dir: str, out_dir: str) -> None:
    """The idempotent rebuild clears ``out_dir`` before reading
    ``src_dir`` — passing the source (or an ancestor of it) as the
    destination would destroy the table before the scan runs (r10
    ADVICE). Refuse up front."""
    src = os.path.realpath(src_dir)
    out = os.path.realpath(out_dir)
    if out == src or src.startswith(out + os.sep):
        raise ValueError(
            f"out_dir {out_dir!r} is the source directory (or an "
            f"ancestor of it) — the rebuild would clear the table "
            f"before reading it; write to a separate directory"
        )


def _clear_out_dir(out_dir: str) -> None:
    """Idempotent rebuild: create ``out_dir`` and remove what an
    earlier run left there — every top-level file and every
    ``key=value`` subtree (including partitions that no longer exist
    in the source)."""
    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(out_dir):
        p = os.path.join(out_dir, f)
        if os.path.isfile(p):
            os.remove(p)
        elif os.path.isdir(p) and "=" in f:
            shutil.rmtree(p, ignore_errors=True)


@contextlib.contextmanager
def stage_parts(src_dir: str, parts: list, seed: str):
    """Symlink-stage ``parts`` (with their companions) under their
    src-relative paths in a temporary directory so ONE DataSource read
    plans them together: a hive part's ``key=value`` components
    survive, so its partition columns restore as real columns, and the
    reader's ``file_column`` values equal the src-relative paths. The
    table schema travels along; the stage is removed on exit."""
    from ..native.tableschema import copy_table_schema

    tag = hashlib.md5(("|".join(parts) + seed).encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"chsql_stage_{tag}")
    shutil.rmtree(stage, ignore_errors=True)
    try:
        os.makedirs(stage)
        copy_table_schema(src_dir, stage)
        for p in parts:
            dst = os.path.join(stage, os.path.relpath(p, src_dir))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            place_part(p, dst, "symlink")
        yield stage
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _carried_indexes(table: NativeTable, parts: list, columns: list) -> dict:
    """{kind: columns} of the skip indexes the sidecars of ``parts``
    carry, by current column name (an old part names a renamed column
    by a prior physical name) and limited to ``columns`` — the
    ``index_<kind>`` options that rebuild them on the rewritten parts,
    as ClickHouse rebuilds a mutated part's skip indexes."""
    from ..native.writer import SKIP_INDEXES, load_stats
    from ..sources.native_datasource import _alias_stats

    carried: dict = {}
    for p in parts:
        side = _alias_stats(load_stats(p) or {}, table.aliases)
        for kind in SKIP_INDEXES:
            entry = side.get(kind)
            if isinstance(entry, dict):
                carried.setdefault(kind, set()).update(c for c in entry if c in columns)
    return {kind: sorted(cols) for kind, cols in carried.items() if cols}


def rewrite_parts(
    spark: SparkSession,
    table: NativeTable,
    out_dir: str,
    *,
    triage: Callable[[str, dict], str],
    transform: Callable[[DataFrame], DataFrame],
    compression: Optional[str] = None,
) -> dict:
    """Materialize ``out_dir`` as ``table`` rewritten part by part —
    the one path every operation of this module takes:

    1. driver-side triage: ``triage(part, pk_vals)`` returns ``keep``,
       ``rewrite`` or ``drop`` for every part of the
       :class:`NativeTable` the operation opened (``pk_vals`` maps the
       part's partition keys to their directory values, int or str as
       the table's key types say; empty for a flat directory). The
       table is opened and triaged before ``out_dir`` is touched, so
       corrupt metadata or a triage that refuses the operation leaves
       it as it was;
    2. ``out_dir`` is cleared idempotently and gets the table schema;
    3. kept parts hard-link under ``keep-NNNN-`` names into their
       mirrored directory;
    4. rewritten parts symlink-stage (:func:`stage_parts`) and ONE
       packed read feeds ``transform(df)`` — partition columns are real
       columns there — into ONE append write, partitioned by the keys
       when the table has any. O(1) Spark jobs however many partition
       directories there are (a per-directory loop would be
       O(partitions) jobs, untenable at 100k partitions). The write
       rebuilds every skip index the rewritten parts carried
       (:func:`_carried_indexes`), so point lookups keep pruning them.

    Returns {"untouched_parts": kept, "rewritten_parts": rewritten +
    dropped, "out_dir": out_dir}, plus "partition_dirs" for a hive
    layout."""
    from ..native.tableschema import copy_table_schema

    src_dir, parts, part_keys = table.path, table.paths, table.keys
    _guard_out_dir(src_dir, out_dir)
    verdicts = {
        p: triage(
            p,
            {
                k: table.key_types[k](v)
                for k, v in zip(part_keys, table.part_vals.get(p, ()))
            },
        )
        for p in parts
    }

    _clear_out_dir(out_dir)
    # evolved tables: the metadata must follow the data — kept parts
    # keep their old physical schema and out_dir reads would otherwise
    # resolve raw headers (renames break, defaults vanish)
    copy_table_schema(src_dir, out_dir)
    kept_in_dir: Counter = Counter()
    rewrite = []
    for p in parts:
        if verdicts[p] == REWRITE:
            rewrite.append(p)
        elif verdicts[p] == KEEP:
            d = os.path.join(out_dir, os.path.relpath(os.path.dirname(p), src_dir))
            os.makedirs(d, exist_ok=True)
            name = f"keep-{kept_in_dir[d]:04d}-{os.path.basename(p)}"
            place_part(p, os.path.join(d, name))
            kept_in_dir[d] += 1

    if rewrite:
        with stage_parts(src_dir, rewrite, out_dir) as stage:
            # a staged tree is many small parts (only touched ones):
            # the reader's default max_partition_bytes packs them into
            # ~cores/2 tasks instead of one task per tiny part
            df = transform(read_native(spark, stage))
            writer = df.write.format("clickhouse_native").mode("append")
            for kind, cols in _carried_indexes(table, rewrite, df.columns).items():
                writer = writer.option(f"index_{kind}", ",".join(cols))
            if part_keys:
                writer = writer.option("partition_by", ",".join(part_keys))
            if compression:
                writer = writer.option("compression", compression)
            writer.save(out_dir)

    n = Counter(verdicts.values())
    res = {
        "untouched_parts": n[KEEP],
        "rewritten_parts": n[REWRITE] + n[DROP],
        "out_dir": out_dir,
    }
    if part_keys:
        res["partition_dirs"] = len({os.path.dirname(p) for p in parts})
    return res


def _pk_term(val, op: str, lit) -> bool:
    """Evaluate a predicate term against one partition directory's
    value (int or str, as the partition spec infers). Type mismatches
    raise — a silently 'unknown' answer could neither prune nor be
    pushed into the data read (partition columns are path-derived,
    absent from the files)."""
    if isinstance(val, int):
        if isinstance(lit, bool) or not isinstance(lit, (int, float)):
            raise ValueError(
                f"partition-key predicate literal {lit!r} is not numeric "
                f"(directory values are integers)"
            )
    elif not isinstance(lit, str):
        raise ValueError(
            f"partition-key predicate literal {lit!r} is not a string "
            f"(directory values are strings)"
        )
    return _COMPARE[op](val, lit)


def _residual(preds: Sequence[Pred], pk_vals: dict) -> Optional[tuple]:
    """The data-column terms of conjunction ``preds`` left to prove in
    a part with partition values ``pk_vals``; None when a
    partition-key term is false there (the conjunction cannot match)."""
    rest = []
    for col, op, lit in preds:
        if col not in pk_vals:
            rest.append((col, op, lit))
        elif not _pk_term(pk_vals[col], op, lit):
            return None
    return tuple(rest)


def _mutation_triage(
    table: NativeTable,
    *,
    delete_where: Optional[Sequence[Pred]] = None,
    change_where: Optional[Sequence[Pred]] = None,
    set_cols: Sequence[str] = (),
) -> Callable[[str, dict], str]:
    """The triage of an operation that deletes the rows matching
    ``delete_where`` and changes the rows matching ``change_where``
    (None: no such clause; an empty conjunction matches every row).
    Partition-key terms evaluate against the part's directory values;
    a part whose sidecar proves the remaining data terms match no row
    is kept; a delete conjunction that reduces to TRUE drops the part
    unread. ``set_cols`` (columns the operation assigns) must not be
    partition keys: changing a partition value moves rows between
    directories (ClickHouse likewise forbids it)."""

    def triage(part: str, pk_vals: dict) -> str:
        bad = sorted(set(set_cols) & set(pk_vals))
        if bad:
            raise ValueError(
                f"cannot SET partition column(s) {bad}: changing a "
                "partition value moves rows between directories — "
                "rewrite with a partitioned write instead"
            )
        d = None if delete_where is None else _residual(delete_where, pk_vals)
        if d == ():
            return DROP
        c = None if change_where is None else _residual(change_where, pk_vals)
        live = [r for r in (d, c) if r is not None]
        if not live or _part_untouched(part, live, table.aliases):
            return KEEP
        return REWRITE

    return triage


def mutate_native_dir(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    *,
    delete_where: Optional[Sequence[Pred]] = None,
    update_set: Optional[dict] = None,
    update_where: Optional[Sequence[Pred]] = None,
    compression: Optional[str] = None,
) -> dict:
    """Materialize ``out_dir`` as ``src_dir`` after applying the
    mutation; returns {"untouched_parts": n, "rewritten_parts": m,
    "out_dir": out_dir} (+ "partition_dirs" on a hive layout).
    ``delete_where`` / ``update_where`` are conjunctions of
    ``(col, op, literal)``; ``update_set`` maps column name -> Spark
    SQL expression string applied where ``update_where`` holds
    (everywhere when ``update_where`` is None).

    On hive ``key=value`` layouts, predicate terms on partition columns
    evaluate against each directory's values — linking whole
    directories when a conjunction cannot match there — and the full
    predicates apply in the single staged read. SET targets must be
    data columns, and SET expressions may only reference data columns
    (a partition column in a SET expression fails Spark analysis
    loudly).

    DELETE keeps rows where the predicate is FALSE *or NULL*
    (ClickHouse ALTER DELETE removes only rows where the expression is
    true)."""
    if update_set is None and delete_where is None:
        raise ValueError("mutation requires delete_where and/or update_set")
    if delete_where is not None and not tuple(delete_where):
        raise ValueError(
            "empty delete_where conjunction would delete every row; "
            "spell that out with an always-true predicate if intended"
        )

    def transform(df: DataFrame) -> DataFrame:
        if delete_where is not None:
            cond = _conj(delete_where)
            df = df.filter(cond.isNull() | ~cond)
        if update_set is not None:
            cond = _conj(update_where) if update_where else F.lit(True)
            # ONE projection for every SET column: ClickHouse UPDATE
            # evaluates all assignment expressions against the OLD row
            # (snapshot semantics) — sequential withColumn would feed a
            # later expression the already-mutated earlier column
            df = df.withColumns(
                {
                    col: F.when(cond, F.expr(expr)).otherwise(F.col(col))
                    for col, expr in update_set.items()
                }
            )
        return df

    table = NativeTable.open(src_dir)
    triage = _mutation_triage(
        table,
        delete_where=None if delete_where is None else tuple(delete_where),
        # UPDATE with no WHERE touches every part: an empty conjunction
        change_where=None if update_set is None else tuple(update_where or ()),
        set_cols=tuple(update_set or ()),
    )
    return rewrite_parts(
        spark,
        table,
        out_dir,
        triage=triage,
        transform=transform,
        compression=compression,
    )


def apply_ttl(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    *,
    ttl_where: Sequence[Pred],
    group_by: Optional[Sequence[str]] = None,
    set_exprs: Optional[dict] = None,
    compression: Optional[str] = None,
) -> dict:
    """ClickHouse table TTL over a Native directory.

    ``ttl_where`` is the EXPIRY condition (a non-empty conjunction of
    ``(col, op, literal)`` — typically ``[(ts, "<", cutoff)]``).

    - ``group_by=None``: ``TTL ts + INTERVAL ...`` delete semantics —
      expired rows are removed. Delegates to :func:`mutate_native_dir`,
      inheriting the sidecar-proven part-reuse optimization (a part
      whose stats prove no expired rows is hard-linked untouched).
    - ``group_by=[...]``: ``TTL ... GROUP BY`` rollup semantics —
      expired rows collapse to one row per group instead of
      disappearing. ``set_exprs`` maps column -> Spark SQL aggregate
      expression (ClickHouse's ``SET col = aggregate``); columns not
      grouped and not SET take ``MIN(col)`` — a DETERMINISTIC stand-in
      for ClickHouse's ``any(col)`` (documented divergence: ``any`` is
      non-deterministic by definition, and a deterministic default is
      what makes the operation oracle-checkable and idempotent).
      Untouched parts hard-link exactly as in delete mode; touched
      parts split into kept rows (verbatim) plus the rollup rows, all
      in one distributed job.

    Timestamp columns carry no sidecar stats (writer only records
    int/float/string), so time-typed TTL predicates conservatively
    touch every part — correctness never depends on pruning.

    On hive ``key=value`` layouts GROUP BY rollup requires every
    partition key to be a GROUP BY key (the directory value is
    constant per group, so rollup groups never span directories —
    analogous to ClickHouse requiring TTL GROUP BY to be a primary-key
    prefix); expiry terms on partition keys prune whole directories to
    hard-links.
    """
    if not tuple(ttl_where):
        raise ValueError(
            "empty ttl_where conjunction would expire every row; "
            "spell that out with an always-true predicate if intended"
        )
    if group_by is None:
        return apply_ttl_delete(spark, src_dir, out_dir, ttl_where, compression)

    ttl_where, group_by = tuple(ttl_where), list(group_by)
    set_exprs = dict(set_exprs or {})
    table = NativeTable.open(src_dir)
    prove = _mutation_triage(
        table, change_where=ttl_where, set_cols=tuple(set_exprs)
    )

    def triage(part: str, pk_vals: dict) -> str:
        if not set(pk_vals) <= set(group_by):
            raise NotImplementedError(
                f"TTL GROUP BY over a hive layout requires every partition "
                f"key in group_by (partition keys {sorted(pk_vals)}, "
                f"group_by {group_by}): rollup groups must not span "
                f"directories"
            )
        return prove(part, pk_vals)

    def rollup(df: DataFrame) -> DataFrame:
        # ONE materialized scan feeds both branches (r15 optimization
        # round). The kept/expired split used to read the staged parts
        # through TWO independent load() relations because
        # branch-filtering a single Python-DataSource DataFrame hits
        # the shared-reader pushFilters overwrite (measured r10: a
        # disjoint union returned 988 of 1000 rows; pinned in
        # tests/test_review_fixes_r10.py) — but that decoded every
        # touched part TWICE. localCheckpoint(eager=False) materializes
        # the scan once at the write action and both branch filters run
        # against the checkpointed blocks, where no DataSource pushdown
        # exists — the trap structurally cannot apply. At cluster scale
        # the same shape uses checkpoint() to durable storage.
        df = df.localCheckpoint(eager=False)
        cond = _conj(ttl_where)
        aggs = [
            F.expr(set_exprs.get(col, f"MIN({col})")).alias(col)
            for col in df.columns
            if col not in group_by
        ]
        rolled = df.filter(cond).groupBy(*group_by).agg(*aggs)
        # NULL-predicate rows (e.g. NULL ts) satisfy neither ~cond nor
        # cond — they must survive as KEPT (unexpired) rows, not vanish
        # (r10 ADVICE): a row whose TTL clock is unknown has not expired
        kept = df.filter(cond.isNull() | ~cond)
        return kept.unionAll(rolled.select(*df.columns))

    return rewrite_parts(
        spark,
        table,
        out_dir,
        triage=triage,
        transform=rollup,
        compression=compression,
    )


def apply_ttl_delete(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    ttl_where: Sequence[Pred],
    compression: Optional[str] = None,
) -> dict:
    """TTL delete = a mutation DELETE on the expiry condition."""
    return mutate_native_dir(
        spark,
        src_dir,
        out_dir,
        delete_where=ttl_where,
        compression=compression,
    )


def lightweight_delete(
    spark: SparkSession,
    src_dir: str,
    where: Sequence[Pred],
) -> dict:
    """ClickHouse lightweight ``DELETE FROM t WHERE ...``: write
    per-part deletion BITMAPS instead of rewriting parts (ALTER
    DELETE's economics are :func:`mutate_native_dir`'s).  In place —
    no out_dir; every subsequent read of ``src_dir`` (scans,
    mutations, TTL, compaction, projections) sees the rows gone, and
    any rewrite of a part materializes its mask.

    ONE distributed job: scan with ``file_column`` +
    ``row_index_column`` (physical ordinals survive the existing
    masks, so repeated deletes compose by OR), filter to the matching
    rows, and let one task per touched part write its bitmap.  Parts
    the predicate provably cannot touch never plan (the pushed
    filters prune them against the sidecars), so the job's input is
    proportional to the affected parts — ClickHouse's own lightweight
    delete economics.  The per-part summary that returns to the
    driver is one row per touched part (metadata scale)."""
    import pandas as pd

    if not where:
        raise ValueError("lightweight_delete requires a predicate")
    df = read_native(spark, src_dir, file_column="__part", row_index_column="__ridx")
    cond = _conj(where)
    hits = df.filter(cond).select("__part", "__ridx")

    src_abs = os.path.abspath(src_dir)

    def _write_masks(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..native.delmask import write_delmask
        from ..native.writer import load_stats

        rel = pdf["__part"].iloc[0]
        real = os.path.join(src_abs, rel)
        try:
            rows = int(load_stats(real)["rows"])
        except (TypeError, ValueError, KeyError):
            # no sidecar: count physical rows from the block headers
            from ..native.codec import scan_block_offsets

            rows = sum(r for _off, r in scan_block_offsets(real))
        summary = write_delmask(real, pdf["__ridx"].to_numpy(), rows)
        return pd.DataFrame(
            {
                "part": [rel],
                "newly_deleted": [len(pdf)],
                "total_deleted": [summary["deleted"]],
                "part_rows": [summary["rows"]],
            }
        )

    out = hits.groupBy("__part").applyInPandas(
        _write_masks,
        "part string, newly_deleted long, total_deleted long, part_rows long",
    )
    parts = sorted(
        (r["part"], r["newly_deleted"], r["total_deleted"])
        for r in out.collect()
    )
    return {
        "dir": src_dir,
        "parts_masked": len(parts),
        "rows_deleted": int(sum(p[1] for p in parts)),
        "parts": parts,
    }


def detach_parts(src_dir: str, part_names: Sequence[str]) -> dict:
    """``ALTER TABLE ... DETACH PART`` analogue: move the named parts
    (and their companions) into ``<dir>/detached/`` — invisible to
    every scan (resolve_paths only descends into ``key=value``
    subdirectories), recoverable with :func:`attach_parts`. Zero-copy:
    a rename within the filesystem."""

    det = os.path.join(src_dir, "detached")
    os.makedirs(det, exist_ok=True)
    for name in part_names:
        p = os.path.join(src_dir, name)
        if not os.path.isfile(p):
            raise FileNotFoundError(f"no such part: {p}")
        place_part(p, os.path.join(det, name), "move")
    return {"detached": list(part_names), "dir": det}


def attach_parts(
    dst_dir: str,
    src: Optional[str] = None,
    *,
    move: bool = False,
) -> dict:
    """``ALTER TABLE ... ATTACH PARTITION [FROM table]`` analogue.

    With ``src=None``, re-attaches everything under
    ``<dst>/detached/`` (moves back). With ``src`` set to another
    Native directory, hard-links (or copies) every part + companions
    from it — the zero-copy cross-table attach; ``move=True`` relocates
    instead. Refuses a schema mismatch: the first block header of each
    incoming part must spell exactly the destination's column
    names/types (ClickHouse checks table structure identity)."""
    from ..filesystem import resolve_paths
    from ..native.codec import read_file_schema

    if src is None:
        src_paths = [
            os.path.join(dst_dir, "detached", f)
            for f in sorted(os.listdir(os.path.join(dst_dir, "detached")))
            if not f.startswith("_")
        ]
        move = True
    else:
        src_paths = []
        for p in resolve_paths(src):
            rel = os.path.relpath(p, src)
            if "=" in os.path.dirname(rel):
                # hive partition values are PATH-derived; linking the
                # file flat would silently drop them from every scan
                raise NotImplementedError(
                    "attach_parts does not support hive-partitioned "
                    f"sources (found {rel!r}); attach per partition "
                    "directory"
                )
            src_paths.append(p)

    existing = resolve_paths(dst_dir)
    want = None
    if existing:
        want = [(n, t.name, t.nullable) for n, t in read_file_schema(existing[0])]
    attached = []
    for p in src_paths:
        if want is not None:
            got = [(n, t.name, t.nullable) for n, t in read_file_schema(p)]
            if got != want:
                raise ValueError(
                    f"schema mismatch attaching {p!r}: {got} != {want}"
                )
        base = os.path.basename(p)
        dst = os.path.join(dst_dir, base)
        if os.path.exists(dst):
            raise FileExistsError(f"part name collision: {dst}")
        place_part(p, dst, "move" if move else "link")
        attached.append(base)
    return {"attached": attached, "dir": dst_dir}


def apply_column_ttl(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    *,
    column: str,
    default_expr: str,
    ttl_where: Sequence[Pred],
    compression: Optional[str] = None,
) -> dict:
    """Column-level TTL (``c Type TTL d + INTERVAL ...``): where the
    TTL predicate holds, the column's value RESETS to its default —
    the row survives (row-level TTL deletes it; that is
    :func:`apply_ttl`). ClickHouse applies this during merges; here it
    is the same staged rewrite as every mutation: parts the predicate
    provably cannot touch hard-link, the rest rewrite in one
    distributed job."""
    return mutate_native_dir(
        spark,
        src_dir,
        out_dir,
        update_set={column: default_expr},
        update_where=ttl_where,
        compression=compression,
    )


def materialize_column(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    *,
    column: str,
    compression: Optional[str] = None,
) -> dict:
    """``ALTER TABLE ... MATERIALIZE COLUMN`` — bake a metadata-added
    column (native/tableschema.alter_add_column) into the parts that
    predate it: parts whose PHYSICAL header lacks the column rewrite
    through the evolved reader (which materializes the default), parts
    already carrying it hard-link untouched. After materialization the
    column has real sidecar stats in every part, so it prunes like any
    native column — the reason ClickHouse users run it. Hive
    ``key=value`` layouts mirror their tree in the same single job."""
    from ..native.codec import read_file_schema

    table = NativeTable.open(src_dir)
    if column not in table.known:
        raise ValueError(
            f"column {column!r} is not in the table schema — "
            "MATERIALIZE COLUMN follows ALTER ADD COLUMN"
        )

    def triage(part: str, _pk_vals: dict) -> str:
        names = {n for n, _t in read_file_schema(part)}
        return KEEP if column in names else REWRITE

    res = rewrite_parts(
        spark,
        table,
        out_dir,
        triage=triage,
        transform=lambda df: df,
        compression=compression,
    )
    return {k: res[k] for k in ("untouched_parts", "rewritten_parts", "out_dir")}
