"""ClickHouse mutation analogues over Native-file directories:
``ALTER TABLE ... DELETE WHERE`` and ``ALTER TABLE ... UPDATE col =
expr WHERE`` (the host surface the reference's files are produced by;
the reference itself is read-only — lib.rs reads, never mutates).

ClickHouse executes mutations part by part and REUSES parts the
predicate provably cannot touch. This module does the same with the
writer's min/max sidecars: a part whose stats prove zero matching rows
for every mutation predicate is hard-linked (falling back to copy)
into the destination untouched — no decode, no re-encode, no new
stats pass. Only touched parts flow through the Spark engine
(DataSource read -> filter/conditional-project -> DataSource write),
one task per part either way.

Predicates for DELETE/UPDATE-WHERE use a small structured form —
``(column, op, literal)`` conjunctions with op in = != < <= > >= —
because part pruning needs to reason about them against sidecar
stats; UPDATE's SET expressions are free-form Spark SQL (they never
prune anything). This mirrors ClickHouse's own mutation guidance:
cheap predicates, arbitrary assignment expressions.
"""

from __future__ import annotations

import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Pred = tuple  # (column, op, literal)

_OPS = {"=", "!=", "<", "<=", ">", ">="}


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


def _pred_to_column(p: Pred):
    col, op, val = p
    c = F.col(col)
    return {
        "=": c == F.lit(val),
        "!=": c != F.lit(val),
        "<": c < F.lit(val),
        "<=": c <= F.lit(val),
        ">": c > F.lit(val),
        ">=": c >= F.lit(val),
    }[op]


def _conj(preds: Sequence[Pred]):
    cond = None
    for p in preds:
        c = _pred_to_column(p)
        cond = c if cond is None else cond & c
    return cond


def _alias_map(src_dir: str) -> dict:
    """Schema-evolution alias map {table_name: [prior physical names]}
    for the directory (empty when unevolved) — lets the sidecar triage
    prove predicates on RENAMED columns against old parts' stats."""
    from ..native.tableschema import load_table_schema

    try:
        meta = load_table_schema(src_dir)
    except ValueError:
        return {}
    if not meta:
        return {}
    return {
        c["name"]: list(c.get("aliases", []))
        for c in meta["columns"]
        if c.get("aliases")
    }


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


def _companions(p: str, base: Optional[str] = None) -> list:
    """(src_path, dst_basename) pairs for the part's existing
    companion files (``native.writer.part_companions``). ``base``
    renames the part at the destination (keep- prefixes)."""
    from ..native.writer import part_companions

    dst = part_companions(base or os.path.basename(p))
    return [
        (src, os.path.basename(d))
        for src, d in zip(part_companions(p), dst)
        if os.path.exists(src)
    ]


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


def _clear_out_files(out_dir: str) -> None:
    """Idempotent rebuild: create ``out_dir`` and remove every file
    directly inside it (left by an earlier run)."""
    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(out_dir):
        p = os.path.join(out_dir, f)
        if os.path.isfile(p):
            os.remove(p)


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
    "out_dir": out_dir}. ``delete_where`` / ``update_where`` are
    conjunctions of ``(col, op, literal)``; ``update_set`` maps column
    name -> Spark SQL expression string applied where ``update_where``
    holds (everywhere when ``update_where`` is None).

    Hive ``key=value`` layouts (the writer's ``partition_by`` output)
    mutate per partition directory: predicate terms on partition
    columns evaluate against each directory's literal values —
    pruning whole directories to hard-links when the conjunction
    cannot match there — and the residual data-column terms run as a
    flat mutation inside each remaining directory (the output mirrors
    the same ``key=value`` tree). SET targets must be data columns
    (ClickHouse likewise forbids mutating partition-key columns), and
    SET expressions may only reference data columns (a partition
    column in a SET expression fails Spark analysis loudly).
    """
    from ..filesystem import resolve_paths
    from .. import get_spark  # noqa: F401 — package import side effects

    if update_set is None and delete_where is None:
        raise ValueError("mutation requires delete_where and/or update_set")
    if delete_where is not None and not tuple(delete_where):
        raise ValueError(
            "empty delete_where conjunction would delete every row; "
            "spell that out with an always-true predicate if intended"
        )
    _guard_out_dir(src_dir, out_dir)
    _clear_out_files(out_dir)
    from ..native.tableschema import copy_table_schema

    # evolved tables: the metadata must follow the data — untouched
    # parts keep their old physical schema and out_dir reads would
    # otherwise resolve raw headers (renames break, defaults vanish)
    copy_table_schema(src_dir, out_dir)

    from ..sources.native_datasource import _partition_spec

    parts = [p for p in resolve_paths(src_dir) if not p.endswith(".json")]
    part_keys, _vals, _types = _partition_spec(src_dir, parts)
    if part_keys:
        return _mutate_hive(
            spark,
            src_dir,
            out_dir,
            parts,
            part_keys,
            _types,
            delete_where=delete_where,
            update_set=update_set,
            update_where=update_where,
            compression=compression,
        )
    return _mutate_flat(
        spark,
        parts,
        out_dir,
        delete_where=delete_where,
        update_set=update_set,
        update_where=update_where,
        compression=compression,
    )


def _mutate_flat(
    spark: SparkSession,
    parts: list,
    out_dir: str,
    *,
    delete_where: Optional[Sequence[Pred]],
    update_set: Optional[dict],
    update_where: Optional[Sequence[Pred]],
    compression: Optional[str],
) -> dict:
    """The single-directory mutation core over an explicit part list;
    ``out_dir`` must already exist and be clear of stale files."""

    os.makedirs(out_dir, exist_ok=True)
    pred_sets: list[Sequence[Pred]] = []
    if delete_where is not None:
        pred_sets.append(tuple(delete_where))
    if update_set is not None:
        # UPDATE with no WHERE touches every part — represent as an
        # unprovable (empty) conjunction
        pred_sets.append(tuple(update_where) if update_where else ())

    aliases = _alias_map(os.path.dirname(parts[0])) if parts else {}
    untouched, touched = [], []
    for p in parts:
        (untouched if _part_untouched(p, pred_sets, aliases) else touched).append(p)

    for i, p in enumerate(untouched):
        base = f"keep-{i:04d}-{os.path.basename(p)}"
        _link_or_copy(p, os.path.join(out_dir, base))
        for csrc, cdst in _companions(p, base):
            _link_or_copy(csrc, os.path.join(out_dir, cdst))

    if touched:
        # stage the touched parts behind symlinks so ONE DataSource read
        # plans them together (one Spark task per part, like ClickHouse's
        # per-part mutation tasks)
        import hashlib
        import tempfile

        tag = hashlib.md5(
            ("|".join(touched) + out_dir).encode()
        ).hexdigest()[:12]
        stage = os.path.join(tempfile.gettempdir(), "chsql_mutate_stage", tag)
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        from ..native.tableschema import copy_table_schema

        copy_table_schema(os.path.dirname(touched[0]), stage)
        for p in touched:
            os.symlink(p, os.path.join(stage, os.path.basename(p)))
            for csrc, cdst in _companions(p):
                os.symlink(csrc, os.path.join(stage, cdst))
        df = _read_staged(spark, stage)
        if delete_where is not None:
            # DELETE removes rows where the predicate is TRUE; a
            # NULL predicate keeps the row (ClickHouse semantics —
            # same null-safety as the r10 TTL fix)
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
        writer = df.write.format("clickhouse_native").mode("append")
        if compression:
            writer = writer.option("compression", compression)
        writer.save(out_dir)

    return {
        "untouched_parts": len(untouched),
        "rewritten_parts": len(touched),
        "out_dir": out_dir,
    }


def _eval_pk_term(raw: str, typ, op: str, lit) -> bool:
    """Evaluate a predicate term against one partition directory's
    literal value (``raw`` is the URL-decoded path string, ``typ`` the
    spec-inferred python type). Type mismatches raise — a silently
    'unknown' answer could neither prune nor be pushed into the data
    read (partition columns are path-derived, absent from the files)."""
    if typ is int:
        val = int(raw)
        if isinstance(lit, bool) or not isinstance(lit, (int, float)):
            raise ValueError(
                f"partition-key predicate literal {lit!r} is not numeric "
                f"(directory values are integers)"
            )
    else:
        val = raw
        if not isinstance(lit, str):
            raise ValueError(
                f"partition-key predicate literal {lit!r} is not a string "
                f"(directory values are strings)"
            )
    return {
        "=": val == lit,
        "!=": val != lit,
        "<": val < lit,
        "<=": val <= lit,
        ">": val > lit,
        ">=": val >= lit,
    }[op]


def _split_pk_terms(
    preds: Sequence[Pred], part_keys: list, pk_vals: dict, types: dict
):
    """Partition a conjunction into (applies_in_dir, residual_terms):
    terms on partition keys evaluate against the directory's values —
    any false term makes the whole conjunction unmatchable there —
    and the remaining data-column terms pass through."""
    residual = []
    for p in preds:
        col, op, lit = p
        if col in part_keys:
            if not _eval_pk_term(pk_vals[col], types[col], op, lit):
                return False, ()
        else:
            residual.append(p)
    return True, tuple(residual)


def _mutate_hive(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    parts: list,
    part_keys: list,
    types: dict,
    *,
    delete_where: Optional[Sequence[Pred]],
    update_set: Optional[dict],
    update_where: Optional[Sequence[Pred]],
    compression: Optional[str],
) -> dict:
    """Mutation over a hive layout as ONE distributed job (a
    per-directory driver loop would be O(partitions) Spark jobs —
    untenable at 100k partitions):

    1. driver-side triage per directory — partition-key predicate
       terms evaluate against the directory's literal values, and a
       directory the conjunctions cannot match hard-links wholesale;
       inside applicable directories, parts whose sidecars prove the
       residual data terms match zero rows hard-link individually;
    2. every remaining part symlink-stages UNDER ITS ``key=value``
       relative path, so one hive read restores the partition columns
       as real columns;
    3. the full original predicates (partition + data terms alike)
       apply as column predicates in that single read, and one
       partitioned write (``partition_by=<keys>``) mirrors the tree
       into ``out_dir``.

    DELETE keeps rows where the predicate is FALSE *or NULL*
    (ClickHouse ALTER DELETE removes only rows where the expression is
    true). The output mirrors the source's ``key=value`` tree."""
    from ..sources.native_datasource import (
        _partition_components,
        infer_native_schema,
    )

    if update_set is not None:
        bad = sorted(set(update_set) & set(part_keys))
        if bad:
            raise ValueError(
                f"cannot UPDATE partition column(s) {bad}: changing a "
                "partition value moves rows between directories — "
                "rewrite with a partitioned write instead"
            )

    by_dir: dict[str, list] = {}
    pk_vals_by_dir: dict[str, dict] = {}
    for p in parts:
        rel = os.path.dirname(os.path.relpath(p, src_dir))
        by_dir.setdefault(rel, []).append(p)
        pk_vals_by_dir[rel] = dict(_partition_components(src_dir, p))

    # idempotent rebuild of the mirrored tree: the caller cleared
    # out_dir's top-level files; every key=value subtree is ours
    # (including partitions a previous run wrote that no longer exist)
    for f in os.listdir(out_dir):
        p = os.path.join(out_dir, f)
        if os.path.isdir(p) and "=" in f:
            shutil.rmtree(p, ignore_errors=True)

    import hashlib
    import tempfile

    tag = hashlib.md5((src_dir + "|" + out_dir).encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), "chsql_mutate_hive", tag)
    shutil.rmtree(stage, ignore_errors=True)
    from ..native.tableschema import copy_table_schema

    copy_table_schema(src_dir, stage)
    aliases = _alias_map(src_dir)

    untouched = rewritten = 0
    staged = 0
    for rel in sorted(by_dir):
        dir_parts = by_dir[rel]
        pk_vals = pk_vals_by_dir[rel]
        dst = os.path.join(out_dir, rel)

        d_applies, d_residual = (False, ())
        if delete_where is not None:
            d_applies, d_residual = _split_pk_terms(
                delete_where, part_keys, pk_vals, types
            )
        u_applies, u_residual = (False, ())
        if update_set is not None:
            if update_where is None:
                u_applies, u_residual = True, ()  # everywhere
            else:
                u_applies, u_residual = _split_pk_terms(
                    update_where, part_keys, pk_vals, types
                )

        if d_applies and not d_residual:
            # delete conjunction reduced to TRUE for this directory:
            # every row dies; write nothing, count parts as rewritten
            rewritten += len(dir_parts)
            os.makedirs(dst, exist_ok=True)
            continue
        if not d_applies and not u_applies:
            # neither mutation can match here — link the directory
            _link_parts(dir_parts, dst)
            untouched += len(dir_parts)
            continue

        # part-level sidecar proof on the RESIDUAL data terms (an
        # empty residual update conjunction touches every part)
        pred_sets = []
        if d_applies:
            pred_sets.append(d_residual)
        if u_applies:
            pred_sets.append(u_residual)
        os.makedirs(dst, exist_ok=True)
        keep = []
        for p in dir_parts:
            if _part_untouched(p, pred_sets, aliases):
                keep.append(p)
            else:
                sdir = os.path.join(stage, rel)
                os.makedirs(sdir, exist_ok=True)
                os.symlink(p, os.path.join(sdir, os.path.basename(p)))
                for csrc, cdst in _companions(p):
                    os.symlink(csrc, os.path.join(sdir, cdst))
                staged += 1
        _link_parts(keep, dst)
        untouched += len(keep)
        rewritten += len(dir_parts) - len(keep)

    if staged:
        # ONE read over the staged key=value tree: partition columns
        # come back as real columns, so the ORIGINAL conjunctions
        # (partition + data terms) apply directly
        schema = infer_native_schema({"path": stage})
        df = _read_staged(spark, stage, schema)
        if delete_where is not None:
            cond = _conj(delete_where)
            df = df.filter(cond.isNull() | ~cond)
        if update_set is not None:
            ucond = _conj(update_where) if update_where else F.lit(True)
            df = df.withColumns(
                {
                    col: F.when(ucond, F.expr(expr)).otherwise(F.col(col))
                    for col, expr in update_set.items()
                }
            )
        writer = (
            df.write.format("clickhouse_native")
            .mode("append")
            .option("partition_by", ",".join(part_keys))
        )
        if compression:
            writer = writer.option("compression", compression)
        writer.save(out_dir)

    return {
        "untouched_parts": untouched,
        "rewritten_parts": rewritten,
        "out_dir": out_dir,
        "partition_dirs": len(by_dir),
    }



# staged mutation trees are collections of SMALL parts (only touched
# parts are staged); read them with partition PACKING (the r13
# max_partition_bytes lever) so the job runs ~cores/2 tasks instead of
# one task per tiny part — measured 2.9 s -> 2.0 s on the sf0.1 hive
# TTL rollup, identical results (packing composes after pruning and
# preserves per-file hive values)
_PACK_BYTES = str(128 * 1024 * 1024)


def _read_staged(spark, stage, schema=None):
    if schema is None:
        # in-process header probe + explicit schema (r16): without it
        # every staged read pays a python-worker schema() planning
        # round-trip (~0.3 s fixed latency per mutation job); the
        # probe itself is ~1 ms on marked parts
        from ..sources.native_datasource import infer_native_schema

        schema = infer_native_schema({"path": stage})
    return (
        spark.read.format("clickhouse_native")
        .option("max_partition_bytes", _PACK_BYTES)
        .schema(schema)
        .load(stage)
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

    ``ttl_where`` is the EXPIRY condition (conjunction of
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

    Hive ``key=value`` layouts (r11): delete mode inherits
    :func:`mutate_native_dir`'s per-directory recursion; GROUP BY
    rollup requires every partition key to be a GROUP BY key (the
    directory value is constant per group, so rollup groups never span
    directories — analogous to ClickHouse requiring TTL GROUP BY to be
    a primary-key prefix) and then runs per directory with expiry
    terms on partition keys pruning whole directories to hard-links.
    """
    if group_by is None:
        return apply_ttl_delete(spark, src_dir, out_dir, ttl_where, compression)

    from ..filesystem import resolve_paths
    from ..sources.native_datasource import _partition_spec

    _guard_out_dir(src_dir, out_dir)
    _clear_out_files(out_dir)

    parts = [p for p in resolve_paths(src_dir) if not p.endswith(".json")]
    part_keys, _vals, types = _partition_spec(src_dir, parts)
    group_by = list(group_by)
    set_exprs = dict(set_exprs or {})
    if part_keys:
        return _ttl_rollup_hive(
            spark,
            src_dir,
            out_dir,
            parts,
            part_keys,
            types,
            ttl_where=tuple(ttl_where),
            group_by=group_by,
            set_exprs=set_exprs,
            compression=compression,
        )
    return _ttl_rollup_flat(
        spark,
        parts,
        out_dir,
        ttl_where=tuple(ttl_where),
        group_by=group_by,
        set_exprs=set_exprs,
        compression=compression,
    )


def _link_parts(dir_parts: list, dst: str) -> None:
    """Hard-link (or copy) parts + their sidecars into ``dst`` under
    collision-free keep- names."""

    os.makedirs(dst, exist_ok=True)
    for i, p in enumerate(dir_parts):
        base = f"keep-{i:04d}-{os.path.basename(p)}"
        _link_or_copy(p, os.path.join(dst, base))
        for csrc, cdst in _companions(p, base):
            _link_or_copy(csrc, os.path.join(dst, cdst))


def _ttl_rollup_hive(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    parts: list,
    part_keys: list,
    types: dict,
    *,
    ttl_where: tuple,
    group_by: list,
    set_exprs: dict,
    compression: Optional[str],
) -> dict:
    """TTL GROUP BY over a hive layout, per partition directory.

    Correct per-directory rollup requires the partition keys to be
    GROUP BY keys (each directory's value is constant there, so the
    group identity never spans directories — the analogue of
    ClickHouse requiring TTL GROUP BY to be a primary-key prefix);
    anything else would need a cross-directory shuffle whose output
    could not be written back per-directory, and is refused loudly."""
    from ..sources.native_datasource import _partition_components

    if not set(part_keys) <= set(group_by):
        raise NotImplementedError(
            f"TTL GROUP BY over a hive layout requires every partition "
            f"key in group_by (partition keys {part_keys}, group_by "
            f"{group_by}): rollup groups must not span directories"
        )
    bad = sorted(set(set_exprs) & set(part_keys))
    if bad:
        raise ValueError(
            f"cannot SET partition column(s) {bad} in a TTL rollup"
        )
    from ..sources.native_datasource import infer_native_schema

    by_dir: dict[str, list] = {}
    pk_vals_by_dir: dict[str, dict] = {}
    for p in parts:
        rel = os.path.dirname(os.path.relpath(p, src_dir))
        by_dir.setdefault(rel, []).append(p)
        pk_vals_by_dir[rel] = dict(_partition_components(src_dir, p))

    for f in os.listdir(out_dir):  # idempotent rebuild of the tree
        p = os.path.join(out_dir, f)
        if os.path.isdir(p) and "=" in f:
            shutil.rmtree(p, ignore_errors=True)

    import hashlib
    import tempfile

    tag = hashlib.md5((src_dir + "|" + out_dir).encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), "chsql_ttl_hive", tag)
    shutil.rmtree(stage, ignore_errors=True)
    from ..native.tableschema import copy_table_schema

    copy_table_schema(src_dir, stage)
    copy_table_schema(src_dir, out_dir)
    aliases = _alias_map(src_dir)

    # driver-side triage (directory pruning + per-part sidecar proof),
    # then ONE distributed rollup job over the staged key=value tree —
    # never a Spark job per directory (O(partitions) jobs would not
    # survive 100k partitions)
    untouched = rewritten = staged = 0
    for rel in sorted(by_dir):
        dir_parts = by_dir[rel]
        dst = os.path.join(out_dir, rel)
        applies, residual = _split_pk_terms(
            ttl_where, part_keys, pk_vals_by_dir[rel], types
        )
        if not applies:
            # expiry condition unmatchable here — link the directory
            _link_parts(dir_parts, dst)
            untouched += len(dir_parts)
            continue
        os.makedirs(dst, exist_ok=True)
        keep = []
        for p in dir_parts:
            if _part_untouched(p, [residual], aliases):
                keep.append(p)
            else:
                sdir = os.path.join(stage, rel)
                os.makedirs(sdir, exist_ok=True)
                os.symlink(p, os.path.join(sdir, os.path.basename(p)))
                for csrc, cdst in _companions(p):
                    os.symlink(csrc, os.path.join(sdir, cdst))
                staged += 1
        _link_parts(keep, dst)
        untouched += len(keep)
        rewritten += len(dir_parts) - len(keep)

    if staged:
        schema = infer_native_schema({"path": stage})
        # one materialized scan for both branches (r15; see
        # _ttl_rollup_flat — the checkpoint removes both the double
        # decode and the r10 shared-reader pushdown trap)
        df = _read_staged(spark, stage, schema).localCheckpoint(eager=False)
        # the hive read restores partition columns, so the FULL expiry
        # conjunction (partition + data terms) applies directly; the
        # full GROUP BY (which includes the partition keys) is valid on
        # real columns and the partitioned write mirrors the tree
        cond = _conj(ttl_where)
        kept = df.filter(cond.isNull() | ~cond)
        expired = df.filter(cond)
        aggs = []
        for col in df.columns:
            if col in group_by:
                continue
            aggs.append(F.expr(set_exprs.get(col, f"MIN({col})")).alias(col))
        rolled = expired.groupBy(*group_by).agg(*aggs).select(*df.columns)
        out_df = kept.select(*df.columns).unionAll(rolled)
        writer = (
            out_df.write.format("clickhouse_native")
            .mode("append")
            .option("partition_by", ",".join(part_keys))
        )
        if compression:
            writer = writer.option("compression", compression)
        writer.save(out_dir)

    return {
        "untouched_parts": untouched,
        "rewritten_parts": rewritten,
        "out_dir": out_dir,
        "partition_dirs": len(by_dir),
    }


def _ttl_rollup_flat(
    spark: SparkSession,
    parts: list,
    out_dir: str,
    *,
    ttl_where: tuple,
    group_by: list,
    set_exprs: dict,
    compression: Optional[str],
) -> dict:
    """The single-directory TTL GROUP BY core over an explicit part
    list. An EMPTY ``ttl_where`` conjunction means every row expires
    (only reachable from the hive path, where the partition terms were
    proven true for the directory)."""
    from ..native.tableschema import copy_table_schema
    from ..sources.native_datasource import infer_native_schema

    os.makedirs(out_dir, exist_ok=True)
    if parts:
        copy_table_schema(os.path.dirname(parts[0]), out_dir)
    pred_sets = [tuple(ttl_where)]
    aliases = _alias_map(os.path.dirname(parts[0])) if parts else {}
    untouched, touched = [], []
    for p in parts:
        (untouched if _part_untouched(p, pred_sets, aliases) else touched).append(p)

    _link_parts(untouched, out_dir)

    if touched:
        import hashlib
        import tempfile

        tag = hashlib.md5(("|".join(touched) + out_dir).encode()).hexdigest()[:12]
        stage = os.path.join(tempfile.gettempdir(), "chsql_ttl_stage", tag)
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        from ..native.tableschema import copy_table_schema

        copy_table_schema(os.path.dirname(touched[0]), stage)
        for p in touched:
            os.symlink(p, os.path.join(stage, os.path.basename(p)))
            for csrc, cdst in _companions(p):
                os.symlink(csrc, os.path.join(stage, cdst))
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
        schema = infer_native_schema({"path": stage})
        df = _read_staged(spark, stage, schema).localCheckpoint(eager=False)
        # empty conjunction == constant-true expiry for this directory
        cond = _conj(ttl_where) if ttl_where else F.lit(True)
        # NULL-predicate rows (e.g. NULL ts) satisfy neither ~cond nor
        # cond — they must survive as KEPT (unexpired) rows, not vanish
        # (r10 ADVICE): a row whose TTL clock is unknown has not expired
        kept = df.filter(cond.isNull() | ~cond)
        expired = df.filter(cond)
        aggs = []
        for col in df.columns:
            if col in group_by:
                continue
            aggs.append(F.expr(set_exprs.get(col, f"MIN({col})")).alias(col))
        rolled = expired.groupBy(*group_by).agg(*aggs).select(*df.columns)
        out_df = kept.select(*df.columns).unionAll(rolled)
        writer = out_df.write.format("clickhouse_native").mode("append")
        if compression:
            writer = writer.option("compression", compression)
        writer.save(out_dir)

    return {
        "untouched_parts": len(untouched),
        "rewritten_parts": len(touched),
        "out_dir": out_dir,
    }


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

    from ..sources.native_datasource import infer_native_schema

    if not where:
        raise ValueError("lightweight_delete requires a predicate")
    schema = infer_native_schema(
        {
            "path": src_dir,
            "file_column": "__part",
            "row_index_column": "__ridx",
        }
    )
    df = (
        spark.read.format("clickhouse_native")
        .schema(schema)
        .option("file_column", "__part")
        .option("row_index_column", "__ridx")
        .load(src_dir)
    )
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
    (and their stats sidecars) into ``<dir>/detached/`` — invisible to
    every scan (resolve_paths only descends into ``key=value``
    subdirectories), recoverable with :func:`attach_parts`. Zero-copy:
    a rename within the filesystem."""

    det = os.path.join(src_dir, "detached")
    os.makedirs(det, exist_ok=True)
    moved = []
    for name in part_names:
        p = os.path.join(src_dir, name)
        if not os.path.isfile(p):
            raise FileNotFoundError(f"no such part: {p}")
        os.replace(p, os.path.join(det, name))
        for csrc, cdst in _companions(p):
            os.replace(csrc, os.path.join(det, cdst))
        moved.append(name)
    return {"detached": moved, "dir": det}


def attach_parts(
    dst_dir: str,
    src: Optional[str] = None,
    *,
    move: bool = False,
) -> dict:
    """``ALTER TABLE ... ATTACH PARTITION [FROM table]`` analogue.

    With ``src=None``, re-attaches everything under
    ``<dst>/detached/`` (moves back). With ``src`` set to another
    Native directory, hard-links (or copies) every part + sidecar from
    it — the zero-copy cross-table attach; ``move=True`` relocates
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
            if p.endswith(".json"):
                continue
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

    existing = [p for p in resolve_paths(dst_dir) if not p.endswith(".json")]
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
        if move:
            os.replace(p, dst)
        else:
            _link_or_copy(p, dst)
        for csrc, cdst in _companions(p):
            sdst = os.path.join(dst_dir, cdst)
            if move:
                os.replace(csrc, sdst)
            else:
                _link_or_copy(csrc, sdst)
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
    native column — the reason ClickHouse users run it.

    Hive ``key=value`` layouts materialize PER PARTITION DIRECTORY
    (partition columns are path-derived, never in the payload, so each
    directory is an independent flat materialize whose output mirrors
    the same ``key=value`` tree)."""
    import hashlib
    import tempfile

    from ..filesystem import resolve_paths
    from ..native.codec import read_file_schema
    from ..native.tableschema import copy_table_schema, load_table_schema
    from ..sources.native_datasource import _partition_spec

    meta = load_table_schema(src_dir)
    if not meta or column not in {c["name"] for c in meta["columns"]}:
        raise ValueError(
            f"column {column!r} is not in the table schema — "
            "MATERIALIZE COLUMN follows ALTER ADD COLUMN"
        )
    _guard_out_dir(src_dir, out_dir)
    parts = [p for p in resolve_paths(src_dir) if not p.endswith(".json")]
    part_keys, _vals, _types = _partition_spec(src_dir, parts)
    if part_keys:
        # per partition directory: mirror the key=value tree, run the
        # flat materialize inside each (payload never carries the
        # partition columns, so nothing is lost)
        by_dir: dict = {}
        for p in parts:
            rel = os.path.relpath(os.path.dirname(p), src_dir)
            by_dir.setdefault(rel, []).append(p)
        total = {"untouched_parts": 0, "rewritten_parts": 0}
        os.makedirs(out_dir, exist_ok=True)
        copy_table_schema(src_dir, out_dir)
        for rel in sorted(by_dir):
            sub_out = os.path.join(out_dir, rel)
            res = _materialize_flat(
                spark,
                src_dir,
                by_dir[rel],
                sub_out,
                column,
                compression,
            )
            total["untouched_parts"] += res["untouched_parts"]
            total["rewritten_parts"] += res["rewritten_parts"]
        return {**total, "out_dir": out_dir}
    _clear_out_files(out_dir)
    copy_table_schema(src_dir, out_dir)
    res = _materialize_flat(
        spark, src_dir, parts, out_dir, column, compression
    )
    return {**res, "out_dir": out_dir}


def _materialize_flat(
    spark: SparkSession,
    schema_dir: str,
    parts: list,
    out_dir: str,
    column: str,
    compression: Optional[str],
) -> dict:
    """Single-directory MATERIALIZE COLUMN core over an explicit part
    list; ``schema_dir`` holds the evolved _table_schema.json."""
    import hashlib
    import tempfile

    from ..native.codec import read_file_schema
    from ..native.tableschema import copy_table_schema

    _clear_out_files(out_dir)

    untouched, touched = [], []
    for p in parts:
        names = {n for n, _t in read_file_schema(p)}
        (untouched if column in names else touched).append(p)

    for i, p in enumerate(untouched):
        base = f"keep-{i:04d}-{os.path.basename(p)}"
        _link_or_copy(p, os.path.join(out_dir, base))
        for csrc, cdst in _companions(p, base):
            _link_or_copy(csrc, os.path.join(out_dir, cdst))

    if touched:
        tag = hashlib.md5(
            ("|".join(touched) + out_dir + column).encode()
        ).hexdigest()[:12]
        stage = os.path.join(
            tempfile.gettempdir(), "chsql_materialize_stage", tag
        )
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        copy_table_schema(schema_dir, stage)
        for p in touched:
            os.symlink(p, os.path.join(stage, os.path.basename(p)))
            for csrc, cdst in _companions(p):
                os.symlink(csrc, os.path.join(stage, cdst))
        df = _read_staged(spark, stage)
        writer = df.write.format("clickhouse_native").mode("append")
        if compression:
            writer = writer.option("compression", compression)
        writer.save(out_dir)

    return {
        "untouched_parts": len(untouched),
        "rewritten_parts": len(touched),
    }
