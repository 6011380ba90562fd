"""set(N) skip index for the stats sidecars — the ClickHouse
``set(max_rows)`` data-skipping index analogue (reference surface: the
host engine's MergeTree skip indexes; the reference repo reads files,
lib.rs:240-366, and delegates pruning to its host).

Where the bloom index (bloomindex.py) proves absence for EQUALITY
probes only, the set index stores the column's complete distinct-value
list (when small enough) — so ANY pushable predicate can be evaluated
against every stored value: if no value satisfies it, no row does.
That prunes the shapes min/max and bloom both miss: range predicates
over NON-CONTIGUOUS value sets (a part holding {2, 18, 34} survives a
min/max check for BETWEEN 14 AND 16 but the set disproves it), string
prefix/suffix/contains probes, and inequality mixes.  The BETWEEN
case only falls to a CONJUNCTION check — Spark pushes it as two
filters, each individually satisfiable — so the pruner groups a
column's filters and asks whether any stored value survives all of
them (:func:`set_excludes_conjunction`).

Wire format (inside ``_<part>.stats.json``): a top-level ``"set"``
map ``{column: [sorted distinct values]}``. Int and string columns
only (float equality pruning is a footgun; bool/None never index).
Capped at SET_MAX_DISTINCT values — past the cap the index is dropped
for that column (conservative: no index, no pruning), exactly
ClickHouse's ``set(N)`` semantics where an overfull granule stores
nothing and always matches.
"""

from __future__ import annotations

from typing import Optional

# ClickHouse set(N) is per-granule; ours is per-part (the sidecar is
# per-part).  100 values keeps the sidecar addition ~1-2 KB and still
# covers the low-cardinality columns (status codes, categories,
# shards, enum-ish ints) this index exists for.
SET_MAX_DISTINCT = 100


def set_index_values(values: "pa.Array") -> Optional[list]:
    """The JSON-able stored forms of a block's distinct non-null
    ``values``; None for unsupported types (callers drop the column's
    index — 'cannot prove absence') and for more values than
    SET_MAX_DISTINCT (the index would be dropped anyway)."""
    import pyarrow as pa

    t = values.type
    if len(values) > SET_MAX_DISTINCT:
        return None
    if pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t):
        return values.to_pylist()
    return None


def _same_kind(stored, probe) -> bool:
    """Only compare comparable kinds: ints (and int-vs-float probes)
    or strings.  A kind mismatch means 'cannot evaluate' — never
    prune on it."""
    if isinstance(stored, bool) or isinstance(probe, bool):
        return False
    if isinstance(stored, int) and isinstance(probe, (int, float)):
        return True
    if isinstance(stored, str) and isinstance(probe, str):
        return True
    return False


def value_satisfies(v, f) -> Optional[bool]:
    """Does stored value ``v`` satisfy pushed filter ``f``?  Returns
    None when the filter shape is unsupported or the kinds are not
    comparable — callers MUST treat None as 'might match' (keep)."""
    from pyspark.sql.datasource import (
        EqualTo,
        EqualNullSafe,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    if isinstance(f, (EqualTo, EqualNullSafe)):
        if f.value is None or isinstance(f.value, bool):
            return None
        return v == f.value if _same_kind(v, f.value) else None
    if isinstance(f, In):
        members = [
            p for p in f.value if p is not None and not isinstance(p, bool)
        ]
        if len(members) != len([p for p in f.value if p is not None]):
            return None  # bool members: bail out entirely
        # NULL members never match (NULL = x is NULL, not true), so
        # they are ignorable from the value's point of view
        if any(not _same_kind(v, p) for p in members):
            return None
        return any(v == p for p in members)
    cmp = {
        GreaterThan: lambda a, b: a > b,
        GreaterThanOrEqual: lambda a, b: a >= b,
        LessThan: lambda a, b: a < b,
        LessThanOrEqual: lambda a, b: a <= b,
    }.get(type(f))
    if cmp is not None:
        return cmp(v, f.value) if _same_kind(v, f.value) else None
    if isinstance(f, StringStartsWith):
        if isinstance(v, str) and isinstance(f.value, str):
            return v.startswith(f.value)
        return None
    if isinstance(f, StringEndsWith):
        if isinstance(v, str) and isinstance(f.value, str):
            return v.endswith(f.value)
        return None
    if isinstance(f, StringContains):
        if isinstance(v, str) and isinstance(f.value, str):
            return f.value in v
        return None
    return None


def set_excludes_filter(vals: list, f) -> bool:
    """True iff NO stored distinct value satisfies pushed filter ``f``
    — then no row of the part matches (comparison filters reject NULL
    rows by SQL semantics, and ``vals`` covers every non-null value).
    Unknown filter shapes, kind mismatches, and malformed sidecar
    payloads answer False (keep the file)."""
    return set_excludes_conjunction(vals, [f])


def set_excludes_conjunction(vals: list, filters: list) -> bool:
    """True iff no stored value satisfies ALL of ``filters`` (a
    conjunction over ONE column).  A value with any None (can't
    evaluate) verdict counts as surviving — conservative."""
    if not isinstance(vals, list) or not vals or not filters:
        return False
    for v in vals:
        if all(value_satisfies(v, f) is not False for f in filters):
            return False  # v might satisfy the whole conjunction
    return True
