"""Atomic catalog operations over Native table directories — the
ClickHouse Atomic-database surface the file layout makes trivial:

* ``exchange_tables(a, b)`` — ``EXCHANGE TABLES a AND b``: atomic swap
  of two table directories via a three-step rename (rename is atomic
  within a filesystem; the transient name carries the pid so a crashed
  swap is diagnosable and re-runnable).
* ``drop_table(path)`` — ``DROP TABLE``: the directory moves into a
  sibling ``.trash`` with a timestamped name instead of being deleted
  (Atomic's delayed drop), so reads fail immediately but the bytes
  survive until purge.
* ``undrop_table(path)`` — ``UNDROP TABLE``: restores the most recent
  trashed generation of the table.
* ``purge_dropped(base_dir, older_than)`` — the background cleaner
  (``database_atomic_delay_before_drop_table_sec`` analogue).

All driver-side renames: zero data movement at any table size.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable

TRASH = ".trash"


def exchange_tables(a: str, b: str) -> None:
    """Atomic-ish swap of two table directories (three renames; the
    intermediate name is pid-tagged)."""
    a, b = os.path.abspath(a), os.path.abspath(b)
    if not os.path.isdir(a) or not os.path.isdir(b):
        raise ValueError("EXCHANGE TABLES requires two existing directories")
    if a == b:
        raise ValueError("cannot exchange a table with itself")
    tmp = f"{a}.exchange-{os.getpid()}"
    if os.path.exists(tmp):
        raise ValueError(
            f"stale exchange intermediate {tmp!r} exists — a previous "
            "swap crashed mid-flight; inspect and remove it first"
        )
    os.rename(a, tmp)
    try:
        os.rename(b, a)
    except OSError:
        os.rename(tmp, a)  # roll back step 1
        raise
    os.rename(tmp, b)


def drop_table(
    path: str, *, now_fn: Callable[[], float] = time.time
) -> str:
    """Move the table into ``<parent>/.trash/<name>-<stamp>`` (delayed
    drop); returns the trash path."""
    path = os.path.abspath(path)
    if not os.path.isdir(path):
        raise ValueError(f"no table directory at {path!r}")
    trash_dir = os.path.join(os.path.dirname(path), TRASH)
    os.makedirs(trash_dir, exist_ok=True)
    stamp = f"{int(now_fn() * 1000):015d}"
    dst = os.path.join(trash_dir, f"{os.path.basename(path)}-{stamp}")
    os.rename(path, dst)
    return dst


def undrop_table(path: str) -> str:
    """Restore the MOST RECENT trashed generation of ``path``; refuses
    when a live table already exists there."""
    path = os.path.abspath(path)
    if os.path.exists(path):
        raise ValueError(
            f"{path!r} already exists — UNDROP refuses to overwrite"
        )
    trash_dir = os.path.join(os.path.dirname(path), TRASH)
    name = os.path.basename(path)
    gens = sorted(
        d
        for d in (os.listdir(trash_dir) if os.path.isdir(trash_dir) else [])
        if d.startswith(name + "-")
    )
    if not gens:
        raise ValueError(f"no dropped generation of {name!r} in the trash")
    os.rename(os.path.join(trash_dir, gens[-1]), path)
    return path


def purge_dropped(
    base_dir: str,
    *,
    older_than: float = 8 * 3600,
    now_fn: Callable[[], float] = time.time,
) -> int:
    """Permanently delete trashed generations older than
    ``older_than`` seconds; returns the number purged."""
    trash_dir = os.path.join(os.path.abspath(base_dir), TRASH)
    if not os.path.isdir(trash_dir):
        return 0
    cutoff_ms = (now_fn() - older_than) * 1000
    n = 0
    for d in os.listdir(trash_dir):
        try:
            stamp = int(d.rsplit("-", 1)[-1])
        except ValueError:
            continue
        if stamp < cutoff_ms:
            shutil.rmtree(os.path.join(trash_dir, d), ignore_errors=True)
            n += 1
    return n


def truncate_table(
    path: str, *, now_fn: Callable[[], float] = time.time
) -> str:
    """``TRUNCATE TABLE`` (docs: statements/truncate): remove every
    data part — and their sidecars, skip indexes, delete masks and
    shadow snapshots — but KEEP the table directory and its metadata
    (schema file, policies), so the table stays queryable as empty
    and writable in place. Parts move to a trash generation (the
    delayed-drop machinery), so an accidental TRUNCATE is UNDROP-able
    until purge."""
    path = os.path.abspath(path)
    if not os.path.isdir(path):
        raise ValueError(f"no table directory at {path!r}")
    trash_dir = os.path.join(os.path.dirname(path), TRASH)
    os.makedirs(trash_dir, exist_ok=True)
    # two truncates within one millisecond (or a pre-existing
    # identically stamped trash entry) must not collide; bumping the
    # stamp keeps the `<...>-<int-ms>` shape purge_dropped parses
    stamp_ms = int(now_fn() * 1000)
    while True:
        dst = os.path.join(
            trash_dir, f"{os.path.basename(path)}-truncated-{stamp_ms:015d}"
        )
        try:
            os.makedirs(dst)
            break
        except FileExistsError:
            stamp_ms += 1
    kept = {"_policies.json", "_table_schema.json"}
    for entry in os.listdir(path):
        if entry in kept:
            continue
        os.rename(os.path.join(path, entry), os.path.join(dst, entry))
    return dst
