"""ClickHouse ``file()`` table function (docs: sql-reference/
table-functions/file): read local files in a named wire format.

The ``file`` row of the shared object source (object_source.py, which
owns the formats, the schema probe, the reader, the
``clickhouse_file(path, fmt[, structure[, compression]])`` SQL UDTF and
the INSERT path) behind the ``clickhouse_file`` DataSource and the
``file_table`` helper.  What this row adds: the ClickHouse path
spelling — comma-separated lists, ``{N..M}`` / ``{a,b}`` brace globs
(shared with url()) plus filesystem ``*`` / ``?`` wildcards, every
matched file ONE input partition — ``archive :: member`` reads from
zip and tar archives, and plain local writes for ``file_insert``.

The other write half is ``INTO OUTFILE`` (operators/outfile.py) —
ClickHouse splits the same way (file() reads, OUTFILE writes one local
file).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .object_source import ObjectSource, Opener, insert_objects, load_objects
from .url_table import _split_top_level_commas, expand_url_globs

# archive member access — ClickHouse file('archive :: member') (docs:
# sql-reference/table-functions/file, 'Reading from archives'): zip
# via zipfile, tar (+ .gz/.bz2/.xz via tarfile's own transparent
# modes, .zst/.lz4/.br through the contentcodec wrapper); 7z has no
# stdlib reader — named refusal
_TAR_SUFFIXES = (".tar", ".tar.gz", ".tgz", ".tar.bz2", ".tbz2",
                 ".tar.xz", ".txz", ".tar.zst", ".tar.lz4", ".tar.br")


def _is_archive(path: str) -> bool:
    low = path.lower()
    return low.endswith(".zip") or low.endswith(_TAR_SUFFIXES) or \
        low.endswith(".7z")


def _open_tar(path: str):
    import tarfile

    low = path.lower()
    if low.endswith((".tar.zst", ".tar.lz4", ".tar.br")):
        from ..native.contentcodec import open_compressed, sniff_compression

        raw = open_compressed(open(path, "rb"), sniff_compression(path))
        return tarfile.open(fileobj=raw, mode="r|")
    return tarfile.open(path, "r:*")


def _list_archive_members(path: str, pattern: str) -> list:
    """Member names in ``path`` matching ``pattern`` (fnmatch ``*``/
    ``?``; a non-wildcard member must exist).  Directories excluded."""
    low = path.lower()
    if low.endswith(".7z"):
        raise ValueError(
            f"file(): 7z archives are not supported ({path!r}) — use "
            "zip or tar (.tar, .tar.gz/.bz2/.xz/.zst/.lz4/.br)"
        )
    if low.endswith(".zip"):
        import zipfile

        with zipfile.ZipFile(path) as zf:
            names = [n for n in zf.namelist() if not n.endswith("/")]
    else:
        with _open_tar(path) as tf:
            names = [m.name for m in tf if m.isfile()]
    if any(c in pattern for c in "*?["):
        # separator-aware glob: '*' must not cross '/' — the same
        # semantics file() paths and the object-store listings use
        from ..filesystem import _glob_to_regex

        rx = _glob_to_regex(pattern)
        return sorted(n for n in names if rx.match(n))
    if pattern in names:
        return [pattern]
    raise FileNotFoundError(
        f"file(): archive {path!r} has no member {pattern!r} "
        f"(members: {sorted(names)[:10]}{'...' if len(names) > 10 else ''})"
    )


def _open_archive_member(arch: str, member: str):
    """Binary stream of one archive member.  The returned stream keeps
    a reference to its container so GC never closes the underlying
    file mid-read."""
    low = arch.lower()
    if low.endswith(".zip"):
        import zipfile

        zf = zipfile.ZipFile(arch)
        stream = zf.open(member)
        stream._chsql_container = zf  # lifetime pin
        return stream
    tf = _open_tar(arch)
    # walk to the member — works in random-access AND streaming modes
    # (the contentcodec-wrapped .tar.zst tars are sequential-only)
    stream = None
    for m in tf:
        if m.name == member and m.isfile():
            stream = tf.extractfile(m)
            break
    if stream is None:
        raise FileNotFoundError(
            f"file(): archive {arch!r} has no member {member!r}"
        )
    stream._chsql_container = tf  # lifetime pin
    return stream


def _open_file(path: str, compression, opts: dict):
    """Open + transparent decompression (extension sniff unless an
    explicit ``compression`` is given — ClickHouse file() semantics).
    ``archive :: member`` paths open the member stream; the
    compression sniff then applies to the MEMBER name (a ``data.csv.gz``
    inside a tar decompresses twice, correctly)."""
    from ..native.contentcodec import open_compressed, resolve_compression

    if "::" in path:
        arch, member = (s.strip() for s in path.split("::", 1))
        raw = _open_archive_member(arch, member)
        method = resolve_compression(member, compression)
    else:
        raw = open(path, "rb")
        method = resolve_compression(path, compression)
    if method == "none":
        return raw
    try:
        return open_compressed(raw, method)
    except Exception:
        raw.close()
        raise


def expand_file_paths(spec: str) -> list:
    """Resolve a ClickHouse file() path spec: top-level comma split,
    brace globs, then filesystem ``*``/``?`` wildcards per element.
    The ``archive :: member`` spelling (docs: table-functions/file,
    'Reading from archives') expands BOTH sides — archive paths by the
    rules above, members by ``*``/``?`` fnmatch over the listing — and
    every matched (archive, member) pair is one partition, spelled
    ``archive::member``.  Sorted for deterministic partition order;
    missing non-wildcard paths/members raise (a wildcard matching
    nothing contributes nothing)."""
    import glob as _glob
    import os

    def _expand_plain(piece: str) -> list:
        got: list = []
        for braced in expand_url_globs(piece):
            if "*" in braced or "?" in braced:
                got.extend(sorted(_glob.glob(braced)))
            elif os.path.isfile(braced):
                got.append(braced)
            else:
                raise FileNotFoundError(
                    f"file(): no such file {braced!r} (wildcards allowed: "
                    "{N..M}, {a,b}, *, ?)"
                )
        return got

    out: list = []
    for piece in _split_top_level_commas(spec):
        piece = piece.strip()
        if not piece:
            continue
        if "::" in piece:
            arch_spec, member_spec = (
                s.strip() for s in piece.split("::", 1)
            )
            if not member_spec:
                raise ValueError(
                    f"file(): 'archive :: member' needs a member "
                    f"pattern after '::': {piece!r}"
                )
            for arch in _expand_plain(arch_spec):
                if not _is_archive(arch):
                    raise ValueError(
                        f"file(): {arch!r} is not a supported archive "
                        "(zip / tar / tar.gz|bz2|xz|zst|lz4|br)"
                    )
                out.extend(
                    f"{arch}::{m}"
                    for m in _list_archive_members(arch, member_spec)
                )
            continue
        out.extend(_expand_plain(piece))
    return out

def _expand(spec: str, opts: dict) -> list:
    return expand_file_paths(spec)


def _create(path: str, opts: dict):
    return open(path, "wb")


FILE = Opener("file()", "path", (), _expand, _open_file, _create)


class ClickHouseFileDataSource(ObjectSource):
    """``spark.read.format("clickhouse_file").option("path", ...)
    .option("format", "CSVWithNamesAndTypes").load()``"""

    opener = FILE

    @classmethod
    def name(cls) -> str:
        return "clickhouse_file"


def file_table(
    spark: SparkSession,
    path: str,
    fmt: str = "CSVWithNamesAndTypes",
    structure: Optional[str] = None,
    compression: Optional[str] = None,
    virtual_columns: bool = False,
    schema_inference_mode: Optional[str] = None,
    format_regexp: Optional[str] = None,
    format_regexp_skip_unmatched: bool = False,
) -> DataFrame:
    """The ``file(path, format[, structure[, compression]])`` table
    function as a DataFrame — one partition per matched file.
    ``compression`` defaults to the extension sniff (gz/zst/br/lz4/
    bz2/xz — anything INTO OUTFILE writes reads back);
    ``virtual_columns`` appends ``_path``/``_file`` per file."""
    return load_objects(
        spark,
        ClickHouseFileDataSource,
        path,
        fmt,
        structure=structure,
        compression=compression,
        virtual_columns=virtual_columns,
        schema_inference_mode=schema_inference_mode,
        format_regexp=format_regexp,
        format_regexp_skip_unmatched=format_regexp_skip_unmatched,
    )


def file_cluster_table(
    spark: SparkSession, cluster: str, path: str, *args, **kwargs
) -> DataFrame:
    """``fileCluster('cluster', path, ...)`` (docs: table-functions/
    fileCluster): ClickHouse fans the matched-file list across cluster
    nodes that share the path; Spark's per-file partitions already
    schedule across every executor, so the spelling validates its
    argument and delegates to :func:`file_table`."""
    if not (cluster or "").strip():
        raise ValueError("fileCluster() needs a non-empty cluster name")
    return file_table(spark, path, *args, **kwargs)


def file_insert(
    df,
    path: str,
    fmt: str = "CSVWithNamesAndTypes",
    *,
    partition_by: Optional[str] = None,
) -> int:
    """``INSERT INTO FUNCTION file(path, fmt) [PARTITION BY col]`` —
    the local-path spelling of the s3() write half (the same INSERT
    path: one file, or one file per partition value via the
    ``{_partition_id}`` placeholder; compression sniffed from the
    final name).  Relative/absolute local paths accepted."""
    import os

    if "://" in path:
        raise ValueError(
            f"file() INSERT takes a local path, got a URI {path!r} — "
            "use s3_insert for scheme:// destinations"
        )
    return insert_objects(
        df, FILE, os.path.abspath(path), fmt, partition_by=partition_by
    )
