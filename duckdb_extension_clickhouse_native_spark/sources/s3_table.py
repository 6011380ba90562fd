"""ClickHouse ``s3()`` / ``s3Cluster()`` table functions (docs:
sql-reference/table-functions/s3): read object-store files in a named
wire format.

The ``s3`` row of the shared object source (object_source.py, which
owns the formats, the schema probe, the reader, the
``clickhouse_s3(path, fmt[, structure[, compression]])`` SQL UDTF and
the INSERT path), over a pyarrow.fs transport — the same FS layer
Spark's own parquet reader rides, so ``s3://`` (and ``file://``, which
exercises the identical code path on a local disk, the
tests/test_filesystem.py precedent) resolve through ``pyarrow.fs``.
The row also backs gcs() / oss() / hdfs().  What it adds:

* **listing** — ``*`` / ``?`` wildcards (plus the shared ``{N..M}`` /
  ``{a,b}`` brace globs) expand by LISTING the store, which url()
  cannot do; every matched object becomes ONE input partition, so a
  1000-object prefix reads with 1000-way parallelism.
* **credentials** — ``access_key_id`` / ``secret_access_key`` /
  ``session_token`` options (ClickHouse's positional spelling), or
  ``nosign`` for anonymous public-bucket access; ``region`` /
  ``endpoint`` override the defaults.  Without any of these the
  environment/instance credentials apply, exactly as pyarrow defaults.
* **writes** — ``s3_insert`` streams each object through the store's
  output stream.

``s3Cluster(cluster, ...)``: in ClickHouse the cluster argument fans
file processing out to cluster nodes; in Spark the per-file partitions
ARE the fan-out (the executor pool is the cluster), so the spelling
validates its argument and delegates — same results, same parallelism
model, no second scheduler.

Scale note (100 TB): one object = one partition; compressed objects
are unsplittable by nature and the planner never pretends otherwise.
Listing is one recursive FileSelector call per top-level prefix —
metadata-only, no data motion.
"""

from __future__ import annotations

import posixpath
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .object_source import (
    ObjectSource,
    Opener,
    _truthy,
    insert_kind,
    insert_objects,
    load_objects,
)
from .url_table import _split_top_level_commas, expand_url_globs

_GLOB_CHARS = ("*", "?", "[")

# credential/FS option names forwarded from reader options
_FS_OPTION_KEYS = (
    "access_key_id",
    "secret_access_key",
    "session_token",
    "nosign",
    "region",
    "endpoint",
)


def _fs_options(options: dict) -> dict:
    return {
        k: options[k]
        for k in _FS_OPTION_KEYS
        if options.get(k) not in (None, "")
    }


def _s3_fs(uri: str, fs_opts: dict):
    """(pyarrow FileSystem, in-fs path, scheme).  Explicit credential /
    endpoint options build the S3FileSystem directly (the ClickHouse
    s3(path, key, secret, ...) spelling); otherwise
    ``FileSystem.from_uri`` applies env/instance defaults — and handles
    every other scheme (file://, hdfs://, gs://) the same way the
    native DataSource's filesystem.py does."""
    from pyarrow import fs as pafs

    if "://" not in uri:
        raise ValueError(f"s3() needs a scheme:// URI, got {uri!r}")
    scheme, rest = uri.split("://", 1)
    explicit = {
        k: v for k, v in fs_opts.items() if k not in ("nosign",)
    }
    nosign = _truthy(fs_opts.get("nosign"))
    if scheme in ("s3", "s3a") and (explicit or nosign):
        kwargs = {}
        if fs_opts.get("access_key_id"):
            kwargs["access_key"] = fs_opts["access_key_id"]
        if fs_opts.get("secret_access_key"):
            kwargs["secret_key"] = fs_opts["secret_access_key"]
        if fs_opts.get("session_token"):
            kwargs["session_token"] = fs_opts["session_token"]
        if nosign:
            kwargs["anonymous"] = True
        if fs_opts.get("region"):
            kwargs["region"] = fs_opts["region"]
        if fs_opts.get("endpoint"):
            kwargs["endpoint_override"] = fs_opts["endpoint"]
        return pafs.S3FileSystem(**kwargs), rest, scheme
    fs, p = pafs.FileSystem.from_uri(uri)
    return fs, p, scheme


def _rebuild(scheme: str, p: str) -> str:
    return f"{scheme}://{p}"


def expand_s3_paths(spec: str, fs_opts: Optional[dict] = None) -> list:
    """Resolve an s3() path spec into concrete object URIs: top-level
    comma split, brace globs ({N..M}, {a,b} — shared with url()), then
    ``*``/``?``/``[]`` wildcards via a recursive LISTING (url() can't
    list; s3() must).  A bare directory/prefix lists its non-hidden
    files.  Sorted for deterministic partition order; a non-wildcard
    key that doesn't exist raises."""
    from pyarrow.fs import FileSelector, FileType

    from ..filesystem import _glob_to_regex

    fs_opts = fs_opts or {}
    out: list = []
    for piece in _split_top_level_commas(spec):
        piece = piece.strip()
        if not piece:
            continue
        for braced in expand_url_globs(piece):
            fs, p, scheme = _s3_fs(
                braced.split("*")[0].split("?")[0].split("[")[0]
                if any(c in braced for c in _GLOB_CHARS)
                else braced,
                fs_opts,
            )
            if any(c in braced for c in _GLOB_CHARS):
                pattern = braced.split("://", 1)[1]
                base = posixpath.dirname(
                    pattern.split("*")[0].split("?")[0].split("[")[0]
                )
                # recursive + separator-aware regex: '*' must not cross
                # '/', an intermediate-component wildcard must descend
                # (the filesystem.resolve_paths contract)
                infos = fs.get_file_info(FileSelector(base, recursive=True))
                rx = _glob_to_regex(pattern)
                out.extend(
                    _rebuild(scheme, i.path)
                    for i in sorted(infos, key=lambda i: i.path)
                    if i.type == FileType.File and rx.match(i.path)
                )
                continue
            info = fs.get_file_info([p])[0]
            if info.type == FileType.Directory:
                infos = fs.get_file_info(FileSelector(p, recursive=True))
                out.extend(
                    _rebuild(scheme, i.path)
                    for i in sorted(infos, key=lambda i: i.path)
                    if i.type == FileType.File
                    and not posixpath.basename(i.path).startswith(("_", "."))
                )
            elif info.type == FileType.File:
                out.append(braced)
            else:
                raise FileNotFoundError(
                    f"s3(): no such object {braced!r} (wildcards allowed: "
                    "{N..M}, {a,b}, *, ?)"
                )
    return out


def _open_object(uri: str, compression: Optional[str], opts: dict):
    """Open + transparent decompression (extension sniff on the object
    key unless an explicit method is given)."""
    import io

    from ..native.contentcodec import open_compressed, resolve_compression

    fs, p, _scheme = _s3_fs(uri, _fs_options(opts))
    # compression=None: pyarrow's own extension auto-detect is OFF —
    # this layer owns it (explicit option override + bz2/xz coverage)
    raw = fs.open_input_stream(p, compression=None)
    method = resolve_compression(uri, compression)
    try:
        if method == "none":
            # NativeFile lacks readline(); BufferedReader restores it
            # for the line-oriented text decoders (readinto-backed)
            return io.BufferedReader(raw)
        return open_compressed(raw, method)
    except Exception:
        raw.close()
        raise


def _expand(spec: str, opts: dict) -> list:
    return expand_s3_paths(spec, _fs_options(opts))


def _create(uri: str, opts: dict):
    fs, p, _scheme = _s3_fs(uri, _fs_options(opts))
    return fs.open_output_stream(p, compression=None)


S3 = Opener("s3()", "path", _FS_OPTION_KEYS, _expand, _open_object, _create)


class ClickHouseS3DataSource(ObjectSource):
    """``spark.read.format("clickhouse_s3").option("path", "s3://...")
    .option("format", "CSVWithNamesAndTypes").load()``"""

    opener = S3

    @classmethod
    def name(cls) -> str:
        return "clickhouse_s3"


def s3_table(
    spark: SparkSession,
    path: str,
    fmt: str = "CSVWithNamesAndTypes",
    structure: Optional[str] = None,
    compression: Optional[str] = None,
    *,
    access_key_id: Optional[str] = None,
    secret_access_key: Optional[str] = None,
    session_token: Optional[str] = None,
    nosign: bool = False,
    region: Optional[str] = None,
    endpoint: Optional[str] = None,
    virtual_columns: bool = False,
    schema_inference_mode: Optional[str] = None,
    format_regexp: Optional[str] = None,
    format_regexp_skip_unmatched: bool = False,
) -> DataFrame:
    """The ``s3(path [,credentials] [,format] [,structure]
    [,compression])`` table function as a DataFrame — one partition per
    matched object, wildcards resolved by listing."""
    return load_objects(
        spark,
        ClickHouseS3DataSource,
        path,
        fmt,
        structure=structure,
        compression=compression,
        format_regexp=format_regexp,
        format_regexp_skip_unmatched=format_regexp_skip_unmatched,
        access_key_id=access_key_id,
        secret_access_key=secret_access_key,
        session_token=session_token,
        region=region,
        endpoint=endpoint,
        nosign=nosign,
        virtual_columns=virtual_columns,
        schema_inference_mode=schema_inference_mode,
    )


def s3_cluster_table(
    spark: SparkSession, cluster: str, path: str, *args, **kwargs
) -> DataFrame:
    """``s3Cluster('cluster', path, ...)``: ClickHouse distributes the
    matched-file list across cluster nodes; Spark's executor pool IS
    that distribution (one partition per object already schedules
    across every executor), so the spelling validates its argument and
    delegates to :func:`s3_table`."""
    if not (cluster or "").strip():
        raise ValueError("s3Cluster() needs a non-empty cluster name")
    return s3_table(spark, path, *args, **kwargs)


def s3_insert(
    df,
    path: str,
    fmt: str = "CSVWithNamesAndTypes",
    *,
    partition_by: Optional[str] = None,
    access_key_id: Optional[str] = None,
    secret_access_key: Optional[str] = None,
    session_token: Optional[str] = None,
    nosign: bool = False,
    region: Optional[str] = None,
    endpoint: Optional[str] = None,
) -> int:
    """``INSERT INTO FUNCTION s3(path, fmt) [PARTITION BY key]``
    through the shared INSERT path (``object_source.insert_objects``):
    ONE object from one task, or with ``partition_by`` one object per
    value of the column, each in its own task, named through the
    ``{_partition_id}`` placeholder.  Compression is sniffed from the
    key extension exactly like the read half — an ``INSERT`` to
    ``.../part_{_partition_id}.csv.gz`` writes gzip objects
    s3()/file()/url() read back.  Works on any pyarrow.fs scheme
    (``file://`` locally, ``s3://`` with the same credential options
    as :func:`s3_table`).  Returns rows written."""
    insert_kind(fmt, S3.surface)  # the format refuses before the path
    if "://" not in path:
        raise ValueError(f"s3() needs a scheme:// URI, got {path!r}")
    opts = {
        "access_key_id": access_key_id,
        "secret_access_key": secret_access_key,
        "session_token": session_token,
        "nosign": "true" if nosign else None,
        "region": region,
        "endpoint": endpoint,
    }
    return insert_objects(df, S3, path, fmt, opts, partition_by=partition_by)


# --------------------------------------------------------------------------
# sibling spellings: gcs() / oss() / hdfs() (+ their Cluster forms)
# --------------------------------------------------------------------------
# ClickHouse exposes several storage-specific table functions that are
# the S3 surface under another name (docs: table-functions/gcs — "an
# alias of s3()"; /oss; /hdfs).  pyarrow.fs resolves gs:// and hdfs://
# URIs through FileSystem.from_uri, and S3-compatible HTTPS endpoints
# (storage.googleapis.com, OSS) take the same credential/endpoint
# options s3() has — so these are thin argument-validating spellings
# over the SAME listing/decode/partition machinery, not re-implementations.


def gcs_table(spark: SparkSession, path: str, *args, **kwargs) -> DataFrame:
    """``gcs(path [,hmac_key, hmac_secret] [,format] ...)`` — the
    ClickHouse gcs() alias of s3(): ``gs://`` URIs ride pyarrow's GCS
    filesystem; ``https://storage.googleapis.com/...`` S3-compat URLs
    take ``access_key_id``/``secret_access_key`` as the HMAC pair."""
    return s3_table(spark, path, *args, **kwargs)


def oss_table(spark: SparkSession, path: str, *args, **kwargs) -> DataFrame:
    """``oss(...)`` — Alibaba OSS, another documented s3() alias (use
    ``endpoint=`` for the OSS regional endpoint)."""
    return s3_table(spark, path, *args, **kwargs)


def hdfs_table(
    spark: SparkSession, path: str, *args, **kwargs
) -> DataFrame:
    """``hdfs(URI, format, structure)``: requires an ``hdfs://`` URI
    (the ClickHouse signature), then the shared pyarrow.fs machinery —
    listing globs, one partition per file, compression sniff."""
    if not path.strip().lower().startswith("hdfs://"):
        raise ValueError(f"hdfs() needs an hdfs:// URI, got {path!r}")
    return s3_table(spark, path, *args, **kwargs)


def hdfs_cluster_table(
    spark: SparkSession, cluster: str, path: str, *args, **kwargs
) -> DataFrame:
    """``hdfsCluster('cluster', ...)`` — validates and delegates, like
    s3Cluster (Spark's executor pool IS the distribution)."""
    if not (cluster or "").strip():
        raise ValueError("hdfsCluster() needs a non-empty cluster name")
    return hdfs_table(spark, path, *args, **kwargs)
