"""ClickHouse ``s3()`` / ``s3Cluster()`` table functions (docs:
sql-reference/table-functions/s3): read object-store files in a named
wire format.

Spark-first analogue of the url()/file() family with a pyarrow.fs
transport — the same FS layer Spark's own parquet reader rides, so
``s3://`` (and ``file://``, which exercises the identical code path
in-sandbox, the tests/test_filesystem.py precedent) resolve through
``pyarrow.fs``.  What s3() adds over url():

* **listing** — ``*`` / ``?`` wildcards (plus the shared ``{N..M}`` /
  ``{a,b}`` brace globs) expand by LISTING the store, which url()
  cannot do; every matched object becomes ONE input partition, so a
  1000-object prefix reads with 1000-way parallelism.
* **credentials** — ``access_key_id`` / ``secret_access_key`` /
  ``session_token`` options (ClickHouse's positional spelling), or
  ``nosign`` for anonymous public-bucket access; ``region`` /
  ``endpoint`` override the defaults.  Without any of these the
  environment/instance credentials apply, exactly as pyarrow defaults.
* **virtual columns** — ``_path`` (full URI) and ``_file`` (object
  basename) per ClickHouse's s3() contract, shared with url()/file().

Formats, ``structure``, and ``compression`` behave exactly as
url()/file(): self-describing spellings decode directly, headerless
plain spellings need a structure, WithNames infers, and compression
sniffs the object-key extension (gz/zst/br/lz4/bz2/xz) unless given
explicitly.

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
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .url_table import (
    _WITHNAMES_DECODERS,
    _inference_mode,
    merge_inferred_schemas,
    probe_many,
    _add_virtual_fields,
    _append_virtuals,
    _conform_batch,
    _decode_stream,
    _plan_arrow_types,
    _split_top_level_commas,
    _structured_decoder_for,
    _truthy,
    format_settings,
    insert_kind,
    structure_is_authoritative,
    expand_url_globs,
    parse_structure,
    validate_format,
)

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


def _open_object(uri: str, fs_opts: dict, compression: Optional[str]):
    """Open + transparent decompression (extension sniff on the object
    key unless an explicit method is given)."""
    import io

    from ..native.contentcodec import open_compressed, resolve_compression

    fs, p, _scheme = _s3_fs(uri, fs_opts)
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


def _probe_s3_schema(
    uri: str,
    fmt: str,
    structure: Optional[str],
    compression: Optional[str],
    fs_opts: dict,
    settings: Optional[dict] = None,
):
    from pyspark.sql.pandas.types import from_arrow_schema

    from ..native.contentcodec import normalize_compression

    normalize_compression(compression)
    if structure_is_authoritative(fmt, structure):
        from pyspark.sql.types import StructField, StructType

        from .native_datasource import _ch_to_spark

        validate_format(fmt, structure, settings)
        return StructType(
            [
                StructField(n, _ch_to_spark(t), True)
                for n, t in parse_structure(structure)
            ]
        )
    validate_format(fmt, structure, settings)
    with _open_object(uri, fs_opts, compression) as f:
        blocks = _decode_stream(f, fmt, structure, settings)
        try:
            first = next(iter(blocks))
        except StopIteration:
            raise ValueError(
                f"s3() cannot infer a schema from a zero-block "
                f"{fmt} object at {uri!r}"
            )
    return from_arrow_schema(first.to_record_batch().schema)


class S3Partition(InputPartition):
    def __init__(self, uri: str):
        self.uri = uri


class ClickHouseS3Reader(DataSourceReader):
    def __init__(self, options: dict, plan_schema=None):
        from ..native.contentcodec import normalize_compression

        self.fs_opts = _fs_options(options)
        self.uris = expand_s3_paths(options.get("path") or "", self.fs_opts)
        if not self.uris:
            raise ValueError("clickhouse_s3 requires a path option")
        self.fmt = options.get("format", "CSVWithNamesAndTypes")
        self.structure = (options.get("structure") or "").strip() or None
        self.settings = format_settings(options)
        validate_format(self.fmt, self.structure, self.settings)
        self.compression = options.get("compression")
        normalize_compression(self.compression)
        self.fill_missing = _inference_mode(options) == "union"
        self.virtuals = _truthy(options.get("virtual_columns"))
        self.plan_schema = plan_schema
        names = list(plan_schema.fieldNames()) if plan_schema else None
        if names is not None and self.virtuals:
            names = [n for n in names if n not in ("_path", "_file")]
        self.field_names = names
        self._arrow_types = None

    def partitions(self):
        return [S3Partition(u) for u in self.uris]

    def read(self, partition: S3Partition) -> Iterator:
        if self._arrow_types is None:
            self._arrow_types = _plan_arrow_types(self.plan_schema)
        f = _open_object(partition.uri, self.fs_opts, self.compression)
        try:
            for blk in _decode_stream(
                f, self.fmt, self.structure, self.settings
            ):
                rb = _conform_batch(
                    blk.to_record_batch(),
                    self.field_names,
                    self._arrow_types,
                    "s3()",
                    partition.uri,
                    fill_missing=self.fill_missing,
                )
                if self.virtuals:
                    rb = _append_virtuals(rb, partition.uri)
                yield rb
        finally:
            try:
                f.close()
            except Exception:
                pass


class ClickHouseS3DataSource(DataSource):
    """``spark.read.format("clickhouse_s3").option("path", "s3://...")
    .option("format", "CSVWithNamesAndTypes").load()``"""

    @classmethod
    def name(cls) -> str:
        return "clickhouse_s3"

    def schema(self):
        memo = getattr(self, "_schema_memo", None)
        if memo is not None:
            return memo
        opts = dict(self.options)
        fs_opts = _fs_options(opts)
        uris = expand_s3_paths(opts.get("path") or "", fs_opts)
        if not uris:
            raise ValueError("clickhouse_s3 requires a path option")
        fmt = opts.get("format", "CSVWithNamesAndTypes")
        structure = (opts.get("structure") or "").strip() or None
        settings = format_settings(opts)
        if (
            _inference_mode(opts) == "union"
            and len(uris) > 1
            and not structure_is_authoritative(fmt, structure)
        ):
            schema = merge_inferred_schemas(
                probe_many(
                    lambda u: _probe_s3_schema(
                        u, fmt, structure, opts.get("compression"),
                        fs_opts, settings,
                    ),
                    uris,
                )
            )
        else:
            schema = _probe_s3_schema(
                uris[0], fmt, structure, opts.get("compression"),
                fs_opts, settings,
            )
        if _truthy(opts.get("virtual_columns")):
            schema = _add_virtual_fields(schema)
        self._schema_memo = schema
        return self._schema_memo

    def reader(self, schema) -> ClickHouseS3Reader:
        return ClickHouseS3Reader(dict(self.options), schema)


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
    from ..plans.base import ensure_session

    ensure_session(spark)
    r = (
        spark.read.format("clickhouse_s3")
        .option("path", path)
        .option("format", fmt)
    )
    for k, v in [
        ("structure", structure),
        ("compression", compression),
        ("format_regexp", format_regexp),
        ("format_regexp_skip_unmatched",
         "true" if format_regexp_skip_unmatched else None),
        ("access_key_id", access_key_id),
        ("secret_access_key", secret_access_key),
        ("session_token", session_token),
        ("region", region),
        ("endpoint", endpoint),
    ]:
        if v:
            r = r.option(k, v)
    if nosign:
        r = r.option("nosign", "true")
    if virtual_columns:
        r = r.option("virtual_columns", "true")
    if schema_inference_mode:
        r = r.option("schema_inference_mode", schema_inference_mode)
    return r.load()


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


# --------------------------------------------------------------------------
# write half: INSERT INTO FUNCTION s3(path, ..., fmt) [PARTITION BY k]
# --------------------------------------------------------------------------

# partition values become path components; anything path-shaped is a
# named refusal (ClickHouse rejects unsafe partition keys in object
# names the same way)
import re as _re

_SAFE_PARTITION = _re.compile(r"^[A-Za-z0-9_\-=.]+$")


def _write_object(uri: str, fs_opts: dict, batches, writer_key: str) -> int:
    """Executor-side: encode ``batches`` with the shared wire writers
    into ONE object at ``uri`` (compression sniffed from the key
    extension, streaming through the fs output)."""
    from ..native.contentcodec import (
        resolve_compression,
        wrap_compressed_write,
    )
    from ..native.rowbinary import derive_wire_types
    from ..operators.outfile import _resolve_writer

    fs, p, _scheme = _s3_fs(uri, fs_opts)
    method = resolve_compression(uri)
    raw = fs.open_output_stream(p, compression=None)
    try:
        sink = wrap_compressed_write(raw, method)
        chunks, ch_types = derive_wire_types(list(batches))
        n = _resolve_writer(writer_key)(
            sink, chunks, ch_types=ch_types
        ) or sum(b.num_rows for b in chunks)
        if sink is not raw:
            sink.close()
    finally:
        try:
            raw.close()
        except Exception:
            pass
    return int(n)


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
    (docs: sql-reference/table-functions/s3 — 'Inserting data' and the
    ``{_partition_id}`` spelling).

    * Without ``partition_by``: ONE object, one executor writer task
      (the INTO OUTFILE shape) — an export, not a table store.
    * With ``partition_by='col'``: the path must contain the literal
      ``{_partition_id}`` placeholder; rows group by the column and
      EVERY GROUP WRITES ITS OWN OBJECT IN ITS OWN TASK
      (groupBy().applyInArrow — the distributed path, N partition
      values = N concurrent writers, nothing funnels through one
      node).  Partition values become object-key components, so
      path-shaped values ('/', '..', empty) refuse by name.

    Compression is sniffed from the key extension exactly like the
    read half — an ``INSERT`` to ``.../part_{_partition_id}.csv.gz``
    writes gzip objects s3()/file()/url() read back.  Works on any
    pyarrow.fs scheme (``file://`` in-sandbox, ``s3://`` with the same
    credential options as :func:`s3_table`).  Returns rows written."""
    writer_key = insert_kind(fmt, "s3()")
    fs_opts = {
        k: v
        for k, v in {
            "access_key_id": access_key_id,
            "secret_access_key": secret_access_key,
            "session_token": session_token,
            "nosign": "true" if nosign else None,
            "region": region,
            "endpoint": endpoint,
        }.items()
        if v
    }
    if "://" not in path:
        raise ValueError(f"s3() needs a scheme:// URI, got {path!r}")

    if partition_by is None:
        if "{_partition_id}" in path:
            raise ValueError(
                "s3(): path carries {_partition_id} but no PARTITION BY "
                "column was given"
            )

        def write_single(batches):
            import pyarrow as pa_exec

            n = _write_object(path, fs_opts, batches, writer_key)
            yield pa_exec.RecordBatch.from_arrays(
                [pa_exec.array([n], type=pa_exec.int64())], names=["n"]
            )

        out = df.repartition(1).mapInArrow(write_single, "n bigint")
        return int(out.collect()[0]["n"])

    if "{_partition_id}" not in path:
        raise ValueError(
            "s3() PARTITION BY needs a {_partition_id} placeholder in "
            "the path (ClickHouse: 'INSERT INTO FUNCTION s3(.../"
            "file_{_partition_id}.csv) PARTITION BY ...')"
        )
    if partition_by not in df.columns:
        raise ValueError(
            f"PARTITION BY column {partition_by!r} is not in the "
            f"DataFrame ({df.columns})"
        )

    def write_group(table):
        import pyarrow as pa_exec

        key = table.column(partition_by)[0].as_py()
        key_s = "" if key is None else str(key)
        if not _SAFE_PARTITION.fullmatch(key_s):
            raise ValueError(
                f"s3() PARTITION BY value {key_s!r} is not a safe "
                "object-key component ([A-Za-z0-9_-=.]+ only)"
            )
        uri = path.replace("{_partition_id}", key_s)
        n = _write_object(uri, fs_opts, table.to_batches(), writer_key)
        return pa_exec.table(
            {
                "k": pa_exec.array([key_s], type=pa_exec.string()),
                "n": pa_exec.array([n], type=pa_exec.int64()),
            }
        )

    out = df.groupBy(partition_by).applyInArrow(
        write_group, "k string, n bigint"
    )
    # bounded collect: one row PER PARTITION VALUE (the convergence-
    # scalar contract — never the data)
    return int(sum(r["n"] for r in out.collect()))


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


def make_s3_udtf():
    """UDTF for ``clickhouse_s3(path, fmt[, structure[, compression]])``
    — the SQL-invocable convenience shim (rows funnel through one
    worker; the DataSource above is the scale path).  Credentials ride
    the environment here — the DataSource options carry explicit ones."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class ClickHouseS3UDTF:
        @staticmethod
        def analyze(
            path: AnalyzeArgument,
            fmt: Optional[AnalyzeArgument] = None,
            structure: Optional[AnalyzeArgument] = None,
            compression: Optional[AnalyzeArgument] = None,
        ) -> AnalyzeResult:
            if path.value is None:
                raise ValueError(
                    "clickhouse_s3(path, fmt[, structure[, compression]]) "
                    "requires a literal path"
                )
            f = "CSVWithNamesAndTypes" if fmt is None else str(fmt.value)
            st = None if structure is None else str(structure.value)
            comp = None if compression is None else str(compression.value)
            uris = expand_s3_paths(str(path.value), {})
            if not uris:
                raise FileNotFoundError(
                    f"clickhouse_s3: nothing matches {path.value!r}"
                )
            return AnalyzeResult(
                schema=_probe_s3_schema(uris[0], f, st, comp, {})
            )

        def eval(
            self,
            path: str,
            fmt: Optional[str] = None,
            structure: Optional[str] = None,
            compression: Optional[str] = None,
        ) -> Iterator[tuple]:
            f = fmt or "CSVWithNamesAndTypes"
            names = None
            for uri in expand_s3_paths(path, {}):
                stream = _open_object(uri, {}, compression)
                try:
                    for blk in _decode_stream(stream, f, structure):
                        rb = blk.to_record_batch()
                        if names is None:
                            names = list(rb.schema.names)
                        elif set(rb.schema.names) != set(names):
                            raise ValueError(
                                f"clickhouse_s3: {uri!r} columns "
                                f"{sorted(rb.schema.names)} != "
                                f"{sorted(names)}"
                            )
                        for row in rb.to_pylist():
                            yield tuple(row[n] for n in names)
                finally:
                    try:
                        stream.close()
                    except Exception:
                        pass

    return udtf(ClickHouseS3UDTF)
