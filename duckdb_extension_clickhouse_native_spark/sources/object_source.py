"""One object source behind the ``url()``, ``file()`` and ``s3()`` table
functions (docs: sql-reference/table-functions/url, /file, /s3).

ClickHouse's three object table functions read and write the same
formats; they differ only in how they reach an object.  Here each
transport is one row of an opener table, an :class:`Opener`:

* ``path_key`` — the option carrying the path spec (``url`` or ``path``);
* ``option_keys`` — the transport's own options (``headers``; the s3
  credential and endpoint keys), handed to the three functions below as
  ``opts``;
* ``expand(spec, opts)`` — the path spec as a list of elements, each
  one input partition;
* ``open(element, compression, opts)`` — a context manager yielding the
  element's DECODED (decompressed) stream;
* ``write(element, opts)`` — a context manager yielding a binary sink;
  the object is published when the block exits cleanly.

The rows are ``url_table.URL`` (HTTP GET and POST), ``file_table.FILE``
(local paths and archive members) and ``s3_table.S3`` (pyarrow.fs, which
also backs gcs()/oss()/hdfs()).  Everything else is written once here:

* the format layer — which spellings decode how (self-describing,
  structure-needing, WithNames with type inference) and which writer a
  format INSERTs with;
* :class:`ObjectSource`, the DataSource the three surfaces subclass:
  one schema probe (the first element, or every element merged under
  ``schema_inference_mode='union'``), memoized per instance;
* :class:`ObjectReader`: one partition per element, open → decode →
  conform to the plan schema → append ``_path``/``_file``;
* :func:`load_objects`, :func:`make_object_udtf` and
  :func:`insert_objects`: the DataFrame helper, the SQL UDTF and the
  INSERT path of every surface.

Formats: self-describing spellings (Native, *WithNamesAndTypes,
ArrowStream, Parquet, ORC, Avro) decode directly; *WithNames spellings
match a ``structure`` by name or infer types; headerless spellings
(plain CSV/TSV/RowBinary/JSONCompactEachRow, Values, TSKV, Npy) need a
``structure`` and are refused by name without one.
"""

from __future__ import annotations

import io
import re
from typing import Callable, Iterator, NamedTuple, Optional

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..native.wireformats import WIRE_FORMATS, load

# format alias (lowercased, ClickHouse spelling tolerated) -> kind: a
# ``wire_format`` name of the native.wireformats table, or a key of
# _FILE_DECODERS. ONLY self-describing spellings belong here: the plain
# 'CSV' / 'TSV' / 'RowBinary' / 'JSONCompactEachRow' names are HEADERLESS in
# ClickHouse — routing them to a WithNamesAndTypes decoder would eat
# the first data rows as a bogus header (r13: url_table(url, 'CSV') on
# headerless data failed with "unsupported ClickHouse type: '2'", and
# data whose second row parses as type names would silently misparse).
# They live in _STRUCTURE_NEEDED instead.
_FORMAT_DECODERS = {
    "native": "native",
    "csvwithnamesandtypes": "csv",
    "tabseparatedwithnamesandtypes": "tsv",
    "tsvwithnamesandtypes": "tsv",
    "rowbinarywithnamesandtypes": "rowbinary",
    "jsoncompacteachrowwithnamesandtypes": "jsoneachrow",
    "arrowstream": "arrowstream",
    "parquet": "parquet",
    "orc": "orc",
    "json": "json",
    "avro": "avro",
    "parquetmetadata": "parquetmetadata",
}

# kinds that are not wire formats: (module, reader) under native/
_FILE_DECODERS = {
    # the full result-object format: meta carries REAL CH type names,
    # so it is self-describing (read-only — no INSERT writer)
    "json": ("rawtext", "iter_json_blocks"),
    # Avro OCF: embedded schema, read AND write (native/avroformat.py)
    "avro": ("avroformat", "iter_avro_blocks"),
    # parquet footer introspection, one row per file (read-only)
    "parquetmetadata": ("arrowwire", "iter_parquetmetadata_blocks"),
}
_READ_ONLY = {"json", "parquetmetadata"}

# formats whose stream carries NO names/types: ClickHouse's url() takes
# a third ``structure`` argument ('name Type, ...') for these
_STRUCTURE_NEEDED = {
    "jsoneachrow", "values", "npy", "tskv", "csvplain", "tsvplain",
    "csv", "tsv", "tabseparated", "rowbinary", "jsoncompacteachrow",
}

# structured-decoder dispatch: format key -> (module, fn) taking
# (buf, names_types, ...). Plain 'CSV'/'TSV'/'RowBinary'/
# 'JSONCompactEachRow' WITH a structure are the headerless ClickHouse
# spellings.
_STRUCTURED_DECODERS = {
    "jsoneachrow": ("jsoneachrow", "iter_jsonobjects_blocks"),
    "ndjson": ("jsoneachrow", "iter_jsonobjects_blocks"),
    "jsonlines": ("jsoneachrow", "iter_jsonobjects_blocks"),
    "values": ("valuesformat", "iter_values_blocks"),
    "tskv": ("textformats", "iter_tskv_blocks"),
    "npy": ("npyformat", "iter_npy_blocks"),
    "csvplain": ("textformats", "iter_csv_plain_blocks"),
    "tsvplain": ("textformats", "iter_tsv_plain_blocks"),
    "csv": ("textformats", "iter_csv_plain_blocks"),
    "tabseparated": ("textformats", "iter_tsv_plain_blocks"),
    "tsv": ("textformats", "iter_tsv_plain_blocks"),
    "rowbinary": ("rowbinary", "iter_rowbinary_plain_blocks"),
    "jsoncompacteachrow": ("jsoneachrow", "iter_jsoncompact_plain_blocks"),
}

# WithNames spellings (r14): a NAMES row in the stream, NO types row —
# decodable WITHOUT a structure via ClickHouse-style type inference
# (except RowBinaryWithNames, whose binary payload is uninferable),
# and WITH a structure matched to the stream's names
_WITHNAMES_DECODERS = {
    "csvwithnames": ("textformats", "iter_csv_withnames_blocks"),
    "tsvwithnames": ("textformats", "iter_tsv_withnames_blocks"),
    "tabseparatedwithnames": ("textformats", "iter_tsv_withnames_blocks"),
    "rowbinarywithnames": ("rowbinary", "iter_rowbinary_withnames_blocks"),
    "jsoncompacteachrowwithnames": (
        "jsoneachrow",
        "iter_jsoncompact_withnames_blocks",
    ),
    # r15: names-in-band / fixed-schema formats (native/rawtext.py) —
    # structure OPTIONAL (by-name match or rename), inference otherwise
    "lineasstring": ("rawtext", "iter_lineasstring_blocks"),
    "jsonasstring": ("rawtext", "iter_jsonasstring_blocks"),
    "rawblob": ("rawtext", "iter_rawblob_blocks"),
    "jsoncolumns": ("rawtext", "iter_jsoncolumns_blocks"),
    "jsoncompactcolumns": ("rawtext", "iter_jsoncompactcolumns_blocks"),
    "jsonobjecteachrow": ("rawtext", "iter_jsonobjecteachrow_blocks"),
    # JSONEachRow now schema-infers like ClickHouse; WITH a structure
    # it keeps the zero-fetch structured path (_INFER_STRUCTURED)
    "jsoneachrow": ("rawtext", "iter_jsoneachrow_infer_blocks"),
    "ndjson": ("rawtext", "iter_jsoneachrow_infer_blocks"),
    "jsonlines": ("rawtext", "iter_jsoneachrow_infer_blocks"),
}

# members of _WITHNAMES_DECODERS whose structure-given path still uses
# the classic ZERO-FETCH structured decoders (the stream carries no
# separate names row to match against — the structure is authoritative)
_INFER_STRUCTURED = {"jsoneachrow", "ndjson", "jsonlines"}


def structure_is_authoritative(fmt: str, structure) -> bool:
    """True when a declared structure fully determines the plan schema
    (zero probe fetches); False when the stream must be probed (names
    in-band, or no structure at all)."""
    key = fmt.strip().lower()
    if not structure:
        return False
    if key == "regexp":
        return True
    return key not in _WITHNAMES_DECODERS or key in _INFER_STRUCTURED


def _native_decoder(entry, names_types):
    import importlib

    mod = importlib.import_module(
        f"duckdb_extension_clickhouse_native_spark.native.{entry[0]}"
    )
    fn = getattr(mod, entry[1])
    return lambda buf: fn(buf, names_types)


def _withnames_decoder_for(fmt: str, structure: Optional[str]):
    key = fmt.strip().lower()
    if key == "rowbinarywithnames" and not structure:
        raise ValueError(
            "RowBinaryWithNames carries no type row and binary payloads "
            "cannot be inferred — pass structure='name Type, ...', or "
            "use RowBinaryWithNamesAndTypes"
        )
    names_types = parse_structure(structure) if structure else None
    return _native_decoder(_WITHNAMES_DECODERS[key], names_types)


def validate_format(
    fmt: str, structure: Optional[str], settings: Optional[dict] = None
) -> None:
    """Plan-time format/structure validation — refusals fire before any
    fetch or file open."""
    key = fmt.strip().lower()
    if key == "regexp":
        _regexp_decoder_for(structure, settings)
    elif key in _WITHNAMES_DECODERS and not (
        structure and key in _INFER_STRUCTURED
    ):
        _withnames_decoder_for(fmt, structure)
    elif structure:
        _structured_decoder_for(fmt, structure)
    else:
        _decoder_for(fmt)


def _regexp_decoder_for(structure: Optional[str], settings: Optional[dict]):
    """``FORMAT Regexp``: structure AND a ``format_regexp`` option are
    both required (ClickHouse's format_regexp setting); group count
    must match the structure at plan time."""
    if not structure:
        raise ValueError(
            "Regexp format is not self-describing — pass "
            "structure='name Type, ...' (capture group i feeds column i)"
        )
    rx = (settings or {}).get("format_regexp")
    if not rx:
        raise ValueError(
            "Regexp format needs the format_regexp option (the line "
            "pattern whose capture groups feed the structure's columns)"
        )
    skip = _truthy((settings or {}).get("format_regexp_skip_unmatched"))
    names_types = parse_structure(structure)

    from ..native.rawtext import iter_regexp_blocks

    groups = re.compile(rx).groups
    if groups != len(names_types):
        raise ValueError(
            f"format_regexp has {groups} capture groups "
            f"but the structure declares {len(names_types)} columns"
        )
    return lambda buf: iter_regexp_blocks(
        buf, names_types, rx, skip_unmatched=skip
    )


def parse_structure(structure: str):
    """ClickHouse url()/format() structure string ('k Int64, v
    Nullable(String)') -> [(name, CHType)]."""
    from ..native.types import _split_top_level, parse_type

    out = []
    for item in _split_top_level(structure):
        piece = item.strip()
        sp = piece.find(" ")
        if sp <= 0:
            raise ValueError(
                f"structure items need 'name Type': {structure!r}"
            )
        out.append((piece[:sp], parse_type(piece[sp + 1 :].strip())))
    if not out:
        raise ValueError(f"empty structure: {structure!r}")
    return out


def _structured_decoder_for(fmt: str, structure: str):
    """Decoder closure for a structure-carrying format (the url(url,
    fmt, structure) three-argument form)."""
    entry = _STRUCTURED_DECODERS.get(fmt.strip().lower())
    if entry is None:
        raise ValueError(
            f"format {fmt!r} does not take a structure argument; "
            f"structured formats: {sorted(set(_STRUCTURED_DECODERS))}"
        )
    return _native_decoder(entry, parse_structure(structure))


def _decoder_for(fmt: str):
    key = fmt.strip().lower()
    if key in _STRUCTURE_NEEDED:
        raise ValueError(
            f"format {fmt!r} is not self-describing (needs a structure "
            "argument); use a WithNamesAndTypes / Native / Arrow / "
            "Parquet / ORC form, or pass structure='name Type, ...'"
        )
    kind = _FORMAT_DECODERS.get(key)
    if kind is None:
        raise ValueError(
            f"unsupported url()/format() format {fmt!r}; one of "
            f"{sorted(set(_FORMAT_DECODERS))}"
        )

    return load(_FILE_DECODERS.get(kind) or WIRE_FORMATS[kind].reader)


def format_settings(options) -> Optional[dict]:
    """Collect format settings from reader options (the ClickHouse
    SETTINGS analogues — today the Regexp family)."""
    out = {
        k: options[k]
        for k in ("format_regexp", "format_regexp_skip_unmatched")
        if options.get(k)
    }
    return out or None


def _decode_stream(
    buf,
    fmt: str,
    structure: Optional[str] = None,
    settings: Optional[dict] = None,
) -> Iterator:
    """Blocks from a stream. Parquet/ORC footers live at EOF, so those
    two buffer the body first; everything else streams. A ``structure``
    switches to the headerless decoders (the three-argument url());
    WithNames / names-in-band spellings take the structure OPTIONALLY
    (types infer from the data when absent).  ``settings`` carries
    format settings (format_regexp...)."""
    key = fmt.strip().lower()
    if key == "regexp":
        return _regexp_decoder_for(structure, settings)(buf)
    if key in _WITHNAMES_DECODERS and not (
        structure and key in _INFER_STRUCTURED
    ):
        return _withnames_decoder_for(fmt, structure)(buf)
    if structure:
        return _structured_decoder_for(fmt, structure)(buf)
    decode = _decoder_for(fmt)
    if _FORMAT_DECODERS.get(key) in ("parquet", "orc", "parquetmetadata"):
        buf = io.BytesIO(buf.read())
    return decode(buf)


def insert_kind(fmt: str, surface: str) -> str:
    """Writer key (an INTO OUTFILE format name) for the format spelling
    of ``INSERT INTO FUNCTION <surface>(..., fmt)``."""
    key = fmt.strip().lower()
    kind = _FORMAT_DECODERS.get(key)
    if kind is None or key in _STRUCTURE_NEEDED:
        hint = (
            " (headerless plain spelling — INSERT writes the "
            "self-describing stream; use the WithNamesAndTypes form)"
            if key in _STRUCTURE_NEEDED
            else ""
        )
        raise ValueError(
            f"unsupported {surface} INSERT format {fmt!r}{hint}; one of "
            f"{sorted(set(_FORMAT_DECODERS))}"
        )
    if kind in _READ_ONLY:
        raise ValueError(
            f"format {fmt!r} is read-only for {surface} INSERT; one of "
            f"{sorted(set(_FORMAT_DECODERS.values()) - _READ_ONLY)}"
        )
    return kind


def probe_many(probe_fn, elements: list, max_workers: int = 16) -> list:
    """Run ``probe_fn(element)`` over every element with a BOUNDED
    thread pool, preserving order.  The union inference mode probes
    every element at plan time — serial opens against a 1000-object
    prefix would make the bind O(elements x RTT); network-bound probes
    thread perfectly.  The first failure propagates (plan-time errors
    must be loud, not partial)."""
    if len(elements) <= 1:
        return [probe_fn(e) for e in elements]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=min(max_workers, len(elements))
    ) as pool:
        return list(pool.map(probe_fn, elements))


def merge_inferred_schemas(schemas: list) -> "StructType":  # noqa: F821
    """ClickHouse ``schema_inference_mode='union'`` (docs: interfaces/
    schema-inference): merge per-element schemas — columns union in
    first-seen order, a column missing from some element turns
    nullable, and type conflicts WIDEN along the inference lattice
    (Int64 -> Float64 -> String; Date -> Timestamp -> String; Bool ->
    String; anything else -> String)."""
    from pyspark.sql.types import (
        DateType, DoubleType, LongType, StringType, StructField, StructType,
        TimestampNTZType, TimestampType,
    )

    def widen(a, b):
        if a == b:
            return a
        num = (LongType(), DoubleType())
        if a in num and b in num:
            return DoubleType()
        tms = (DateType(), TimestampType(), TimestampNTZType())
        if a in tms and b in tms:
            return a if not isinstance(a, DateType) else b
        return StringType()  # Bool vs anything else, and the rest

    order: list = []
    types: dict = {}
    nullable: dict = {}
    seen_in: dict = {}
    for i, sch in enumerate(schemas):
        for f in sch.fields:
            if f.name not in types:
                order.append(f.name)
                types[f.name] = f.dataType
                nullable[f.name] = bool(f.nullable)
            else:
                types[f.name] = widen(types[f.name], f.dataType)
                nullable[f.name] = nullable[f.name] or bool(f.nullable)
            seen_in.setdefault(f.name, set()).add(i)
    n = len(schemas)
    return StructType(
        [
            StructField(
                name,
                types[name],
                nullable[name] or len(seen_in[name]) < n,
            )
            for name in order
        ]
    )


def _conform_batch(
    rb, field_names, arrow_types, source: str, where: str,
    fill_missing: bool = False,
):
    """Realign a decoded batch to the plan column order BY NAME (r13: an
    element serving the same columns in another order must not misassign
    values), then cast to the plan's Arrow types where this element's
    stream decoded them differently (r14: WithNames spellings infer per
    element — Int64 here, Float64 in the probed first element).  The
    safe cast refuses lossy conversions by name instead of truncating.
    ``fill_missing`` (schema_inference_mode='union'): a plan column
    absent from this element fills with NULLs instead of refusing."""
    import pyarrow as pa

    if field_names is not None and list(rb.schema.names) != field_names:
        have = set(rb.schema.names)
        extra = have - set(field_names)
        missing = set(field_names) - have
        if extra or (missing and not fill_missing):
            raise ValueError(
                f"{source}: {where!r} returned columns "
                f"{sorted(rb.schema.names)}, expected "
                f"{sorted(field_names)} (all elements must serve the "
                "same column set; pass "
                "schema_inference_mode='union' to merge differing "
                "sets)"
            )
        for name in field_names:
            if name not in have:
                rb = rb.append_column(
                    name,
                    pa.nulls(
                        rb.num_rows, type=arrow_types.get(name, pa.string())
                    ),
                )
        rb = rb.select(field_names)
    if arrow_types:
        want = [arrow_types[n] for n in rb.schema.names]
        if [f.type for f in rb.schema] != want:
            rb = rb.cast(
                pa.schema(
                    [pa.field(n, t) for n, t in zip(rb.schema.names, want)]
                )
            )
    return rb


def _truthy(v) -> bool:
    return str(v or "").strip().lower() in ("1", "true", "yes", "on")


# virtual provenance columns (ClickHouse: every file-ish table function
# exposes _path and _file) — appended when virtual_columns is on
_VIRTUAL_COLS = ("_path", "_file")


def _append_virtuals(rb, path: str):
    import posixpath

    import pyarrow as pa

    n = rb.num_rows
    # for 'archive::member' paths (file() archives) _file is the
    # MEMBER's basename; _path stays the full spelling
    leaf = path.split("::")[-1]
    base = posixpath.basename(leaf.split("?", 1)[0].rstrip("/"))
    rb = rb.append_column("_path", pa.array([path] * n, type=pa.string()))
    return rb.append_column("_file", pa.array([base] * n, type=pa.string()))


class Opener(NamedTuple):
    """One transport of the object source (see the module docstring)."""

    surface: str  # the table-function spelling errors name, 'url()'
    path_key: str
    option_keys: tuple
    expand: Callable
    open: Callable
    write: Callable


class ObjectPartition(InputPartition):
    def __init__(self, element: str):
        self.element = element


class ObjectReader(DataSourceReader):
    """Reader of one url()/file()/s3() load: the option parsing, the
    schema probe and the per-partition read, for any opener row."""

    def __init__(self, opener: Opener, options, plan_schema=None):
        from ..native.contentcodec import normalize_compression

        self.opener = opener
        self.opts = {k: options.get(k) for k in opener.option_keys}
        spec = options.get(opener.path_key) or ""
        self.elements = opener.expand(spec, self.opts)
        if not self.elements:
            raise ValueError(
                f"{opener.surface} needs a {opener.path_key} option that "
                f"matches something, got {spec!r}"
            )
        self.fmt = options.get("format", "CSVWithNamesAndTypes")
        self.structure = (options.get("structure") or "").strip() or None
        self.settings = format_settings(options)
        validate_format(self.fmt, self.structure, self.settings)
        self.compression = options.get("compression")
        normalize_compression(self.compression)  # plan-time refusal
        mode = options.get("schema_inference_mode") or "default"
        mode = mode.strip().lower()
        if mode not in ("default", "union"):
            raise ValueError(
                f"schema_inference_mode must be 'default' (first element) "
                f"or 'union' (merge all elements), got {mode!r}"
            )
        self.fill_missing = mode == "union"
        self.virtuals = _truthy(options.get("virtual_columns"))
        # every partition realigns its batches to the plan column order
        # by NAME — a later element serving the same columns in another
        # order must not misassign values positionally (r13) — and casts
        # to the plan types when its own stream inferred them otherwise
        # (r14; see _conform_batch).  The plan schema carries the
        # appended virtuals; decoded batches don't — conform to the data
        # prefix, append after.
        self.plan_schema = plan_schema
        names = list(plan_schema.fieldNames()) if plan_schema else None
        if names is not None and self.virtuals:
            names = [n for n in names if n not in _VIRTUAL_COLS]
        self.field_names = names
        self._arrow_types: Optional[dict] = None

    def probe_schema(self):
        """The plan schema: a declared authoritative structure (zero
        fetches), else the first element's stream — or, under
        schema_inference_mode='union', every element's merged (one
        fetch each, the same cost the server pays)."""
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StringType, StructField, StructType

        from .native_datasource import _ch_to_spark

        def first_block_schema(element):
            with self.opener.open(
                element, self.compression, self.opts
            ) as stream:
                blocks = _decode_stream(
                    stream, self.fmt, self.structure, self.settings
                )
                first = next(iter(blocks), None)
            if first is None:
                raise ValueError(
                    f"{self.opener.surface} cannot infer a schema from a "
                    f"zero-block {self.fmt} stream at {element!r}"
                )
            return from_arrow_schema(first.to_record_batch().schema)

        if structure_is_authoritative(self.fmt, self.structure):
            schema = StructType(
                [
                    StructField(n, _ch_to_spark(t), True)
                    for n, t in parse_structure(self.structure)
                ]
            )
        elif self.fill_missing and len(self.elements) > 1:
            schema = merge_inferred_schemas(
                probe_many(first_block_schema, self.elements)
            )
        else:
            schema = first_block_schema(self.elements[0])
        if not self.virtuals:
            return schema
        # a virtual colliding with a real data column is a named
        # refusal, not a silent shadow
        clash = [n for n in _VIRTUAL_COLS if n in schema.fieldNames()]
        if clash:
            raise ValueError(
                f"virtual_columns: data already has column(s) {clash} — "
                "the _path/_file virtuals cannot shadow real columns"
            )
        return StructType(
            list(schema.fields)
            + [StructField(n, StringType(), False) for n in _VIRTUAL_COLS]
        )

    def partitions(self):
        return [ObjectPartition(e) for e in self.elements]

    def read(self, partition: ObjectPartition) -> Iterator:
        if self._arrow_types is None:
            # lazy, executor-side: pyspark's Arrow conversion imports there
            self._arrow_types = {}
            if self.plan_schema is not None:
                from pyspark.sql.pandas.types import to_arrow_schema

                self._arrow_types = {
                    f.name: f.type for f in to_arrow_schema(self.plan_schema)
                }
        element = partition.element
        with self.opener.open(element, self.compression, self.opts) as stream:
            for blk in _decode_stream(
                stream, self.fmt, self.structure, self.settings
            ):
                rb = _conform_batch(
                    blk.to_record_batch(),
                    self.field_names,
                    self._arrow_types,
                    self.opener.surface,
                    element,
                    fill_missing=self.fill_missing,
                )
                yield _append_virtuals(rb, element) if self.virtuals else rb


class ObjectSource(DataSource):
    """The DataSource of url()/file()/s3(): a subclass carries
    ``name()`` and its ``opener`` row."""

    opener: Opener

    def schema(self):
        # memoized PER INSTANCE (one probe per load()), never globally:
        # a process-wide (path, fmt) cache served a STALE schema when an
        # object's content changed between loads — the POST-then-GET
        # store-and-serve pattern (r13). A fresh load always re-probes;
        # repeat schema() calls on one plan reuse the probe.
        memo = getattr(self, "_schema_memo", None)
        if memo is None:
            memo = self._schema_memo = self.reader(None).probe_schema()
        return memo

    def reader(self, schema) -> ObjectReader:
        return ObjectReader(self.opener, self.options, schema)


def load_objects(spark, source, path: str, fmt: str, **options):
    """``spark.read.format(<source name>)`` with the path and format,
    plus every option that is set (strings as given, anything else as
    JSON — ``True`` -> 'true', a headers dict -> an object)."""
    import json

    from ..plans.base import ensure_session

    ensure_session(spark)
    r = (
        spark.read.format(source.name())
        .option(source.opener.path_key, path)
        .option("format", fmt)
    )
    for k, v in options.items():
        if v:
            r = r.option(k, v if isinstance(v, str) else json.dumps(v))
    return r.load()


def reader_rows(reader) -> Iterator[tuple]:
    """Every row a DataSource reader yields over all its planned
    partitions, as tuples — the ``eval`` of the SQL UDTFs that wrap a
    DataSource (rows arrive in the types the reader conforms to)."""
    for part in reader.partitions():
        for rb in reader.read(part):
            yield from zip(*(c.to_pylist() for c in rb.columns))


def make_object_udtf(source):
    """UDTF for ``<source name>(path, fmt[, structure[, compression]])``:
    ``analyze`` runs the source's schema probe, ``eval`` its reader over
    every element, so rows arrive in the analyzed types.  Rows funnel
    through one worker (the DataSource is the scale path); transport
    options keep their defaults.  The first parameter is named after the
    source's path option."""
    import inspect

    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeResult

    P = inspect.Parameter
    params = [P(source.opener.path_key, P.POSITIONAL_OR_KEYWORD)] + [
        P(n, P.POSITIONAL_OR_KEYWORD, default=None)
        for n in ("fmt", "structure", "compression")
    ]
    sig = inspect.Signature(params)
    keys = (source.opener.path_key, "format", "structure", "compression")

    def options(args, kwargs) -> dict:
        given = sig.bind(*args, **kwargs).arguments
        values = [given.get(p.name) for p in params]
        return {k: str(v) for k, v in zip(keys, values) if v is not None}

    class ObjectSourceUDTF:
        def __init__(self, analyze_result):
            self.schema = analyze_result.schema

        @staticmethod
        def analyze(*args, **kwargs) -> AnalyzeResult:
            opts = options(
                [a.value for a in args],
                {k: a.value for k, a in kwargs.items()},
            )
            return AnalyzeResult(schema=source(opts).schema())

        def eval(self, *args, **kwargs) -> Iterator[tuple]:
            yield from reader_rows(source(options(args, kwargs)).reader(self.schema))

    ObjectSourceUDTF.analyze.__signature__ = sig
    ObjectSourceUDTF.eval.__signature__ = sig.replace(
        parameters=[P("self", P.POSITIONAL_OR_KEYWORD), *params]
    )
    return udtf(ObjectSourceUDTF)


# partition values become path components; anything path-shaped is a
# named refusal (ClickHouse rejects unsafe partition keys in object
# names the same way)
_SAFE_PARTITION = re.compile(r"^[A-Za-z0-9_\-=.]+$")


def insert_objects(
    df,
    opener: Opener,
    path: str,
    fmt: str,
    opts: Optional[dict] = None,
    partition_by: Optional[str] = None,
) -> int:
    """``INSERT INTO FUNCTION <surface>(path, fmt) [PARTITION BY col]``
    (docs: sql-reference/table-functions/s3, 'Inserting data').  Each
    object is encoded executor-side with the shared wire writers
    (Nullable(...) exactly where nulls exist — the r10 wire-NULL
    contract), compressed by the FINAL name's extension like INTO
    OUTFILE, and handed to the opener's ``write``; an empty DataFrame
    writes its schema (the INTO OUTFILE 0-row batch).  Without
    ``partition_by``: ONE object from one task (repartition(1) +
    mapInArrow) — an export, not a table store.  With it: the path holds
    the literal ``{_partition_id}``, and every value of the column
    writes its own object in its own task (groupBy().applyInArrow);
    path-shaped values ('/', '..', empty) refuse by name.  Returns the
    number of rows written."""
    from ..operators.outfile import empty_batch

    surface = opener.surface
    writer_key = insert_kind(fmt, surface)
    empty = empty_batch(df)

    def write(element: str, batches) -> int:
        from ..native.contentcodec import (
            resolve_compression,
            wrap_compressed_write,
        )
        from ..native.rowbinary import derive_wire_types
        from ..operators.outfile import _resolve_writer

        chunks, ch_types = derive_wire_types(list(batches) or [empty])
        with opener.write(element, opts) as raw:
            sink = wrap_compressed_write(raw, resolve_compression(element))
            n = _resolve_writer(writer_key)(
                sink, chunks, ch_types=ch_types
            ) or sum(b.num_rows for b in chunks)
            if sink is not raw:
                sink.close()
        return int(n)

    if partition_by is None:
        if "{_partition_id}" in path:
            raise ValueError(
                f"{surface}: path carries {{_partition_id}} but no "
                "PARTITION BY column was given"
            )

        def write_single(batches):
            import pyarrow as pa

            yield pa.RecordBatch.from_arrays(
                [pa.array([write(path, batches)], type=pa.int64())],
                names=["n"],
            )

        out = df.repartition(1).mapInArrow(write_single, "n bigint")
        return int(out.collect()[0]["n"])

    if "{_partition_id}" not in path:
        raise ValueError(
            f"{surface} PARTITION BY needs a {{_partition_id}} placeholder "
            "in the path (ClickHouse: 'INSERT INTO FUNCTION s3(.../"
            "file_{_partition_id}.csv) PARTITION BY ...')"
        )
    if partition_by not in df.columns:
        raise ValueError(
            f"PARTITION BY column {partition_by!r} is not in the "
            f"DataFrame ({df.columns})"
        )

    def write_group(table):
        import pyarrow as pa

        key = table.column(partition_by)[0].as_py()
        key_s = "" if key is None else str(key)
        if not _SAFE_PARTITION.fullmatch(key_s):
            raise ValueError(
                f"{surface} PARTITION BY value {key_s!r} is not a safe "
                "object-key component ([A-Za-z0-9_-=.]+ only)"
            )
        n = write(path.replace("{_partition_id}", key_s), table.to_batches())
        return pa.table(
            {
                "k": pa.array([key_s], type=pa.string()),
                "n": pa.array([n], type=pa.int64()),
            }
        )

    out = df.groupBy(partition_by).applyInArrow(
        write_group, "k string, n bigint"
    )
    # bounded collect: one row PER PARTITION VALUE (the convergence-
    # scalar contract — never the data)
    return int(sum(r["n"] for r in out.collect()))
