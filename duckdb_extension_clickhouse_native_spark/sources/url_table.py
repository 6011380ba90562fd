"""ClickHouse ``url()`` and ``format()`` table functions.

ClickHouse reads remote files with ``SELECT * FROM url('http://...',
'CSVWithNamesAndTypes')`` and inline literals with ``SELECT * FROM
format(JSONCompactEachRow, '...')`` (docs: sql-reference/
table-functions/url and /format).  The Spark-first analogues:

* ``clickhouse_url`` DataSource (+ ``url_table`` helper): executor-side
  HTTP(S) GET decoded by the SAME wire-format decoders the
  ``clickhouse_scan`` source uses — one stream is one input partition
  (a single URL has no server-side split; parallelism at scale comes
  from many URLs — pass a comma-separated list and each URL becomes a
  partition).
* ``format_table(spark, fmt, data)``: decode an inline literal
  driver-side (inline data is literal-sized by definition) into a
  DataFrame through the same decoders.

Supported formats are the SELF-DESCRIBING subset (names+types in the
stream): Native, CSVWithNamesAndTypes, TSVWithNamesAndTypes,
RowBinaryWithNamesAndTypes, JSONCompactEachRowWithNamesAndTypes,
ArrowStream, Parquet, ORC — matching the wire formats the scan source
speaks. The *WithNames middle spellings (r14: CSVWithNames,
TSVWithNames/TabSeparatedWithNames, JSONCompactEachRowWithNames) carry
NAMES but no types: they decode with a ``structure`` matched by name,
or WITHOUT one via ClickHouse-style type inference over the first
25000 rows (RowBinaryWithNames is the exception — binary payloads are
uninferable, structure required). Formats that need an out-of-band
structure argument (the HEADERLESS plain spellings CSV/TSV/
TabSeparated/RowBinary/JSONCompactEachRow, plus JSONEachRow/Values/
TSKV/Npy) are refused with a named error when no ``structure`` is
supplied (ClickHouse's url() takes a ``structure`` parameter there;
pass one, or use a self-describing *WithNamesAndTypes / Native /
Arrow form).
"""

from __future__ import annotations

import io
from typing import Iterator, Optional

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..native.wireformats import WIRE_FORMATS, load

# format alias (lowercased, ClickHouse spelling tolerated) -> kind: a
# ``wire_format`` name of the native.wireformats table, or a key of
# _FILE_DECODERS. ONLY self-describing spellings belong here: the plain
# 'CSV' / 'TSV' / 'RowBinary' / 'JSONCompactEachRow' names are HEADERLESS in
# ClickHouse — routing them to a WithNamesAndTypes decoder would eat
# the first data rows as a bogus header (r13 ADVICE: url_table(url,
# 'CSV') on headerless data failed with "unsupported ClickHouse type:
# '2'", and data whose second row parses as type names would silently
# misparse). They live in _STRUCTURE_NEEDED instead.
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

# url() kinds that are not wire formats: (module, reader) under native/
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

# formats whose stream carries NO names/types: ClickHouse's url()
# takes a third ``structure`` argument ('name Type, ...') for these
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


def _withnames_decoder_for(fmt: str, structure: Optional[str]):
    import importlib

    key = fmt.strip().lower()
    entry = _WITHNAMES_DECODERS[key]
    if key == "rowbinarywithnames" and not structure:
        raise ValueError(
            "RowBinaryWithNames carries no type row and binary payloads "
            "cannot be inferred — pass structure='name Type, ...', or "
            "use RowBinaryWithNamesAndTypes"
        )
    names_types = parse_structure(structure) if structure else None
    mod = importlib.import_module(
        f"duckdb_extension_clickhouse_native_spark.native.{entry[0]}"
    )
    fn = getattr(mod, entry[1])
    return lambda buf: fn(buf, names_types)


def validate_format(
    fmt: str, structure: Optional[str], settings: Optional[dict] = None
) -> None:
    """Plan-time format/structure validation shared by the url()/file()
    readers — refusals fire before any fetch or file open."""
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
    skip = str(
        (settings or {}).get("format_regexp_skip_unmatched") or ""
    ).strip().lower() in ("1", "true", "yes", "on")
    names_types = parse_structure(structure)

    from ..native.rawtext import iter_regexp_blocks

    import re as _re

    if _re.compile(rx).groups != len(names_types):
        raise ValueError(
            f"format_regexp has {_re.compile(rx).groups} capture groups "
            f"but the structure declares {len(names_types)} columns"
        )
    return lambda buf: iter_regexp_blocks(
        buf, names_types, rx, skip_unmatched=skip
    )


# ClickHouse caps glob expansion (glob_expansion_max_elements = 1000);
# same cap here — an unbounded {1..10000000} must refuse, not plan 10M
# partitions
_GLOB_MAX_ELEMENTS = 1000


def expand_url_globs(url: str) -> list:
    """ClickHouse url() glob expansion (docs: sql-reference/
    table-functions/url — 'Globs in URL'): ``{N..M}`` inclusive numeric
    ranges (zero-padded when the left endpoint carries a leading zero,
    the ``{01..12}`` spelling), ``{a,b,c}`` alternation, multiple
    groups expanding as a cartesian product.  Returns the expanded URL
    list — each element becomes one input partition, so a 32-shard
    export reads as ``part{1..32}.csv`` with 32-way parallelism."""
    import re

    i = url.find("{")
    if i < 0:
        if "}" in url:
            raise ValueError(f"url() glob: unbalanced '}}' in {url!r}")
        return [url]
    j = url.find("}", i)
    if j < 0:
        raise ValueError(f"url() glob: unbalanced '{{' in {url!r}")
    head, body, tail = url[:i], url[i + 1 : j], url[j + 1 :]
    m = re.fullmatch(r"(\d+)\.\.(\d+)", body)
    if m:
        lo_s, hi_s = m.group(1), m.group(2)
        lo, hi = int(lo_s), int(hi_s)
        if hi < lo:
            raise ValueError(
                f"url() glob: descending range {{{body}}} in {url!r}"
            )
        width = len(lo_s) if lo_s.startswith("0") and len(lo_s) > 1 else 0
        pieces = [str(v).zfill(width) for v in range(lo, hi + 1)]
    else:
        if not body:
            raise ValueError(f"url() glob: empty group {{}} in {url!r}")
        pieces = body.split(",")
    out: list = []
    for piece in pieces:
        out.extend(expand_url_globs(head + piece + tail))
        if len(out) > _GLOB_MAX_ELEMENTS:
            raise ValueError(
                f"url() glob expands past {_GLOB_MAX_ELEMENTS} URLs "
                f"(ClickHouse glob_expansion_max_elements): {url!r}"
            )
    return out


def _split_top_level_commas(spec: str) -> list:
    """Split on TOP-LEVEL commas only — commas inside ``{a,b}`` glob
    groups belong to the glob. Shared by url()/file()/s3() path-spec
    resolution (one depth-tracking loop, not three drifting copies)."""
    parts: list = []
    depth = 0
    cur: list = []
    for ch in spec:
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth = max(0, depth - 1)
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def expand_urls(spec: str) -> list:
    """Full url-list resolution: split a comma-separated URL list on
    top-level commas, then glob-expand each element."""
    out: list = []
    for u in _split_top_level_commas(spec):
        u = u.strip()
        if u:
            out.extend(expand_url_globs(u))
    return out


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
    import importlib

    key = fmt.strip().lower()
    entry = _STRUCTURED_DECODERS.get(key)
    if entry is None:
        raise ValueError(
            f"format {fmt!r} does not take a structure argument; "
            f"structured formats: {sorted(set(_STRUCTURED_DECODERS))}"
        )
    names_types = parse_structure(structure)
    mod = importlib.import_module(
        f"duckdb_extension_clickhouse_native_spark.native.{entry[0]}"
    )
    fn = getattr(mod, entry[1])
    return lambda buf: fn(buf, names_types)


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


def format_settings(options: dict) -> Optional[dict]:
    """Collect format settings from reader options (the ClickHouse
    SETTINGS analogues — today the Regexp family)."""
    out = {
        k: options[k]
        for k in ("format_regexp", "format_regexp_skip_unmatched")
        if options.get(k)
    }
    return out or None


def parse_headers(spec) -> dict:
    """ClickHouse url(..., headers('K'='v', ...)) analogue: accept a
    dict, a JSON object string, or 'K=v, K2=v2' — returns {K: v}."""
    if not spec:
        return {}
    if isinstance(spec, dict):
        return {str(k): str(v) for k, v in spec.items()}
    s = str(spec).strip()
    if s.startswith("{"):
        import json

        try:
            obj = json.loads(s)
        except ValueError as e:
            raise ValueError(f"url() headers: invalid JSON object: {e}")
        if not isinstance(obj, dict):
            raise ValueError("url() headers JSON must be an object")
        return {str(k): str(v) for k, v in obj.items()}
    out = {}
    for item in s.split(","):
        item = item.strip()
        if not item:
            continue
        if "=" not in item:
            raise ValueError(
                f"url() headers item {item!r} needs 'Name=value' "
                "(or pass a JSON object)"
            )
        k, v = item.split("=", 1)
        out[k.strip()] = v.strip()
    return out


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


def _inference_mode(options: dict) -> str:
    m = (options.get("schema_inference_mode") or "default").strip().lower()
    if m not in ("default", "union"):
        raise ValueError(
            f"schema_inference_mode must be 'default' (first element) "
            f"or 'union' (merge all elements), got {m!r}"
        )
    return m


def _http_get(url: str, headers: Optional[dict] = None):
    """Plain GET returning a binary stream (http/https only — the
    url() contract; file paths go through the native DataSource).
    ``headers`` = the ClickHouse url(..., headers(...)) argument.
    The OPEN retries transient transport errors with the scan source's
    bounded-backoff policy (a GET is idempotent; HTTP error statuses
    are NOT retried — a 403/404 repeats); mid-stream failures
    propagate to Spark's task retry, same as the scan source."""
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from .retry import RETRYABLE_EXC, RetryPolicy

    if not url.lower().startswith(("http://", "https://")):
        raise ValueError(f"url() needs an http(s):// URL, got {url!r}")
    req = Request(url, headers=headers) if headers else url
    policy = RetryPolicy()
    for delay in policy.backoffs():
        try:
            return urlopen(req, timeout=60)
        except HTTPError:
            raise  # a server STATUS is an answer, not a transport fault
        except RETRYABLE_EXC:
            if delay is None:
                raise
            policy.sleep(delay)


def _open_url(
    url: str, compression: Optional[str], headers: Optional[dict] = None
):
    """GET + transparent decompression: an explicit ``compression``
    option wins, then the HTTP Content-Encoding response header, then
    the filename-extension sniff (ClickHouse's url() auto-detection —
    docs: sql-reference/table-functions/url, 'compression method').
    Returns a context manager yielding the DECODED stream."""
    import contextlib

    from ..native.contentcodec import open_compressed, resolve_compression

    @contextlib.contextmanager
    def cm():
        with _http_get(url, headers) as resp:
            enc = None
            resp_headers = getattr(resp, "headers", None)
            if resp_headers is not None:
                enc = resp_headers.get("Content-Encoding")
            method = resolve_compression(url, compression, enc)
            yield open_compressed(resp, method)

    return cm()


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
    rb = rb.append_column(
        "_path", pa.array([path] * n, type=pa.string())
    )
    return rb.append_column(
        "_file", pa.array([base] * n, type=pa.string())
    )


def _add_virtual_fields(schema):
    """Plan schema + the two virtual string columns (collision with a
    real data column is a named refusal, not a silent shadow)."""
    from pyspark.sql.types import StringType, StructField, StructType

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
        data = buf.read()
        buf = io.BytesIO(data)
    return decode(buf)


def _probe_schema(
    url: str,
    fmt: str,
    structure: Optional[str] = None,
    compression: Optional[str] = None,
    headers: Optional[dict] = None,
    settings: Optional[dict] = None,
):
    from pyspark.sql.pandas.types import from_arrow_schema

    from ..native.contentcodec import normalize_compression

    normalize_compression(compression)  # refusals fire BEFORE any fetch
    if structure_is_authoritative(fmt, structure):
        # schema comes from the declared structure, zero fetches
        from pyspark.sql.types import StructField, StructType

        from .native_datasource import _ch_to_spark

        validate_format(fmt, structure, settings)  # format+structure
        return StructType(
            [
                StructField(n, _ch_to_spark(t), True)
                for n, t in parse_structure(structure)
            ]
        )
    # WithNames spellings always probe the stream — the NAMES (and,
    # without a structure, the inferred types) live there
    validate_format(fmt, structure, settings)  # refusals BEFORE any fetch
    with _open_url(url, compression, headers) as stream:
        blocks = _decode_stream(stream, fmt, structure, settings)
        try:
            first = next(iter(blocks))
        except StopIteration:
            raise ValueError(
                f"url() cannot infer a schema from a zero-block "
                f"{fmt} stream at {url!r}"
            )
    return from_arrow_schema(first.to_record_batch().schema)


def merge_inferred_schemas(schemas: list) -> "StructType":  # noqa: F821
    """ClickHouse ``schema_inference_mode='union'`` (docs: interfaces/
    schema-inference): merge per-element schemas — columns union in
    first-seen order, a column missing from some element turns
    nullable, and type conflicts WIDEN along the inference lattice
    (Int64 -> Float64 -> String; Date -> Timestamp -> String; Bool ->
    String; anything else -> String)."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
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
        _ = BooleanType  # Bool vs anything else -> String (below)
        return StringType()

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
    """Realign a decoded batch to the plan column order BY NAME, then
    cast to the plan's Arrow types when this partition's stream decoded
    them differently.  The cast arm exists for the WithNames-without-
    structure spellings: each partition infers types from ITS OWN
    stream, so a URL/file whose values all parse as ints infers Int64
    while the plan (probed from the FIRST element) says Float64 — the
    batches must agree with the plan schema or Spark fails with an
    opaque executor-side Arrow mismatch (r14 ADVICE).  pyarrow's safe
    cast refuses lossy conversions (e.g. a float stream against an
    int plan) with a named error instead of truncating.
    ``fill_missing`` (schema_inference_mode='union'): a plan column
    absent from this element's stream fills with NULLs instead of
    refusing — the plan schema is the UNION of all elements there."""
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
        if missing:
            for name in field_names:
                if name not in have:
                    rb = rb.append_column(
                        name,
                        pa.nulls(
                            rb.num_rows,
                            type=arrow_types.get(name, pa.string()),
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


def _plan_arrow_types(plan_schema) -> dict:
    """Plan StructType -> {name: Arrow type} for _conform_batch (lazy,
    executor-side — pyspark's Arrow conversion is importable there)."""
    if plan_schema is None:
        return {}
    from pyspark.sql.pandas.types import to_arrow_schema

    return {f.name: f.type for f in to_arrow_schema(plan_schema)}


class URLPartition(InputPartition):
    def __init__(self, url: str):
        self.url = url


def _truthy(v) -> bool:
    return str(v or "").strip().lower() in ("1", "true", "yes", "on")


class ClickHouseURLReader(DataSourceReader):
    def __init__(self, options: dict, plan_schema=None):
        from ..native.contentcodec import normalize_compression

        self.urls = expand_urls(options.get("url") or "")
        if not self.urls:
            raise ValueError("clickhouse_url requires a url option")
        self.fmt = options.get("format", "CSVWithNamesAndTypes")
        self.structure = (options.get("structure") or "").strip() or None
        self.settings = format_settings(options)
        validate_format(self.fmt, self.structure, self.settings)
        self.compression = options.get("compression")
        normalize_compression(self.compression)  # plan-time refusal
        self.headers = parse_headers(options.get("headers"))
        self.fill_missing = _inference_mode(options) == "union"
        self.virtuals = _truthy(options.get("virtual_columns"))
        # the plan-time schema (probed from the FIRST URL): every
        # partition realigns its batches to its column order by NAME —
        # a later URL serving the same columns in a different order
        # must not misassign values positionally (r13 ADVICE) — and
        # casts to its types when its own stream inferred them
        # differently (r14 ADVICE; see _conform_batch)
        self.plan_schema = plan_schema
        names = list(plan_schema.fieldNames()) if plan_schema else None
        # the plan schema carries the appended virtuals; decoded data
        # batches don't — conform to the data prefix, append after
        if names is not None and self.virtuals:
            names = [n for n in names if n not in _VIRTUAL_COLS]
        self.field_names = names
        self._arrow_types: Optional[dict] = None

    def partitions(self):
        return [URLPartition(u) for u in self.urls]

    def read(self, partition: URLPartition) -> Iterator:
        if self._arrow_types is None:
            self._arrow_types = _plan_arrow_types(self.plan_schema)
        with _open_url(
            partition.url, self.compression, self.headers
        ) as stream:
            for blk in _decode_stream(
                stream, self.fmt, self.structure, self.settings
            ):
                rb = _conform_batch(
                    blk.to_record_batch(),
                    self.field_names,
                    self._arrow_types,
                    "clickhouse_url",
                    partition.url,
                    fill_missing=self.fill_missing,
                )
                if self.virtuals:
                    rb = _append_virtuals(rb, partition.url)
                yield rb


class ClickHouseURLDataSource(DataSource):
    """``spark.read.format("clickhouse_url").option("url", ...)
    .option("format", "CSVWithNamesAndTypes").load()``"""

    @classmethod
    def name(cls) -> str:
        return "clickhouse_url"

    def schema(self):
        # memoized PER INSTANCE (one probe per load()), never globally:
        # a process-wide (url, fmt) cache served a STALE schema when the
        # URL's content changed between loads — the POST-then-GET
        # store-and-serve pattern (r13 ADVICE). A fresh load always
        # re-probes; repeat schema() calls on one plan reuse the probe.
        memo = getattr(self, "_schema_memo", None)
        if memo is not None:
            return memo
        opts = dict(self.options)
        urls = expand_urls(opts.get("url") or "")
        if not urls:
            raise ValueError("clickhouse_url requires a url option")
        fmt = opts.get("format", "CSVWithNamesAndTypes")
        structure = (opts.get("structure") or "").strip() or None
        headers = parse_headers(opts.get("headers"))
        settings = format_settings(opts)
        mode = _inference_mode(opts)
        if (
            mode == "union"
            and len(urls) > 1
            and not structure_is_authoritative(fmt, structure)
        ):
            # ClickHouse schema_inference_mode='union': probe EVERY
            # element (one fetch each — the same cost the server pays)
            # and merge; a declared structure needs no probe at all
            schema = merge_inferred_schemas(
                probe_many(
                    lambda u: _probe_schema(
                        u, fmt, structure, opts.get("compression"),
                        headers, settings,
                    ),
                    urls,
                )
            )
        else:
            schema = _probe_schema(
                urls[0], fmt, structure, opts.get("compression"),
                headers, settings,
            )
        if _truthy(opts.get("virtual_columns")):
            schema = _add_virtual_fields(schema)
        self._schema_memo = schema
        return self._schema_memo

    def reader(self, schema) -> ClickHouseURLReader:
        return ClickHouseURLReader(dict(self.options), schema)


def url_table(
    spark,
    url: str,
    fmt: str = "CSVWithNamesAndTypes",
    structure: Optional[str] = None,
    compression: Optional[str] = None,
    virtual_columns: bool = False,
    headers=None,
    schema_inference_mode: Optional[str] = None,
    format_regexp: Optional[str] = None,
    format_regexp_skip_unmatched: bool = False,
):
    """The ``url(url, format[, structure])`` table function as a
    DataFrame. A comma-separated URL list fans out one partition per
    URL, and ClickHouse URL globs expand first — ``part{1..32}.csv``
    numeric ranges (``{01..12}`` zero-padded), ``{a,b}`` alternation,
    cartesian across groups; ``structure`` ('name Type, ...') enables
    the headerless formats (plain CSV/TSV/RowBinary/JSONCompactEachRow,
    JSONEachRow, Values, TSKV, Npy).  ``compression`` defaults to the
    ClickHouse auto-detection (filename extension + Content-Encoding:
    gz/zst/br/lz4/bz2/xz); ``virtual_columns`` appends the ``_path`` /
    ``_file`` provenance strings per URL."""
    from ..plans.base import ensure_session

    ensure_session(spark)
    r = (
        spark.read.format("clickhouse_url")
        .option("url", url)
        .option("format", fmt)
    )
    if structure:
        r = r.option("structure", structure)
    if compression:
        r = r.option("compression", compression)
    if virtual_columns:
        r = r.option("virtual_columns", "true")
    if headers:
        import json as _json

        r = r.option(
            "headers",
            headers if isinstance(headers, str) else _json.dumps(headers),
        )
    if schema_inference_mode:
        r = r.option("schema_inference_mode", schema_inference_mode)
    if format_regexp:
        r = r.option("format_regexp", format_regexp)
    if format_regexp_skip_unmatched:
        r = r.option("format_regexp_skip_unmatched", "true")
    return r.load()


def format_table(
    spark,
    fmt: str,
    data,
    structure: Optional[str] = None,
    settings: Optional[dict] = None,
):
    """The ``format(fmt, data[, structure])`` table function: decode an
    inline literal (str or bytes) into a DataFrame. Literal-sized by
    definition, so the decode runs driver-side and the result enters
    the plan as a local relation (Catalyst can broadcast or fold it)."""
    import pyarrow as pa

    raw = data.encode("utf-8") if isinstance(data, str) else bytes(data)
    blocks = list(_decode_stream(io.BytesIO(raw), fmt, structure, settings))
    if not blocks:
        raise ValueError(f"format() literal decoded to zero {fmt} blocks")
    batches = [b.to_record_batch() for b in blocks]
    tbl = pa.Table.from_batches(batches)
    return spark.createDataFrame(tbl)


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


def url_insert(df, url: str, fmt: str = "CSVWithNamesAndTypes") -> int:
    """``INSERT INTO FUNCTION url(url, fmt)``: encode ``df`` with the
    shared wire writers and POST it as ONE request body. The encode
    and POST run executor-side (repartition(1) + mapInArrow — the
    into_outfile single-writer shape; the driver only sees the 1-row
    row count). Returns the number of rows posted."""
    from ..operators.outfile import _resolve_writer

    writer_key = insert_kind(fmt, "url()")
    if not url.lower().startswith(("http://", "https://")):
        raise ValueError(f"url() needs an http(s):// URL, got {url!r}")

    def post_single(batches):
        import pyarrow as pa_exec
        from urllib.request import Request, urlopen

        from ..native.contentcodec import compress_bytes, sniff_compression
        from ..native.rowbinary import derive_wire_types

        writer = _resolve_writer(writer_key)
        buf = io.BytesIO()
        # wire-NULL contract (r10): Nullable(...) is declared exactly
        # where nulls exist, scanning ALL batches before encoding
        chunks, ch_types = derive_wire_types(batches)
        n = writer(buf, chunks, ch_types=ch_types) or sum(
            b.num_rows for b in chunks
        )
        # write-side extension sniffing, mirroring INTO OUTFILE: an
        # INSERT to '.../export.csv.gz' posts a gzip body the read
        # half (url()/file() auto-detection) reimports losslessly
        body = compress_bytes(buf.getvalue(), sniff_compression(url))
        req = Request(
            url,
            data=body,
            method="POST",
            headers={"Content-Type": "application/octet-stream"},
        )
        with urlopen(req, timeout=60) as resp:
            resp.read()
        yield pa_exec.RecordBatch.from_arrays(
            [pa_exec.array([int(n)], type=pa_exec.int64())], names=["n"]
        )

    out = df.repartition(1).mapInArrow(post_single, "n bigint")
    return int(out.collect()[0]["n"])
