"""ClickHouse ``url()`` and ``format()`` table functions.

ClickHouse reads remote files with ``SELECT * FROM url('http://...',
'CSVWithNamesAndTypes')`` and inline literals with ``SELECT * FROM
format(JSONCompactEachRow, '...')`` (docs: sql-reference/
table-functions/url and /format).  The Spark-first analogues:

* ``clickhouse_url`` DataSource (+ ``url_table`` helper, the
  ``clickhouse_url`` SQL UDTF and ``url_insert``): the ``url`` row of
  the shared object source (object_source.py), which owns the formats,
  the schema probe, the reader, the UDTF and the INSERT path.  What
  this row adds: URL lists and ClickHouse URL globs (one partition per
  expanded URL — a single URL has no server-side split), the
  ``headers`` option, a GET whose open retries transient transport
  errors, Content-Encoding-aware decompression, and a POST per INSERT.
* ``format_table(spark, fmt, data)``: decode an inline literal
  driver-side (inline data is literal-sized by definition) into a
  DataFrame through the same decoders.
"""

from __future__ import annotations

import contextlib
import io
from typing import Optional

# parse_structure and merge_inferred_schemas keep their public import
# path here
from .object_source import (
    ObjectSource,
    Opener,
    _decode_stream,
    insert_kind,
    insert_objects,
    load_objects,
    merge_inferred_schemas,  # noqa: F401
    parse_structure,  # noqa: F401
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


@contextlib.contextmanager
def _open_url(url: str, compression: Optional[str], opts: dict):
    """GET + transparent decompression: an explicit ``compression``
    option wins, then the HTTP Content-Encoding response header, then
    the filename-extension sniff (ClickHouse's url() auto-detection —
    docs: sql-reference/table-functions/url, 'compression method').
    Yields the DECODED stream."""
    from ..native.contentcodec import open_compressed, resolve_compression

    with _http_get(url, parse_headers(opts.get("headers"))) as resp:
        enc = None
        resp_headers = getattr(resp, "headers", None)
        if resp_headers is not None:
            enc = resp_headers.get("Content-Encoding")
        yield open_compressed(resp, resolve_compression(url, compression, enc))


def _expand(spec: str, opts: dict) -> list:
    parse_headers(opts.get("headers"))  # a malformed option refuses at plan time
    return expand_urls(spec)


class _Body(io.BytesIO):
    """A POST body: a compressing writer closes its sink when done, the
    body must still be there for the request."""

    def close(self):
        pass


@contextlib.contextmanager
def _post_url(url: str, opts: dict):
    """One POST request carrying everything written to the sink."""
    from urllib.request import Request, urlopen

    body = _Body()
    yield body
    req = Request(
        url,
        data=body.getvalue(),
        method="POST",
        headers={"Content-Type": "application/octet-stream"},
    )
    with urlopen(req, timeout=60) as resp:
        resp.read()


URL = Opener("url()", "url", ("headers",), _expand, _open_url, _post_url)


class ClickHouseURLDataSource(ObjectSource):
    """``spark.read.format("clickhouse_url").option("url", ...)
    .option("format", "CSVWithNamesAndTypes").load()``"""

    opener = URL

    @classmethod
    def name(cls) -> str:
        return "clickhouse_url"


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
    return load_objects(
        spark,
        ClickHouseURLDataSource,
        url,
        fmt,
        structure=structure,
        compression=compression,
        virtual_columns=virtual_columns,
        headers=headers,
        schema_inference_mode=schema_inference_mode,
        format_regexp=format_regexp,
        format_regexp_skip_unmatched=format_regexp_skip_unmatched,
    )


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


def url_insert(df, url: str, fmt: str = "CSVWithNamesAndTypes") -> int:
    """``INSERT INTO FUNCTION url(url, fmt)``: encode ``df`` with the
    shared wire writers and POST it as ONE request body from one
    executor task (the shared INSERT path's single-object shape).
    The body compresses by the URL's extension, so an INSERT to
    '.../export.csv.gz' posts a gzip body url()/file() read back.
    Returns the number of rows posted."""
    insert_kind(fmt, URL.surface)  # the format refuses before the URL
    if not url.lower().startswith(("http://", "https://")):
        raise ValueError(f"url() needs an http(s):// URL, got {url!r}")
    return insert_objects(df, URL, url, fmt)
