"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

Decoding is REAL for BMP and netpbm payloads — ``imagecodec``
implements those formats in pure Python, so ``real_decode`` needs no
external library for them (PIL remains the runtime-probed fallback
for everything else, and ``decode_image_stub`` a deterministic fake
kept for the legacy stub conformance entries). The
``multimodal_real_decode`` query grades the real path end-to-end:
documents are rendered into genuine BMP/PPM files, decoded back
through ``imagecodec``, and an ORDER-SENSITIVE weighted pixel
checksum must match the oracle's direct computation — i.e. the
decoder must undo bottom-up row order, BGR interleave and row
padding exactly, or the hash mismatches.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id bigint, media binary, media_type string, "
    "byte_len bigint, header_hex string, checksum_mod bigint"
)


def decode_image_stub(data: bytes) -> dict:
    """Deterministic fake 'decode': real decoders return
    (width, height, channels, pixels); this returns stand-ins derived
    from the bytes so the pipeline shape is testable offline.

    Raises ``NotImplementedError`` when a real decode is requested.
    """
    if not isinstance(data, (bytes, bytearray)):
        raise TypeError("media column must be binary")
    return {
        "byte_len": len(data),
        "header_hex": data[:4].hex(),
        "checksum_mod": sum(data) % 1_000_003,
    }


def _pil():  # feature probe: PIL is absent in this container, present
    try:  # on a real cluster image — use it the moment it exists
        from PIL import Image  # type: ignore

        return Image
    except ImportError:
        return None


def real_decode(data: bytes) -> dict:
    """Real byte->pixels decode. BMP and netpbm (P6/P5) payloads
    decode in PURE PYTHON (``imagecodec`` — no library needed, so the
    real path is first-class in this container); any other format
    falls back to PIL when importable, else raises
    ``NotImplementedError``. The legacy stub conformance entries stay
    on ``decode_image_stub`` (their oracle predates the codec); the
    real path is graded by ``multimodal_real_decode``, whose oracle
    proves the encode->decode round trip pixel-exactly."""
    from .imagecodec import MediaFormatError, decode_media

    data = bytes(data)
    try:
        width, height, channels, px = decode_media(data)
        return {
            "width": width,
            "height": height,
            "channels": channels,
            "mean_pixel": (sum(px) / len(px)) if px else 0.0,
        }
    except MediaFormatError:
        pass  # not BMP/netpbm — try PIL below
    Image = _pil()
    if Image is None:
        raise NotImplementedError(
            "payload is not BMP/netpbm and no decode library is "
            "available; install PIL (or plug soundfile.read for audio)"
        )
    import io as _io

    with Image.open(_io.BytesIO(bytes(data))) as img:
        img.load()
        bands = len(img.getbands())
        px = list(img.getdata())
        flat = (
            [c for p in px for c in (p if isinstance(p, tuple) else (p,))]
            if px
            else []
        )
        return {
            "width": img.width,
            "height": img.height,
            "channels": bands,
            "mean_pixel": (sum(flat) / len(flat)) if flat else 0.0,
        }


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table: documents' text bytes standing in for
    encoded media payloads (opaque binary + typed metadata)."""
    from ..plans.base import ensure_session

    ensure_session(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("media"),
        F.lit("fake/utf8").alias("media_type"),
    )


def extract_media_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary media columns.

    Arrow-batched: each pandas batch holds ~10k binary cells; the
    stub decoder runs per cell; output is a typed feature frame. At
    100 TB this is a map-only stage — featurework parallelism equals
    input partitions, no shuffle.
    """
    import pandas as pd

    def features(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = pdf["media"].map(decode_image_stub)
            out = pdf[["doc_id", "media", "media_type"]].copy()
            out["byte_len"] = [f["byte_len"] for f in feats]
            out["header_hex"] = [f["header_hex"] for f in feats]
            out["checksum_mod"] = [f["checksum_mod"] for f in feats]
            yield out

    return df.mapInPandas(features, schema=MEDIA_SCHEMA)


def media_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformance entry: byte-level features through the mapInPandas
    path, reduced to an oracle-checkable projection."""
    return extract_media_features(media_table(spark, sf_dir)).select(
        "doc_id", "byte_len", "header_hex", "checksum_mod"
    )


# the synthetic documents are pure ASCII (verified: max codepoint 121),
# so per-byte arithmetic can use ascii() on chars; a real binary column
# would need a blob-capable oracle
MEDIA_FEATURES_ORACLE_SQL = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           lower(hex(encode(substr(text, 1, 4)))) AS header_hex,
           CAST(COALESCE(list_sum(list_transform(range(1, length(text) + 1),
                i -> ascii(substr(text, i, 1)))), 0) AS BIGINT) % 1000003 AS checksum_mod
    FROM documents
"""

RESIZE_TARGET = 64  # "pixels" (bytes) after downsampling


def resize_media(df: DataFrame, target: int = RESIZE_TARGET) -> DataFrame:
    """'Resize' stub: stride-subsample the payload down to ≤ target
    bytes — the exact plumbing a real thumbnailer needs (binary in,
    smaller binary + new dims out), with a deterministic fake kernel.
    Map-only stage, no shuffle."""
    import pandas as pd

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            def one(data: bytes) -> tuple[bytes, int, int]:
                stride = max(1, -(-len(data) // target))  # ceil div
                small = data[::stride]
                return small, len(small), sum(small) % 1_000_003

            res = pdf["media"].map(one)
            out = pdf[["doc_id"]].copy()
            out["resized"] = [r[0] for r in res]
            out["out_len"] = [r[1] for r in res]
            out["out_checksum"] = [r[2] for r in res]
            yield out

    return df.mapInPandas(
        resize, schema="doc_id bigint, resized binary, out_len bigint, out_checksum bigint"
    )


def media_resize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_media(media_table(spark, sf_dir)).select(
        "doc_id", "out_len", "out_checksum"
    )


MEDIA_RESIZE_ORACLE_SQL = f"""
    WITH strided AS (
      SELECT doc_id,
             list_transform(
               range(1, length(text) + 1,
                     GREATEST(1, CAST(ceil(length(text) / {RESIZE_TARGET}.0) AS INT))),
               i -> ascii(substr(text, i, 1))) AS px
      FROM documents
    )
    SELECT doc_id,
           CAST(len(px) AS BIGINT) AS out_len,
           CAST(COALESCE(list_sum(px), 0) AS BIGINT) % 1000003 AS out_checksum
    FROM strided
"""

FRAME_BYTES = 256  # bytes per "frame"
FRAME_STRIDE = 4  # keep every 4th frame


def sample_frames(
    df: DataFrame, frame_bytes: int = FRAME_BYTES, stride: int = FRAME_STRIDE
) -> DataFrame:
    """Frame-sampling stub: treat the payload as a fixed-frame 'video'
    and keep every ``stride``-th frame — one output ROW per sampled
    frame (mapInPandas fan-out), the shape a real video pipeline needs.
    """
    import pandas as pd

    def frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["media"]):
                n = -(-len(data) // frame_bytes)  # ceil
                for fi in range(0, n, stride):
                    fr = data[fi * frame_bytes : (fi + 1) * frame_bytes]
                    rows.append(
                        (doc_id, fi, len(fr), sum(fr) % 1_000_003)
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_len", "frame_checksum"]
            )

    return df.mapInPandas(
        frames,
        schema="doc_id bigint, frame_idx int, frame_len bigint, frame_checksum bigint",
    )


def media_frames_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(media_table(spark, sf_dir))


MEDIA_FRAMES_ORACLE_SQL = f"""
    WITH idx AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text) / {FRAME_BYTES}.0) AS INT),
                          {FRAME_STRIDE})) AS frame_idx
      FROM documents
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))
                AS BIGINT) AS frame_len,
           CAST(COALESCE(list_sum(list_transform(
                range(frame_idx * {FRAME_BYTES} + 1,
                      frame_idx * {FRAME_BYTES} + 1
                      + length(substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))),
                i -> ascii(substr(text, i, 1)))), 0) AS BIGINT) % 1000003 AS frame_checksum
    FROM idx
"""


# -- perceptual-hash near-dup over media payloads ---------------------------

PHASH_BANDS = 8          # 8 bands x 8 bits over the 64-bit signature
PHASH_HAMMING_MAX = 12   # near-dup threshold


def phash_media(df: DataFrame) -> DataFrame:
    """aHash-style 64-bit perceptual hash per media payload: the bytes
    are split into 64 positional frames and bit j is set when frame
    j's mean exceeds the global mean — the integer-exact comparison
    ``sum(frame) * n > total * len(frame)`` avoids float division so
    Spark and the SQL oracle agree bit-for-bit. Against a real decoder
    this is the classic 8x8-downsample aHash; the stub operates on the
    raw payload bytes. Map-only stage (signature parallelism = input
    partitions); emitted as two 32-bit halves to stay BIGINT-safe."""
    import pandas as pd

    def sig(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            lo_col, hi_col = [], []
            for data in pdf["media"]:
                arr = np.frombuffer(bytes(data), dtype=np.uint8).astype(np.int64)
                n = arr.size
                total = int(arr.sum())
                bits = 0
                for j in range(64):
                    lo, hi = (j * n) // 64, ((j + 1) * n) // 64
                    seg = arr[lo:hi]
                    if seg.size and int(seg.sum()) * n > total * seg.size:
                        bits |= 1 << j
                lo_col.append(bits & 0xFFFFFFFF)
                hi_col.append(bits >> 32)
            out = pdf[["doc_id"]].copy()
            out["ph_lo"] = pd.Series(lo_col, dtype="int64")
            out["ph_hi"] = pd.Series(hi_col, dtype="int64")
            yield out

    return df.mapInPandas(sig, schema="doc_id bigint, ph_lo bigint, ph_hi bigint")


def media_phash_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup media pairs: perceptual hash via mapInPandas, then
    SQL band-bucket candidates (8x8-bit bands, one shuffle on the
    band key) with the hamming filter inside the join — the simhash
    plan shape applied to the multimodal column."""
    sigs = phash_media(media_table(spark, sf_dir))
    sigs.createOrReplaceTempView("media_phash_sigs")
    bands = ", ".join(
        f"CAST((ph_lo >> {8 * b}) & 255 AS BIGINT) AS band{b}" for b in range(4)
    ) + ", " + ", ".join(
        f"CAST((ph_hi >> {8 * b}) & 255 AS BIGINT) AS band{b + 4}" for b in range(4)
    )
    band_arr = ", ".join(f"band{b}" for b in range(PHASH_BANDS))
    return spark.sql(f"""
    WITH sig_bands AS (
      SELECT doc_id, ph_lo, ph_hi, {bands} FROM media_phash_sigs
    ),
    band_rows AS (
      SELECT doc_id, ph_lo, ph_hi, band_idx, band_val FROM sig_bands
      LATERAL VIEW posexplode(array({band_arr})) t AS band_idx, band_val
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(a.ph_lo ^ b.ph_lo) + bit_count(a.ph_hi ^ b.ph_hi) AS hamming
    FROM band_rows a JOIN band_rows b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(a.ph_lo ^ b.ph_lo) + bit_count(a.ph_hi ^ b.ph_hi) <= {PHASH_HAMMING_MAX}
    """)


def _phash_sig_cte_duckdb() -> str:
    # frame j = byte positions (j*n)//64 .. ((j+1)*n)//64 (0-based,
    # end-exclusive) == 1-based inclusive list slice [lo+1 : hi]
    bit_lo = " + ".join(
        f"(CASE WHEN len(b[(({j} * n) // 64) + 1 : (({j} + 1) * n) // 64]) > 0 "
        f"AND list_sum(b[(({j} * n) // 64) + 1 : (({j} + 1) * n) // 64]) * n "
        f"> total * len(b[(({j} * n) // 64) + 1 : (({j} + 1) * n) // 64]) "
        f"THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    bit_hi = " + ".join(
        f"(CASE WHEN len(b[(({j} * n) // 64) + 1 : (({j} + 1) * n) // 64]) > 0 "
        f"AND list_sum(b[(({j} * n) // 64) + 1 : (({j} + 1) * n) // 64]) * n "
        f"> total * len(b[(({j} * n) // 64) + 1 : (({j} + 1) * n) // 64]) "
        f"THEN CAST({2 ** (j - 32)} AS BIGINT) ELSE 0 END)"
        for j in range(32, 64)
    )
    return f"""px AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS b,
             CAST(length(text) AS BIGINT) AS n
      FROM documents
    ),
    tot AS (
      SELECT doc_id, b, n, CAST(COALESCE(list_sum(b), 0) AS BIGINT) AS total FROM px
    ),
    sigs AS (
      SELECT doc_id, {bit_lo} AS ph_lo, {bit_hi} AS ph_hi FROM tot
    )"""


def media_phash_pairs_oracle_sql() -> str:
    bands = ", ".join(
        f"CAST((ph_lo >> {8 * b}) & 255 AS BIGINT) AS band{b}" for b in range(4)
    ) + ", " + ", ".join(
        f"CAST((ph_hi >> {8 * b}) & 255 AS BIGINT) AS band{b + 4}" for b in range(4)
    )
    band_arr = ", ".join(f"band{b}" for b in range(PHASH_BANDS))
    return f"""
    WITH {_phash_sig_cte_duckdb()},
    sig_bands AS (SELECT doc_id, ph_lo, ph_hi, {bands} FROM sigs),
    band_rows AS (
      SELECT doc_id, ph_lo, ph_hi,
             generate_subscripts([{band_arr}], 1) - 1 AS band_idx,
             unnest([{band_arr}]) AS band_val
      FROM sig_bands
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.ph_lo, b.ph_lo)) + bit_count(xor(a.ph_hi, b.ph_hi)) AS hamming
    FROM band_rows a JOIN band_rows b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ph_lo, b.ph_lo)) + bit_count(xor(a.ph_hi, b.ph_hi)) <= {PHASH_HAMMING_MAX}
    """


# -- real-decode round trip -------------------------------------------------

WSUM_MOD = 1_000_000_007


def media_image_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize GENUINE image files from documents: each doc renders
    to a small 24-bit image whose raster-order RGB bytes are a strided
    read of its (ASCII) text — even doc_ids encode as BMP, odd as
    binary PPM. Deterministic, so the DuckDB oracle reproduces the
    pixel sequence without an image library. Map-only stage."""
    import pandas as pd

    from ..plans.base import ensure_session
    from .imagecodec import encode_bmp, encode_ppm

    ensure_session(spark)
    docs = _spread_for_python_kernels(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            media, fmts = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                # CHARACTER-indexed (codepoint % 256), NULL -> empty:
                # mirrors the oracle's substr/ascii formulation exactly
                # for any input, not just the ASCII+non-null fixture
                # (ADVICE r8: the old utf-8 BYTE stride diverged from
                # the char-indexed oracle on non-ASCII or NULL text)
                s = text or ""
                w, h = 4 + doc_id % 5, 3 + doc_id % 4
                n = w * h * 3
                if s:
                    px = bytes(
                        ord(s[(i * 7 + doc_id) % len(s)]) % 256
                        for i in range(n)
                    )
                else:
                    px = b"\x20" * n
                if doc_id % 2 == 0:
                    media.append(encode_bmp(px, w, h))
                    fmts.append("bmp")
                else:
                    media.append(encode_ppm(px, w, h))
                    fmts.append("ppm")
            out = pdf[["doc_id"]].copy()
            out["media"] = media
            out["fmt"] = fmts
            yield out

    return docs.mapInPandas(render, schema="doc_id bigint, media binary, fmt string")


def media_real_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformance entry for the REAL decoder: synthesized BMP/PPM
    payloads -> ``imagecodec.decode_media`` -> dimensions + an
    order-sensitive weighted checksum sum((i+1)*px[i]) mod 1e9+7.
    The oracle computes the same checksum straight from the text, so
    a green hash proves decode(encode(px)) == px byte-for-byte,
    including the BMP bottom-up/BGR/padding inversions."""
    import pandas as pd

    from .imagecodec import decode_media

    imgs = media_image_table(spark, sf_dir)

    def dec(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ws, hs, chs, wsums = [], [], [], []
            for data in pdf["media"]:
                w, h, ch, px = decode_media(bytes(data))
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                wsums.append(
                    sum((i + 1) * p for i, p in enumerate(px)) % WSUM_MOD
                )
            out = pdf[["doc_id", "fmt"]].copy()
            out["width"] = pd.Series(ws, dtype="int32")
            out["height"] = pd.Series(hs, dtype="int32")
            out["channels"] = pd.Series(chs, dtype="int32")
            out["wsum_fp"] = pd.Series(wsums, dtype="int64")
            yield out

    return imgs.mapInPandas(
        dec,
        schema=(
            "doc_id bigint, fmt string, width int, height int, "
            "channels int, wsum_fp bigint"
        ),
    ).orderBy("doc_id")


MEDIA_REAL_DECODE_ORACLE_SQL = f"""
    WITH dims AS (
      SELECT doc_id, COALESCE(text, '') AS text,
             4 + doc_id % 5 AS width,
             3 + doc_id % 4 AS height,
             length(COALESCE(text, '')) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           3 AS channels,
           CAST(COALESCE(list_sum(list_transform(
                  range(0, width * height * 3),
                  i -> (i + 1) * (CASE WHEN n_chars = 0 THEN 32
                        ELSE ascii(substr(text,
                             CAST(((i * 7 + doc_id) % n_chars) + 1 AS INT), 1))
                             % 256
                        END))), 0) % {WSUM_MOD} AS BIGINT) AS wsum_fp
    FROM dims
    ORDER BY doc_id
"""


# -- real audio round trip (the WAV sibling of the image round trip) --------


def media_audio_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize GENUINE 16-bit PCM WAV files from documents: each
    doc renders to a short mono waveform whose samples are a strided
    CHARACTER read of its text ((codepoint % 256) - 128, scaled x128
    into int16 range), sample rate varied per doc. Deterministic, so
    the DuckDB oracle reproduces the sample sequence without an audio
    library. Map-only stage; NULL text -> silence (all-zero samples),
    matching the oracle's COALESCE."""
    import pandas as pd

    from ..plans.base import ensure_session
    from .audiocodec import encode_wav

    ensure_session(spark)
    docs = _spread_for_python_kernels(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            media, rates = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                s = text or ""
                n = 40 + doc_id % 50
                rate = 8000 + 4000 * (doc_id % 3)
                if s:
                    samples = [
                        ((ord(s[(i * 3 + doc_id) % len(s)]) % 256) - 128) * 128
                        for i in range(n)
                    ]
                else:
                    samples = [0] * n
                media.append(encode_wav(samples, rate))
                rates.append(rate)
            out = pdf[["doc_id"]].copy()
            out["media"] = media
            out["rate"] = pd.Series(rates, dtype="int64")
            yield out

    return docs.mapInPandas(render, schema="doc_id bigint, media binary, rate bigint")


def media_audio_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformance entry for the REAL WAV decoder: synthesized PCM
    payloads -> ``audiocodec.decode_wav`` -> rate, channel count,
    sample count and an order-sensitive weighted checksum
    sum((i+1) * s_i) mod 1e9+7 (negatives folded mod p, so both
    engines agree on the representative). The oracle computes the same
    checksum straight from the text; a green hash proves
    decode(encode(samples)) == samples value-for-value, including the
    RIFF chunk walk and int16 little-endian packing."""
    import pandas as pd

    from .audiocodec import decode_wav

    wavs = media_audio_table(spark, sf_dir)

    def dec(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rates, chans, ns, wsums = [], [], [], []
            for data in pdf["media"]:
                rate, nch, samples = decode_wav(bytes(data))
                rates.append(rate)
                chans.append(nch)
                ns.append(len(samples))
                wsums.append(
                    sum((i + 1) * s for i, s in enumerate(samples)) % WSUM_MOD
                )
            out = pdf[["doc_id"]].copy()
            out["sample_rate"] = pd.Series(rates, dtype="int64")
            out["channels"] = pd.Series(chans, dtype="int32")
            out["n_samples"] = pd.Series(ns, dtype="int64")
            out["wsum_fp"] = pd.Series(wsums, dtype="int64")
            yield out

    return wavs.mapInPandas(
        dec,
        schema=(
            "doc_id bigint, sample_rate bigint, channels int, "
            "n_samples bigint, wsum_fp bigint"
        ),
    ).orderBy("doc_id")


MEDIA_AUDIO_DECODE_ORACLE_SQL = f"""
    WITH dims AS (
      SELECT doc_id, COALESCE(text, '') AS text,
             40 + doc_id % 50 AS n,
             8000 + 4000 * (doc_id % 3) AS rate,
             length(COALESCE(text, '')) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(rate AS BIGINT) AS sample_rate,
           1 AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(((COALESCE(list_sum(list_transform(
                  range(0, n),
                  i -> (i + 1) * (CASE WHEN n_chars = 0 THEN 0
                        ELSE (ascii(substr(text,
                             CAST(((i * 3 + doc_id) % n_chars) + 1 AS INT), 1))
                             % 256 - 128) * 128
                        END))), 0) % {WSUM_MOD}) + {WSUM_MOD}) % {WSUM_MOD}
                AS BIGINT) AS wsum_fp
    FROM dims
    ORDER BY doc_id
"""


def media_audio_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over DECODED audio — the audio twin of the
    image feature stage: per clip, total energy (sum of squared
    samples — exact BIGINT), zero-crossing count (adjacent sign
    products < 0; integer-exact) and peak amplitude. All three are
    integer arithmetic over the int16 samples, so the oracle computes
    them straight from the text-derived sample formula and the hash
    must match bit-for-bit. Map-only mapInPandas stage (numpy int64
    per batch), no shuffle."""
    import numpy as np
    import pandas as pd

    from .audiocodec import decode_wav

    wavs = media_audio_table(spark, sf_dir)

    def feats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            energy, zc, peak = [], [], []
            for data in pdf["media"]:
                _rate, _nch, samples = decode_wav(bytes(data))
                s = np.asarray(samples, dtype=np.int64)
                energy.append(int((s * s).sum()))
                zc.append(int(((s[:-1] * s[1:]) < 0).sum()) if len(s) > 1 else 0)
                peak.append(int(np.abs(s).max()) if len(s) else 0)
            out = pdf[["doc_id"]].copy()
            out["energy"] = pd.Series(energy, dtype="int64")
            out["zero_crossings"] = pd.Series(zc, dtype="int64")
            out["peak"] = pd.Series(peak, dtype="int64")
            yield out

    return wavs.mapInPandas(
        feats,
        schema="doc_id bigint, energy bigint, zero_crossings bigint, peak bigint",
    ).orderBy("doc_id")


MEDIA_AUDIO_FEATURES_ORACLE_SQL = """
    WITH dims AS (
      SELECT doc_id, COALESCE(text, '') AS text,
             40 + doc_id % 50 AS n,
             length(COALESCE(text, '')) AS n_chars
      FROM documents
    ),
    samples AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               i -> CASE WHEN n_chars = 0 THEN 0
                    ELSE (ascii(substr(text,
                         CAST(((i * 3 + doc_id) % n_chars) + 1 AS INT), 1))
                         % 256 - 128) * 128
                    END) AS s
      FROM dims
    )
    SELECT doc_id,
           CAST(COALESCE(list_sum(list_transform(s, x -> x * x)), 0)
                AS BIGINT) AS energy,
           CAST(COALESCE(list_sum(list_transform(range(1, n),
                i -> CASE WHEN s[i] * s[i + 1] < 0 THEN 1 ELSE 0 END)), 0)
                AS BIGINT) AS zero_crossings,
           CAST(COALESCE(list_max(list_transform(s, x -> abs(x))), 0)
                AS BIGINT) AS peak
    FROM samples
    ORDER BY doc_id
"""


# -- real PNG round trip (zlib + scanline filters on the wire) --------------


# identity-gray palette: pal[i] = (i, i, i) — a palette PNG built on
# it decodes to RGB with every index TRIPLED, which keeps the oracle's
# weighted checksum closed-form (see MEDIA_PNG_DECODE_ORACLE_SQL)
_PNG_IDENT_PAL = bytes(i for i in range(256) for _ in range(3))


def _spread_for_python_kernels(df: DataFrame) -> DataFrame:
    """Widen a too-narrow input before a CPU-bound Python kernel chain
    (guide §2.5 input skew: the sf-scale documents parquet is one
    row-group -> ONE scan task serializes the whole render/decode).
    Target ``shuffle_width(spark)``, the floor of the one sizing rule:
    chained mapInPandas stages already pipeline across two workers per
    task, and r15 measured the full-width repartition (32 tasks at 5k
    rows) strictly WORSE; r16 interleaved A/B at repartition(8): png
    1.7 -> 1.0 s, identical rows. No-op when the input is already at
    least that wide — a real corpus arrives pre-partitioned and must
    not be reshuffled."""
    from ..plans.base import shuffle_width

    n = shuffle_width(df.sparkSession)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def media_png_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize GENUINE PNG files from documents with the same
    strided character pixels as the BMP/PPM table, varying the format
    family by doc_id % 5: gray / RGBA / RGB (the r10 set), 8-bit
    PALETTE over the identity-gray PLTE, and Adam7-INTERLACED RGB
    (r11 — palette PNGs are ubiquitous in web corpora, and interlace
    only permutes storage order so the decoded raster keeps the same
    closed form). Map-only stage."""
    import pandas as pd

    from ..plans.base import ensure_session
    from .imagecodec import encode_png, encode_png_palette

    ensure_session(spark)
    docs = _spread_for_python_kernels(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )

    def render(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            media, chans = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                s = text or ""
                w, h = 4 + doc_id % 5, 3 + doc_id % 4
                mode = doc_id % 5
                # palette stores ONE index per pixel; others ch values
                ch = (1, 4, 3, 1, 3)[mode]
                n = w * h * ch
                if s:
                    px = bytes(
                        ord(s[(i * 7 + doc_id) % len(s)]) % 256
                        for i in range(n)
                    )
                else:
                    px = b"\x20" * n
                if mode == 3:
                    media.append(
                        encode_png_palette(px, w, h, _PNG_IDENT_PAL)
                    )
                    chans.append(3)  # identity palette decodes to RGB
                elif mode == 4:
                    media.append(
                        encode_png(px, w, h, channels=3, interlace=True)
                    )
                    chans.append(3)
                else:
                    media.append(encode_png(px, w, h, channels=ch))
                    chans.append(ch)
            out = pdf[["doc_id"]].copy()
            out["media"] = media
            out["declared_ch"] = pd.Series(chans, dtype="int32")
            yield out

    return docs.mapInPandas(
        render, schema="doc_id bigint, media binary, declared_ch int"
    )


def media_png_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformance entry for the PNG decoder: synthesized PNG payloads
    -> decode_media -> dimensions/channels + the order-sensitive
    weighted checksum. Green hash == decode(deflate(filter(px))) is
    byte-identical to the pixel formula the oracle recomputes."""
    import pandas as pd

    from .imagecodec import decode_media

    imgs = media_png_table(spark, sf_dir)

    def dec(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ws, hs, chs, wsums = [], [], [], []
            for data in pdf["media"]:
                w, h, ch, px = decode_media(bytes(data))
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                wsums.append(
                    sum((i + 1) * p for i, p in enumerate(px)) % WSUM_MOD
                )
            out = pdf[["doc_id"]].copy()
            out["width"] = pd.Series(ws, dtype="int32")
            out["height"] = pd.Series(hs, dtype="int32")
            out["channels"] = pd.Series(chs, dtype="int32")
            out["wsum_fp"] = pd.Series(wsums, dtype="int64")
            yield out

    return imgs.mapInPandas(
        dec,
        schema=(
            "doc_id bigint, width int, height int, channels int, "
            "wsum_fp bigint"
        ),
    ).orderBy("doc_id")


# modes (doc_id % 5): 0 gray, 1 RGBA, 2 RGB, 3 palette-8 over the
# identity-gray PLTE (stores w*h indexes; decodes to RGB with every
# index tripled -> weight 9j+6 per stored value), 4 Adam7 RGB
# (interlace permutes STORAGE only; the decoded raster keeps the
# plain formula)
MEDIA_PNG_DECODE_ORACLE_SQL = f"""
    WITH dims AS (
      SELECT doc_id, COALESCE(text, '') AS text,
             4 + doc_id % 5 AS width,
             3 + doc_id % 4 AS height,
             doc_id % 5 AS mode,
             CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 4
                             WHEN 3 THEN 1 ELSE 3 END AS stored_ch,
             length(COALESCE(text, '')) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(CASE mode WHEN 0 THEN 1 WHEN 1 THEN 4 ELSE 3 END AS INT)
             AS channels,
           CAST(COALESCE(list_sum(list_transform(
                  range(0, width * height * stored_ch),
                  i -> (CASE WHEN mode = 3 THEN 9 * i + 6 ELSE i + 1 END)
                       * (CASE WHEN n_chars = 0 THEN 32
                          ELSE ascii(substr(text,
                               CAST(((i * 7 + doc_id) % n_chars) + 1 AS INT),
                               1)) % 256
                          END))), 0) % {WSUM_MOD} AS BIGINT) AS wsum_fp
    FROM dims
    ORDER BY doc_id
"""


# -- real GIF round trip (LZW on the wire) -----------------------------------


def media_gif_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformance entry for the GIF decoder: 16-color palette whose
    RGB bytes are simply 0..47 (pal[c][k] = 3c+k — closed-form for the
    oracle), pixel indexes from the strided character formula mod 16,
    literal-LZW encoding on the wire (with CLEAR resets), decode back
    to RGB, weighted checksum == the oracle's double-sum."""
    import pandas as pd

    from ..plans.base import ensure_session
    from .imagecodec import decode_media, encode_gif

    ensure_session(spark)
    docs = _spread_for_python_kernels(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
    )
    pal = bytes(range(48))

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ws, hs, wsums = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                s = text or ""
                w, h = 4 + doc_id % 5, 3 + doc_id % 4
                n = w * h
                if s:
                    idx = bytes(
                        (ord(s[(i * 7 + doc_id) % len(s)]) % 256) % 16
                        for i in range(n)
                    )
                else:
                    idx = bytes([32 % 16]) * n
                data = encode_gif(idx, w, h, pal)
                dw, dh, dc, rgb = decode_media(data)
                assert (dw, dh, dc) == (w, h, 3)
                ws.append(w)
                hs.append(h)
                wsums.append(
                    sum((i + 1) * p for i, p in enumerate(rgb)) % WSUM_MOD
                )
            out = pdf[["doc_id"]].copy()
            out["width"] = pd.Series(ws, dtype="int32")
            out["height"] = pd.Series(hs, dtype="int32")
            out["wsum_fp"] = pd.Series(wsums, dtype="int64")
            yield out

    return docs.mapInPandas(
        run, schema="doc_id bigint, width int, height int, wsum_fp bigint"
    ).orderBy("doc_id")


MEDIA_GIF_DECODE_ORACLE_SQL = f"""
    WITH dims AS (
      SELECT doc_id, COALESCE(text, '') AS text,
             4 + doc_id % 5 AS width,
             3 + doc_id % 4 AS height,
             length(COALESCE(text, '')) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(COALESCE(list_sum(list_transform(
                  range(0, width * height * 3),
                  -- byte at raster position i: pixel p = i // 3,
                  -- channel k = i % 3, palette value 3*c_p + k
                  i -> (i + 1) * (3 * ((CASE WHEN n_chars = 0 THEN 32
                        ELSE ascii(substr(text,
                             CAST((((i // 3) * 7 + doc_id) % n_chars) + 1
                                  AS INT), 1)) % 256
                        END) % 16) + (i % 3)))), 0) % {WSUM_MOD}
                AS BIGINT) AS wsum_fp
    FROM dims
    ORDER BY doc_id
"""
