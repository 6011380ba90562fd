"""ClickHouse compressed-frame codec (LZ4 / ZSTD / None) + CityHash128.

The reference leaves compression explicitly unimplemented
(/root/reference/README.md:133 "Compression support" unchecked;
SURVEY.md §4.2 calls it a required addition for real-world files).
ClickHouse tooling emits Native data wrapped in compressed frames
whenever you ask for it (``clickhouse-local ... FORMAT Native`` into a
``.lz4`` pipe, or the native TCP protocol with compression on), so a
complete engine must speak the frame format::

    checksum:          16 bytes — CityHash128 (little-endian lo, hi) of
                       everything from the method byte to the end of the
                       compressed payload
    method:            1 byte   — 0x82 LZ4, 0x90 ZSTD, 0x02 None
    compressed_size:   4 bytes LE — INCLUDING these 9 header bytes
    decompressed_size: 4 bytes LE
    payload:           compressed_size - 9 bytes

Frames are independent; the decompressed concatenation is the plain
Native block stream. LZ4 payloads use the raw block format (pyarrow's
``lz4_raw``), ZSTD the standard zstd frame (pyarrow ``zstd``).

CityHash128 is the *1.0.2* algorithm (the version ClickHouse pins,
because later CityHash releases changed output). ``cityhash128`` runs
the compiled kernel in ``kernels.c`` (built and checked by
``kernels.load``). Where it cannot be built, the clean-room
pure-Python implementation (``_cityhash128_py``, ~30-60 ms/MiB on a
4-core Xeon VM) runs instead for the rest of the process.
Native-TCP frames are always verified; on the file scan path
verification stays optional (``verify_checksum``, default off:
structural validation only).

Scale note (100 TB): compressed files cannot be split at arbitrary
byte offsets (frame boundaries are not indexed in the file), so one
compressed file = one Spark partition; parallelism comes from many
files, which is how ClickHouse itself shards Native exports.
"""

from __future__ import annotations

import io
import struct
from typing import BinaryIO, Optional

import pyarrow as pa

from . import kernels

METHOD_NONE = 0x02
METHOD_LZ4 = 0x82
METHOD_ZSTD = 0x90

_METHOD_NAMES = {"none": METHOD_NONE, "lz4": METHOD_LZ4, "zstd": METHOD_ZSTD}
HEADER_SIZE = 9  # method + compressed_size + decompressed_size
CHECKSUM_SIZE = 16
DEFAULT_FRAME_BYTES = 1 << 20  # ClickHouse max_compress_block_size default

_MASK64 = (1 << 64) - 1
_K0 = 0xC3A5C85C97CB3127
_K1 = 0xB492B66FBE98F273
_K2 = 0x9AE16A3B2F90404F
_K3 = 0xC949D7C7509E6557
_KMUL = 0x9DDFEA08EB382D69


def _rot(v: int, shift: int) -> int:
    if shift == 0:
        return v
    return ((v >> shift) | (v << (64 - shift))) & _MASK64


def _shift_mix(v: int) -> int:
    return v ^ (v >> 47)


def _hash128_to_64(lo: int, hi: int) -> int:
    a = ((lo ^ hi) * _KMUL) & _MASK64
    a ^= a >> 47
    b = ((hi ^ a) * _KMUL) & _MASK64
    b ^= b >> 47
    return (b * _KMUL) & _MASK64


def _hash_len_16(u: int, v: int) -> int:
    return _hash128_to_64(u, v)


def _f64(s: bytes, i: int) -> int:
    return int.from_bytes(s[i : i + 8], "little")


def _f32(s: bytes, i: int) -> int:
    return int.from_bytes(s[i : i + 4], "little")


def _hash_len_0_to_16(s: bytes, pos: int, n: int) -> int:
    if n > 8:
        a = _f64(s, pos)
        b = _f64(s, pos + n - 8)
        return _hash_len_16(a, _rot((b + n) & _MASK64, n)) ^ b
    if n >= 4:
        a = _f32(s, pos)
        return _hash_len_16((n + (a << 3)) & _MASK64, _f32(s, pos + n - 4))
    if n > 0:
        a = s[pos]
        b = s[pos + (n >> 1)]
        c = s[pos + n - 1]
        y = (a + (b << 8)) & 0xFFFFFFFF
        z = (n + (c << 2)) & 0xFFFFFFFF
        return (_shift_mix((y * _K2 ^ z * _K3) & _MASK64) * _K2) & _MASK64
    return _K2


def _city_murmur(s: bytes, pos: int, n: int, seed_lo: int, seed_hi: int) -> tuple[int, int]:
    a, b = seed_lo, seed_hi
    c = d = 0
    l = n - 16
    if l <= 0:
        a = (_shift_mix((a * _K1) & _MASK64) * _K1) & _MASK64
        c = (b * _K1 + _hash_len_0_to_16(s, pos, n)) & _MASK64
        d = _shift_mix((a + (_f64(s, pos) if n >= 8 else c)) & _MASK64)
    else:
        c = _hash_len_16((_f64(s, pos + n - 8) + _K1) & _MASK64, a)
        d = _hash_len_16((b + n) & _MASK64, (c + _f64(s, pos + n - 16)) & _MASK64)
        a = (a + d) & _MASK64
        p = pos
        while l > 0:
            a ^= (_shift_mix((_f64(s, p) * _K1) & _MASK64) * _K1) & _MASK64
            a = (a * _K1) & _MASK64
            b ^= a
            c ^= (_shift_mix((_f64(s, p + 8) * _K1) & _MASK64) * _K1) & _MASK64
            c = (c * _K1) & _MASK64
            d ^= c
            p += 16
            l -= 16
    a = _hash_len_16(a, c)
    b = _hash_len_16(d, b)
    return a ^ b, _hash_len_16(b, a)


def _weak32(s: bytes, p: int, a: int, b: int) -> tuple[int, int]:
    w, x, y, z = _f64(s, p), _f64(s, p + 8), _f64(s, p + 16), _f64(s, p + 24)
    a = (a + w) & _MASK64
    b = _rot((b + a + z) & _MASK64, 21)
    c = a
    a = (a + x + y) & _MASK64
    b = (b + _rot(a, 44)) & _MASK64
    return (a + z) & _MASK64, (b + c) & _MASK64


def _city_hash_128_with_seed(
    s: bytes, pos: int, n: int, seed_lo: int, seed_hi: int
) -> tuple[int, int]:
    if n < 128:
        return _city_murmur(s, pos, n, seed_lo, seed_hi)
    x, y = seed_lo, seed_hi
    z = (n * _K1) & _MASK64
    v0 = (_rot(y ^ _K1, 49) * _K1 + _f64(s, pos)) & _MASK64
    v1 = (_rot(v0, 42) * _K1 + _f64(s, pos + 8)) & _MASK64
    w0 = (_rot((y + z) & _MASK64, 35) * _K1 + x) & _MASK64
    w1 = (_rot((x + _f64(s, pos + 88)) & _MASK64, 53) * _K1) & _MASK64
    # the main loop eats 128 bytes per round, at least once; its words
    # are unpacked in one call and _rot/_weak32 are inlined (per-call
    # overhead was most of the hash's time)
    rounds = n >> 7
    words = struct.unpack_from(f"<{rounds * 16}Q", s, pos)
    M, K1 = _MASK64, _K1
    for i in range(0, rounds * 16, 8):
        q0, q1, q2, q3, q4, q5, q6, q7 = words[i : i + 8]
        t = (x + y + v0 + q2) & M
        x = (((t >> 37) | (t << 27)) * K1) & M
        t = (y + v1 + q6) & M
        y = (((t >> 42) | (t << 22)) * K1) & M
        x ^= w1
        y ^= v0
        t = z ^ w0
        z = ((t >> 33) | (t << 31)) & M
        # v0, v1 = _weak32(words q0..q3, v1 * K1, x + w0)
        a = (v1 * K1 + q0) & M
        t = (x + w0 + a + q3) & M
        b = ((t >> 21) | (t << 43)) & M
        c = a
        a = (a + q1 + q2) & M
        v0 = (a + q3) & M
        v1 = (b + ((a >> 44) | (a << 20)) + c) & M
        # w0, w1 = _weak32(words q4..q7, z + w1, y)
        a = (z + w1 + q4) & M
        t = (y + a + q7) & M
        b = ((t >> 21) | (t << 43)) & M
        c = a
        a = (a + q5 + q6) & M
        w0 = (a + q7) & M
        w1 = (b + ((a >> 44) | (a << 20)) + c) & M
        z, x = x, z
    p = pos + (rounds << 7)
    l = n - (rounds << 7)
    y = (y + _rot(w0, 37) * _K0 + z) & _MASK64
    x = (x + _rot((v0 + z) & _MASK64, 49) * _K0) & _MASK64
    tail_done = 0
    while tail_done < l:
        tail_done += 32
        y = (_rot((y - x) & _MASK64, 42) * _K0 + v1) & _MASK64
        w0 = (w0 + _f64(s, p + l - tail_done + 16)) & _MASK64
        x = (_rot(x, 49) * _K0 + w0) & _MASK64
        w0 = (w0 + v0) & _MASK64
        v0, v1 = _weak32(s, p + l - tail_done, v0, v1)
    x = _hash_len_16(x, v0)
    y = _hash_len_16(y, w0)
    return (
        (_hash_len_16((x + v1) & _MASK64, w1) + y) & _MASK64,
        _hash_len_16((x + w1) & _MASK64, (y + v1) & _MASK64),
    )


def _cityhash128_py(s: bytes) -> tuple[int, int]:
    """CityHash128 v1.0.2 (lo, hi) in pure Python: the fallback when
    the compiled kernel is unavailable, and the reference tests
    compare it against."""
    n = len(s)
    if n >= 16:
        return _city_hash_128_with_seed(
            s, 16, n - 16, _f64(s, 0) ^ _K3, _f64(s, 8)
        )
    if n >= 8:
        return _city_hash_128_with_seed(
            b"", 0, 0, (_f64(s, 0) ^ ((n * _K0) & _MASK64)) & _MASK64,
            (_f64(s, n - 8) ^ _K1) & _MASK64,
        )
    return _city_hash_128_with_seed(s, 0, n, _K0, _K1)


def cityhash128(s: bytes) -> tuple[int, int]:
    """CityHash128 v1.0.2 (lo, hi) — the variant ClickHouse pins for
    its frame checksums. Runs the compiled kernel when it built,
    ``_cityhash128_py`` otherwise."""
    k = kernels.load()
    if k is None:
        return _cityhash128_py(s)
    return k.cityhash128(s)


# ---------------------------------------------------------------------------
# frame streams
# ---------------------------------------------------------------------------


class ChecksumError(ValueError):
    pass


def _codec_for(method: int) -> Optional[pa.Codec]:
    if method == METHOD_LZ4:
        return pa.Codec("lz4_raw")
    if method == METHOD_ZSTD:
        return pa.Codec("zstd")
    if method == METHOD_NONE:
        return None
    raise ValueError(f"unknown compression method byte 0x{method:02x}")


class PushbackReader(io.RawIOBase):
    """Sequential reader over a buffered byte stream (one with
    ``read1``, e.g. ``socket.makefile("rb")``) that adds ``pushback``.
    The codec's chunk-scanning string paths need that pair on
    non-seekable sources; a socket stream without it falls back to a
    per-row ``read_varuint`` loop. Bytes read ahead or pushed back
    live in this object, so every read of the stream goes through it
    for as long as it may hold some."""

    _CHUNK = 64 << 10

    def __init__(self, raw: BinaryIO):
        self._raw = raw
        self._buf = b""
        self._off = 0

    def readable(self) -> bool:
        return True

    def _fill(self, hint: int) -> bool:
        """Replace the (consumed) buffer with the stream's next bytes,
        waiting only for the first one; False at end of stream."""
        self._buf = self._raw.read1(max(hint, self._CHUNK))
        self._off = 0
        return bool(self._buf)

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            chunks = [self._buf[self._off :]]
            self._buf, self._off = b"", 0
            while self._fill(-1):
                chunks.append(self._buf)
                self._buf = b""
            return b"".join(chunks)
        # fast path: the request is served whole from the current buffer.
        # The codec issues hundreds of thousands of 1-8 byte reads
        # (varints, fixed-width scalars) per block — one slice, no
        # bytearray round-trip. Profiled 1.44s -> ~0.9s per 2.5 MB scan.
        off = self._off
        if n <= len(self._buf) - off:
            self._off = off + n
            return self._buf[off : off + n]
        out = bytearray()
        while n > 0:
            avail = len(self._buf) - self._off
            if avail == 0:
                if not self._fill(n):
                    break
                continue
            take = min(avail, n)
            out += self._buf[self._off : self._off + take]
            self._off += take
            n -= take
        return bytes(out)

    def read1(self, n: int = -1) -> bytes:
        """Return bytes from the current buffer (a frame, for
        CompressedReader), loading at most one more when empty — never
        blocks waiting to accumulate
        ``n`` bytes. The codec's chunk-scanning string paths use this on
        interactive sources (native-TCP sockets), where a greedy
        ``read(4 MiB)`` would hang waiting for frames the server only
        sends after the next client request."""
        if self._off >= len(self._buf):
            if not self._fill(-1 if n is None else n):
                return b""
        off = self._off
        avail = len(self._buf) - off
        take = avail if (n is None or n < 0) else min(n, avail)
        self._off = off + take
        return self._buf[off : off + take]

    def pushback(self, data: bytes) -> None:
        """Re-serve ``data`` on the next read. The stream is not
        random-access, so the codec's chunk-scanning string fast paths
        (which over-read and then return the surplus) use this instead
        of a backward seek."""
        if not data:
            return
        self._buf = data + self._buf[self._off :]
        self._off = 0


class CompressedReader(PushbackReader):
    """File-like view of the decompressed byte stream behind ClickHouse
    compressed frames. Sequential-only (works on non-seekable inputs,
    e.g. HTTP bodies)."""

    def __init__(self, raw: BinaryIO, *, verify_checksum: bool = False):
        super().__init__(raw)
        self._verify = verify_checksum

    def _fill(self, hint: int) -> bool:
        """Load the next frame; False at end of stream."""
        checksum = self._raw.read(CHECKSUM_SIZE)
        if not checksum:
            return False
        if len(checksum) < CHECKSUM_SIZE:
            raise EOFError("truncated frame checksum")
        header = self._raw.read(HEADER_SIZE)
        if len(header) < HEADER_SIZE:
            raise EOFError("truncated frame header")
        method = header[0]
        comp_size, decomp_size = struct.unpack("<II", header[1:9])
        if comp_size < HEADER_SIZE:
            raise ValueError(f"bad compressed_size {comp_size}")
        payload = self._raw.read(comp_size - HEADER_SIZE)
        if len(payload) < comp_size - HEADER_SIZE:
            raise EOFError("truncated frame payload")
        if self._verify:
            lo, hi = cityhash128(header + payload)
            want_lo, want_hi = struct.unpack("<QQ", checksum)
            if (lo, hi) != (want_lo, want_hi):
                raise ChecksumError(
                    f"frame checksum mismatch: computed ({lo:#x},{hi:#x}), "
                    f"stored ({want_lo:#x},{want_hi:#x})"
                )
        codec = _codec_for(method)
        if codec is None:
            self._buf = payload
        else:
            self._buf = codec.decompress(
                payload, decompressed_size=decomp_size, asbytes=True
            )
        if len(self._buf) != decomp_size:
            raise ValueError(
                f"decompressed {len(self._buf)} bytes, header said {decomp_size}"
            )
        self._off = 0
        return True


class CompressedWriter(io.RawIOBase):
    """Buffers writes and emits ClickHouse compressed frames of at most
    ``frame_bytes`` decompressed bytes. ``close()`` flushes; the
    underlying stream is left open for the caller."""

    def __init__(
        self,
        raw: BinaryIO,
        *,
        method: str = "lz4",
        frame_bytes: int = DEFAULT_FRAME_BYTES,
    ):
        if method not in _METHOD_NAMES:
            raise ValueError(f"method must be one of {sorted(_METHOD_NAMES)}")
        self._raw = raw
        self._method = _METHOD_NAMES[method]
        self._frame_bytes = frame_bytes
        self._pending = bytearray()

    def writable(self) -> bool:
        return True

    def write(self, data) -> int:
        self._pending += data
        while len(self._pending) >= self._frame_bytes:
            self._emit(bytes(self._pending[: self._frame_bytes]))
            del self._pending[: self._frame_bytes]
        return len(data)

    def _emit(self, chunk: bytes) -> None:
        codec = _codec_for(self._method)
        payload = chunk if codec is None else codec.compress(chunk, asbytes=True)
        header = struct.pack(
            "<BII", self._method, HEADER_SIZE + len(payload), len(chunk)
        )
        lo, hi = cityhash128(header + payload)
        self._raw.write(struct.pack("<QQ", lo, hi))
        self._raw.write(header)
        self._raw.write(payload)

    def flush(self) -> None:
        if self._pending:
            self._emit(bytes(self._pending))
            self._pending.clear()

    def close(self) -> None:
        if not self.closed:
            self.flush()
        super().close()


_SNIFF_BYTES = 1 << 10  # holds a plain stream's first column header


def _head_is_compressed(head: bytes) -> bool:
    """The ``compression=auto`` test on a stream's first bytes. A head
    that parses as a plain block header whose first type ``parse_type``
    accepts is plain, whatever its byte 16 holds (a column value can put
    a method byte there). Otherwise the stream is compressed when byte
    16 is a method byte (0x82/0x90/0x02) and the frame's
    compressed_size is at least its 9 header bytes."""
    from .codec import read_block

    header: list = []
    try:
        read_block(io.BytesIO(head), columns=set(), header=header)
    except (EOFError, ValueError, OverflowError):
        pass  # the walk only has to get past the first column header
    if header:
        return False
    frame = CHECKSUM_SIZE + HEADER_SIZE
    if len(head) < frame or head[CHECKSUM_SIZE] not in (
        METHOD_LZ4,
        METHOD_ZSTD,
        METHOD_NONE,
    ):
        return False
    return struct.unpack("<I", head[17:21])[0] >= HEADER_SIZE


def maybe_compressed_reader(
    buf: BinaryIO, *, compression: str = "auto", verify_checksum: bool = False
) -> BinaryIO:
    """Wrap ``buf`` in a CompressedReader when the stream carries
    compressed frames. ``auto`` peeks the head and applies
    ``_head_is_compressed``; explicit ``compression='none'|'lz4'|'zstd'``
    skips the sniff.
    """
    if compression == "none":
        return buf
    if compression in ("lz4", "zstd", "compressed"):
        return CompressedReader(buf, verify_checksum=verify_checksum)
    seekable = False
    try:
        seekable = buf.seekable()
    except AttributeError:
        pass
    head = buf.read(_SNIFF_BYTES)
    compressed = _head_is_compressed(head)
    if seekable:
        # hand back the original seekable stream for plain files — the
        # codec's vectorized string decode and byte-seek column skipping
        # only engage on seekable sources
        buf.seek(-len(head), io.SEEK_CUR)
        if compressed:
            return CompressedReader(buf, verify_checksum=verify_checksum)
        return buf
    rest: BinaryIO = _Concat(head, buf)
    if compressed:
        return CompressedReader(rest, verify_checksum=verify_checksum)
    return rest


def is_compressed_file(path: str) -> bool:
    """Cheap head-probe: does this file carry compressed frames?"""
    from ..filesystem import open_input

    with open_input(path, buffer_size=_SNIFF_BYTES) as f:
        return _head_is_compressed(f.read(_SNIFF_BYTES))


class _Concat(io.RawIOBase):
    """Sequential reader over (prefix bytes, then an underlying stream) —
    puts peeked bytes back without requiring seekability."""

    def __init__(self, head: bytes, tail: BinaryIO):
        self._head = head
        self._off = 0
        self._tail = tail

    def readable(self) -> bool:
        return True

    def read(self, n: int = -1) -> bytes:
        if self._off < len(self._head):
            if n is None or n < 0:
                out = self._head[self._off :] + (self._tail.read() or b"")
                self._off = len(self._head)
                return out
            take = self._head[self._off : self._off + n]
            self._off += len(take)
            if len(take) < n:
                take += self._tail.read(n - len(take)) or b""
            return take
        return self._tail.read(n)
