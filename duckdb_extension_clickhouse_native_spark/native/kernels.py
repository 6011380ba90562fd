"""The package's compiled kernels: ``kernels.c`` beside this module,
built once per user and machine and loaded by ``ctypes``.

``load()`` returns a ``Kernels`` or None. The first call in a process
builds the library with ``cc`` into a private per-user cache directory
(later processes load the cached library) and checks every entry
against pinned vectors. Without a compiler, a private cache directory,
a build that finishes, or a library that passes the checks, it returns
None for the rest of the process and the callers run their pure-Python
code instead:

* ``compress.cityhash128`` — the compressed-frame checksum;
* ``codec._decode_strings_seekable`` / ``_skip_strings_seekable`` —
  the String column walks.
"""

from __future__ import annotations

import ctypes
import functools
import hashlib
import logging
import os
import stat
import subprocess
import sysconfig
import tempfile
from importlib import resources
from typing import Optional

import numpy as np

_CC = "cc"
_BUILD_TIMEOUT_S = 120
_U64x2 = ctypes.c_uint64 * 2
_SIZE_P = ctypes.POINTER(ctypes.c_size_t)
# cityhash128(bytes((i * 131 + 7) % 251 for i in range(4173))): 32 rounds
# and a 61-byte tail; a library that disagrees is never used
_CHECK_LEN = 4173
_CHECK_HASH = (0x1775CF029A654AC5, 0xA59F9DAC1E9B91FA)
# a String column of 1-, 2- and 3-byte prefixes (lengths 0, 127, 128,
# 16384), then the start of a value the window cuts
_CHECK_LENGTHS = (0, 3, 127, 128, 16384)
_PREFIX_TOO_LONG = -1


def _address(data) -> int:
    """The address of a bytes-like object's first byte. The export
    ends when this returns, so the caller must not resize ``data``
    before the kernel call that uses the address."""
    return np.frombuffer(data, dtype=np.uint8).ctypes.data if len(data) else 0


class Kernels:
    """The loaded library's entries, with Python signatures."""

    def __init__(self, lib: ctypes.CDLL):
        self._hash = lib.cityhash128
        self._hash.argtypes = (ctypes.c_char_p, ctypes.c_size_t, _U64x2)
        self._hash.restype = None
        self._decode = lib.ch_strings_decode
        self._decode.argtypes = (
            ctypes.c_void_p, ctypes.c_size_t, ctypes.c_int64, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_size_t, _SIZE_P,
        )
        self._decode.restype = ctypes.c_int64
        self._skip = lib.ch_strings_skip
        self._skip.argtypes = (
            ctypes.c_void_p, ctypes.c_size_t, ctypes.c_int64, _SIZE_P,
        )
        self._skip.restype = ctypes.c_int64

    def cityhash128(self, s: bytes) -> tuple[int, int]:
        out = _U64x2()
        self._hash(s, len(s), out)
        return out[0], out[1]

    def strings_decode(
        self, data, start: int, end: int, rows: int, offsets: np.ndarray,
        at: int, dst=None,
    ) -> tuple[int, int]:
        """Walk up to ``rows`` String values in ``data[start:end]``:
        ``offsets[at + 1 : at + 1 + n]`` get the running byte totals
        after ``offsets[at]``, and ``dst`` (a writable buffer, or None)
        the payloads back to back. Returns (n, bytes consumed); n stops
        at the first value that does not end inside the window (or fit
        in ``dst``). Raises ValueError on a prefix over
        ``MAX_VARINT_BYTES``."""
        if not 0 <= start <= end <= len(data):
            raise ValueError("window outside the buffer")
        if (
            offsets.dtype != np.int64
            or not offsets.flags.c_contiguous
            or not (0 <= at and 0 <= rows and at + rows < len(offsets))
        ):
            raise ValueError("offsets must be contiguous int64 with room for rows")
        if dst is not None and memoryview(dst).readonly:
            raise ValueError("dst must be writable")
        used = ctypes.c_size_t()
        n = self._decode(
            _address(data) + start, end - start, rows,
            offsets.ctypes.data + at * offsets.itemsize,
            None if dst is None else _address(dst),
            0 if dst is None else len(dst), ctypes.byref(used),
        )
        if n == _PREFIX_TOO_LONG:
            raise ValueError("varint too long")
        return n, used.value

    def strings_skip(self, data, start: int, rows: int) -> tuple[int, int]:
        """``strings_decode`` with no outputs: (values skipped, bytes)."""
        if not 0 <= start <= len(data):
            raise ValueError("window outside the buffer")
        used = ctypes.c_size_t()
        n = self._skip(
            _address(data) + start, len(data) - start, rows, ctypes.byref(used)
        )
        if n == _PREFIX_TOO_LONG:
            raise ValueError("varint too long")
        return n, used.value


def _private_dir(path: str) -> bool:
    """Create ``path`` (mode 0700) if missing; True when it is a real
    directory that the current uid owns, can write and no one else can
    enter — nobody else may swap the library a process loads."""
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.lstat(path)
    except OSError:
        return False
    return (
        stat.S_ISDIR(st.st_mode)
        and st.st_uid == os.getuid()
        and stat.S_IMODE(st.st_mode) & 0o077 == 0
        and os.access(path, os.W_OK)
    )


def _build_dir() -> Optional[str]:
    """``$XDG_CACHE_HOME`` (or ``~/.cache``)/<package>, else a per-user
    directory under the temp dir; None when neither is private."""
    pkg = __package__.split(".")[0]
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    for d in (
        os.path.join(base, pkg),
        os.path.join(tempfile.gettempdir(), f"{pkg}-{os.getuid()}"),
    ):
        if _private_dir(d):
            return d
    return None


def _strings_check_column() -> tuple[bytes, bytes]:
    """(wire, payload) of the String check column."""
    col, payload = bytearray(), bytearray()
    for n in _CHECK_LENGTHS:
        v = n
        while v >= 0x80:
            col.append((v & 0x7F) | 0x80)
            v >>= 7
        col.append(v)
        value = bytes((i * 7 + n) % 251 for i in range(n))
        col += value
        payload += value
    return bytes(col) + b"\x05ab", bytes(payload)


def _checked(path: str) -> Optional[Kernels]:
    """The library's entries when each one computes its check vector
    right, else None."""
    k = Kernels(ctypes.CDLL(path))
    data = bytes((i * 131 + 7) % 251 for i in range(_CHECK_LEN))
    if k.cityhash128(data) != _CHECK_HASH:
        return None
    col, payload = _strings_check_column()
    rows = len(_CHECK_LENGTHS)
    want = np.cumsum((0,) + _CHECK_LENGTHS)
    offsets = np.zeros(rows + 2, dtype=np.int64)
    dst = bytearray(len(payload))
    if k.strings_decode(col, 0, len(col), rows + 1, offsets, 0) != (rows, len(col) - 3):
        return None
    if k.strings_decode(col, 0, len(col), rows, offsets, 0, dst) != (rows, len(col) - 3):
        return None
    if not np.array_equal(offsets[: rows + 1], want) or bytes(dst) != payload:
        return None
    if k.strings_skip(col, 0, rows + 1) != (rows, len(col) - 3):
        return None
    try:
        k.strings_skip(b"\x80" * 11, 0, 1)
    except ValueError:
        return k
    return None


@functools.lru_cache(maxsize=None)
def load() -> Optional[Kernels]:
    """The compiled kernels, or None: the pure-Python code then stays
    in use for the rest of the process (no compiler, no private cache
    directory, a failed or timed-out build, a failed check).

    The library's name hashes the source, the compile command and the
    platform, so a changed source or toolchain target builds afresh. A
    build writes a unique temp name, passes the checks there and is then
    renamed into place, so concurrent workers never load a half-written
    file; a cached file that fails to load or check is rebuilt."""
    try:
        src = resources.files(__package__).joinpath("kernels.c").read_bytes()
        cmd = [_CC, "-O2", "-shared", "-fPIC", "-x", "c", "-", "-o"]
        stamp = [src, " ".join(cmd).encode(), sysconfig.get_platform().encode()]
        key = hashlib.sha256(b"\0".join(stamp)).hexdigest()[:32]
        d = _build_dir()
        if d is None:
            return None
        path = os.path.join(d, f"kernels-{key}.so")
        try:
            k = _checked(path)
        except (OSError, AttributeError):
            k = None  # not built yet, unloadable, or a symbol missing
        if k is not None:
            return k
        fd, tmp = tempfile.mkstemp(prefix=".build-", suffix=".so", dir=d)
        os.close(fd)
        try:
            subprocess.run(
                [*cmd, tmp], input=src, capture_output=True, check=True,
                timeout=_BUILD_TIMEOUT_S,
            )
            k = _checked(tmp)
            if k is not None:
                os.replace(tmp, path)
            return k
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    except (OSError, AttributeError, subprocess.SubprocessError):
        logging.getLogger(__name__).info(
            "compiled kernels unavailable; using pure Python", exc_info=True
        )
        return None
