"""Bloom-filter skip index for the stats sidecars — the ClickHouse
``bloom_filter`` data-skipping index analogue (reference surface: the
host engine's MergeTree skip indexes; the reference repo itself reads
files, lib.rs:240-366, and delegates pruning to its host).

Min/max sidecar stats prune RANGE predicates but are blind to point
lookups on scattered values: a part holding {'u17', 'u83091'} has
min='u17', max='u83091' and every equality probe lands inside the
range. A per-part bloom filter over the column's distinct values
proves definite ABSENCE for `col = v` / `col IN (...)`, which is the
pruning that matters for high-cardinality lookups (URLs, UUIDs, doc
ids) over hash-scattered layouts at 100 TB.

Wire format (inside ``_<part>.stats.json``): a top-level ``"bloom"``
map ``{column: {"m": bits, "k": hashes, "b64": bitset}}``. Hashing is
double-hashing over blake2b-128 (h1 + i*h2 mod m) on a type-tagged
byte encoding — int and string columns only (float equality pruning
is a footgun; bool/None never index). False positives only ever KEEP
a file — pruning stays conservative by construction.

The writer works on whole arrays: :func:`value_bytes_array` tags a
block's distinct values in Arrow, and :func:`build_bloom` hashes each
distinct entry once (the blake2b digest is the only per-value step)
and sets all ``k`` bit positions of all entries with numpy. The
reader decodes a filter's bitset once (:func:`bloom_prober`) and
probes one value at a time through the same :func:`_positions`, so
the two sides cannot drift apart; the wire format is the one above,
bit for bit.
"""

from __future__ import annotations

import base64
import hashlib
import re
from typing import Callable, Iterable, Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# ~1% false-positive rate at 10 bits/value with k=7 (standard curve)
_BITS_PER_VALUE = 10
_K = 7
# bitset cap: 2 Mbit = 256 KiB (~341 KB base64 in the sidecar). A part
# holding a fully-unique 65k-row block column needs 650 Kbit; real
# parts of a few hundred thousand distinct values stay under the cap
# at the 1% design point, and a saturated (capped) filter only RAISES
# the fp rate — it still never mis-prunes, so we keep building past
# the design density instead of dropping
_MAX_BITS = 1 << 21
# memory/write-cost bound on the per-part distinct-set accumulation;
# beyond this the capped filter is ~25x over design density (fp -> 1,
# prunes nothing) — drop the index, never mis-prune
MAX_DISTINCT = 1_000_000


def value_bytes(v) -> Optional[bytes]:
    """Type-tagged canonical encoding; None for unsupported types
    (callers treat unsupported as 'cannot prove absence')."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return b"i" + str(v).encode()
    if isinstance(v, str):
        return b"s" + v.encode("utf-8")
    return None


def value_bytes_array(values: pa.Array) -> Optional[list]:
    """:func:`value_bytes` of every element of ``values`` (non-null),
    tagged in Arrow; None when the array's type is unsupported."""
    t = values.type
    if pa.types.is_integer(t):
        tag, text = "i", values.cast(pa.string())
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        tag, text = "s", values
    else:
        return None
    tagged = pc.binary_join_element_wise(
        pa.scalar(tag, text.type), text, pa.scalar("", text.type)
    )
    # to_numpy builds the bytes objects in C++ (to_pylist goes through
    # one Arrow scalar per value)
    return tagged.cast(pa.large_binary()).to_numpy(zero_copy_only=False).tolist()


def _digest(data: bytes) -> bytes:
    return hashlib.blake2b(data, digest_size=16).digest()


def _positions(h1, h2, k: int, m) -> Iterator:
    """The ``k`` double-hashing bit positions ``(h1 + i*h2') mod m``,
    ``h2' = h2 | 1`` (odd: full-period stride). Built from ``h1 mod m``
    and ``h2' mod m``, so no intermediate exceeds ``k * m``: exact on
    Python ints (one probe) and on uint64 numpy arrays (every entry of
    a part at once, with ``m`` a ``np.uint64``) alike."""
    a = h1 % m
    b = (h2 | 1) % m
    return ((a + i * b) % m for i in range(k))


def build_bloom(distinct_encoded: Iterable[bytes]) -> Optional[dict]:
    """Bloom dict from the column's DISTINCT type-tagged values
    (already encoded via :func:`value_bytes`); None when empty or
    past the accumulation cap (a filter that dense prunes nothing)."""
    vals = list(distinct_encoded)
    if not vals or len(vals) > MAX_DISTINCT:
        return None
    m = min(_MAX_BITS, max(64, _BITS_PER_VALUE * len(vals)))
    # round up to a byte multiple so the b64 payload is clean
    m = ((m + 7) // 8) * 8
    h = np.frombuffer(b"".join(map(_digest, vals)), dtype="<u8").reshape(-1, 2)
    bits = np.zeros(m, dtype=bool)
    for pos in _positions(h[:, 0], h[:, 1], _K, np.uint64(m)):
        bits[pos] = True
    packed = np.packbits(bits, bitorder="little").tobytes()
    return {"m": m, "k": _K, "b64": base64.b64encode(packed).decode()}


NGRAM_N = 3  # ClickHouse ngrambf_v1's customary gram size


def string_ngrams(s: str, n: int = NGRAM_N) -> set:
    """Encoded codepoint n-grams of ``s`` (empty for short strings).
    Both the writer (over column values) and the reader (over the
    probe needle) use this — a needle gram absent from the part's
    union proves no value CONTAINS the needle."""
    return {value_bytes(s[i : i + n]) for i in range(len(s) - n + 1)}


def bloom_prober(bloom: dict) -> Callable[[object], bool]:
    """:func:`bloom_maybe_contains` for one filter: the bitset is
    decoded once, then each call probes one value — an ``IN`` list, or
    the grams or tokens of a needle, cost one decode, not one per
    value. A malformed entry answers True for every value."""
    try:
        m = int(bloom["m"])
        k = int(bloom["k"])
        bits = base64.b64decode(bloom["b64"])
        if m <= 0 or k <= 0 or len(bits) * 8 < m:
            return lambda v: True
    except (KeyError, TypeError, ValueError):
        return lambda v: True

    def contains(v) -> bool:
        b = value_bytes(v)
        if b is None:
            return True
        d = _digest(b)
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little")
        return all(bits[h >> 3] & (1 << (h & 7)) for h in _positions(h1, h2, k, m))

    return contains


def bloom_maybe_contains(bloom: dict, v) -> bool:
    """False ONLY when the filter proves ``v`` absent. Malformed
    entries and unsupported types answer True (never prune)."""
    return bloom_prober(bloom)(v)


# tokenbf_v1's tokenizer splits on non-alphanumeric characters; this
# variant is "maximal \w+ runs" (unicode letters/digits/underscore) —
# documented difference: ClickHouse is ASCII-alnum-based, \w keeps
# unicode words indexable. Both sides (writer over values, reader over
# needles) share the rule, so pruning stays sound.
_TOKEN_RE = re.compile(r"\w+", re.UNICODE)


def string_tokens(s: str) -> set:
    """Encoded token set of ``s`` — the tokenbf_v1 accumulation unit."""
    return {value_bytes(t) for t in _TOKEN_RE.findall(s)}


def tokenbf_may_match(
    bloom: dict,
    needle: str,
    *,
    anchored_left: bool = False,
    anchored_right: bool = False,
) -> bool:
    """False ONLY when some PROVABLE token of ``needle`` is absent
    from the column's token union (hasToken semantics generalized to
    the pushable string predicates):

    * a token strictly inside the needle (non-word chars on both
      sides) is always a complete token of any containing value;
    * a token touching the needle's left/right edge is complete only
      when that edge is anchored to the value boundary — equality
      anchors both sides, startsWith the left, endsWith the right.

    Needles with no provable token answer True (no pruning)."""
    if not isinstance(needle, str):
        return True
    contains = bloom_prober(bloom)
    for m in _TOKEN_RE.finditer(needle):
        left_complete = m.start() > 0 or anchored_left
        right_complete = m.end() < len(needle) or anchored_right
        if left_complete and right_complete and not contains(m.group(0)):
            return False
    return True


def ngrambf_may_match_substring(bloom: dict, needle: str) -> bool:
    """False ONLY when some n-gram of ``needle`` is provably absent
    from the column's gram union — then no value contains the needle
    (StringContains / LIKE '%needle%' matches zero rows). Needles
    shorter than the gram size answer True (no gram to probe)."""
    if not isinstance(needle, str) or len(needle) < NGRAM_N:
        return True
    contains = bloom_prober(bloom)
    for i in range(len(needle) - NGRAM_N + 1):
        if not contains(needle[i : i + NGRAM_N]):
            return False
    return True
