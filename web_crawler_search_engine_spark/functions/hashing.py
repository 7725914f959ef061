"""Hashing primitives: reference rolling hash (vectorized) + XXH64.

rolling_hash: the indexer's exact-duplicate content hash
(inverted_indexer/indexer/worker.py:131-142): h = (h*31 + ord(c))
mod 2^32 over the joined text. numpy uint32 arithmetic wraps mod 2^32
natively, so the Horner evaluation vectorizes: h = sum(ord(c_i) *
31^(n-1-i)) with wrap-around cumprod powers. Bit-for-bit equal to the
char loop (tested incl. non-ASCII, where ord != utf8 bytes).

xxh64: pure-Python XXH64 (public algorithm) used by tests to pin down
Spark's xxhash64 semantics (seed 42 over UTF-8 bytes / little-endian
longs) so the oracle can reason about frontier keys without a JVM.
"""

from __future__ import annotations

import numpy as np

_M = np.uint64(0xFFFFFFFFFFFFFFFF)
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def rolling_hash_str(text: str) -> int:
    """Vectorized h=(h*31+ord(c)) mod 2^32 via uint32 wraparound."""
    if not text:
        return 0
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    n = len(codes)
    # powers[i] = 31^(n-1-i) mod 2^32
    powers = np.ones(n, dtype=np.uint32)
    if n > 1:
        p = np.full(n - 1, 31, dtype=np.uint32)
        powers[: n - 1] = np.cumprod(p[::-1], dtype=np.uint32)[::-1]
    with np.errstate(over="ignore"):
        return int((codes * powers).sum(dtype=np.uint32))


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & 0xFFFFFFFFFFFFFFFF


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & 0xFFFFFFFFFFFFFFFF
    return (_rotl(acc, 31) * _P1) & 0xFFFFFFFFFFFFFFFF


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 (public spec). Spark's xxhash64 uses seed 42 and hashes
    strings as UTF-8 bytes, longs as 8-byte little-endian. Returns a
    SIGNED 64-bit int, matching Spark's LongType output."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & 0xFFFFFFFFFFFFFFFF
        v2 = (seed + _P2) & 0xFFFFFFFFFFFFFFFF
        v3 = seed & 0xFFFFFFFFFFFFFFFF
        v4 = (seed - _P1) & 0xFFFFFFFFFFFFFFFF
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & 0xFFFFFFFFFFFFFFFF
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & 0xFFFFFFFFFFFFFFFF
    else:
        h = (seed + _P5) & 0xFFFFFFFFFFFFFFFF
    h = (h + n) & 0xFFFFFFFFFFFFFFFF
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & 0xFFFFFFFFFFFFFFFF
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & 0xFFFFFFFFFFFFFFFF
        h = (_rotl(h, 23) * _P2 + _P3) & 0xFFFFFFFFFFFFFFFF
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & 0xFFFFFFFFFFFFFFFF
        h = (_rotl(h, 11) * _P1) & 0xFFFFFFFFFFFFFFFF
        i += 1
    h ^= h >> 33
    h = (h * _P2) & 0xFFFFFFFFFFFFFFFF
    h ^= h >> 29
    h = (h * _P3) & 0xFFFFFFFFFFFFFFFF
    h ^= h >> 32
    return h - 0x10000000000000000 if h >= 0x8000000000000000 else h


def xxh64_str(s: str, seed: int = 42) -> int:
    return xxh64(s.encode("utf-8"), seed)
