"""Portable 64-bit hashing: XXH64 (bit-exact with Spark's ``xxhash64``)
and splitmix64 PRNG streams.

The hot path hashes JVM-side via ``F.xxhash64`` (whole-stage codegen);
these Python implementations exist so the sequential reference simulator
(reference_sim.py) and the deterministic fetch synthesis can reproduce
the exact same 64-bit values outside the JVM. XXH64 is the public
algorithm (github.com/Cyan4973/xxHash spec); Spark's string hashing is
XXH64(utf8 bytes, seed=42).

splitmix64 (Steele et al., "Fast Splittable Pseudorandom Number
Generators") is used to derive independent deterministic streams from a
url_hash — every synthetic choice in this engine is keyed by
(url_hash, stream, index), never by partition id or wall clock, so
results are stable under any repartitioning.
"""

from __future__ import annotations

import numpy as np

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_XXHASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = SPARK_XXHASH_SEED) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_str(s: str, seed: int = SPARK_XXHASH_SEED) -> int:
    return xxh64(s.encode("utf-8"), seed)


def to_signed64(u: int) -> int:
    """Unsigned → Spark/Java signed LongType representation."""
    return u - (1 << 64) if u >= (1 << 63) else u


def to_unsigned64(s: int) -> int:
    return s & _M


# ---------------------------------------------------------------- splitmix64

_SM_GAMMA = 0x9E3779B97F4A7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB


def splitmix64(z: int) -> int:
    """One splitmix64 finalization step (scalar)."""
    z = (z + _SM_GAMMA) & _M
    z = ((z ^ (z >> 30)) * _SM_M1) & _M
    z = ((z ^ (z >> 27)) * _SM_M2) & _M
    return z ^ (z >> 31)


def stream64(key: int, stream: int, index: int = 0) -> int:
    """Deterministic 64-bit value for (key, stream, index)."""
    return splitmix64(splitmix64(to_unsigned64(key) ^ (stream * _SM_M1 & _M)) ^ (index * _SM_M2 & _M))


# Vectorized numpy variants (the array kernels of docspec).

def np_splitmix64(z: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (z.astype(np.uint64) + np.uint64(_SM_GAMMA))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(_SM_M1)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(_SM_M2)
        return z ^ (z >> np.uint64(31))


def np_stream64(keys: np.ndarray, stream: int, index: int | np.ndarray = 0) -> np.ndarray:
    """``stream64`` over an array of keys; ``index`` is one int or an
    int array aligned with ``keys``."""
    k = keys.astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        a = np_splitmix64(k ^ np.uint64((stream * _SM_M1) & _M))
        if isinstance(index, np.ndarray):
            mix = index.astype(np.uint64) * np.uint64(_SM_M2)
        else:
            mix = np.uint64((index * _SM_M2) & _M)
        return np_splitmix64(a ^ mix)
