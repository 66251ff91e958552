"""Pure-Python XXH64 — independent oracle for Spark's xxhash64.

Implements the public XXH64 algorithm (Yann Collet, BSD,
github.com/Cyan4973/xxHash — public spec), plus Spark's column-hash
conventions on top of it:

  - strings hash their UTF-8 bytes,
  - LongType columns (model: python int / numpy int64) take the 8-byte
    fixed-width fast path; IntegerType columns (model: numpy int32 ONLY)
    take the 4-byte path — Spark does NOT promote int columns, and the two
    paths give different hashes for the same value,
  - multi-argument xxhash64(a, b, ...) chains: the running hash seeds the
    next column's hash (seed starts at 42).

Used by tests (and the VALUES-oracle generator) to recompute engine hashes
WITHOUT Spark, so hash-dependent operators (minhash banding, simhash
votes, bloom positions) get end-to-end independent oracles.
tests/test_xxh.py asserts bit-for-bit equality with Spark's xxhash64 over
lengths 0..64 and int/long/multi-arg columns.
"""

from __future__ import annotations

import struct

_M = (1 << 64) - 1
P1 = 11400714785074694791
P2 = 14029467366897019727
P3 = 1609587929392839161
P4 = 9650029242287828579
P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * P2) & _M
    return (_rotl(acc, 31) * P1) & _M


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * P1 + P4) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    h ^= h >> 32
    return h


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of a byte string (unsigned 64-bit result)."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & _M
        v2 = (seed + P2) & _M
        v3 = seed
        v4 = (seed - P1) & _M
        while i + 32 <= n:
            w = struct.unpack_from("<QQQQ", data, i)
            v1, v2 = _round(v1, w[0]), _round(v2, w[1])
            v3, v4 = _round(v3, w[2]), _round(v4, w[3])
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge_round(h, v)
    else:
        h = (seed + P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (w,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, w)
        h = (_rotl(h, 27) * P1 + P4) & _M
        i += 8
    if i + 4 <= n:
        (w,) = struct.unpack_from("<I", data, i)
        h ^= (w * P1) & _M
        h = (_rotl(h, 23) * P2 + P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & _M
        h = (_rotl(h, 11) * P1) & _M
        i += 1
    return _fmix(h)


def _hash_long(value: int, seed: int) -> int:
    """Spark XxHash64.hashLong: the 8-byte fixed-width fast path."""
    value &= _M  # two's complement view
    h = (seed + P5 + 8) & _M
    h ^= _round(0, value)
    h = (_rotl(h, 27) * P1 + P4) & _M
    return _fmix(h)


def _hash_int(value: int, seed: int) -> int:
    """Spark XxHash64.hashInt: the 4-byte fixed-width fast path (int
    columns are NOT promoted to long)."""
    value &= 0xFFFFFFFF
    h = (seed + P5 + 4) & _M
    h ^= (value * P1) & _M
    h = (_rotl(h, 23) * P2 + P3) & _M
    return _fmix(h)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def spark_xxhash64(*cols, seed: int = 42) -> int:
    """Spark's xxhash64(col1, col2, ...) as a SIGNED 64-bit int.

    str -> utf-8 bytes through the general path; python int / numpy int64
    -> LongType 8-byte path; numpy int32 -> IntegerType 4-byte path (Spark
    does NOT promote int columns). The running hash seeds each next column.
    """
    import numpy as np

    h = seed & _M
    for c in cols:
        if isinstance(c, str):
            h = xxh64(c.encode("utf-8"), h)
        elif isinstance(c, bytes):
            h = xxh64(c, h)
        elif isinstance(c, np.int32):
            h = _hash_int(int(c), h)
        elif isinstance(c, (int, np.integer)):
            h = _hash_long(int(c), h)
        else:
            raise TypeError(f"unsupported column type {type(c)}")
    return _to_signed(h)
