"""Spark's ``xxhash64`` of one string, computed on the driver.

Spark hashes a string as XXH64 over its UTF-8 bytes with seed 42
(``XxHash64`` in catalyst, the standard XXH64 algorithm) and returns
the 64-bit result as a signed long.  ``SnapshotTable.lookup`` needs
only the bucket of one key, so it computes that here in pure Python
instead of submitting a Spark job (the ``xxhash`` package is not a
dependency).  Pinned against Spark in ``tests/test_xxhash64.py``.
"""

from __future__ import annotations

import struct

SPARK_SEED = 42

_M = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """Unsigned 64-bit XXH64 digest of ``data``."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M,
            (seed + _P2) & _M,
            seed & _M,
            (seed - _P1) & _M,
        ]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, x) for a, x in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((lane * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def spark_xxhash64(value: "str | None") -> int:
    """``F.xxhash64(value)`` for a string column value, as a signed long
    (a NULL hashes to the seed, as in Spark)."""
    if value is None:
        return SPARK_SEED
    h = xxh64(value.encode("utf-8"))
    return h - (1 << 64) if h >= 1 << 63 else h
