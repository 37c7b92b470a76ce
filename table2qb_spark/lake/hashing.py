"""Driver-side twin of Spark's ``xxhash64`` and of the lake's bucket transform.

The bucket transform (``lake/table.py::key_bucket_expr``) and the bloom
build (``lake/bloom.py``) hash with Spark's ``xxhash64``: XXH64 with seed
42, chained left to right over the argument columns (each argument's hash
seeds the next), returned as a signed 64-bit long. A string hashes its
UTF-8 bytes; ``int``/``smallint``/``tinyint`` hash 4 little-endian bytes and
``bigint`` hashes 8. Both are part of the on-disk layout, so a point read
can compute a key's bucket or a value's bloom positions here, in plain
Python, instead of running a one-row Spark job per call.
``tests/test_hashing.py`` pins this twin to Spark bit for bit.

Spark's ``hash`` (Murmur3 x86_32, seed 42) places rows on shuffle
partitions: ``repartition(p, col)`` sends a row to ``pmod(hash(col), p)``.
``murmur3_int`` twins it for one int, so ``partition_salts`` can pick, for
each partition, an int that lands there (``table.place_buckets``).
"""

from __future__ import annotations

import datetime
import functools
import struct
from collections.abc import Sequence
from typing import Any

SEED = 42  # Spark's xxhash64 default seed

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

# Spark's integral type names (with aliases) -> width in bits
INTEGRAL_BITS = {
    "tinyint": 8, "byte": 8,
    "smallint": 16, "short": 16,
    "int": 32, "integer": 32,
    "bigint": 64, "long": 64,
}
# key types ``key_bucket`` can render (with the aliases above)
KEY_TYPES = ("string", "tinyint", "smallint", "int", "bigint", "boolean", "date")


_M32 = (1 << 32) - 1


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def murmur3_int(v: int, seed: int = SEED) -> int:
    """Spark's ``Murmur3_x86_32.hashInt``: ``hash(v)`` of an int column, as
    the signed int Spark returns."""
    k = _rotl32((v & _M32) * 0xCC9E2D51 & _M32, 15) * 0x1B873593 & _M32
    h = (_rotl32((seed & _M32) ^ k, 13) * 5 + 0xE6546B64) & _M32
    h ^= 4  # input length in bytes
    h ^= h >> 16
    h = h * 0x85EBCA6B & _M32
    h ^= h >> 13
    h = h * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@functools.lru_cache(maxsize=None)
def partition_salts(n_partitions: int) -> tuple[int, ...]:
    """The smallest non-negative int that ``repartition(n_partitions, .)``
    sends to partition ``p``, for each ``p`` in order."""
    salts: list[int | None] = [None] * n_partitions
    left, s = n_partitions, 0
    while left:
        p = murmur3_int(s) % n_partitions
        if salts[p] is None:
            salts[p] = s
            left -= 1
        s += 1
    return tuple(salts)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def _signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


def xxh64(data: bytes, seed: int = SEED) -> int:
    """XXH64 of ``data`` as Spark returns it (a signed long). ``seed`` may
    be negative: a chained hash passes the previous signed result."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (lane * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M), 11) * _P1 & _M
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    h ^= h >> 32
    return _signed(h)


def hash_int(v: int, seed: int = SEED) -> int:
    """Spark's ``XXH64.hashInt`` (int, smallint and tinyint values)."""
    return xxh64(struct.pack("<i", v), seed)


def hash_long(v: int, seed: int = SEED) -> int:
    """Spark's ``XXH64.hashLong`` (bigint values)."""
    return xxh64(struct.pack("<q", v), seed)


def hash_value(value: Any, col_type: str, seed: int = SEED) -> int | None:
    """``xxhash64`` of one ``value`` of ``col_type`` (string or integral),
    as Spark hashes that value stored in a column of that type, or None for
    a null or a value Spark would refuse: an integral column takes exactly
    ``int`` within the type's range. A string column takes ``str``, and
    ``int`` / ``bool`` as the JVM stores them (``"42"``, ``"true"``); any
    other value gives None, which never prunes."""
    ty = col_type.lower()
    if ty == "string":
        if type(value) is bool:
            value = "true" if value else "false"
        elif type(value) is int:
            value = str(value)
        elif type(value) is not str:
            return None
        try:
            return xxh64(value.encode("utf-8"), seed)
        except UnicodeEncodeError:
            return None
    bits = INTEGRAL_BITS.get(ty)
    if bits is None or type(value) is not int:
        return None
    if not -(1 << (bits - 1)) <= value < (1 << (bits - 1)):
        return None
    return hash_long(value, seed) if bits == 64 else hash_int(value, seed)


def _key_string(value: Any, col_type: str) -> str:
    """``value`` rendered as Spark's ``cast(<col_type> as string)`` would."""
    if value is None:
        return "\x00"  # key_bucket_expr's null marker
    ty = col_type.lower()
    if ty == "string":
        want = str
    elif ty in INTEGRAL_BITS:
        want = int
    elif ty == "boolean":
        want = bool
    elif ty == "date":
        want = datetime.date
    else:
        raise ValueError(
            f"cannot route a {col_type} key to its bucket; supported key "
            f"types: {', '.join(KEY_TYPES)}"
        )
    if type(value) is not want:
        raise ValueError(
            f"a {col_type} key needs a {want.__name__} value, got "
            f"{type(value).__name__} {value!r}"
        )
    if want is bool:
        return "true" if value else "false"
    if want is datetime.date:
        return value.isoformat()
    return value if want is str else str(value)


def key_bucket(
    key_values: Sequence[Any], key_types: Sequence[str], n_buckets: int
) -> int:
    """The bucket ``key_bucket_expr`` assigns a row with these key values:
    each key rendered per its declared type, joined with ``\\x1f``, a null
    key as ``\\x00``, then ``pmod(xxhash64(.), n_buckets)``. Raises
    ``ValueError`` for a key type outside ``KEY_TYPES`` or a value of the
    wrong Python type."""
    s = "\x1f".join(_key_string(v, t) for v, t in zip(key_values, key_types))
    return xxh64(s.encode("utf-8")) % n_buckets
