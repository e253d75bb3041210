"""Driver-side replica of Spark's `xxhash64(...)` for bucket planning.

`read_manifest_lookup` must know which bucket dirs the requested keys
hash into. The table's layout is written with
`pmod(xxhash64(*keys), n_buckets)` (sinks/manifest.py `_with_bucket`), so
planning previously ran a whole Spark job — createDataFrame over the
requested keys, hash, distinct, collect — BEFORE the actual read. For a
point lookup of a handful of keys that job IS the latency (~300 ms of
scheduling for microseconds of hashing). This module reproduces Spark's
XxHash64 expression in pure Python for the key types tables actually
key on (int/long/string), so bucket planning is driver-side arithmetic;
unsupported types fall back to the Spark job.

Compatibility contract: `spark_xxhash64` must agree with
`F.xxhash64(...)` bit-for-bit — pinned by
tests/test_manifest.py::test_python_xxhash64_matches_spark over edge
values, random values, every supported type, and multi-column seed
chaining. The algorithm mirrors Spark's XXH64 (seed 42, per-column
chaining, nulls skipped): ints hash via the 4-byte primitive path,
longs via the 8-byte path, strings as UTF-8 bytes through the full
streaming algorithm.
"""

from __future__ import annotations

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_XXHASH64_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _hash_int(value: int, seed: int) -> int:
    """Spark XXH64.hashInt: the 4-byte primitive path (Integer/Short/
    Byte/Date columns). `value` is the signed 32-bit payload."""
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def _hash_long(value: int, seed: int) -> int:
    """Spark XXH64.hashLong: the 8-byte primitive path (Long/Timestamp
    columns). `value` is the signed 64-bit payload."""
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((value & _M) * _P2 & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def _hash_bytes(data: bytes, seed: int) -> int:
    """Spark XXH64.hashUnsafeBytes (= reference XXH64 over the bytes):
    32-byte stripes, 8-byte words, 4-byte tail, byte tail."""
    length = len(data)
    i = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= length - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (v + k * _P2) & _M
                v = (_rotl(v, 31) * _P1) & _M
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + length) & _M
    while i <= length - 8:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= length - 4:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < length:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


# Spark simpleString type name -> per-value hash step (None value =
# null = skipped, per XxHash64's null semantics)
_STEPS = {
    "int": _hash_int,
    "smallint": _hash_int,
    "tinyint": _hash_int,
    "bigint": _hash_long,
    "string": lambda v, seed: _hash_bytes(
        v.encode("utf-8") if isinstance(v, str) else bytes(v), seed
    ),
}


def supported_types(type_names: list[str]) -> bool:
    return all(t in _STEPS for t in type_names)


# inclusive value ranges of Spark's fixed-width integer key types —
# _hash_int/_hash_long mask to 32/64 bits, so an out-of-range Python
# int would SILENTLY hash as its truncation and plan a wrong bucket
# (an empty lookup result instead of a type error)
_INT_RANGES = {
    "tinyint": (-(1 << 7), (1 << 7) - 1),
    "smallint": (-(1 << 15), (1 << 15) - 1),
    "int": (-(1 << 31), (1 << 31) - 1),
    "bigint": (-(1 << 63), (1 << 63) - 1),
}


def check_value(value, type_name: str, col: str = "?") -> None:
    """Raise TypeError/ValueError when `value` cannot be a legal value
    of the Spark key column type, instead of letting the masked hash
    plan a wrong bucket. None (SQL null) is always legal — the hash
    step skips it."""
    import numbers

    if value is None:
        return
    if type_name in _INT_RANGES:
        # numbers.Integral, not just int: numpy scalars (np.int64 from a
        # pandas frame) hash bit-identically and must keep working
        if isinstance(value, bool) or not isinstance(
            value, numbers.Integral
        ):
            raise TypeError(
                f"lookup key {col!r} is {type_name} but got "
                f"{type(value).__name__} value {value!r}"
            )
        lo, hi = _INT_RANGES[type_name]
        if not lo <= value <= hi:
            raise ValueError(
                f"lookup key {col!r} value {value!r} is out of range for "
                f"{type_name} [{lo}, {hi}]"
            )
    elif type_name == "string":
        if not isinstance(value, (str, bytes, bytearray)):
            raise TypeError(
                f"lookup key {col!r} is string but got "
                f"{type(value).__name__} value {value!r}"
            )


def spark_xxhash64(values: tuple, type_names: list[str]) -> int:
    """`F.xxhash64(*cols)` for one row, as a SIGNED 64-bit int. Columns
    chain: each column's hash seeds the next; null values are skipped
    (the seed passes through unchanged), matching Spark."""
    h = SPARK_XXHASH64_SEED
    for v, t in zip(values, type_names):
        if v is not None:
            h = _STEPS[t](v, h)
    return _signed64(h)


def bucket_of(values: tuple, type_names: list[str], n_buckets: int) -> int:
    """`pmod(xxhash64(*keys), n_buckets)` — the bucket id the manifest
    layout assigns this key tuple."""
    return spark_xxhash64(values, type_names) % n_buckets
