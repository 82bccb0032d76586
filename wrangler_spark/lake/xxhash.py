"""Pure-Python XXH64, bit-compatible with Spark's `xxhash64`.

Spark's `xxhash64(c1, c2, ...)` is the standard XXH64 digest (little-
endian lanes) chained over its arguments: the running hash starts at
seed 42, each non-null argument is hashed with the previous result as
its seed, and null arguments leave the hash unchanged. A string
argument hashes its UTF-8 bytes. The table's bucket of a key is
`pmod(xxhash64(cast(k1 as string), ...), num_buckets)` (see
`LakeTable.bucket_expr`), so this module computes the bucket of a
literal key, and the bloom probe hashes of a literal (`lake.bloom`), on
the driver without a Spark job.

reference: Spark `org.apache.spark.sql.catalyst.expressions.XXH64` and
`XxHash64` (seed 42); the algorithm is Yann Collet's XXH64.
"""

from __future__ import annotations

from pyspark.sql import types as T

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42

# integral dtypes → 2^(bits-1): the literal range rendered on the driver
INT_RANGE = {T.ByteType: 1 << 7, T.ShortType: 1 << 15, T.IntegerType: 1 << 31, T.LongType: 1 << 63}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of `data` as a signed 64-bit int (Java `long`)."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        limit = n - 32
        while i <= limit:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
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
    return h - (1 << 64) if h >> 63 else h


def spark_xxhash64(*values: str) -> int:
    """Spark `xxhash64(values...)` over non-null string arguments."""
    h = SPARK_SEED
    for v in values:
        h = xxh64(v.encode("utf-8"), h)
    return h


def hash_int(value: int, seed: int) -> int:
    """Spark `xxhash64` of one `int` (32-bit) argument: XXH64 of its
    four little-endian bytes."""
    return xxh64((value & 0xFFFFFFFF).to_bytes(4, "little"), seed)


def render_literal(value, dtype: T.DataType) -> str | None:
    """`cast(cast(value as dtype) as string)` computed on the driver, or
    None when only Spark can say: a `str` literal renders as itself on a
    plain (binary-collated) string column when it is valid UTF-8, an
    `int` (not `bool`) literal within an integral column's range renders
    in decimal. Other pairs (floats, dates, a literal the cast would
    coerce or overflow) are left to a Spark job."""
    if isinstance(value, str) and dtype == T.StringType():
        try:
            value.encode("utf-8")
        except UnicodeEncodeError:  # lone surrogate: not a UTF-8 string
            return None
        return value
    bound = INT_RANGE.get(type(dtype))
    if (
        bound is not None
        and isinstance(value, int)
        and not isinstance(value, bool)
        and -bound <= value < bound
    ):
        return str(value)
    return None
