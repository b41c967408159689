"""Driver-side bucket hash: Spark's ``pmod(xxhash64(cols), n)`` in Python.

Point reads must find a key's bucket with the SAME hash the writer used
(:meth:`SnapshotTable._bucket_expr`). Computing it here instead of in a
1-row Spark job makes the candidate-file search free of Spark jobs.

Spark's ``xxhash64`` is XXH64 with seed 42, chained across columns (each
column's hash seeds the next) and skipping null values. Each value is
hashed as its little-endian bytes AT THE COLUMN'S TYPE: boolean, byte,
short, int and date as 4 bytes, bigint and timestamp as 8, string as
UTF-8 and binary as is — so ``123`` in a bigint column hashes 8 bytes,
not 4, and the caller must pass the table's column types.
"""

from __future__ import annotations

import datetime
import struct
from numbers import Integral

from pyspark.sql import types as T

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1
SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(a, lane)
                 for a, lane in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M
        h = _rotl(h, 11) * _P1 & _M
    h = (h ^ (h >> 33)) * _P2 & _M
    h = (h ^ (h >> 29)) * _P3 & _M
    return h ^ (h >> 32)


def _i32(v) -> bytes:
    return struct.pack("<i", v)


def _i64(v) -> bytes:
    return struct.pack("<q", v)


def _narrow(fmt: str):
    """4-byte encoding of a byte or short, range-checked at its width."""
    def encode(v) -> bytes:
        struct.pack(fmt, v)
        return _i32(v)
    return encode


def _is_int(v) -> bool:
    return isinstance(v, Integral) and not isinstance(v, bool)


def _is_date(v) -> bool:
    return (isinstance(v, datetime.date)
            and not isinstance(v, datetime.datetime))


# column type -> (Python values it accepts, the little-endian bytes Spark
# hashes for one); struct.pack rejects values outside the type's range
_CODECS = {
    T.StringType: (lambda v: isinstance(v, str),
                   lambda v: v.encode("utf-8")),
    T.BinaryType: (lambda v: isinstance(v, (bytes, bytearray, memoryview)),
                   bytes),
    T.BooleanType: (lambda v: isinstance(v, bool), _i32),
    T.ByteType: (_is_int, _narrow("<b")),
    T.ShortType: (_is_int, _narrow("<h")),
    T.IntegerType: (_is_int, _i32),
    T.LongType: (_is_int, _i64),
    T.DateType: (_is_date, lambda v: _i32(T.DateType().toInternal(v))),
    T.TimestampType: (lambda v: isinstance(v, datetime.datetime),
                      lambda v: _i64(T.TimestampType().toInternal(v))),
}


def _codec(dtype: T.DataType):
    try:
        return _CODECS[type(dtype)]
    except KeyError:
        raise TypeError(
            f"no driver-side bucket hash for column type {dtype.simpleString()}"
        ) from None


def coerce(value, dtype: T.DataType):
    """``value`` as a key of a ``dtype`` column; ``None`` stays ``None``.

    Raises ValueError when the value lies outside the type's range (no row
    of that column can hold it) and TypeError when its Python type does not
    fit the column or the column type has no hash here."""
    accepts, encode = _codec(dtype)
    if value is None:
        return None
    if not accepts(value):
        raise TypeError(
            f"{type(value).__name__} value {value!r} does not fit a "
            f"{dtype.simpleString()} key column"
        )
    try:
        encode(value)
    except (struct.error, OverflowError):
        raise ValueError(
            f"{value!r} is out of range for {dtype.simpleString()}"
        ) from None
    return bytes(value) if isinstance(value, (bytearray, memoryview)) else value


def xxhash64(values, types) -> int:
    """Spark's ``xxhash64(values...)`` (signed) for values already in their
    columns' domains; nulls are skipped, as Spark skips them."""
    h = SEED
    for v, t in zip(values, types):
        if v is not None:
            h = xxh64(_codec(t)[1](v), h)
    return h - (1 << 64) if h >> 63 else h


def bucket_of(values, types, n_buckets: int) -> int:
    """``pmod(xxhash64(values...), n_buckets)`` — the writer's bucket."""
    return xxhash64(values, types) % n_buckets
