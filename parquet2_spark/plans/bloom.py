"""Split-block bloom filter (parquet spec layout), vectorized in numpy.

Reference parity: src/bloom_filter/{split_block,read,hash}.rs — 32-byte
blocks of 8×u32, one bit set per word via the 8 SALT constants (public
parquet-format spec values), block chosen by the upper 32 hash bits.
False-positive-only membership, never false-negative.

Hashes: the reference uses xxh64(seed=0); Spark's ``F.xxhash64`` uses
seed 42. ``build`` and ``might_contain`` take *pre-hashed* uint64 keys.
The encoder feeds them Spark-computed ``xxhash64`` columns (JVM-side,
vectorized); a lookup hashes its probe values here, with
``probe_hashes``, a numpy port of Spark's ``XxHash64`` and of its
per-type normalisation, so a probe costs no Spark query. Consistency
with the stored hashes is what matters for membership, not the seed.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import re
import struct

import numpy as np

SALT = np.array(
    [
        0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
        0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31,
    ],
    dtype=np.uint32,
)


def optimal_num_blocks(ndv: int, fpp: float = 0.01) -> int:
    """Parquet-spec sizing: bits = -8 ndv / (8 ln(1 - fpp^(1/8)))."""
    if ndv <= 0:
        return 1
    c = -8.0 / (8.0 * np.log(1.0 - fpp ** (1.0 / 8.0)))
    bits = ndv * c * 8.0
    return max(1, int(2 ** np.ceil(np.log2(max(bits / 256.0, 1.0)))))


def _block_index(hashes: np.ndarray, n_blocks: int) -> np.ndarray:
    return ((hashes >> np.uint64(32)) * np.uint64(n_blocks)) >> np.uint64(32)


def _masks(hashes: np.ndarray) -> np.ndarray:
    """(n, 8) uint32 — one bit per word per key."""
    h32 = hashes.astype(np.uint32)[:, None]
    shifts = (h32 * SALT[None, :]) >> np.uint32(27)
    return (np.uint32(1) << shifts).astype(np.uint32)


def build(hashes: np.ndarray, n_blocks: int | None = None, fpp: float = 0.01) -> bytes:
    """Bitset from pre-hashed uint64 keys."""
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    nb = n_blocks or optimal_num_blocks(len(np.unique(h)), fpp)
    words = np.zeros((nb, 8), dtype=np.uint32)
    bi = _block_index(h, nb).astype(np.int64)
    masks = _masks(h)
    for w in range(8):
        np.bitwise_or.at(words[:, w], bi, masks[:, w])
    return words.tobytes()


def might_contain(bitset: bytes, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership probe → bool array (false ⇒ definitely absent)."""
    words = np.frombuffer(bitset, dtype=np.uint32).reshape(-1, 8)
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    bi = _block_index(h, len(words)).astype(np.int64)
    masks = _masks(h)
    got = words[bi]  # (n, 8)
    return ((got & masks) == masks).all(axis=1)


# ---- probe hashing: Spark's XxHash64 (catalyst expressions.XXH64,
# seed 42), vectorized over values of one byte length ----

SEED = 42
P1, P2, P3, P4, P5 = (
    np.uint64(p)
    for p in (
        0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
        0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
    )
)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * P2, 31) * P1


def _lanes(b: np.ndarray, off: int, width: int) -> np.ndarray:
    """The little-endian ``width``-byte word at ``off`` of every row."""
    w = np.ascontiguousarray(b[:, off:off + width]).view("<u8" if width == 8 else "<u4")
    return w[:, 0].astype(np.uint64)


def xxh64(b: np.ndarray) -> np.ndarray:
    """XXH64 (seed 42) of every row of ``b``, an (n, length) uint8 array:
    Spark's ``hashUnsafeBytes``. A 4-byte row hashes as ``hashInt`` and an
    8-byte row as ``hashLong`` of its little-endian value."""
    n, length = b.shape
    off = 0
    if length >= 32:
        v = [
            np.full(n, (SEED + p) % (1 << 64), np.uint64)
            for p in (int(P1) + int(P2), int(P2), 0, -int(P1))
        ]
        while off + 32 <= length:
            v = [_round(v[i], _lanes(b, off + 8 * i, 8)) for i in range(4)]
            off += 32
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for vi in v:
            h = (h ^ _round(np.uint64(0), vi)) * P1 + P4
    else:
        h = np.full(n, SEED + int(P5), np.uint64)
    h = h + np.uint64(length)
    while off + 8 <= length:
        h = _rotl(h ^ _round(np.uint64(0), _lanes(b, off, 8)), 27) * P1 + P4
        off += 8
    if off + 4 <= length:
        h = _rotl(h ^ (_lanes(b, off, 4) * P1), 23) * P2 + P3
        off += 4
    for j in range(off, length):
        h = _rotl(h ^ (b[:, j].astype(np.uint64) * P5), 11) * P1
    h ^= h >> np.uint64(33)
    h *= P2
    h ^= h >> np.uint64(29)
    h *= P3
    h ^= h >> np.uint64(32)
    return h


def _hash_bytes(values: list[bytes]) -> np.ndarray:
    """``xxh64`` of byte strings of any lengths: one pass per length."""
    if not values:
        return np.empty(0, np.uint64)
    lens = np.fromiter(map(len, values), np.int64, len(values))
    order = np.argsort(lens, kind="stable")
    buf = np.frombuffer(b"".join([values[i] for i in order.tolist()]), np.uint8)
    out = np.empty(len(values), np.uint64)
    sl = lens[order]
    cuts = np.concatenate(([0], np.flatnonzero(np.diff(sl)) + 1, [len(sl)]))
    pos = 0
    for a, z in zip(cuts[:-1].tolist(), cuts[1:].tolist()):
        width = int(sl[a])
        out[order[a:z]] = xxh64(buf[pos:pos + (z - a) * width].reshape(z - a, width))
        pos += (z - a) * width
    return out


_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
_DECIMAL = re.compile(r"decimal\((\d+),(\d+)\)")
_EPOCH = _dt.datetime(1970, 1, 1)


def _is_int(v) -> bool:
    return isinstance(v, (int, np.integer)) and not isinstance(v, (bool, np.bool_))


def _micros(v: _dt.datetime) -> int:
    """Epoch micros of a datetime: naive is UTC (wall clock for an ntz
    column), aware converts to UTC first — ``decode_job._zone_bound``."""
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return (v - _EPOCH) // _dt.timedelta(microseconds=1)


def _unscaled(v, precision: int, scale: int) -> int | None:
    """``v``'s unscaled value in ``decimal(precision, scale)``; None when
    ``v`` is not a Decimal or an int the type holds exactly."""
    if _is_int(v):
        v = decimal.Decimal(int(v))
    if not isinstance(v, decimal.Decimal) or not v.is_finite():
        return None
    sign, digits, exp = v.as_tuple()
    u, e = int("".join(map(str, digits)) or "0"), exp + scale
    if e >= 0:
        u *= 10 ** e
    else:
        u, rest = divmod(u, 10 ** -e)
        if rest:
            return None
    u = -u if sign else u
    return u if abs(u) < 10 ** precision else None


def _fixed_key(v, ddl: str) -> int | None:
    """The integer Spark hashes for ``v`` in a fixed-width column of type
    ``ddl`` (``hashInt``/``hashLong``); None when ``v``'s Python type is not
    the column's own or the type does not hold it."""
    if _is_int(v):
        v = int(v)
    bits = _INT_BITS.get(ddl)
    if bits is not None:
        return int(v) if _is_int(v) and -(1 << bits - 1) <= v < 1 << bits - 1 else None
    if ddl == "boolean":
        return int(v) if isinstance(v, (bool, np.bool_)) else None
    if ddl in ("float", "double"):
        if _is_int(v) and abs(v) < 1 << 64 and float(v) == v:
            v = float(v)  # Spark compares an int with the float it equals
        if not isinstance(v, (float, np.floating)):
            return None
        if v != v:  # Java's canonical NaN bits
            return 0x7FC00000 if ddl == "float" else 0x7FF8000000000000
        if v == 0:  # -0.0 hashes as 0.0
            return 0
        if ddl == "double":
            return struct.unpack("<q", struct.pack("<d", float(v)))[0]
        f = np.float32(v)
        return int(f.view(np.int32)) if float(f) == float(v) else None
    if ddl == "date":
        if _is_int(v):
            return int(v) if -(1 << 31) <= v < 1 << 31 else None
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return (v - _EPOCH.date()).days
        return None
    if ddl in ("timestamp", "timestamp_ntz"):
        if _is_int(v):
            return int(v) if -(1 << 63) <= v < 1 << 63 else None
        return _micros(v) if isinstance(v, _dt.datetime) else None
    m = _DECIMAL.fullmatch(ddl)
    return _unscaled(v, int(m[1]), int(m[2])) if m else None


def _key_bytes(v, ddl: str) -> bytes | None:
    """The bytes Spark hashes for ``v`` in a ``string``/``binary`` column
    or a decimal wider than a long (the unscaled value's big-endian two's
    complement, as ``BigInteger.toByteArray``)."""
    if ddl == "string":
        try:
            return v.encode("utf-8") if isinstance(v, str) else None
        except UnicodeEncodeError:
            return None
    if ddl == "binary":
        return bytes(v) if isinstance(v, (bytes, bytearray, memoryview)) else None
    m = _DECIMAL.fullmatch(ddl)
    u = _unscaled(v, int(m[1]), int(m[2]))
    if u is None:
        return None
    return u.to_bytes((u if u >= 0 else ~u).bit_length() // 8 + 1, "big", signed=True)


def probe_hashes(values, ddl: str) -> np.ndarray | None:
    """``F.xxhash64`` of each of ``values`` as a column of type ``ddl``
    holds it (the keys the encoder's blooms hold, as uint64), computed
    here. Spark's normalisation per type: UTF-8 bytes for ``string``, raw
    bytes for ``binary``; ``hashInt`` for int types, booleans and dates
    (days); ``hashLong`` for bigints and timestamps (UTC epoch micros;
    wall-clock micros for ``timestamp_ntz``); -0.0 as 0.0 and one NaN for
    floats; decimals up to precision 18 as their unscaled long, wider ones
    as its two's-complement bytes. A plain int against a date or
    timestamp column is its epoch days or micros, as everywhere in this
    engine; against a float or decimal column it is the value it equals.

    None when a value's Python type is not the column's own (a float on an
    int column, a date on a timestamp column), the type cannot hold it
    exactly, or the column type is one this port does not hash (a
    collated string, nested types): such a probe cannot be hashed as the
    column was, and must not prune."""
    values = list(values)
    m = _DECIMAL.fullmatch(ddl)
    if ddl in ("string", "binary") or (m and int(m[1]) > 18):
        keys = [_key_bytes(v, ddl) for v in values]
        return None if None in keys else _hash_bytes(keys)
    keys = [_fixed_key(v, ddl) for v in values]
    if None in keys:
        return None
    width = 4 if ddl in ("tinyint", "smallint", "int", "boolean", "float", "date") else 8
    arr = np.array(keys, dtype="<i4" if width == 4 else "<i8")
    return xxh64(arr.view(np.uint8).reshape(len(keys), width))
