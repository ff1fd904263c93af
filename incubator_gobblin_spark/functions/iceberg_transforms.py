"""Iceberg partition transforms as Spark Column expressions.

The Iceberg spec (iceberg.apache.org/spec §Partition Transforms,
Appendix B) derives hidden-partition values from source columns:
``bucket[N]`` (a 32-bit Murmur3 hash, positive-mod N), ``truncate[W]``,
and the ``year/month/day/hour`` time transforms. Readers need them to
honor delete-file PARTITION SCOPES on transform-partitioned tables —
a delete written under ``bucket(4, id)`` applies only to rows whose
``bucket(4, id)`` equals the scope value, and a reader that cannot
evaluate the transform must refuse rather than over-delete.

Everything here stays JVM-side whole-stage codegen: the Murmur3
x86-32 hash is expressed with 32-bit modular integer arithmetic on
BIGINT columns (multiplications split 16/16 so no intermediate exceeds
2^49 — ANSI-mode safe), fixed 8-byte inputs fully unrolled and
variable-length (string/binary) inputs folded with the ``aggregate``
higher-order function over 4-byte little-endian blocks of the hex
encoding. Correctness is pinned against the spec's published hash
vectors (Appendix B table) in both this pure-Python reference and the
Column form — see tests/test_iceberg_transforms.py.

Reference parity: the reference has no table-format transform layer
(its partitioning is path-template time partitioning,
gobblin-core ``.../writer/partitioner/TimeBasedWriterPartitioner.java``);
this module exists for the Iceberg interop read surface.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_M32 = 0x100000000  # 2^32


# ---------------------------------------------------------------------------
# pure-Python reference (tests, driver-side evaluation)
# ---------------------------------------------------------------------------


def epoch_micros(value) -> int:
    """Timezone-independent epoch micros for a datetime literal.

    Naive datetimes are treated as UTC — the engine pins the Spark
    session TZ to UTC, but ``value.timestamp()`` would interpret a
    naive datetime in the HOST's local zone, silently shifting bucket
    and time-transform values on non-UTC drivers. Only tz-aware inputs
    go through ``timestamp()`` (where the offset is explicit)."""
    import datetime as _dt

    if value.tzinfo is not None:
        return int(value.timestamp() * 1_000_000)
    return (value - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)


def epoch_norm(value):
    """Normalize an Avro-logical-decoded partition literal to the epoch
    ints :func:`transform_py` produces: ``datetime`` -> epoch micros
    (tz-independent), ``date`` -> epoch days, everything else
    unchanged. Metadata pruning and delete-scope matching compare
    manifest partition values (decoded to date/datetime by the Avro
    reader) against transform results (epoch ints); without this
    normalization ``date != int`` is vacuously true and a matching
    file would be silently pruned."""
    import datetime as _dt

    if isinstance(value, _dt.datetime):
        return epoch_micros(value)
    if isinstance(value, _dt.date):
        return (value - _dt.date(1970, 1, 1)).days
    return value



def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3 x86 32-bit (signed result) — the spec's bucket hash."""
    h = seed
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * _C1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * _C2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - n % 4 :]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * _C1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * _C2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def bucket_py(value, n: int, ice_type: str) -> int | None:
    """Pure-Python bucket transform (spec Appendix B) for test oracles
    and driver-side fixture authoring. Integer family hashes the value
    as an 8-byte little-endian long; strings their UTF-8 bytes; binary
    its raw bytes."""
    if value is None:
        return None
    if ice_type in ("int", "long", "date", "time", "timestamp", "timestamptz"):
        data = int(value).to_bytes(8, "little", signed=True)
    elif ice_type == "string":
        data = str(value).encode("utf-8")
    elif ice_type == "binary":
        data = bytes(value)
    else:
        raise ValueError(f"bucket transform unsupported for {ice_type!r}")
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def transform_py(transform: str, value, ice_type: str):
    """Driver-side transform evaluation over one plain-Python literal —
    what metadata-level file PRUNING needs (a point filter on the
    source column of a bucket/truncate spec prunes to the files whose
    partition value equals the transformed literal). Mirrors
    :func:`transform_expr`; ValueError for unevaluable combinations."""
    import datetime as _dt

    if value is None:
        return None
    if transform == "identity":
        return value
    if transform == "void":
        return None
    m = _BUCKET_RE.match(transform)
    if m:
        if ice_type == "date" and isinstance(value, _dt.date):
            value = (value - _dt.date(1970, 1, 1)).days
        elif ice_type in ("timestamp", "timestamptz") and isinstance(
            value, _dt.datetime
        ):
            value = epoch_micros(value)
        return bucket_py(value, int(m.group(1)), ice_type)
    m = _TRUNCATE_RE.match(transform)
    if m:
        w = int(m.group(1))
        if ice_type in ("int", "long"):
            v = int(value)
            t = v - (((v % w) + w) % w)
            lo = -(2**31) if ice_type == "int" else -(2**63)
            if t < lo:  # iceberg-java wraps in two's complement
                t += 2 * -lo
            return t
        if ice_type == "string":
            return str(value)[:w]
        raise ValueError(f"truncate unsupported for {ice_type!r}")
    if transform in ("year", "years", "month", "months", "day", "days",
                     "hour", "hours"):
        if isinstance(value, str):
            value = (
                _dt.datetime.fromisoformat(value)
                if "T" in value or " " in value or ":" in value
                else _dt.date.fromisoformat(value)
            )
        if not isinstance(value, _dt.date):
            raise ValueError(f"time transform needs a date, got {value!r}")
        d = value.date() if isinstance(value, _dt.datetime) else value
        if transform in ("year", "years"):
            return d.year - 1970
        if transform in ("month", "months"):
            return (d.year - 1970) * 12 + d.month - 1
        if transform in ("day", "days"):
            return (d - _dt.date(1970, 1, 1)).days
        if not isinstance(value, _dt.datetime):
            raise ValueError("hour transform is invalid for date sources")
        epoch = _dt.datetime(1970, 1, 1, tzinfo=value.tzinfo)
        return int((value - epoch).total_seconds()) // 3600
    raise ValueError(f"unknown Iceberg partition transform {transform!r}")


#: transforms that preserve source ordering — range filters on the
#: source column translate to range filters on the partition value
#: (spec §Partition Transforms: truncate and the time transforms are
#: order-preserving; bucket is not)
ORDER_PRESERVING = re.compile(
    r"^(identity|truncate\[\d+\]|years?|months?|days?|hours?)$"
)


# ---------------------------------------------------------------------------
# 32-bit modular arithmetic on BIGINT Columns
# ---------------------------------------------------------------------------


def _mul32(a: Column, b: int) -> Column:
    """(a * b) mod 2^32 for a in [0, 2^32), constant b < 2^32 — split
    a into 16-bit halves so no intermediate exceeds 2^49 (ANSI-safe)."""
    al = a.bitwiseAND(F.lit(0xFFFF))
    ah = F.shiftright(a, 16)
    return (al * F.lit(b) + (ah * F.lit(b)).bitwiseAND(F.lit(0xFFFF)) * F.lit(0x10000)) % F.lit(_M32)


def _rotl32(x: Column, r: int) -> Column:
    """Rotate-left within 32 bits for x in [0, 2^32)."""
    lo = x % F.lit(1 << (32 - r))
    hi = F.shiftright(x, 32 - r)
    return lo * F.lit(1 << r) + hi


def _mix_round(h: Column, k: Column) -> Column:
    k = _mul32(k, _C1)
    k = _rotl32(k, 15)
    k = _mul32(k, _C2)
    h = h.bitwiseXOR(k)
    h = _rotl32(h, 13)
    return (h * F.lit(5) + F.lit(0xE6546B64)) % F.lit(_M32)


def _tail_round(h: Column, k: Column) -> Column:
    k = _mul32(k, _C1)
    k = _rotl32(k, 15)
    k = _mul32(k, _C2)
    return h.bitwiseXOR(k)


def _fmix(h: Column, n: Column) -> Column:
    h = h.bitwiseXOR(n)
    h = h.bitwiseXOR(F.shiftright(h, 16))
    h = _mul32(h, 0x85EBCA6B)
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = _mul32(h, 0xC2B2AE35)
    return h.bitwiseXOR(F.shiftright(h, 16))


def murmur3_long_col(v: Column) -> Column:
    """Murmur3 x86-32 of a BIGINT column's 8-byte little-endian form —
    the spec's hash for the whole integer family. Returns the UNSIGNED
    hash in [0, 2^32); fully unrolled (two blocks), codegen-friendly."""
    k1 = v.bitwiseAND(F.lit(0xFFFFFFFF))
    k2 = F.shiftright(v, 32).bitwiseAND(F.lit(0xFFFFFFFF))
    h = _mix_round(F.lit(0).cast("long"), k1)
    h = _mix_round(h, k2)
    return _fmix(h, F.lit(8).cast("long"))


def murmur3_bytes_col(b: Column) -> Column:
    """Murmur3 x86-32 of a BINARY column (string buckets hash UTF-8
    bytes). Variable length: the hex encoding is folded 4 bytes at a
    time with the ``aggregate`` higher-order function — still JVM-side,
    no Python. Returns the UNSIGNED hash in [0, 2^32)."""
    hx = F.hex(b)
    n = F.length(b).cast("long")
    nblocks = (n / F.lit(4)).cast("long")  # ANSI: integral division

    def _le_block(i: Column, width: Column) -> Column:
        # little-endian integer of `width` bytes starting at BYTE index
        # i (0-based) of the hex string: reverse the byte order, conv
        # base 16. width in 1..4 (a Column).
        def byte_at(j):
            return F.substring(hx, (i + j) * 2 + 1, 2)

        rev = F.concat(
            F.when(width >= 4, byte_at(F.lit(3))).otherwise(F.lit("")),
            F.when(width >= 3, byte_at(F.lit(2))).otherwise(F.lit("")),
            F.when(width >= 2, byte_at(F.lit(1))).otherwise(F.lit("")),
            byte_at(F.lit(0)),
        )
        return F.conv(rev, 16, 10).cast("long")

    body = F.when(
        nblocks > 0,
        F.aggregate(
            F.sequence(F.lit(0).cast("long"), nblocks - 1),
            F.lit(0).cast("long"),
            lambda h, i: _mix_round(h, _le_block(i * 4, F.lit(4))),
        ),
    ).otherwise(F.lit(0).cast("long"))
    rem = n % F.lit(4)
    with_tail = F.when(
        rem > 0, _tail_round(body, _le_block(nblocks * 4, rem))
    ).otherwise(body)
    return _fmix(with_tail, n)


# ---------------------------------------------------------------------------
# the transforms
# ---------------------------------------------------------------------------

#: integer-family Iceberg types — bucket hashes them all as 8-byte LE
_INT_FAMILY = ("int", "long", "date", "time", "timestamp", "timestamptz")


def _as_hash_long(col: Column, ice_type: str) -> Column:
    """A source column as the BIGINT the integer-family hash consumes:
    date -> epoch days, timestamp -> epoch micros, int/long as-is."""
    if ice_type == "date":
        return F.datediff(col, F.lit("1970-01-01")).cast("long")
    if ice_type in ("timestamp", "timestamptz"):
        return F.unix_micros(col)
    return col.cast("long")


def bucket_col(col: Column, n: int, ice_type: str) -> Column:
    """``bucket[N]``: (murmur3 & Integer.MAX_VALUE) % N (spec
    Appendix B). Null in, null out (transforms preserve null)."""
    if ice_type in _INT_FAMILY:
        h = murmur3_long_col(_as_hash_long(col, ice_type))
    elif ice_type == "string":
        h = murmur3_bytes_col(F.encode(col, "UTF-8"))
    elif ice_type == "binary":
        h = murmur3_bytes_col(col)
    else:
        raise ValueError(
            f"bucket transform unsupported for source type {ice_type!r}"
        )
    return F.when(
        col.isNotNull(),
        h.bitwiseAND(F.lit(0x7FFFFFFF)) % F.lit(n),
    ).cast("int")


def _floordiv(a: Column, b: int) -> Column:
    """Floor division for possibly-negative BIGINT (Spark's integral /
    truncates toward zero; the spec's time transforms floor)."""
    return (a - ((a % F.lit(b)) + F.lit(b)) % F.lit(b)) / F.lit(b)


def truncate_col(col: Column, w: int, ice_type: str) -> Column:
    """``truncate[W]``: integers floor to a multiple of W (negative
    values included — spec: ``v - (((v % W) + W) % W)``), strings take
    the first W characters (code points).

    Min-long corner: for the W-1 values just above the signed-64
    minimum the mathematical floor is below the long range;
    iceberg-java's arithmetic silently WRAPS in two's complement, so
    interop parity requires the same wrapped value here — a plain
    subtraction would throw under Spark's ANSI mode instead. The wrap
    branch rewrites v - m + 2^64 as (v - MIN) + (MAX - m + 1), every
    intermediate in range; CASE WHEN evaluates only the taken branch,
    so the rewrite never runs (and never overflows) for ordinary
    values."""
    if ice_type in ("int", "long"):
        v = col.cast("long")
        m = ((v % F.lit(w)) + F.lit(w)) % F.lit(w)
        lmin = F.lit(-(2**63))
        lmax = F.lit(2**63 - 1)
        out = F.when(v < lmin + m, (v - lmin) + (lmax - m) + F.lit(1)).otherwise(
            v - m
        )
        return out.cast("int") if ice_type == "int" else out
    if ice_type == "string":
        return F.substring(col, 1, w)
    raise ValueError(
        f"truncate transform unsupported for source type {ice_type!r}"
    )


def time_transform_col(name: str, col: Column, ice_type: str) -> Column:
    """``year/month/day/hour``: offsets from the epoch (spec: years
    and months since 1970, epoch days, epoch hours) as INT."""
    if ice_type not in ("date", "timestamp", "timestamptz"):
        raise ValueError(
            f"{name} transform unsupported for source type {ice_type!r}"
        )
    if name in ("year", "years"):
        return (F.year(col) - F.lit(1970)).cast("int")
    if name in ("month", "months"):
        return (
            (F.year(col) - F.lit(1970)) * F.lit(12) + F.month(col) - F.lit(1)
        ).cast("int")
    if name in ("day", "days"):
        return F.datediff(col.cast("date"), F.lit("1970-01-01")).cast("int")
    if name in ("hour", "hours"):
        if ice_type == "date":
            raise ValueError("hour transform is invalid for date sources")
        return _floordiv(F.unix_micros(col), 3_600_000_000).cast("int")
    raise ValueError(f"unknown time transform {name!r}")


_BUCKET_RE = re.compile(r"^bucket\[(\d+)\]$")
_TRUNCATE_RE = re.compile(r"^truncate\[(\d+)\]$")


def transform_expr(transform: str, col: Column, ice_type: str) -> Column:
    """The Column computing ``transform`` of ``col`` (an Iceberg
    ``ice_type`` source), or ValueError for transforms/types this
    engine cannot evaluate — callers refuse rather than guess."""
    if transform == "identity":
        return col
    if transform == "void":
        return F.lit(None)
    m = _BUCKET_RE.match(transform)
    if m:
        return bucket_col(col, int(m.group(1)), ice_type)
    m = _TRUNCATE_RE.match(transform)
    if m:
        return truncate_col(col, int(m.group(1)), ice_type)
    if transform in ("year", "years", "month", "months", "day", "days",
                     "hour", "hours"):
        return time_transform_col(transform, col, ice_type)
    raise ValueError(f"unknown Iceberg partition transform {transform!r}")


def check_transform(transform: str, ice_type: str) -> None:
    """ValueError unless :func:`transform_expr` and :func:`transform_py`
    both evaluate ``transform`` over an ``ice_type`` source — the
    driver-side check for callers that must refuse before evaluating."""
    if transform in ("identity", "void"):
        return
    if _BUCKET_RE.match(transform):
        ok = ice_type in (*_INT_FAMILY, "string", "binary")
    elif _TRUNCATE_RE.match(transform):
        ok = ice_type in ("int", "long", "string")
    elif transform in ("year", "years", "month", "months", "day", "days"):
        ok = ice_type in ("date", "timestamp", "timestamptz")
    elif transform in ("hour", "hours"):
        ok = ice_type in ("timestamp", "timestamptz")
    else:
        raise ValueError(f"unknown Iceberg partition transform {transform!r}")
    if not ok:
        raise ValueError(
            f"{transform} transform unsupported for source type {ice_type!r}"
        )
