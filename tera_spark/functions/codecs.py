"""Binary value codecs as JVM-side Column expressions.

The reference stores typed values as raw bytes: counters are int64
big-endian (`TKT_ADD`) or native little-endian (`TKT_ADDINT64`) —
`src/io/atomic_merge_strategy.cc:36-57` — and filter comparators
define integer/decimal codecs (`include/tera/filter_comparator.h:92-95`).

Everything here is built-in-function only (hex/conv/unhex/substring),
so decodes stay inside whole-stage codegen and can participate in
Catalyst optimization; no Python UDFs in the hot path.

Width rule for int64 decodes of values that are not 8 bytes long: the
value's hex is left-padded with zeros, or cut to its first 16 hex
digits, BEFORE any byte swap. In bytes: a short value gains leading
zero bytes (``b"\\xff"`` reads 255 big-endian and -2**56, bit pattern
``0xff00000000000000``, little-endian), a long value keeps its first
8 bytes, and an empty value reads 0. The seek path's Python fold
(``operators/seek.fold_row``) applies the same rule.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column
from pyspark.sql import functions as F

_TWO63 = "9223372036854775808"          # 2^63
_TWO64 = "18446744073709551616"         # 2^64


def _hex16(col: Column) -> Column:
    """Hex of an 8-byte binary value (16 chars, zero-padded)."""
    return F.lpad(F.hex(col), 16, "0")


def _swap_pairs16(hexcol: Column) -> Column:
    """Reverse byte order of a 16-char hex string (endianness swap)."""
    return F.concat(*[F.substring(hexcol, pos, 2) for pos in range(15, 0, -2)])


def _unsigned_hex_to_i64(hexcol: Column) -> Column:
    """Interpret a 16-char hex string as a signed two's-complement int64.

    `conv(hex,16,10)` yields the *unsigned* decimal as a string; values
    >= 2^63 wrap to negative via decimal arithmetic (bigint would
    overflow).
    """
    unsigned = F.conv(hexcol, 16, 10).cast("decimal(20,0)")
    signed = F.when(
        unsigned >= F.lit(_TWO63).cast("decimal(20,0)"),
        unsigned - F.lit(_TWO64).cast("decimal(21,0)"),
    ).otherwise(unsigned)
    return signed.cast("long")


def be_i64_decode(col: Column) -> Column:
    """binary(8) big-endian → long (reference: DecodeBigEndain,
    src/io/coding.h usage in atomic_merge_strategy.cc:40)."""
    return _unsigned_hex_to_i64(_hex16(col))


def le_i64_decode(col: Column) -> Column:
    """binary(8) little-endian (x86-native) → long
    (reference: `*(int64_t*)value.data()`, atomic_merge_strategy.cc:43)."""
    return _unsigned_hex_to_i64(_swap_pairs16(_hex16(col)))


def _i64_to_hex16(col: Column) -> Column:
    # hex(long) renders two's complement: negatives are already 16 chars.
    return F.lpad(F.hex(col.cast("long")), 16, "0")


def be_i64_encode(col: Column) -> Column:
    """long → binary(8) big-endian."""
    return F.unhex(_i64_to_hex16(col))


def le_i64_encode(col: Column) -> Column:
    """long → binary(8) little-endian."""
    return F.unhex(_swap_pairs16(_i64_to_hex16(col)))


def be_double_decode(col: Column) -> Column:
    """binary(8) IEEE-754 big-endian → double, via bit arithmetic.

    Used by the decimal filter comparator (filter_comparator.h:141-142).
    Subnormals/NaN/Inf are not round-tripped (filters never carry them).
    """
    bits = be_i64_decode(col)
    sign = F.when(bits < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    # shiftright on negatives drags sign bits; mask via unsigned decimal trick
    ubits = F.when(
        bits < 0, bits.cast("decimal(20,0)") + F.lit(_TWO64).cast("decimal(21,0)")
    ).otherwise(bits.cast("decimal(20,0)"))
    exp = ((ubits / F.lit(2 ** 52).cast("decimal(20,0)")).cast("long") % 2048).cast("int")
    mantissa = (ubits % F.lit(2 ** 52).cast("decimal(20,0)")).cast("double")
    normal = sign * (F.lit(1.0) + mantissa / F.lit(float(2 ** 52))) * F.pow(
        F.lit(2.0), exp.cast("double") - F.lit(1023.0)
    )
    subnormal = sign * (mantissa / F.lit(float(2 ** 52))) * F.pow(F.lit(2.0), F.lit(-1022.0))
    return F.when(exp == 0, subnormal).otherwise(normal)


# --- driver-side helpers (test fixtures, filter literals) -----------------

def py_encode_be_i64(v: int) -> bytes:
    return struct.pack(">q", v)


def py_encode_le_i64(v: int) -> bytes:
    return struct.pack("<q", v)


def py_decode_be_i64(b: bytes) -> int:
    return struct.unpack(">q", b)[0]


def py_decode_le_i64(b: bytes) -> int:
    return struct.unpack("<q", b)[0]


def py_encode_be_double(v: float) -> bytes:
    return struct.pack(">d", v)
