"""Binary value codecs as JVM-side Column expressions and SQL text.

The reference stores typed values as raw bytes: counters are int64
big-endian (`TKT_ADD`) or native little-endian (`TKT_ADDINT64`) —
`src/io/atomic_merge_strategy.cc:36-57` — and filter comparators
define integer/decimal codecs (`include/tera/filter_comparator.h:92-95`).

Everything here is built-in-function only (hex/conv/unhex/substring),
so decodes stay inside whole-stage codegen and can participate in
Catalyst optimization; no Python UDFs in the hot path.

Each int64 codec is written once, over a renderer (``_SQL`` or
``_COLUMNS``): ``*_sql(x)`` gives SQL text over the SQL text ``x``,
for folds built with ``F.expr`` (one py4j round trip per
expression), and the Column form gives the same expression tree
built node by node. Both analyze to the same Catalyst expressions.

The filter comparators' n-byte little-endian integers
(``le_fixed_*``) are rendered from the same byte swap and sign rule.

Width rule for int64 decodes of values that are not 8 bytes long: the
value's hex is left-padded with zeros, or cut to its first 16 hex
digits, BEFORE any byte swap. In bytes: a short value gains leading
zero bytes (``b"\\xff"`` reads 255 big-endian and -2**56, bit pattern
``0xff00000000000000``, little-endian), a long value keeps its first
8 bytes, and an empty value reads 0. The seek path's Python fold
(``operators/seek.fold_row``) applies the same rule.
"""

from __future__ import annotations

import operator
import struct

from pyspark.sql import Column
from pyspark.sql import functions as F

class _SQL:
    """Renders a codec as SQL text."""

    call = staticmethod(lambda name, *args: f"{name}({', '.join(args)})")
    lit = staticmethod(lambda v: f"'{v}'" if isinstance(v, str) else str(v))
    cast = staticmethod(lambda x, to: f"cast({x} as {to})")
    when = staticmethod(lambda cond, then, other: f"CASE WHEN {cond} THEN {then} ELSE {other} END")
    ge = staticmethod(lambda a, b: f"({a} >= {b})")
    sub = staticmethod(lambda a, b: f"({a} - {b})")


class _COLUMNS:
    """Renders a codec as a Column, node by node."""

    call = staticmethod(F.call_function)
    lit = staticmethod(F.lit)
    cast = staticmethod(lambda x, to: x.cast(to))
    when = staticmethod(lambda cond, then, other: F.when(cond, then).otherwise(other))
    ge = staticmethod(operator.ge)
    sub = staticmethod(operator.sub)


def _hex(r, x, n: int = 8):
    """The width rule: ``lpad`` left-pads a short value's hex with
    zeros and cuts a long one to its first ``2n`` digits."""
    return r.call("lpad", r.call("hex", x), r.lit(2 * n), r.lit("0"))


def _swap(r, h, n: int = 8):
    """Reverse the byte order of a ``2n``-digit hex string."""
    return r.call(
        "concat", *[r.call("substring", h, r.lit(p), r.lit(2)) for p in range(2 * n - 1, 0, -2)]
    )


def _unsigned(r, h):
    """A hex string as an unsigned decimal (``conv`` yields digits)."""
    return r.cast(r.call("conv", h, r.lit(16), r.lit(10)), "decimal(20,0)")


def _signed(r, h, n: int = 8):
    """A ``2n``-digit hex string as a signed two's-complement integer:
    values >= 2^(8n-1) wrap to negative via decimal arithmetic (bigint
    would overflow; the literals are decimal strings for py4j)."""
    unsigned = _unsigned(r, h)
    signed = r.when(
        r.ge(unsigned, r.cast(r.lit(str(1 << (8 * n - 1))), "decimal(20,0)")),
        r.sub(unsigned, r.cast(r.lit(str(1 << (8 * n))), "decimal(21,0)")),
        unsigned,
    )
    return r.cast(signed, "bigint")


def _be_decode(r, x):
    # reference: DecodeBigEndain, atomic_merge_strategy.cc:40
    return _signed(r, _hex(r, x))


def _le_decode(r, x):
    # reference: `*(int64_t*)value.data()`, atomic_merge_strategy.cc:43
    return _signed(r, _swap(r, _hex(r, x)))


def _be_encode(r, x):
    # hex(bigint) renders two's complement: negatives are already 16 digits
    return r.call("unhex", _hex(r, r.cast(x, "bigint")))


def _le_encode(r, x):
    return r.call("unhex", _swap(r, _hex(r, r.cast(x, "bigint"))))


def be_i64_decode_sql(x: str) -> str:
    """SQL text: binary big-endian → bigint."""
    return _be_decode(_SQL, x)


def le_i64_decode_sql(x: str) -> str:
    """SQL text: binary little-endian (x86-native) → bigint."""
    return _le_decode(_SQL, x)


def be_i64_encode_sql(x: str) -> str:
    """SQL text: bigint → binary(8) big-endian."""
    return _be_encode(_SQL, x)


def le_i64_encode_sql(x: str) -> str:
    """SQL text: bigint → binary(8) little-endian."""
    return _le_encode(_SQL, x)


def be_i64_decode(col: Column) -> Column:
    """binary big-endian → long."""
    return _be_decode(_COLUMNS, col)


def le_i64_decode(col: Column) -> Column:
    """binary little-endian (x86-native) → long."""
    return _le_decode(_COLUMNS, col)


def be_i64_encode(col: Column) -> Column:
    """long → binary(8) big-endian."""
    return _be_encode(_COLUMNS, col)


def le_i64_encode(col: Column) -> Column:
    """long → binary(8) little-endian."""
    return _le_encode(_COLUMNS, col)


def le_fixed_hex(col: Column, n: int) -> Column:
    """The first ``n`` bytes of a binary, little-endian, as ``2n`` hex
    digits — comparator integers (filter_comparator.cc:22-55)."""
    return _swap(_COLUMNS, _hex(_COLUMNS, F.substring(col, 1, n), n), n)


def le_fixed_decode(col: Column, n: int, *, signed: bool = True) -> Column:
    """The first ``n`` bytes of a binary, little-endian → a signed long
    or, with ``signed=False``, an unsigned decimal(20,0)."""
    h = le_fixed_hex(col, n)
    return _signed(_COLUMNS, h, n) if signed else _unsigned(_COLUMNS, h)


def le_fixed_encode(col: Column, n: int) -> Column:
    """bigint → its low ``n`` bytes, little-endian."""
    low = F.substring(_hex(_COLUMNS, col), 17 - 2 * n, 2 * n)
    return F.unhex(_swap(_COLUMNS, low, n))


def be_double_decode(col: Column) -> Column:
    """binary(8) IEEE-754 big-endian → double, via bit arithmetic.

    Used by the decimal filter comparator (filter_comparator.h:141-142).
    Subnormals/NaN/Inf are not round-tripped (filters never carry them).
    """
    bits = be_i64_decode(col)
    sign = F.when(bits < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    # shiftright on negatives drags sign bits; mask via unsigned decimal trick
    ubits = F.when(
        bits < 0, bits.cast("decimal(20,0)") + F.lit(str(1 << 64)).cast("decimal(21,0)")
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
