"""Typed value filters with whole-row semantics.

Re-expresses the reference filter stack (SURVEY.md §2.2):
`ValueFilter` (include/tera/value_filter.h:37, semantics
src/sdk/value_filter.cc:63-130), typed comparators
(src/sdk/filter_comparator.cc — integers int8..uint64 native
little-endian fixed width, decimal = native double with 1e-10 epsilon
equality, binary = bytewise), and AND/OR filter lists
(src/sdk/filter_list_with_and.cc:48-60 — AND drops a row if ANY
sub-filter drops it; _or.cc:77-88 — OR drops only if ALL drop).

Row verdict semantics (ValueFilter::FilterRow):
  * qualifier specified → the NEWEST visible cell of (cf, qualifier)
    decides; missing column → drop iff filter_if_missing
    (value_filter.h:51-58).
  * qualifier empty ("legacy" mode) → every cell in the cf must
    match; any failing cell drops the row
    (FilterCellWithEmptyQualifier).
A dropped row is suppressed as a unit — all its cells vanish
(kNotIncludeCurAndLeftCellOfRow), which is why this layer aggregates
per row_key instead of filtering cells independently.

Everything compiles to window expressions over one hash-partition on
row_key — no Python UDFs, one shuffle regardless of filter-tree size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tera_spark.functions.codecs import (
    be_double_decode,
    le_fixed_decode,
    le_fixed_encode,
    le_fixed_hex,
)

_OPS = {"<", "<=", "==", "!=", ">=", ">"}

_INT_WIDTHS = {
    "int64": 8, "uint64": 8, "int32": 4, "uint32": 4,
    "int16": 2, "uint16": 2, "int8": 1, "uint8": 1,
}


def decode_typed(value: Column, value_type: str) -> Column:
    """Decode a comparator-encoded binary value to a comparable column.

    Integers are native little-endian fixed width (EncodeInteger,
    filter_comparator.cc:22-55); decimal is a native-endian double;
    binary stays raw (Spark compares binary bytewise unsigned, same
    as the reference's string compare). The byte swap and the sign
    rule are the codecs' (functions/codecs.py).
    """
    if value_type == "binary":
        return value
    if value_type == "decimal":
        return be_double_decode(F.unhex(le_fixed_hex(value, 8)))
    n = _INT_WIDTHS[value_type]
    return le_fixed_decode(value, n, signed=not value_type.startswith("u"))


def encode_typed_col(col: Column, value_type: str) -> Column:
    """Column-level comparator encoder (little-endian fixed width plus
    the reference's trailing NUL). Negative values rely on hex(long)
    rendering 64-bit two's complement; the low n bytes are the fixed-
    width encoding."""
    if value_type == "binary":
        return col.cast("binary")
    if value_type == "decimal":
        raise NotImplementedError("decimal column encode: use driver-side encode_typed")
    return F.concat(le_fixed_encode(col.cast("long"), _INT_WIDTHS[value_type]), F.lit(b"\x00"))


def encode_typed(v, value_type: str) -> bytes:
    """Driver-side encoder matching EncodeInteger/EncodeDecimal (the
    extra trailing NUL byte the reference's resize(+1) leaves is
    reproduced for fidelity; decode ignores it)."""
    import struct as _s

    if value_type == "binary":
        return v if isinstance(v, bytes) else str(v).encode()
    if value_type == "decimal":
        return _s.pack("<d", float(v)) + b"\x00"
    fmt = {"int64": "<q", "uint64": "<Q", "int32": "<i", "uint32": "<I",
           "int16": "<h", "uint16": "<H", "int8": "<b", "uint8": "<B"}[value_type]
    return _s.pack(fmt, v) + b"\x00"


def _cmp(lhs: Column, op: str, ref, value_type: str) -> Column:
    if value_type == "decimal":
        # DecimalComparator equality uses a 1e-10 epsilon band
        eps = 1e-10
        diff = lhs - F.lit(float(ref))
        eq = (diff > -eps) & (diff < eps)
        return {
            "==": eq, "!=": ~eq,
            "<": diff <= -eps, "<=": (diff <= -eps) | eq,
            ">": diff >= eps, ">=": (diff >= eps) | eq,
        }[op]
    rhs = F.lit(ref)
    if value_type.startswith("u"):
        rhs = F.lit(str(int(ref))).cast("decimal(20,0)")
    return {
        "<": lhs < rhs, "<=": lhs <= rhs, "==": lhs == rhs,
        "!=": lhs != rhs, ">=": lhs >= rhs, ">": lhs > rhs,
    }[op]


@dataclass
class ValueFilter:
    """ValueFilter(op, comparator) — include/tera/value_filter.h:37."""

    op: str
    cf: str
    qualifier: str          # "" → legacy every-cell-in-cf mode
    ref_value: object
    value_type: str = "int64"
    filter_if_missing: bool = False   # value_filter.h:51-58

    def __post_init__(self):
        assert self.op in _OPS, f"bad op {self.op}"

    def _drop_expr(self, w) -> Column:
        decoded = decode_typed(F.col("value"), self.value_type)
        pred = _cmp(decoded, self.op, self.ref_value, self.value_type)
        if self.qualifier == "":
            in_col = F.col("cf") == self.cf
            exists = F.coalesce(F.max(F.when(in_col, 1)).over(w) == 1, F.lit(False))
            any_fail = F.coalesce(F.max(F.when(in_col & ~pred, 1)).over(w) == 1, F.lit(False))
            return F.when(exists, any_fail).otherwise(F.lit(self.filter_if_missing))
        in_col = (F.col("cf") == self.cf) & (F.col("qualifier") == self.qualifier)
        # newest visible version decides: max over (ts, pred) structs
        newest = F.max(F.when(in_col, F.struct(F.col("ts"), pred.alias("p")))).over(w)
        return F.when(newest.isNull(), F.lit(self.filter_if_missing)).otherwise(~newest["p"])


@dataclass
class FilterList:
    """Boolean tree node (include/tera/filter_list.h:33-48)."""

    mode: str                 # "and" | "or"
    filters: list

    def _drop_expr(self, w) -> Column:
        exprs = [f._drop_expr(w) for f in self.filters]
        out = exprs[0]
        for e in exprs[1:]:
            out = (out | e) if self.mode == "and" else (out & e)
        return out


def apply_row_filter(visible: DataFrame, flt) -> DataFrame:
    """Emit all cells of rows the filter keeps (whole-row semantics)."""
    w = Window.partitionBy("row_key")
    return visible.withColumn("_drop", flt._drop_expr(w)).filter(~F.col("_drop")).drop("_drop")


def matching_row_keys(visible: DataFrame, flt) -> DataFrame:
    """Just the row keys that pass — the building block for index scans."""
    return apply_row_filter(visible, flt).select("row_key").distinct()
