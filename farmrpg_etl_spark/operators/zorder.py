"""Z-order (Morton) clustering — multi-column data-skipping layout.

A single sort column gives tight parquet row-group min/max stats on
that column only; a predicate on any OTHER column intersects every
file. Interleaving the bits of two columns into one Morton key and
sorting by it bounds BOTH columns per file (each file covers a small
rectangle of the 2-D key space), so conjunctive or single-column range
predicates on either dimension skip most files — the standard
Delta/Iceberg `OPTIMIZE ZORDER BY` layout. The key is pure Catalyst
bit arithmetic: 2·bits OR/shift terms, whole-stage codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["zvalue"]


def zvalue(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton interleave of two non-negative integer columns clamped
    to ``bits`` bits: bit i of ``a`` lands at position 2i, bit i of
    ``b`` at 2i+1. Callers normalize each dimension into
    [0, 2^bits) first (quantile- or min/max-scaling)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(a.cast("long"), i) % 2, 2 * i))
        z = z.bitwiseOR(F.shiftleft(F.shiftright(b.cast("long"), i) % 2, 2 * i + 1))
    return z

