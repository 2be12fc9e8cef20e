"""Physical data layout: the z-order (Morton) sort key.

Sorting a parquet layout by ``zorder_key`` clusters rows on two columns at
once, so zone-map (row-group min/max) pruning serves predicates on either
column. ``sql_zorder_key`` is the DuckDB mirror the oracle uses.
"""

from __future__ import annotations

#: Bits per dimension in the z-order key (20-bit key total).
ZORDER_BITS = 10


def zorder_key(a, b, bits: int = ZORDER_BITS):
    """Morton/z-order interleave of two integer columns (low ``bits`` bits
    each): bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1.

    Sorting a file layout by this key clusters rows so that BOTH dimensions
    have narrow min/max ranges inside every row group — parquet zone-map
    pruning then works for predicates on either column, where a plain sort
    only serves its leading column. Pure integer arithmetic (shift, mask,
    scale, sum), identical on any engine.
    """
    from pyspark.sql import functions as F

    terms = []
    for i in range(bits):
        terms.append((F.shiftright(a, i) % 2) * F.lit(1 << (2 * i)))
        terms.append((F.shiftright(b, i) % 2) * F.lit(1 << (2 * i + 1)))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def sql_zorder_key(a: str, b: str, bits: int = ZORDER_BITS) -> str:
    """DuckDB mirror of ``zorder_key`` (same shift/mask/scale arithmetic)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({a}) // {1 << i} % 2) * {1 << (2 * i)}")
        terms.append(f"(({b}) // {1 << i} % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"
