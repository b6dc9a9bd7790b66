"""Table layout keys: the Z-order (Morton) clustering key behind
Delta/Iceberg ``OPTIMIZE ZORDER BY``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_key(
    df: DataFrame,
    xcol,
    ycol,
    bits: int = 16,
    n_buckets: int = 64,
) -> DataFrame:
    """Z-order (Morton) interleave of two non-negative integer
    dimension columns — the multi-dimensional clustering key behind
    Delta/Iceberg `OPTIMIZE ZORDER BY`: sorting/bucketing by zkey
    co-locates rows that are close in BOTH dimensions, so parquet
    min/max zone maps prune scans filtered on either one.  Pure
    integer bit math (shifts/masks summed per bit), identical in any
    engine; an aligned power-of-two rectangle in (x, y) maps to a
    contiguous zkey range (tested), which is exactly the pruning
    guarantee.

    Adds: zkey (2·bits-wide Morton code), zbucket (top log2(n_buckets)
    bits — the write-partition / file assignment).

    Scale: a narrow map — zero shuffle to compute; the one shuffle a
    layout rewrite pays is repartitionByRange(zkey) at write time."""
    x = F.col(xcol) if isinstance(xcol, str) else xcol
    y = F.col(ycol) if isinstance(ycol, str) else ycol
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(x.cast("long"), i) % 2, 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(y.cast("long"), i) % 2, 2 * i + 1)
        )
    zkey = terms[0]
    for t in terms[1:]:
        zkey = zkey + t
    shift = 2 * bits - max(1, n_buckets.bit_length() - 1)
    return df.withColumn("zkey", zkey.cast("bigint")).withColumn(
        "zbucket",
        F.shiftright(F.col("zkey"), shift).cast("int"),
    )
