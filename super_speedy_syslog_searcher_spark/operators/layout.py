"""Conv-bucketed table layout: the parse-at-ingest / window-on-read
split that makes the whole repair+assembly stage shuffle-free.

The reference re-reads and re-parses files every run; at 100 TB the
Spark-first shape is to run the (Python) parse UDF ONCE at ingestion
and store its output in a table bucketed AND sorted by conversation —
the Iceberg `bucket(conv_id)` layout the checkpoint module's manifest
mirrors.  Every downstream per-conversation window (year-rollover
repair, uptime anchoring, sysline assembly, conv summaries) then
reuses the storage partitioning: Catalyst sees the bucketed scan's
hash distribution and plans ZERO Exchange for the entire stage
(asserted in tests/test_round3_ops.py).

Two facts shape this module (measured, Spark 4):
 * a Window over a bucketed scan needs no shuffle when bucket count
   == spark.sql.shuffle.partitions and the key matches;
 * partitioning does NOT survive *through* a Python eval node — which
   is exactly why the parse belongs on the write side of the table
   boundary, not the read side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .assemble import assemble_stage
from .parse import parse_stage
from .repair import repair_stage


def write_parsed_bucketed(
    df: DataFrame, table: str, n_buckets: int = 32
) -> None:
    """Parse-at-ingest: run the pattern-bank UDF once and store the
    result bucketed+sorted by conversation.  n_buckets should equal
    spark.sql.shuffle.partitions (or a divisor the session sets) so
    reads line up with window requirements shuffle-free."""
    parsed = parse_stage(df)
    (
        parsed.write.mode("overwrite")
        .bucketBy(n_buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .saveAsTable(table)
    )


def assembled_from_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Window-on-read: repair + assembly over the bucketed parsed
    table — zero Exchange in the physical plan (the bucketed scan
    satisfies every conv-keyed window's distribution requirement)."""
    return assemble_stage(repair_stage(spark.table(table)))


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
