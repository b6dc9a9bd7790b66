"""The global datetime-ordered merge — the reference's core product.

s4 runs one thread per file and k-way-merges head messages by
datetime, ties broken by CLI path order (src/s4/s4.rs:5410,
6384-6398).  The Spark-native equivalent is a **range-partitioned
sort**: repartitionByRange on the total-order key distributes ordered
key ranges across partitions (the shuffle), sortWithinPartitions
finishes each range locally — no single-node bottleneck, which is
what makes this hold at 10^12 rows where a thread-per-file merge
cannot.  That parallel sort is the table path's (``pipeline.full_merge``
passes the cluster's parallelism).  A log-file search is drained row
by row (toLocalIterator), so ``merge_ordered`` defaults to one
partition, s4's single merge thread, and skips the range sampling job
that would re-run the search's decoder.

Total order: (ts_eff, conv_id, turn_idx) — the deterministic analogue
of s4's (datetime, PathId, fileoffset).

Skew handling (north_rule's "salted repartition with explicit skew
handling for hot conv_ids"): the total-order key is **unique per row**
(turn_idx is unique within (conv, ts)), so repartitionByRange already
splits a hot (ts, conv_id) run across partitions along turn_idx range
boundaries — the range partitioner *is* the salt.  An extra salt
column appended after a unique key is a no-op (nothing left to split),
and one prepended before the key would scatter equal-ts rows out of
order; round 1 shipped the no-op variant and round 2 deleted it.
tests/test_merge.py::test_hot_key_splits_across_partitions proves the
pathological case (one conv, one ts, 10^6 rows) balances.

The global sequence number is one lineage: persist the range-sorted
result, then seq = broadcast per-partition offset + position inside
the physical partition (monotonically_increasing_id encodes it) — no
second sort, no window shuffle, and the count job and the output job
provably read the same physical partitioning (range boundaries come
from per-execution reservoir sampling, so *without* the persist two
executions could disagree and silently duplicate/skip seq values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORDER_KEYS = ["ts_eff", "conv_id", "turn_idx"]

# monotonically_increasing_id() = (partition_id << 33) | row_pos
_MID_POS_MASK = (1 << 33) - 1


def dt_filter(
    df: DataFrame,
    after: str | None = None,
    before: str | None = None,
    ts_col: str = "ts_eff",
) -> DataFrame:
    """-a/-b datetime window (src/data/datetime.rs:2049,2095).

    On a ts-partitioned Iceberg/parquet table this predicate prunes
    partitions and row-groups before any parse work; null ts (rows
    before a conv's first anchor) never pass, matching s4 dropping
    data before the first sysline.
    """
    if after is not None:
        df = df.filter(F.col(ts_col) >= F.lit(after).cast("timestamp"))
    if before is not None:
        df = df.filter(F.col(ts_col) <= F.lit(before).cast("timestamp"))
    return df


def merge_ordered(df: DataFrame, num_partitions: int = 1) -> DataFrame:
    """Globally (ts_eff, conv_id, turn_idx)-ordered rows.

    One partition by default: s4's single merge thread.  A search is
    drained one row at a time (toLocalIterator), so a parallel sort
    buys it nothing, while a range exchange over n > 1 partitions first
    runs a sampling job over its child to pick the range bounds —
    which re-runs everything upstream of an unpersisted child.  A
    one-partition exchange needs no bounds, so no sampling job.

    ``pipeline.full_merge`` and ``with_global_seq`` sort table-sized
    input on every core and pass the cluster's parallelism;
    full_merge persists its input first, so its sampling job reads
    the cache.  Range-partitioning on the full (unique) key handles
    hot-key skew by construction: equal-(ts, conv) runs split across
    partitions on turn_idx boundaries (see module docstring).
    """
    keys = [F.col(k) for k in ORDER_KEYS]
    return df.repartitionByRange(num_partitions, *keys).sortWithinPartitions(*keys)


def with_global_seq(
    df: DataFrame,
    seq_col: str = "msg_seq",
    ordered: bool = False,
    staging: list | None = None,
) -> DataFrame:
    """Attach a 1-based global sequence number in total order.

    Single-lineage two-phase pattern: persist the range-sorted frame
    (pins the physical partitioning shared by both jobs), collect
    one row-count per partition (metadata-sized driver traffic), then
    seq = broadcast partition offset + row position within the cached
    partition.  Position comes from monotonically_increasing_id(),
    whose contract is (partition_id << 33) | row_pos — rows are
    already sorted within each cached partition, so positions follow
    the total order.  No second sort, no window shuffle.

    ordered=True skips the sort when df is already merge_ordered
    output.  staging (if given) receives the persisted DataFrame so
    the caller can unpersist after its terminal action.

    Limit: 2^33 rows per partition (8.6 G) — size num_partitions so a
    partition holds far less, which memory demands anyway.
    """
    from pyspark import StorageLevel

    if not ordered:
        df = merge_ordered(df, df.sparkSession.sparkContext.defaultParallelism)
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    if staging is not None:
        staging.append(out)
    with_pos = out.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_pos", F.monotonically_increasing_id().bitwiseAND(F.lit(_MID_POS_MASK))
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pos.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = []
    acc = 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    return (
        with_pos.join(F.broadcast(off_df), "_pid", "left")
        .withColumn(seq_col, F.col("_pos") + F.coalesce(F.col("_off"), F.lit(0)) + 1)
        .drop("_pid", "_pos", "_off")
    )
