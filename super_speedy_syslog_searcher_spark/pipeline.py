"""End-to-end pipeline composition (SURVEY.md §3 lifecycle).

scan → parse (pandas-UDF bank) → repair (uptime/year) → assemble
(continuation attach) → dt-filter → merge (range-partitioned global
sort) — the Spark expression of s4's processing_loop
(src/s4/s4.rs:5410).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.assemble import assemble_stage
from .operators.merge import dt_filter, merge_ordered
from .operators.parse import parse_stage
from .operators.repair import repair_stage


def parse_repair(
    df: DataFrame, narrow: bool = False, tz_offset_min: int = 0
) -> DataFrame:
    """narrow=True drops the text payload right after the parse UDF
    (keeping text_len for the summary stats) so the window/shuffle
    stages move ~30% of the bytes; full_merge joins text back by the
    (conv_id, turn_idx) key just before the final ordered output."""
    p = parse_stage(df, tz_offset_min=tz_offset_min)
    if narrow:
        p = p.withColumn("text_len", F.octet_length("text").cast("int")).drop(
            "text"
        )
    return repair_stage(p)


def assembled(
    df: DataFrame, narrow: bool = False, tz_offset_min: int = 0
) -> DataFrame:
    """parse → repair → sysline assembly over a transcripts table."""
    return assemble_stage(parse_repair(df, narrow, tz_offset_min))


def full_merge(
    df: DataFrame,
    after: str | None = None,
    before: str | None = None,
    staging: list | None = None,
    tz_offset_min: int = 0,
) -> DataFrame:
    """Assembled rows in the -a/-b window, globally ordered.

    The filtered rows are persisted before the sort: a global sort
    range-partitions by sampling its child, which would re-run the
    parse UDF and window stages a second time; staging the (already
    dt-filtered) output first trades one materialization for that
    full re-compute.  Measured on 5M turns at local[32]: persist 7.8s
    vs a narrow-windows+join-back variant 24.3s (the sampling job does
    not reuse the join's shuffle files) vs no-persist 11-17s.  At
    10^12 rows the same role is played by the routed Iceberg sink
    staging table (route.write_routed) — sort from columnar storage,
    parse once.  ``staging`` (if given) receives the persisted frame
    so the caller can unpersist after its action."""
    # prune parse internals (ts_parsed, dt spans, uptime, sink)
    # before the persist + range shuffle: the merge output schema
    # needs only the transcript columns + assembly results, and the
    # dropped ~30% of bytes would otherwise ride through the cache
    # AND the sort exchange
    out = assembled(df, tz_offset_min=tz_offset_min).select(
        "conv_id", "turn_idx", "role", "tool", "text", "ts",
        "ts_eff", "sink_eff", "msg_turn_idx",
    )
    out = dt_filter(out, after, before).persist(StorageLevel.MEMORY_AND_DISK)
    if staging is not None:
        staging.append(out)  # caller unpersists after its action
    # a table-sized sort on every core (merge_ordered's one-partition
    # default is the drained search's)
    return merge_ordered(out, out.sparkSession.sparkContext.defaultParallelism)
