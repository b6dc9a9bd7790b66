"""End-to-end pipeline composition (SURVEY.md §3 lifecycle).

scan → conv_id exchange + sort → one Python pass per conversation
(parse, uptime/year repair, continuation assembly) → dt-filter →
merge (range-partitioned global sort) — the Spark expression of s4's
processing_loop (src/s4/s4.rs:5410), whose reader per file parses its
lines and assembles its syslines in one pass.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .functions.datetime_parse import RESULT_FIELDS
from .operators.assemble import parse_assemble
from .operators.merge import dt_filter, merge_ordered

_ASSEMBLY_FIELDS = "msg_turn_idx int, ts_eff timestamp, sink_eff string"
_ASSEMBLY_COLS = ["msg_turn_idx", "ts_eff", "sink_eff"]


def _whole_convs(
    batches: Iterator[pd.DataFrame], tz_offset_min: int = 0
) -> Iterator[pd.DataFrame]:
    """``parse_assemble`` over a partition sorted by (conv_id,
    turn_idx), one call per Arrow batch.  A conversation can straddle
    batches, so each batch's last conversation is held back and joined
    to the next batch; the partition's end flushes it.  Limit: one
    conversation must fit in one Python worker."""
    held = None
    for batch in batches:
        if held is not None:
            batch = pd.concat([held, batch], ignore_index=True)
        conv = batch["conv_id"].to_numpy(dtype=object)
        starts = np.flatnonzero(conv[1:] != conv[:-1]) + 1
        cut = starts[-1] if len(starts) else 0
        held = batch.iloc[cut:]
        if cut:
            yield parse_assemble(batch.iloc[:cut], tz_offset_min)
    if held is not None and len(held):
        yield parse_assemble(held, tz_offset_min)


def parse_repair(
    df: DataFrame, narrow: bool = False, tz_offset_min: int = 0
) -> DataFrame:
    """``assembled``'s pass without its three assembly columns."""
    return assembled(df, narrow, tz_offset_min).drop(*_ASSEMBLY_COLS)


def assembled(
    df: DataFrame, narrow: bool = False, tz_offset_min: int = 0
) -> DataFrame:
    """parse → repair → sysline assembly over a transcripts table:
    every input column, the parse columns with ts_parsed repaired, and
    the assembly columns, from a conv_id exchange → sort → one
    mapInPandas.  Whole conversations meet in one task, so a hot
    conversation is one task's work (the cost of no scatter).
    narrow=True drops the text payload, keeping its UTF-8 octet count
    as text_len (before the assembly columns) for the summary stats."""
    n = df.sparkSession.sparkContext.defaultParallelism
    schema = StructType(
        df.schema.fields
        + StructType.fromDDL(f"{RESULT_FIELDS}, {_ASSEMBLY_FIELDS}").fields
    )
    out = (
        df.repartition(n, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(
            functools.partial(_whole_convs, tz_offset_min=tz_offset_min),
            schema,
        )
    )
    if narrow:
        cols = [c for c in out.columns[:-3] if c != "text"]
        text_len = F.octet_length("text").cast("int").alias("text_len")
        out = out.select(*cols, text_len, *_ASSEMBLY_COLS)
    return out


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
    conv_id exchange and the Python pass a second time; staging the
    (already dt-filtered) output first trades one materialization for
    that full re-compute.  Measured on 5M turns at local[32]: persist
    7.8s vs a narrow-windows+join-back variant 24.3s (the sampling
    job does not reuse the join's shuffle files) vs no-persist
    11-17s.  At 10^12 rows the same role is played by the routed
    Iceberg sink staging table (route.write_routed) — sort from
    columnar storage, parse once.  ``staging`` (if given) receives
    the persisted frame so the caller can unpersist after its
    action."""
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
