"""Timestamp repair: uptime anchoring and no-year rollover.

Both are per-conversation ordered fixups the reference runs per file:

* uptime anchoring — dmesg-style ``[  1.234]`` has no absolute time;
  s4 anchors uptime-zero so the **last** entry equals the file mtime
  (src/readers/syslogprocessor.rs:740-810).  Our mtime analogue is
  the table's trusted event-time column ``ts``: anchor = max(ts of
  uptime rows in the conv) − max(uptime).  Pure window aggregates —
  no UDF needed.

* no-year rollover — ``Jan  1 …`` formats get the anchor year; a
  backwards time jump > 25 h while scanning means the year rolled
  over (BACKWARDS_TIME_JUMP_MEANS_NEW_YEAR,
  src/readers/syslogprocessor.rs:628-734, :213).  Window form: count
  boundaries after each row (total − running) and subtract that many
  years.

The batch pipeline and the log-file search run both fixups in numpy
(``operators.assemble.repair_assemble``); the window forms here are
the reference it is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..patterns import PATTERNS

ROLLOVER_HOURS = 25  # syslogprocessor.rs:213

# every bank family parsed with the anchor year (derived, not listed,
# so new noyear families are repaired automatically)
NOYEAR_PATTERN_IDS = tuple(p.pid for p in PATTERNS if p.noyear)
UPTIME_PATTERN_IDS = tuple(p.pid for p in PATTERNS if p.kind == "uptime")
# repair_assemble reads the ORIGINAL ts_parsed for both fixups
assert not set(UPTIME_PATTERN_IDS) & set(NOYEAR_PATTERN_IDS), (
    "one-pass repair requires uptime/noyear pattern sets disjoint"
)


def anchor_uptime(df: DataFrame) -> DataFrame:
    """Resolve uptime_us rows to absolute ts_parsed.

    Window aggregates over the conv partition; AQE handles the
    shuffle.  Rows without uptime pass through untouched.
    """
    w = Window.partitionBy("conv_id")
    has_up = F.col("uptime_us").isNotNull()
    anchor_us = F.max(
        F.when(has_up, F.unix_micros(F.col("ts")))
    ).over(w) - F.max("uptime_us").over(w)
    return df.withColumn(
        "ts_parsed",
        F.when(
            has_up, F.timestamp_micros(anchor_us + F.col("uptime_us"))
        ).otherwise(F.col("ts_parsed")),
    )


def repair_noyear_rollover(df: DataFrame) -> DataFrame:
    """Subtract k years where k = # of >25h-backwards jumps after the
    row among the conv's no-year rows (all such rows were parsed with
    the anchor year, so a backwards jump marks a year boundary)."""
    is_ny = F.col("pattern_id").isin(*NOYEAR_PATTERN_IDS)
    ny_ts = F.when(is_ny, F.col("ts_parsed"))
    w_ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.last(ny_ts, ignorenulls=True).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    boundary = F.when(
        is_ny
        & prev.isNotNull()
        & (
            F.col("ts_parsed")
            < prev - F.expr(f"INTERVAL {ROLLOVER_HOURS} HOURS")
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    dfb = df.withColumn("_b", boundary)
    w_conv = Window.partitionBy("conv_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    after = F.sum("_b").over(w_conv) - F.sum("_b").over(w_run)
    return (
        dfb.withColumn(
            "ts_parsed",
            F.when(
                is_ny & (after > 0),
                F.col("ts_parsed")
                - F.make_ym_interval(after.cast("int"), F.lit(0)),
            ).otherwise(F.col("ts_parsed")),
        ).drop("_b")
    )


def repair_stage(df: DataFrame) -> DataFrame:
    """Full repair in the window form, uptime anchoring then year
    rollover: the reference that tests pin
    ``operators.assemble.repair_assemble`` against."""
    return repair_noyear_rollover(anchor_uptime(df))
