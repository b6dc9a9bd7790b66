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
# repair_stage reads the ORIGINAL ts_parsed for both fixups
assert not set(UPTIME_PATTERN_IDS) & set(NOYEAR_PATTERN_IDS), (
    "fused repair requires uptime/noyear pattern sets disjoint"
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


def repair_stage(df: DataFrame) -> DataFrame:
    """Full repair, uptime anchoring then year rollover, in one
    exchange: identical output to the chained reference expression
    ``repair_noyear_rollover(anchor_uptime(df))`` (tests/test_repair.py
    pins the equivalence).  The two fixups act on DISJOINT row sets —
    uptime pattern ids are never in the noyear set, asserted at import
    — so each window family can read the ORIGINAL ts_parsed and both
    fixups compose in one final CASE.

    Plan win vs the chained form (guide §2.4: two operations keyed
    the same way share one exchange; fewer Window nodes = fewer
    full-group buffer passes of the wide rows):

    * the uptime anchor maxes move from an UNORDERED conv window
      (which forced its own conv_id-only Sort + Window node) into the
      ordered (conv_id, turn_idx) spec with an unbounded frame — same
      values, but now they share one Window NODE with the rollover's
      running ``prev`` frame, and the conv_id-only Sort disappears;
    * boundaries-after-row stays ``whole-group sum − running sum``
      (each an O(n)-per-group frame: UnboundedWindowFunctionFrame
      computes once per group, the running frame streams), but both
      sums now share ONE ordered-spec Window node.  A tail frame
      ``sum over (1, unboundedFollowing)`` would be one frame instead
      of two — but Spark's UnboundedFollowingWindowFunctionFrame
      re-aggregates from scratch per row, O(n²) on the hot conv group
      (measured 6x END-TO-END slowdown at 5M turns; rejected).

    Physical shape: Exchange(conv_id) → Sort(conv_id, turn_idx) →
    Window[anchor maxes + prev] → Window[group-sum + running-sum] →
    Project, i.e. 2 Window nodes + 1 Sort where the chained form
    needed 4 Window nodes + 2 Sorts
    (plans/r06/parse_only_{before,after}.txt).
    """
    w_ord = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_full = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    has_up = F.col("uptime_us").isNotNull()
    is_ny = F.col("pattern_id").isin(*NOYEAR_PATTERN_IDS)
    ny_ts = F.when(is_ny, F.col("ts_parsed"))
    anchor_us = F.max(
        F.when(has_up, F.unix_micros(F.col("ts")))
    ).over(w_full) - F.max("uptime_us").over(w_full)
    # one select, not chained withColumns: the analyzer extracts
    # window expressions per Project, so chaining would split these
    # same-spec frames into two Window nodes (two buffer passes)
    d1 = df.select(
        "*",
        anchor_us.alias("_anchor_us"),
        F.last(ny_ts, ignorenulls=True).over(w_prev).alias("_prev_ny"),
    )
    boundary = F.when(
        is_ny
        & F.col("_prev_ny").isNotNull()
        & (
            F.col("ts_parsed")
            < F.col("_prev_ny")
            - F.expr(f"INTERVAL {ROLLOVER_HOURS} HOURS")
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    d2 = d1.withColumn("_b", boundary).select(
        "*",
        (
            F.sum("_b").over(w_full) - F.sum("_b").over(w_run)
        ).alias("_after"),
    )
    fixed = (
        F.when(
            has_up,
            F.timestamp_micros(F.col("_anchor_us") + F.col("uptime_us")),
        )
        .when(
            is_ny & (F.col("_after") > 0),
            F.col("ts_parsed")
            - F.make_ym_interval(F.col("_after").cast("int"), F.lit(0)),
        )
        .otherwise(F.col("ts_parsed"))
    )
    return d2.withColumn("ts_parsed", fixed).drop(
        "_anchor_us", "_prev_ny", "_b", "_after"
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

