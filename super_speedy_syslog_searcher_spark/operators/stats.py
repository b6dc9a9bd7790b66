"""Summary aggregates — s4's --summary surface as groupBy aggregates.

Reference: per-file SummarySyslineReader (syslines, longest line,
per-pattern counts, dt_first/dt_last, out-of-order count,
src/readers/syslinereader.rs:845-916), global SummaryPrinted
(src/printer/summary.rs:163-189), evtx out-of-order tally
(src/readers/evtxreader.rs:238,462).

All are built-in partial+final hash aggregates — map-side combine
makes them shuffle only one row per (group × column), which is why
they hold at 10^12 input rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pattern_counts(parsed: DataFrame) -> DataFrame:
    """lines-per-pattern (syslinereader.rs:136 dt_patterns counters)."""
    return (
        parsed.filter(F.col("pattern_id").isNotNull())
        .groupBy(F.col("pattern_id").cast("int").alias("pattern_id"))
        .agg(F.count("*").alias("rows"))
    )


def sink_counts(assembled: DataFrame, sink_col: str = "sink_eff") -> DataFrame:
    """per-sink routed-row counts (printer fan-out tallies)."""
    return assembled.groupBy(F.col(sink_col).alias("sink")).agg(
        F.count("*").alias("rows")
    )


def hourly_histogram(df: DataFrame, ts_col: str = "ts_eff") -> DataFrame:
    """per-hour message histogram — tumbling-window analogue of the
    dt_first/dt_last span stats."""
    return (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.date_trunc("hour", F.col(ts_col)).alias("hour"))
        .agg(F.count("*").alias("rows"))
    )


def conv_dominant_pattern(parsed: DataFrame) -> DataFrame:
    """Per-conversation dominant datetime pattern — s4's blockzero
    pattern analysis (dt_patterns_analysis, syslinereader.rs:2090-2172):
    count matches per pattern, keep the argmax, ties broken by the
    earlier bank index (DT_PATTERN_MAX = 1, :920).

    Two built-in aggregations + a window argmax; at 10^12 rows the
    groupBy is partial+final so only (convs x patterns) rows shuffle.
    The result is the per-group "learned schema" (schema-on-read
    inference, SURVEY.md §1.3)."""
    counts = (
        parsed.filter(F.col("pattern_id").isNotNull())
        .groupBy("conv_id", F.col("pattern_id").cast("int").alias("pattern_id"))
        .agg(F.count("*").alias("matches"))
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.col("matches").desc(), F.col("pattern_id")
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "conv_id",
            F.col("pattern_id").alias("dominant_pattern_id"),
            F.col("matches").cast("bigint").alias("matches"),
        )
    )


def conv_summary(parsed: DataFrame) -> DataFrame:
    """Per-conversation summary = s4's per-file Summary struct:
    syslines (dt-bearing turns), total turns, longest line,
    dt_first/dt_last, out-of-order count (ts_parsed < previous
    ts_parsed in turn order — evtxreader.rs:174-238 semantics)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev_ts = F.last(
        F.when(F.col("ts_parsed").isNotNull(), F.col("ts_parsed")),
        ignorenulls=True,
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    ooo = F.when(
        F.col("ts_parsed").isNotNull()
        & prev_ts.isNotNull()
        & (F.col("ts_parsed") < prev_ts),
        F.lit(1),
    ).otherwise(F.lit(0))
    length_expr = (
        F.col("text_len")
        if "text_len" in parsed.columns
        else F.octet_length("text")
    )
    return (
        parsed.withColumn("_ooo", ooo)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("turns"),
            F.count("ts_parsed").alias("syslines"),
            F.max(length_expr).cast("int").alias("longest_line"),
            F.min("ts_parsed").alias("dt_first"),
            F.max("ts_parsed").alias("dt_last"),
            F.sum("_ooo").alias("out_of_order"),
        )
    )


def global_summary(assembled: DataFrame) -> DataFrame:
    """SummaryPrinted analogue: one-row global totals."""
    length_expr = (
        F.col("text_len")
        if "text_len" in assembled.columns
        else F.octet_length("text")
    )
    return assembled.agg(
        F.count("*").alias("rows_total"),
        F.count("ts_parsed").alias("syslines_total"),
        F.sum(length_expr).alias("bytes_texts"),
        F.min("ts_eff").alias("dt_first"),
        F.max("ts_eff").alias("dt_last"),
        F.countDistinct("conv_id").alias("convs"),
    )


def rate_anomalies(
    assembled: DataFrame,
    ts_col: str = "ts_eff",
    sink_col: str = "sink_eff",
    thresh_permille: int = 3000,
) -> DataFrame:
    """Per-sink hourly rate anomalies — the alerting aggregate a log
    pipeline runs on its own routed output: an (sink, hour) cell is
    anomalous when its row count exceeds thresh_permille/1000 × that
    sink's MEDIAN hourly count.  The median is the exact order
    statistic (value at rank ceil(n/2) of the sink's hour-count list)
    and the threshold test is integer cross-multiplication
    (1000·rows > thresh·median) — no float percentile or division to
    diverge between engines.

    Scale shape: the corpus is touched by ONE map-side-combined
    groupBy(sink, hour); the median rank window and the flag run on
    the (sinks × hours)-sized count table.  Output one row per
    (sink, hour) with the flag, so downstream alert routing is a
    filter."""
    hh = (
        assembled.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.col(sink_col).alias("sink"),
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        )
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    wr = Window.partitionBy("sink").orderBy("n_rows", "hour")
    wn = Window.partitionBy("sink")
    med = (
        hh.withColumn("_rn", F.row_number().over(wr))
        .withColumn("_n", F.count("*").over(wn))
        .withColumn(
            "_med",
            F.when(
                F.col("_rn") == F.expr("CAST((_n + 1) DIV 2 AS INT)"),
                F.col("n_rows"),
            ),
        )
        .withColumn("median_rows", F.max("_med").over(wn))
    )
    return med.select(
        "sink",
        "hour",
        "n_rows",
        F.col("median_rows").cast("bigint").alias("median_rows"),
        (
            F.col("n_rows") * 1000
            > F.lit(thresh_permille) * F.col("median_rows")
        ).alias("is_anomaly"),
    )


def repeat_collapse(turns: DataFrame) -> DataFrame:
    """Syslog "last message repeated N times" collapse: consecutive
    runs of IDENTICAL text within a conversation fold into one row
    with the run's first/last turn and repeat count — classic
    rsyslog/syslogd duplicate suppression (the reference prints such
    lines verbatim; a pipeline ingesting them wants them collapsed).

    Gaps-and-islands in two same-partitioned windows: island key =
    rn_overall − rn_per_text (both windows share the conv_id
    Exchange), then one map-side-combined groupBy per island — no
    self-join, holds at 10^12 turns.

    Output: (conv_id, first_turn, last_turn, n_repeats, text)."""
    wo = Window.partitionBy("conv_id").orderBy("turn_idx")
    wt = Window.partitionBy("conv_id", "text").orderBy("turn_idx")
    t = turns.select(
        "conv_id",
        "turn_idx",
        "text",
        (F.row_number().over(wo) - F.row_number().over(wt)).alias("_g"),
    )
    return t.groupBy("conv_id", "text", "_g").agg(
        F.min("turn_idx").cast("int").alias("first_turn"),
        F.max("turn_idx").cast("int").alias("last_turn"),
        F.count("*").cast("bigint").alias("n_repeats"),
    ).select("conv_id", "first_turn", "last_turn", "n_repeats", "text")


def log_templates(turns: DataFrame, topn: int = 50) -> DataFrame:
    """Log-template mining (Drain-lite): mask every digit run in the
    line to '<n>' and tally the resulting templates — the
    template-extraction step of log-analytics pipelines (error
    clustering, novelty detection), which s4's fixed DTPD bank does
    for timestamps only, generalized here to the whole line.

    One narrow regexp projection + one map-side-combined groupBy on
    the template; the top-n is a TakeOrderedAndProject (per-partition
    heaps), never a global sort.  Output: (template, n_lines,
    example) with deterministic ordering/tie-breaks (n_lines desc,
    template asc; example = lexicographic min of the raw lines)."""
    t = turns.select(
        F.regexp_replace(F.col("text"), "[0-9]+", "<n>").alias(
            "template"
        ),
        "text",
    )
    return (
        t.groupBy("template")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.min("text").alias("example"),
        )
        .orderBy(F.col("n_lines").desc(), "template")
        .limit(topn)
    )
