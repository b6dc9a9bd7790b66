"""Parse stage: attach extracted datetime columns to rows, with no
repair or assembly.

One pandas UDF over (anchor year, text), so one ArrowEvalPython node
in the physical plan; everything before and after stays in
WholeStageCodegen.  Column pruning matters: the UDF reads only
``text`` (plus ``ts`` with ``anchor_from_ts``) — Catalyst prunes the
parquet scan accordingly.

Its callers need parsed rows without the conversation-ordered pass:
the streaming queries (``streaming/``, where a micro-batch does not
hold whole conversations) and ``q_logfile_merge``'s raw-parse
check.  The batch pipeline
(``pipeline.assembled``) and the log-file search
(``sources.logfiles.assembled_from_paths``) do not come here: they
parse inside the one mapInPandas that also repairs and assembles
(``operators.assemble.parse_assemble``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.datetime_parse import make_parse_udf

PARSE_COLS = ["ts_parsed", "pattern_id", "sink", "dt_beg", "dt_end", "uptime_us"]


def parse_stage(
    df: DataFrame, tz_offset_min: int = 0, anchor_from_ts: bool = False
) -> DataFrame:
    """transcripts → transcripts + (ts_parsed, pattern_id, sink,
    dt_beg, dt_end, uptime_us).

    Equivalent reference flow: SyslineReader::find_datetime_in_line →
    bytes_to_regex_to_datetime (syslinereader.rs:1733,
    datetime.rs:1892) executed per line; here one vectorized pass.

    Scatter: parse is row-independent, but the input is often
    partitioned by conv_id (upstream windows / table layout) and a
    hot conversation then makes one straggler task own ~20% of the
    rows.  Batch inputs are hash-scattered on their unique (conv_id,
    turn_idx) key (round-robin when the input has no such key) to the
    cluster's parallelism before the UDF, which removes the straggler
    — the Spark analogue of s4's one-huge-file thread imbalance, and
    the skew fixture's reason to exist.  Streaming inputs are not
    scattered: their micro-batches are already small and a
    repartition would add a per-batch shuffle.

    anchor_from_ts: seed each row's no-year formats from the year of
    its ``ts`` column (log-file sources' mtime stand-in,
    syslogprocessor.rs:628-734); otherwise every row uses
    ANCHOR_YEAR_DEFAULT.
    """
    if not df.isStreaming:
        sc = df.sparkSession.sparkContext
        n = sc.defaultParallelism
        if "conv_id" in df.columns and "turn_idx" in df.columns:
            # hash-scatter on the unique row key instead of round-robin:
            # identical balance (the key is unique, so hashpartitioning
            # spreads rows uniformly and splits hot conversations), but
            # deterministic under task retry WITHOUT the local
            # sort-before-repartition pass every keyless repartition(n)
            # pays (SPARK-23207: round-robin must sort its input so
            # retried map tasks reproduce the same row placement)
            df = df.repartition(n, F.xxhash64("conv_id", "turn_idx"))
        else:
            df = df.repartition(n)
    # the one parse UDF takes a per-row anchor year; null → the default
    anchor = F.year("ts") if anchor_from_ts else F.lit(None).cast("int")
    udf = make_parse_udf(tz_offset_min)
    parsed = df.withColumn("_p", udf(anchor, F.col("text")))
    return parsed.select("*", *[f"_p.{c}" for c in PARSE_COLS]).drop("_p")
