"""Structured Streaming variant: file-source transcripts → parse →
route fan-out sink + watermarked hourly aggregates.

Maps the reference's streaming-shaped behaviors (SURVEY.md §2.10):
 * per-file head-of-line ordering / emit-up-to-min-event-time →
   ``withWatermark`` on the extracted timestamp
 * out-of-order tolerance (evtx BTreeMap re-sort,
   src/readers/evtxreader.rs:174-188) → late-data acceptance within
   the watermark delay
 * stage-3 streaming drop of printed data (bounded memory,
   src/readers/syslogprocessor.rs:151,327) → watermark-driven state
   eviction in the windowed aggregate
 * `is_last` end-of-stream flag (src/s4/s4.rs:4538) →
   Trigger.AvailableNow (drain what exists, then stop)

The parse + route + windowed-agg path here is fully incremental and
restartable from the checkpoint dir.  The ordered per-conversation
stages (uptime anchoring, sysline assembly) run as
``applyInPandasWithState`` per conv_id in ``streaming/stateful.py``;
year-rollover repair stays batch-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.parse import parse_stage

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_source(
    spark: SparkSession, in_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream of transcript parquet files (new files = new data;
    the Iceberg streaming read is the cluster-scale equivalent)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger or 8)
        .parquet(in_dir)
    )


def hourly_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window per-sink hourly counts — the
    streaming form of stats.hourly_histogram + sink routing."""
    parsed = parse_stage(stream)
    return (
        parsed.filter(F.col("ts_parsed").isNotNull())
        .withWatermark("ts_parsed", watermark)
        .groupBy(
            F.window("ts_parsed", "1 hour").alias("win"),
            F.col("sink"),
        )
        .agg(F.count("*").alias("rows"))
        .select(F.col("win.start").alias("hour"), "sink", "rows")
    )


def run_routed_available_now(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain the source and fan-out-write parsed rows partitioned by
    sink (append mode — row-level, no state).  Restart with the same
    checkpoint dir → only new files are processed (exactly-once file
    tracking via the stream checkpoint)."""
    q = (
        parse_stage(stream_source(spark, in_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_keys(stream: DataFrame, watermark: str = "3650 days") -> DataFrame:
    """Streaming exact dedup of redelivered lines: an at-least-once
    source (Kafka redelivery, file re-drop) collapses to exactly-once
    by text digest.  ``dropDuplicatesWithinWatermark`` keys state on
    the digest and EVICTS it once event time passes the watermark —
    bounded state at 10^12 turns, unlike ``dropDuplicates`` whose key
    store grows forever.  Output is (digest, text) only: every copy of
    a duplicate carries identical values there, so the result is
    arrival-order independent (the survivor's other columns would not
    be)."""
    return (
        stream.select("ts", F.md5(F.col("text")).alias("digest"), "text")
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
        .select("digest", "text")
    )


def run_dedup_to_memory(
    spark: SparkSession, in_dir: str, query_name: str
) -> None:
    """Drain the source through the streaming dedup into a memory
    sink (append mode — dedup emits each key's first arrival)."""
    q = (
        dedup_keys(stream_source(spark, in_dir))
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_hourly_to_memory(
    spark: SparkSession, in_dir: str, query_name: str
) -> None:
    """Windowed aggregate to an in-memory sink (complete mode) for
    tests/demo; on a cluster this is an Iceberg/Kafka sink in update
    mode."""
    q = (
        hourly_counts(stream_source(spark, in_dir))
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def hll_register_stream(stream: DataFrame, col: str = "text") -> DataFrame:
    """HLL registers maintained over a stream: the groupBy(bucket)
    max(rho) aggregate is streaming-legal (complete/update mode), so
    the 2^p-row register table stays current as micro-batches arrive
    — a running distinct-count sketch over an unbounded feed, with
    state bounded at 2^p rows regardless of stream volume.  Registers
    equal the batch sketch over everything ingested so far
    (max is order- and redelivery-insensitive)."""
    from ..operators.sketch import hll_registers

    return hll_registers(stream, col)


def run_hll_to_memory(
    spark: SparkSession,
    in_dir: str,
    query_name: str,
    col: str = "text",
) -> None:
    """Drain the register stream to an in-memory sink (complete
    mode); on a cluster this is an update-mode sink keyed on bucket."""
    q = (
        hll_register_stream(stream_source(spark, in_dir), col)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def cms_cell_stream(
    stream: DataFrame, col: str = "text", d: int = 4, w: int = 1024
) -> DataFrame:
    """Count-Min sketch cells maintained over a stream: the
    groupBy(j, cell) COUNT aggregate is streaming-legal in
    complete/update mode with state bounded at d*w rows regardless of
    stream volume — a running heavy-hitter sketch over an unbounded
    token feed.  Unlike the HLL registers (max — redelivery-proof),
    COUNT is additive, so this assumes an exactly-once source
    (redelivered files would double-count; dedup upstream with
    streaming_dedup's digest state if the source is at-least-once).
    Equals the batch cms_cells over everything ingested so far."""
    from ..operators.sketch import _h13

    tok = stream.select(
        F.explode(F.split(F.lower(F.col(col)), " ")).alias("token")
    )
    cj = tok.select(
        "token",
        F.explode(F.array(*[F.lit(j) for j in range(d)])).alias("j"),
    )
    cell = (
        _h13(
            F.concat(F.col("j").cast("string"), F.lit(":"), F.col("token"))
        )
        % w
    ).cast("int")
    return (
        cj.select("j", cell.alias("cell"))
        .groupBy("j", "cell")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def run_cms_to_memory(
    spark: SparkSession,
    in_dir: str,
    query_name: str,
    col: str = "text",
) -> None:
    """Drain the CMS cell stream to an in-memory sink (complete
    mode); on a cluster this is an update-mode sink keyed on
    (j, cell)."""
    q = (
        cms_cell_stream(stream_source(spark, in_dir), col)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
