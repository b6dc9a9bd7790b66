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

A streaming job is a transform over a source (``stream_source``, or
``sources.logfiles.read_binary_stream`` for binary log files) handed
to one of two drains: ``drain_to_parquet`` (append, restartable from
its checkpoint dir — a restart processes only new files) or
``drain_to_memory`` (an in-memory table; ``mode`` is 'append' for
row-level transforms, 'complete' for the aggregates).  Both run the
query with Trigger.AvailableNow and return once it has stopped.  The
ordered per-conversation stages (uptime anchoring, sysline assembly)
run as ``applyInPandasWithState`` per conv_id in
``streaming/stateful.py``; year-rollover repair stays batch-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..operators.parse import parse_stage

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_source(
    spark: SparkSession,
    in_dir: str,
    max_files_per_trigger: int | None = None,
    schema: str = TRANSCRIPT_SCHEMA,
) -> DataFrame:
    """File-stream of parquet files with ``schema`` (new files = new
    data; the Iceberg streaming read is the cluster-scale
    equivalent)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger or 8)
        .parquet(in_dir)
    )


def drain(writer: DataStreamWriter) -> None:
    """Start ``writer`` with Trigger.AvailableNow and wait until the
    query stops: it processes every file present at start, commits
    its checkpoint, and ends.  The ``finally`` also stops it when the
    wait is interrupted, so no query outlives the call."""
    query = writer.trigger(availableNow=True).start()
    try:
        query.awaitTermination()
    finally:
        query.stop()


def drain_to_parquet(stream: DataFrame, path: str, checkpoint: str) -> None:
    """Append ``stream`` to parquet under ``path``.  A restart with the
    same checkpoint dir processes only files that arrived since
    (exactly-once file tracking via the stream checkpoint)."""
    drain(
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )


def drain_to_memory(stream: DataFrame, name: str, mode: str) -> None:
    """Drain ``stream`` into the in-memory table ``name`` in output
    ``mode`` — for tests and the driver queries; on a cluster the
    aggregates go to an Iceberg/Kafka sink in update mode."""
    drain(stream.writeStream.format("memory").queryName(name).outputMode(mode))


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
    ``dedup_keys`` if the source is at-least-once).
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
