"""SparkSession factory + per-query session hygiene.

Local-mode defaults fit the host: one JVM with one task thread and
one shuffle partition per CPU this process may run on
(``$SPARK_GRAFT_CPUS`` overrides the count); on a real cluster the
same code runs unchanged — only master/memory change.  All timestamp
semantics are pinned to UTC so results are engine-portable (DuckDB
oracle timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# runtime confs every pipeline session needs, applied by both get_spark
# and prep so the CLI's session and a driver's session agree
RUNTIME_CONF = {
    # timestamps interpreted in UTC, as the DuckDB oracle's are
    "spark.sql.session.timeZone": "UTC",
    # the parse and decode passes are Arrow-batched pandas functions
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 256k-row Arrow batches (was 128k, round 6): the parse's
    # per-batch sub-linear cost (mask pass, 58 masked extract calls,
    # frame construction) amortizes best when a whole task partition
    # is ONE batch — at 5M turns / 32 tasks each task holds 156k rows,
    # which the 128k cap split into a 131k + a 25k batch (measured
    # 0.93 s + 0.24 s vs 1.00 s unsplit = −14% UDF compute; kernel
    # µs/row keeps falling through 200k).  Memory per batch stays
    # tiny for this corpus (~60 B/row text)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "262144",
    "spark.sql.adaptive.enabled": "true",
}


def get_spark(
    master: str | None = None,
    app_name: str = "s4spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with pipeline defaults.

    AQE is on (runtime coalesce + skew-split), Arrow is on (all our
    UDFs are pandas/Arrow-vectorized), session tz is UTC.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("S4SPARK_DRIVER_MEM", "64g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
    )
    for k, v in {**RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Pin runtime-mutable confs on a session we did not create.

    The correctness driver hands us its own SparkSession; timestamps
    must be interpreted in UTC to agree with the DuckDB oracle, and
    Arrow must be on for the pandas parse passes.
    """
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)
    return spark
