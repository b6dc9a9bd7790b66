"""Sink routing + fan-out writes.

The reference routes each file to a printer by FileType
(src/readers/filepreprocessor.rs:1188 path_to_filetype;
src/printer/printers.rs fan-out).  Here routing is a column (the
matched pattern's sink key) and fan-out is a single partitioned
write — one job, per-sink directories, no per-sink scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_routed(
    assembled: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Fan-out sink write: one partitioned parquet dataset,
    sink=<key>/ subdirectories.  On Iceberg this is writeTo(...)
    .partitionedBy("sink"); dynamic partition overwrite keeps
    re-runs idempotent (checkpoint.py resume path).
    """
    (
        assembled.write.mode(mode)
        .partitionBy("sink_eff")
        .parquet(path)
    )


def write_routed_iceberg(assembled: DataFrame, table: str) -> None:
    """Iceberg fan-out sink: the DataFrameWriterV2 path the cluster
    deployment uses (SURVEY §1.4) — createOrReplace on first write,
    dynamic partition overwrite (``overwritePartitions``, dynamic by
    definition, so no session conf is touched) on re-runs keeps
    checkpoint resume idempotent.  Without an Iceberg catalog this
    raises the underlying catalog error; the code path is the real one
    and runs unchanged once `spark.sql.catalog.<name>` is configured
    (tests/test_checkpoint.py asserts the clean failure mode).
    """
    spark = assembled.sparkSession
    writer = assembled.writeTo(table).partitionedBy(F.col("sink_eff"))
    if spark.catalog.tableExists(table):
        writer.overwritePartitions()
    else:
        writer.createOrReplace()
