"""spark-submit entry point (north_rule: ``spark-submit --py-files``
on a multi-executor cluster).

The package ships to executors as a ``--py-files`` zip; this driver
script imports it from that zip (NOT from a checkout — the test runs
with a scratch CWD to prove it), runs the flagship dt-filtered
ordered merge, and prints one JSON line with row count + wall time.

    tools/build_pyfiles.py                         # -> dist/s4spark.zip
    spark-submit --master local[8] \\
        --py-files dist/s4spark.zip tools/submit_job.py \\
        /root/testdata/sf0.01 [repl]

On a real cluster the same invocation takes ``--master yarn``/k8s and
N vs 4N executors; everything below is master-agnostic.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    repl = int(sys.argv[2]) if len(sys.argv) > 2 else 1

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("s4spark-submit").getOrCreate()
    # the package arrives via --py-files; import AFTER the session so
    # the zip is on sys.path (spark-submit arranges this)
    from super_speedy_syslog_searcher_spark import pipeline as P
    from super_speedy_syslog_searcher_spark import session
    from super_speedy_syslog_searcher_spark.datagen import transcripts_df

    session.prep(spark)
    t = transcripts_df(spark, sf_dir)
    if repl > 1:
        from pyspark.sql import functions as F

        t = t.crossJoin(
            spark.range(repl).select(F.col("id").alias("_r"))
        ).withColumn(
            "conv_id", F.concat("conv_id", F.lit("-r"), F.col("_r"))
        ).drop("_r")
    t0 = time.perf_counter()
    merged = P.full_merge(t, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    n = merged.count()
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "rows": n,
                "sec": round(wall, 3),
                "rows_per_sec": round(n / wall),
                "master": spark.sparkContext.master,
                "parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
