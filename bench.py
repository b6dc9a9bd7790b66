"""Benchmark harness — one JSON line on stdout.

Headline: parse+merge throughput (turns/sec) over the transcripts
derivation at $SPARK_GRAFT_SF_DIR (default sf0.1), local[$SPARK_GRAFT_CPUS].

Env knobs:
  SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     cores (default: the CPUs this process may use)
  S4SPARK_BENCH_REPL   deterministic input replication factor (default 10)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from super_speedy_syslog_searcher_spark import pipeline as P  # noqa: E402
from super_speedy_syslog_searcher_spark.datagen import (  # noqa: E402
    transcripts_df,
)
from super_speedy_syslog_searcher_spark.operators import stats  # noqa: E402
from super_speedy_syslog_searcher_spark.operators.merge import (  # noqa: E402
    dt_filter,
)
from super_speedy_syslog_searcher_spark.session import get_spark  # noqa: E402

DT_AFTER = "2024-01-10 00:00:00"
DT_BEFORE = "2024-01-20 00:00:00"


def replicated_transcripts(spark, sf_dir: str, repl: int):
    """Deterministic input scale-up: repl copies, distinct conv spaces
    (suffix) so the merge keyspace grows with the data."""
    t = transcripts_df(spark, sf_dir)
    if repl <= 1:
        return t
    r = spark.range(repl).withColumnRenamed("id", "_r")
    return (
        t.crossJoin(r)
        .withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit("#"), F.col("_r"))
        )
        .drop("_r")
    )


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark, sf_dir: str, repl: int) -> dict:
    t = replicated_transcripts(spark, sf_dir, repl).cache()
    n_turns = t.count()  # materialize input so timings measure the pipeline
    # warm the Python UDF workers (one-time fork cost, ~5-15s for 32
    # workers; hyperfine-style warmup, not part of steady-state cost).
    # Must touch every core → a one-partition-per-core range, not a
    # limit().
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):  # noqa: ANN001
        return s

    cores = spark.sparkContext.defaultParallelism
    _noop_write(
        spark.range(0, cores * 10, 1, cores).select(_warm("id"))
    )
    _noop_write(P.parse_repair(t.limit(2000)))

    # Estimator (round-4 verdict): ambient throughput on this sandbox
    # drifts ~2x on MINUTE timescales, so timing query A's reps
    # back-to-back and then query B's gives each query a different
    # slice of the drift — r4 recorded a phantom 2.5x "regression"
    # that an immediate rerun disproved.  Instead, run REPS
    # interleaved rounds (each round times every query once, in suite
    # order) and report the per-query MEDIAN across rounds: every
    # query samples the same drift windows, and the median rejects
    # one bad draw.  Per-round raw times are emitted in the JSON
    # ("rounds") so a reader can see the spread.
    reps = int(os.environ.get("S4SPARK_BENCH_REPS", "3"))

    # headline: parse → repair → assemble → dt-filter → global merge
    def _run_merge():
        stg: list = []
        _noop_write(P.full_merge(t, DT_AFTER, DT_BEFORE, staging=stg))
        for s in stg:
            s.unpersist(blocking=True)

    only = os.environ.get("S4SPARK_BENCH_ONLY")
    suite = {
        "parse_merge": _run_merge,
        "parse_only": lambda: _noop_write(P.parse_repair(t)),
        "sink_counts": lambda: stats.sink_counts(P.assembled(t, narrow=True)).collect(),
        "hourly_hist": lambda: stats.hourly_histogram(
            P.assembled(t, narrow=True)
        ).collect(),
        "conv_summary": lambda: stats.conv_summary(
            P.parse_repair(t, narrow=True)
        ).collect(),
        "dt_window_count": lambda: dt_filter(
            P.assembled(t, narrow=True), DT_AFTER, DT_BEFORE
        ).count(),
    }
    if only:
        suite = {
            k: v for k, v in suite.items() if k in only.split(",")
        }
    # second scale point (round-3 verdict: record the headline at BOTH
    # 1M and 5M turns so round-over-round deltas stop mixing scale
    # with speed).  repl//5 → 1M turns at the default sf0.1/repl=50.
    n_turns_small = None
    t2 = None
    if not only and repl >= 5:
        t2 = replicated_transcripts(spark, sf_dir, repl // 5).cache()
        n_turns_small = t2.count()

        def _run_merge_small():
            stg: list = []
            _noop_write(P.full_merge(t2, DT_AFTER, DT_BEFORE, staging=stg))
            for s in stg:
                s.unpersist(blocking=True)

        suite["parse_merge_1m"] = _run_merge_small

    # warmup round: JIT-compile each plan's codegen stages, untimed
    for fn in suite.values():
        fn()
    rounds: dict[str, list[float]] = {name: [] for name in suite}
    for _ in range(reps):
        for name, fn in suite.items():
            t0 = time.perf_counter()
            fn()
            rounds[name].append(round(time.perf_counter() - t0, 3))
    import statistics

    timings = {
        name: round(statistics.median(v), 3)
        for name, v in rounds.items()
    }
    t.unpersist()
    if t2 is not None:
        t2.unpersist()

    # third scale point (round-4 verdict item 8): the headline at
    # 50M turns (repl x10), where per-row cost dominates constant
    # overhead and minute-scale drift averages out over the longer
    # run.  One timed run (the plan is already JIT-warm); opt out
    # with S4SPARK_BENCH_BIG=0.
    n_turns_big = None
    if (
        not only
        and repl >= 5
        and os.environ.get("S4SPARK_BENCH_BIG", "1") != "0"
    ):
        la_before_big = tuple(round(x, 2) for x in os.getloadavg())
        t3 = replicated_transcripts(spark, sf_dir, repl * 10).cache()
        n_turns_big = t3.count()

        def _run_merge_big():
            stg: list = []
            _noop_write(P.full_merge(t3, DT_AFTER, DT_BEFORE, staging=stg))
            for s in stg:
                s.unpersist(blocking=True)

        t0 = time.perf_counter()
        _run_merge_big()
        timings["parse_merge_50m"] = round(time.perf_counter() - t0, 3)
        t3.unpersist()
    out = {
        "n_turns": n_turns,
        "n_turns_small": n_turns_small,
        "n_turns_big": n_turns_big,
        "timings": timings,
        "rounds": rounds,
    }
    if n_turns_big:
        out["loadavg_before_big"] = la_before_big
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # repl 50 → 5M turns at sf0.1: the steady-state regime where
    # Spark's fixed overhead (session, UDF worker fork, 2 shuffles)
    # has amortized; see BENCH/BASELINE.md scaling table.
    repl = int(os.environ.get("S4SPARK_BENCH_REPL", "50"))
    # ambient-load disclosure: this sandbox has an external co-tenant
    # whose bursts show up in /proc/loadavg even with zero local work
    # (observed load1 ~19 on an otherwise idle box, halving a
    # 32-core run).  Emitting the load around the run lets a reader
    # attribute a slow draw to ambient load instead of a regression.
    la_start = tuple(round(x, 2) for x in os.getloadavg())
    spark = get_spark(app_name="s4spark-bench")
    res = run(spark, sf_dir, repl)
    total = sum(res["timings"].values())
    # S4SPARK_BENCH_ONLY may exclude the headline; fall back to the
    # first timed query so restricted A/B runs still emit JSON
    head = (
        "parse_merge"
        if "parse_merge" in res["timings"]
        else next(iter(res["timings"]))
    )
    tput = res["n_turns"] / res["timings"][head]
    out = {
        "metric": "parse+merge wall seconds (headline parse_merge; turns_per_sec = n_turns/parse_merge)",
        "value": round(res["timings"][head], 3),
        "unit": "sec",
        "queries": res["timings"],
        "estimator": "median of interleaved rounds (see rounds)",
        "rounds": res["rounds"],
        "sf": sf_dir,
        "n_turns": res["n_turns"],
        "turns_per_sec": round(tput),
        "total_sec": round(total, 3),
        "repl": repl,
    }
    if res.get("n_turns_small") and "parse_merge_1m" in res["timings"]:
        out["n_turns_small"] = res["n_turns_small"]
        out["turns_per_sec_1m"] = round(
            res["n_turns_small"] / res["timings"]["parse_merge_1m"]
        )
    if res.get("n_turns_big") and "parse_merge_50m" in res["timings"]:
        out["n_turns_big"] = res["n_turns_big"]
        out["turns_per_sec_50m"] = round(
            res["n_turns_big"] / res["timings"]["parse_merge_50m"]
        )
    out["loadavg_start"] = la_start
    if "loadavg_before_big" in res:
        out["loadavg_before_big"] = res["loadavg_before_big"]
    out["loadavg_end"] = tuple(round(x, 2) for x in os.getloadavg())
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
