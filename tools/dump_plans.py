"""Dump .explain('formatted') for the bench-path queries to plans/<tag>/.

Usage: python tools/dump_plans.py <outdir> [suffix]
    outdir  e.g. plans/r06
    suffix  appended to each file name (default 'after'); run from a
            worktree of the round-start commit with suffix 'before'
            to capture the comparison plans.

Covers the bench.py suite shapes (parse_merge / parse_only /
sink_counts / hourly_hist / conv_summary / dt_window_count) built
exactly as bench.py builds them, at repl=1 so no job runs — explain
is plan-only.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="s4spark-plans")
    t = transcripts_df(spark, sf_dir)
    plans = {
        "parse_merge": P.full_merge(t, DT_AFTER, DT_BEFORE),
        "parse_only": P.parse_repair(t),
        "sink_counts": stats.sink_counts(P.assembled(t, narrow=True)),
        "hourly_hist": stats.hourly_histogram(P.assembled(t, narrow=True)),
        "conv_summary": stats.conv_summary(P.parse_repair(t, narrow=True)),
        "dt_window_count": dt_filter(
            P.assembled(t, narrow=True), DT_AFTER, DT_BEFORE
        ),
    }
    import contextlib
    import io

    for name, df in plans.items():
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
