"""Kill-and-resume: process k partitions, 'die', resume, assert no
reprocessing and final equality with a single-shot run."""

from __future__ import annotations

import json
import os

from super_speedy_syslog_searcher_spark import checkpoint as cp
from super_speedy_syslog_searcher_spark import pipeline as P
from super_speedy_syslog_searcher_spark.datagen import transcripts_df

from tests.conftest import SF_SMOKE


def _small(t):
    from pyspark.sql import functions as F

    # bounded rows; conv-bucket partitioning (8 buckets) stays full
    return t.filter(F.col("ts") < "2024-01-07")


def test_kill_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    t = _small(transcripts_df(spark, SF_SMOKE))

    first = cp.run_partitioned(t, out, run_id="run1", max_partitions=3)
    assert len(first) == 3  # "killed" after 3 partitions

    done_before = cp.done_partitions(out)
    assert set(done_before) == set(first)
    mtimes_before = {
        k: os.path.getmtime(os.path.join(out, cp.MANIFEST_DIR, f"{k}.json"))
        for k in first
    }

    second = cp.run_partitioned(t, out, run_id="run2")
    assert not set(second) & set(first)  # no reprocessing

    done = cp.done_partitions(out)
    # lineage: first batch keeps run1, resume batch records run2
    assert all(done[k]["lineage_run_id"] == "run1" for k in first)
    assert all(done[k]["lineage_run_id"] == "run2" for k in second)
    for k in first:  # manifests untouched by the resume
        assert (
            os.path.getmtime(
                os.path.join(out, cp.MANIFEST_DIR, f"{k}.json")
            )
            == mtimes_before[k]
        )

    # final VALUE equality with a single-shot run (conv-complete
    # buckets make per-partition assembly exact, incl. continuation
    # lines whose anchor is far away in event time)
    cols = ["conv_id", "turn_idx", "msg_turn_idx", "ts_eff", "sink_eff"]
    got = spark.read.parquet(f"{out}/bucket=*").select(*cols)
    want = P.assembled(t).select(*cols)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # metrics present + coherent
    rec = json.loads(
        open(
            os.path.join(out, cp.MANIFEST_DIR, f"{second[0]}.json")
        ).read()
    )
    assert rec["rows_parsed"] == sum(rec["sink_counts"].values())
    assert rec["patterns_matched"] <= rec["rows_parsed"]


def test_resume_noop_when_complete(spark, tmp_path):
    out = str(tmp_path / "out2")
    t = _small(transcripts_df(spark, SF_SMOKE))
    cp.run_partitioned(t, out, run_id="a")
    assert cp.run_partitioned(t, out, run_id="b") == []


def test_write_routed_iceberg_fails_cleanly_without_catalog(spark):
    """Without an Iceberg catalog the V2 write raises the catalog's
    error, and the failed call leaves the session's partition
    overwrite mode as it was (a later write_routed overwrite in the
    same session must not turn dynamic)."""
    import pytest
    from pyspark.errors import AnalysisException

    from super_speedy_syslog_searcher_spark.operators.route import (
        write_routed_iceberg,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    df = spark.createDataFrame([("iso8601_tz", 1)], "sink_eff string, n int")
    with pytest.raises(
        AnalysisException, match="UNSUPPORTED_FEATURE.TABLE_OPERATION"
    ):
        write_routed_iceberg(df, "routed_no_catalog")
    assert spark.conf.get(key) == before
