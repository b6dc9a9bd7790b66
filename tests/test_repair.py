"""Repair-stage unit tests on synthetic frames: year rollover (the
25h rule, syslogprocessor.rs:628-734) and uptime anchoring
(syslogprocessor.rs:740-810)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.operators.parse import parse_stage
from super_speedy_syslog_searcher_spark.operators.repair import repair_stage

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_year_rollover(spark):
    """rfc3164 lines spanning Dec 31 → Jan 1: parse fills anchor year
    everywhere, repair must pull pre-rollover rows back one year."""
    rows = [
        ("c1", 0, "user", "Dec 30 10:00:00 a", "none", _ts("2023-12-30T10:00:00")),
        ("c1", 1, "user", "Dec 31 23:59:59 b", "none", _ts("2023-12-31T23:59:59")),
        ("c1", 2, "user", "Jan  1 00:00:30 c", "none", _ts("2024-01-01T00:00:30")),
        ("c1", 3, "user", "Jan  2 08:00:00 d", "none", _ts("2024-01-02T08:00:00")),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = repair_stage(parse_stage(df))
    got = {r["turn_idx"]: r["ts_parsed"] for r in out.collect()}
    assert got[0] == _ts("2023-12-30T10:00:00")
    assert got[1] == _ts("2023-12-31T23:59:59")
    assert got[2] == _ts("2024-01-01T00:00:30")
    assert got[3] == _ts("2024-01-02T08:00:00")


def test_no_false_rollover_within_year(spark):
    """Ordinary small backwards jitter (< 25h) must NOT shift years
    (evtx-style out-of-order rows)."""
    rows = [
        ("c1", 0, "user", "Mar 10 10:00:00 a", "none", _ts("2024-03-10T10:00:00")),
        ("c1", 1, "user", "Mar 10 09:59:00 b", "none", _ts("2024-03-10T09:59:00")),
        ("c1", 2, "user", "Mar 11 11:00:00 c", "none", _ts("2024-03-11T11:00:00")),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = repair_stage(parse_stage(df))
    years = [r["ts_parsed"].year for r in out.collect()]
    assert years == [2024, 2024, 2024]


def test_uptime_anchor_last_entry_matches_mtime_analogue(spark):
    """s4 rule: anchor so the last uptime entry equals the trusted
    time; every other entry = anchor + uptime."""
    rows = [
        ("c1", 0, "user", "[10.000000] boot", "none", _ts("2024-01-01T00:00:10")),
        ("c1", 1, "user", "[20.500000] disk", "none", _ts("2024-01-01T00:00:20.5")),
        ("c1", 2, "user", "[100.000000] net", "none", _ts("2024-01-01T00:01:40")),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = repair_stage(parse_stage(df))
    got = {r["turn_idx"]: r["ts_parsed"] for r in out.collect()}
    # anchor = max(ts)-max(up) = 00:01:40 - 100s = 00:00:00
    assert got[0] == _ts("2024-01-01T00:00:10")
    assert got[1] == _ts("2024-01-01T00:00:20.5")
    assert got[2] == _ts("2024-01-01T00:01:40")


def test_uptime_anchor_skew_between_clock_and_uptime(spark):
    """If trusted ts drifts from uptime deltas, the LAST entry wins
    (mtime semantics) and earlier entries follow uptime arithmetic."""
    rows = [
        ("c1", 0, "user", "[0.000000] a", "none", _ts("2024-01-01T00:00:05")),
        ("c1", 1, "user", "[60.000000] b", "none", _ts("2024-01-01T00:02:00")),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = repair_stage(parse_stage(df))
    got = {r["turn_idx"]: r["ts_parsed"] for r in out.collect()}
    # anchor = 00:02:00 - 60s = 00:01:00
    assert got[0] == _ts("2024-01-01T00:01:00")
    assert got[1] == _ts("2024-01-01T00:02:00")


def test_repair_leaves_absolute_patterns_alone(spark):
    rows = [
        ("c1", 0, "user", "2024-03-01T10:00:00 x", "none", _ts("2024-03-01T10:00:00")),
        ("c1", 1, "user", "[5.000000] y", "none", _ts("2024-03-01T10:00:05")),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = repair_stage(parse_stage(df))
    iso = out.filter(F.col("pattern_id") == 1).collect()[0]
    assert iso["ts_parsed"] == _ts("2024-03-01T10:00:00")
