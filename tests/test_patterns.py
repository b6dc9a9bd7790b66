"""Per-pattern embedded test cases — the reference's self-testing
pattern-table idea (ere_datetimes_impl.rs:2078-2087: every DTPD ships
_test_cases validated by test_DATETIME_PARSE_DATAS_test_cases)."""

from __future__ import annotations

import pandas as pd
import pytest

from super_speedy_syslog_searcher_spark.functions.datetime_parse import (
    parse_series,
)
from super_speedy_syslog_searcher_spark.patterns import PATTERNS

CASES = [
    (p, text, exp, beg, end)
    for p in PATTERNS
    for (text, exp, beg, end) in p.tests
]


@pytest.mark.parametrize(
    "p,text,exp,beg,end",
    CASES,
    ids=[f"{p.name}:{t[:24]}" for p, t, *_ in CASES],
)
def test_pattern_case(p, text, exp, beg, end):
    r = parse_series(pd.Series([text])).iloc[0]
    assert r.pattern_id == p.pid, f"matched {r.sink} not {p.name}"
    assert r.dt_beg == beg and r.dt_end == end
    if p.kind == "uptime":
        assert r.uptime_us == exp
        assert pd.isna(r.ts_parsed)
    else:
        assert str(r.ts_parsed) == exp


def test_first_match_wins_order():
    """iso8601 with tz must hit pattern 0, not the no-tz pattern."""
    r = parse_series(pd.Series(["2024-01-05T03:04:05 -0800 x"])).iloc[0]
    assert r.pattern_id == 0


def test_continuation_row():
    r = parse_series(pd.Series(["  at frame alpha beta"])).iloc[0]
    assert pd.isna(r.pattern_id)
    assert r.sink == "continuation"
    assert pd.isna(r.ts_parsed)


def test_prefilter_skips_digitless():
    out = parse_series(pd.Series(["no digits here at all", ""]))
    assert out["pattern_id"].isna().all()


def test_midline_datetime_scan_tier():
    """Round 3: mid-line datetimes ARE matched — by the scan tier
    (reference parity: range_regex searches a prefix REGION, not byte
    0).  The anchored tier stays first, so the scan entry only fires
    when no anchored family matched, and dt_beg reflects the prefix."""
    r = parse_series(pd.Series(["note: 2024-01-05T03:04:05 follows"])).iloc[0]
    assert r.pattern_id == 58  # scan_ymd_hms
    assert str(r.ts_parsed) == "2024-01-05 03:04:05"
    assert (r.dt_beg, r.dt_end) == (6, 25)


def test_malformed_dates_fall_through_not_crash():
    """Out-of-range components (month 13, Feb 30) must mean 'pattern
    did not match' — never a batch-killing exception (one bad line in
    10^12 rows must not fail the job)."""
    out = parse_series(
        pd.Series(
            [
                "13/02/2020 03:04:05 AM x",
                "2020-02-30T01:02:03 leapfail",
                "01/02/2020 03:04:05 PM ok",
            ]
        )
    )
    assert out.iloc[0]["sink"] == "continuation"
    assert out.iloc[1]["sink"] == "continuation"
    assert out.iloc[2]["sink"] == "us_mdy_12h"
    assert str(out.iloc[2]["ts_parsed"]) == "2020-01-02 15:04:05"


def test_bank_order_pattern_ids():
    """First match wins in bank order, so each line must land on the
    family written next to it — the catch-all entries carry lookaheads
    that keep them off lines a later family owns.  Pins the
    aliasing-prone pairs: epoch frac widths (7 vs 14), tz vs no-tz ISO
    (0/13/20/25 vs 1), case-folded months (3 vs 17)."""
    cases = [
        ("1704112402.016549 strace 6-frac", 7),
        ("1704112402.016 squid 3-frac", 14),
        ("1704112402 bare", 14),
        ("2024-01-05T03:04:05 -0800 numeric tz", 0),
        ("2024-01-05T03:04:05 plain", 1),
        ("2024-01-05 03:04:05 PST named tz", 20),
        ("2024-01-05 03:04:05 PM 12-hour", 25),
        ("Jan  5 03:04:05 exact-case syslog", 3),
        ("jan  5 03:04:05 lowercase syslog", 17),
        ("Fri Jan  5 03:04:05 2024 ctime+year", 16),
        ("Fri Jan  5 03:04:05 ctime noyear", 27),
        ("2024-01-05T03:04:05Z zulu", 29),
        ("2024-01-05T03:04:05.999Z zulu frac", 29),
        ("[2024-01-05 03:04:05] plain bracket", 28),
        ("[2024-01-05T03:04:05+0530] tz bracket", 34),
        ("[1704112402] nagios epoch", 30),
        ("[12345.123456] dmesg uptime", 8),
        ("#1704112402", 31),
        ("05 Jan 2024 03:04:05 dd-mon", 32),
        ("Jan 05, 2024 03:04:05 AM jul", 33),
        ("Jan 05 2024 03:04:05 mon-dy-year", 22),
        ("2024-01-05-03:04:05 dash-time", 35),
        ("20240105 030405 compact-space", 36),
        ("20240105T030405 compact-T", 12),
        ("Fri Jan  5 03:04:05 UTC 2024 date-tz", 37),
        ("[05/Jan/2024:03:04:05 +0000] access", 4),
        ("05/Jan/2024:03:04:05 +0000 no-bracket", 38),
        ("2024-01-05T03:04:05+08 hour-tz", 39),
        ("2024-01-05T03:04:05+0800 full-tz", 0),
        ("2024-01-05T03:04:05+08:00 colon-tz", 13),
        ("[12345.123s] gc uptime", 40),
        ("2024-01-05 03:04 minute-res", 41),
        ("05 January 2024 03:04:05 full-month", 42),
        ("05 Jan 2024 03:04:05 abbrev-month", 32),
        ("05 May 2024 03:04:05 may-is-abbrev", 32),
        ("2024-01-05 03:04:05, Info CBS start", 43),
        ("2024-01-05 03:04:05,123 comma-frac", 9),
        ("01/05/24 03:04:05 two-digit-year", 44),
        ("01/05/2024 03:04:05 four-digit dmy", 18),
        ("2024/01/05 03:04:05 plain-slash", 10),
        ("2024/01/05 03:04:05 -0800 slash-numtz", 45),
        ("2024/01/05 03:04:05 PST slash-named", 46),
        ("192.168.0.8 - - [05/Jan/2024:03:04:05 -0800] common-log", 47),
        ("2024/01/05 03-04-05 slash-dashtime", 48),
        ("2024-01-05 03-04-05: iso-dashtime", 49),
        ("192.168.0.8\t<05-jan-2024 03:04:05-0800> fw", 50),
        ('192.168.0.8 - - {05/jan/2024 03:04:05 +0000} get', 51),
        ("20240105:030405.123 -0800 compact-colon", 52),
        ("2024-01-29+02-07-27.809 plus-time", 53),
        ("02/21/2023:06:27:45: colon-joined mdy", 54),
        ("(2024/01/05 03:04:05 -0800) paren-tz", 55),
        ("*Fri, Jan  5 03:04:05 2024 +05:30 star", 56),
        ("Fri, 05 Jan 2024 03:04:05 PST no-star", 2),
        ("05JAN2024T030405Z compact-upper", 57),
        ("  at continuation frame 12", None),
    ]
    out = parse_series(pd.Series([t for t, _ in cases]))
    got = [None if pd.isna(v) else int(v) for v in out["pattern_id"]]
    assert got == [pid for _, pid in cases]
