"""Round-6 focused tests: the parse kernel's positional dispatch.

parse_series now drives the pattern walk with numpy positions and one
batch-wide string materialization instead of pandas label indexing
(functions/datetime_parse.py).  These pin the places a positional bug
would hide: null rows, a non-default (label) index, the scan-tier
subset→global position mapping, and the memoized tz conversion.
"""

import numpy as np
import pandas as pd

from super_speedy_syslog_searcher_spark.functions.datetime_parse import (
    _tz_minutes_numeric,
    parse_series,
)


def test_null_and_nonrange_index_rows():
    """None rows stay continuation; results align to the caller's
    labels, not positions."""
    texts = pd.Series(
        [
            "2024-01-05T03:04:05 -0800 hello",
            None,
            "plain continuation line",
            "Jan  5 03:04:05 host app: msg",
        ],
        index=[10, 7, 99, 3],  # non-default, unsorted labels
    )
    out = parse_series(texts)
    assert list(out.index) == [10, 7, 99, 3]
    assert out.loc[10, "sink"] != "continuation"
    assert out.loc[7, "sink"] == "continuation"
    assert pd.isna(out.loc[7, "ts_parsed"])
    assert out.loc[99, "sink"] == "continuation"
    assert out.loc[3, "sink"] != "continuation"


def test_scan_tier_position_mapping():
    """A mid-line datetime (scan tier) interleaved with anchored rows
    and continuations must land on ITS row — the scan tier works on a
    remaining-subset list whose positions map back through rem_pos."""
    texts = pd.Series(
        [
            "2024-01-05T03:04:05 -0800 anchored",        # anchored tier
            "no digits here",                            # continuation
            "lvl=info time=2024-02-03 04:05:06 msg=hi",  # scan tier
            "word 99 word",                              # continuation
            "2024-01-06T00:00:00 -0800 anchored2",       # anchored tier
        ]
    )
    out = parse_series(texts)
    sinks = out["sink"].tolist()
    assert sinks[1] == "continuation"
    assert sinks[3] == "continuation"
    assert sinks[0] != "continuation" and sinks[4] != "continuation"
    # the scan-tier hit is attributed to row 2, with in-row spans
    assert sinks[2] != "continuation"
    beg, end = int(out.loc[2, "dt_beg"]), int(out.loc[2, "dt_end"])
    assert texts[2][beg:end].startswith("2024-02-03")
    assert out.loc[2, "ts_parsed"] == pd.Timestamp("2024-02-03 04:05:06")


def test_null_anchor_years_fall_back_to_scalar_default():
    """The one parse UDF always passes a per-row anchor-year column and
    the table path sends it all-null: a null year must mean the scalar
    default, row by row, and an all-null column must equal the scalar
    call exactly."""
    texts = pd.Series(
        [
            "Jan  5 03:04:05 host app: a",   # no-year syslog
            "Jan  6 03:04:05 host app: b",
            "2024-01-05T03:04:05 -0800 c",   # carries its own year
            "Jan  7 03:04:05 host app: d",
        ],
        index=[4, 9, 0, 2],
    )
    years = pd.Series([2019, np.nan, 2019, np.nan], index=texts.index)
    out = parse_series(texts, anchor_years=years)
    assert out.loc[4, "ts_parsed"] == pd.Timestamp("2019-01-05 03:04:05")
    assert out.loc[9, "ts_parsed"] == pd.Timestamp("2024-01-06 03:04:05")
    assert out.loc[0, "ts_parsed"] == pd.Timestamp("2024-01-05 11:04:05")
    assert out.loc[2, "ts_parsed"] == pd.Timestamp("2024-01-07 03:04:05")
    pd.testing.assert_frame_equal(
        parse_series(texts, anchor_years=pd.Series(np.nan, index=texts.index)),
        parse_series(texts),
    )


def test_tz_memo_matches_spec():
    vals = pd.Series(
        ["+0530", "-08:00", "+08", "Z", "z", "−1100", "+00:00"],
        index=[3, 1, 4, 1, 5, 9, 2],
    )
    out = _tz_minutes_numeric(vals)
    assert out.tolist() == [330, -480, 480, 0, 0, -660, 0]
    assert list(out.index) == [3, 1, 4, 1, 5, 9, 2]
    assert str(out.dtype) == "int64"
    # memo hit path returns the same values
    assert _tz_minutes_numeric(vals).tolist() == out.tolist()
