"""Property-based robustness for the parse core (SURVEY §5: the
reference backs its parser with large adversarial corpora; here
hypothesis generates them).  parse_series must NEVER raise — at 10^12
rows a single malformed line would kill a job — and every match must
be internally consistent."""

import pandas as pd
from hypothesis import given, settings, strategies as st

from super_speedy_syslog_searcher_spark.functions.datetime_parse import (
    parse_series,
)


# mix of adversarial shapes: datetime-ish fragments, unicode, digits
_frag = st.sampled_from(
    [
        "2024-01-05", "T03:04:05", "Jan", "  5 ", "+0530", "−11",
        "[", "]", "(", "{", "PST", "pst", "1704112402", ".123456789",
        "!", "May", "00:00", "@", "\t", "😀", "−", "metric=2045",
        "type=USER_ACCT", "#", "*", "/", "\\", "0226/052726",
        '"timestamp":', "20200102", "e2fsck", "2020\\1\\2",
    ]
)
_line = st.one_of(
    st.text(max_size=120),
    st.lists(_frag, max_size=8).map("".join),
    st.lists(_frag, max_size=8).map(" ".join),
)


@given(st.lists(_line, min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_parse_never_raises_and_is_consistent(lines):
    out = parse_series(pd.Series(lines))
    assert len(out) == len(lines)
    for i, row in out.iterrows():
        if row["sink"] == "continuation":
            assert pd.isna(row["pattern_id"])
            assert pd.isna(row["ts_parsed"])
        else:
            assert pd.notna(row["pattern_id"])
            # uptime sinks carry uptime_us instead of a timestamp
            assert pd.notna(row["ts_parsed"]) or pd.notna(
                row["uptime_us"]
            )
            beg, end = row["dt_beg"], row["dt_end"]
            assert pd.notna(beg) and pd.notna(end)
            assert 0 <= beg < end <= len(lines[i])


@given(st.integers(1970, 2099), st.integers(0, 86399))
@settings(max_examples=80, deadline=None)
def test_iso_roundtrip_property(year, sod):
    h, rem = divmod(sod, 3600)
    mi, s = divmod(rem, 60)
    text = f"{year:04d}-06-15T{h:02d}:{mi:02d}:{s:02d} payload"
    row = parse_series(pd.Series([text])).iloc[0]
    if 1969 <= year <= 2099:
        assert str(row["ts_parsed"]) == f"{year:04d}-06-15 {h:02d}:{mi:02d}:{s:02d}"
    else:
        assert row["sink"] == "continuation"


def test_malformed_numeric_tz_falls_back_to_default_offset():
    """A numeric-tz capture that is no offset takes the job's default
    offset, as an unknown named zone does, instead of raising out of
    the whole batch; it is not memoized, and the memo stays bounded."""
    from super_speedy_syslog_searcher_spark.functions import (
        datetime_parse as D,
    )

    vals = pd.Series(["+0x:00", "+05:30", "+1x", "-08:00"])
    assert D._tz_minutes_numeric(vals, -300).tolist() == [-300, 330, -300, -480]
    assert "+0x:00" not in D._TZ_NUM_MEMO and "+1x" not in D._TZ_NUM_MEMO
    # 8640 distinct offset strings, more than the memo keeps
    many = pd.Series(
        [f"{sign}{h:02d}{sep}{m:02d}" for sign in "+-−" for sep in ("", ":")
         for h in range(24) for m in range(60)]
    )
    want = [(-1 if v[0] != "+" else 1) * (int(v[1:3]) * 60 + int(v[-2:]))
            for v in many]
    assert D._tz_minutes_numeric(many).tolist() == want
    assert len(D._TZ_NUM_MEMO) <= D._TZ_NUM_MEMO_MAX
