"""-t/--tz-offset default-timezone semantics (s4.rs:2985-3008,
datetime.rs:1794-1872): every timestamp WITHOUT its own timezone —
including an ambiguous or unknown named tz — is interpreted in the
job's default zone; explicit offsets/named tz win.  No Spark needed:
parse_series is the UDF core, parse_dt_filter is the grammar core.
"""

import datetime as dt

import pandas as pd
import pytest

from super_speedy_syslog_searcher_spark.cli import (
    cli_tz_offset,
    parse_dt_filter,
    resolve_filters,
)
from super_speedy_syslog_searcher_spark.functions.datetime_parse import (
    parse_series,
)


def _one(text, tzmin):
    r = parse_series(pd.Series([text]), tz_offset_min=tzmin).iloc[0]
    assert pd.notna(r["ts_parsed"]), f"no match: {text!r}"
    return r["ts_parsed"].to_pydatetime()


def test_naive_timestamp_gets_default_offset():
    # tz-less ISO line: wall clock 12:00 in +05:30 → 06:30 UTC
    got = _one("2024-01-02T12:00:00 svc start", 330)
    assert got == dt.datetime(2024, 1, 2, 6, 30, 0)
    # default 0 keeps today's UTC behavior byte-identical
    assert _one("2024-01-02T12:00:00 svc start", 0) == dt.datetime(
        2024, 1, 2, 12, 0, 0
    )


def test_explicit_tz_wins_over_default():
    got = _one("2024-01-02T12:00:00+09:00 svc", -480)
    assert got == dt.datetime(2024, 1, 2, 3, 0, 0)
    got = _one("2024-01-02T12:00:00Z svc", -480)
    assert got == dt.datetime(2024, 1, 2, 12, 0, 0)


def test_ambiguous_named_tz_takes_default():
    # IST is ambiguous (MAP_TZZ_TO_TZz maps it to empty,
    # datetime.rs:1857-1861 substitutes the default offset string)
    naive = _one("2024-01-02T12:00:00 IST svc", 0)
    shifted = _one("2024-01-02T12:00:00 IST svc", 330)
    # only compare when the bank's pattern actually consumed the tz
    # token; either way the instant must track the default offset
    assert (naive - shifted) == dt.timedelta(minutes=330)


def test_unambiguous_named_tz_ignores_default():
    a = _one("2024-01-02T12:00:00 PST svc", 0)
    b = _one("2024-01-02T12:00:00 PST svc", 330)
    assert a == b == dt.datetime(2024, 1, 2, 20, 0, 0)


def test_epoch_is_absolute():
    a = _one('x {"timestamp":1704112402, "a":1}', 0)
    b = _one('x {"timestamp":1704112402, "a":1}', 330)
    assert a == b


def test_filter_grammar_naive_forms_use_default():
    # naive ISO filter value interpreted in the default zone
    got = parse_dt_filter("2024-01-10T08:00:00", tzmin=330)
    assert got == dt.datetime(2024, 1, 10, 2, 30, 0)
    # explicit offset overrides
    got = parse_dt_filter("2024-01-10T08:00:00+02:00", tzmin=330)
    assert got == dt.datetime(2024, 1, 10, 6, 0, 0)
    # Zulu overrides
    got = parse_dt_filter("2024-01-10T08:00:00Z", tzmin=330)
    assert got == dt.datetime(2024, 1, 10, 8, 0, 0)


def test_filter_relative_exact_override_in_local_frame():
    now = dt.datetime(2024, 1, 10, 23, 30, 0)  # UTC
    # -0d!08:00 in +05:30: local now is Jan 11 05:00, override to
    # 08:00 local = 02:30 UTC Jan 11
    got = parse_dt_filter("-0d!08:00", now=now, tzmin=330)
    assert got == dt.datetime(2024, 1, 11, 2, 30, 0)
    # pure relative offsets are frame-invariant
    a = parse_dt_filter("-2h", now=now, tzmin=330)
    b = parse_dt_filter("-2h", now=now, tzmin=0)
    assert a == b == now - dt.timedelta(hours=2)


def test_filter_time_only_fills_local_date():
    now = dt.datetime(2024, 1, 10, 23, 30, 0)  # UTC; local = Jan 11
    got = parse_dt_filter("08:00", now=now, tzmin=330)
    assert got == dt.datetime(2024, 1, 11, 2, 30, 0)


def test_resolve_filters_threads_tzmin():
    a, b = resolve_filters(
        "2024-01-10", "@+1d", now=dt.datetime(2024, 1, 1), tzmin=330
    )
    assert a == dt.datetime(2024, 1, 9, 18, 30, 0)
    assert b == a + dt.timedelta(days=1)


def test_cli_tz_offset_rejects_ambiguous():
    with pytest.raises(ValueError, match="ambiguous"):
        cli_tz_offset("IST")
    assert cli_tz_offset("EDT") == -240
    assert cli_tz_offset("+05:30") == 330
    assert cli_tz_offset("-0800") == -480


def test_anchor_year_from_source_mtime(spark, tmp_path):
    """A 2025-mtime no-year file parses to 2025 while a 2023-mtime
    file parses to 2023 in the SAME job — the per-source anchor year
    (syslogprocessor.rs:628-734 seeds no-year formats from the file's
    mtime) threaded as a column into the parse UDF."""
    import datetime as dt
    import os

    from super_speedy_syslog_searcher_spark.operators.parse import (
        parse_stage,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        read_log_files_decoded,
    )

    a = tmp_path / "y2025.log"
    a.write_text("<14>Jan  5 03:04:05 HOST app: new year\n")
    b = tmp_path / "y2023.log"
    b.write_text("<14>Jan  5 03:04:05 HOST app: old year\n")
    for f, year in ((a, 2025), (b, 2023)):
        mtime = dt.datetime(year, 1, 6, tzinfo=dt.timezone.utc).timestamp()
        os.utime(f, (mtime, mtime))
    src = read_log_files_decoded(spark, [str(a), str(b)])
    parsed = parse_stage(src, anchor_from_ts=True)
    got = {
        r["conv_id"].rsplit("/", 1)[-1]: r["ts_parsed"]
        for r in parsed.collect()
    }
    assert got["y2025.log"] == dt.datetime(2025, 1, 5, 3, 4, 5)
    assert got["y2023.log"] == dt.datetime(2023, 1, 5, 3, 4, 5)


def test_anchor_year_from_source_mtime_in_routed_decode(spark, tmp_path):
    """assembled_from_paths anchors each source's no-year lines in its
    own mtime year: two files set to 2023 and 2025 with os.utime, and
    a tar member whose member mtime is in 2021."""
    import datetime as dt
    import io
    import os
    import tarfile

    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
    )

    line = b"<14>Jan  5 03:04:05 HOST app: no year\n"

    def epoch(year):
        return dt.datetime(year, 6, 1, tzinfo=dt.timezone.utc).timestamp()

    for name, year in (("y2023.log", 2023), ("y2025.log", 2025)):
        f = tmp_path / name
        f.write_bytes(line)
        os.utime(f, (epoch(year), epoch(year)))
    member = tarfile.TarInfo("y2021.log")
    member.size = len(line)
    member.mtime = epoch(2021)
    with tarfile.open(tmp_path / "bundle.tar", "w") as tf:
        tf.addfile(member, io.BytesIO(line))
    got = {
        r["conv_id"].rsplit("/", 1)[-1]: r["ts_eff"]
        for r in assembled_from_paths(spark, [str(tmp_path)]).collect()
    }
    assert got == {
        "y2023.log": dt.datetime(2023, 1, 5, 3, 4, 5),
        "y2025.log": dt.datetime(2025, 1, 5, 3, 4, 5),
        "bundle.tar!y2021.log": dt.datetime(2021, 1, 5, 3, 4, 5),
    }


def test_filter_grammar_tz_invariants():
    """Property sweep: values carrying their OWN tz are invariant to
    the default offset; naive values shift by exactly the default;
    epoch forms are always absolute."""
    import itertools

    from hypothesis import given, settings
    from hypothesis import strategies as st

    explicit = [
        "2024-03-07T08:30:00Z",
        "2024-03-07T08:30:00+02:00",
        "2024-03-07 08:30:00 PST",
        "20240307T083000-0330",
        "1704112402",
    ]
    naive = [
        "2024-03-07",
        "2024-03-07T08:30",
        "2024-03-07 08:30:45",
        "20240307_083045",
    ]
    offsets = [-720, -330, -60, 0, 45, 330, 840]
    now = dt.datetime(2024, 3, 7, 12, 0, 0)
    for v, tz1, tz2 in itertools.product(explicit, offsets[:3], offsets[3:]):
        assert parse_dt_filter(v, now=now, tzmin=tz1) == parse_dt_filter(
            v, now=now, tzmin=tz2
        ), v
    for v, tzm in itertools.product(naive, offsets):
        base = parse_dt_filter(v, now=now, tzmin=0)
        got = parse_dt_filter(v, now=now, tzmin=tzm)
        assert base - got == dt.timedelta(minutes=tzm), (v, tzm)

    @settings(max_examples=200, deadline=None)
    @given(
        h=st.integers(0, 23),
        mi=st.integers(0, 59),
        s=st.integers(0, 59),
        tzm=st.sampled_from(offsets),
    )
    def hms_shifts_by_default(h, mi, s, tzm):
        v = f"{h:02d}:{mi:02d}:{s:02d}"
        base = parse_dt_filter(v, now=now, tzmin=0)
        got = parse_dt_filter(v, now=now, tzmin=tzm)
        # date fill uses the LOCAL day, so besides the offset a
        # whole-day boundary crossing may apply; the exact-value
        # assertion below captures both
        assert base is not None
        assert got == dt.datetime(
            (now + dt.timedelta(minutes=tzm)).year,
            (now + dt.timedelta(minutes=tzm)).month,
            (now + dt.timedelta(minutes=tzm)).day,
            h, mi, s,
        ) - dt.timedelta(minutes=tzm), (v, tzm)

    hms_shifts_by_default()
