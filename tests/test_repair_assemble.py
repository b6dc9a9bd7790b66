"""``operators.assemble.repair_assemble`` — the log-file search's
pandas repair + assembly — against the Spark forms it replaces in the
search: ``assemble_stage(repair_stage(df))`` and the chained reference
``assemble_stage(repair_noyear_rollover(anchor_uptime(df)))``, plus
the stamped-row projection, over the same parsed rows."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.functions.datetime_parse import (
    RESULT_FIELDS,
    parse_series,
)
from super_speedy_syslog_searcher_spark.operators.assemble import (
    assemble_stage,
    repair_assemble,
)
from super_speedy_syslog_searcher_spark.operators.repair import (
    anchor_uptime,
    repair_noyear_rollover,
    repair_stage,
)

COLS = ["conv_id", "turn_idx", "role", "tool", "text", "ts",
        "ts_eff", "sink_eff", "msg_turn_idx"]
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, _stamp string, " + RESULT_FIELDS
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# (text, ts, _stamp) per source, in file order
SOURCES = {
    # uptime rows with a continuation; ts varies so the anchor reads
    # the max over the uptime rows, not the last row
    "up.log": [
        ("[10.000000] boot", "2024-03-01T00:00:50", None),
        ("    call trace", "2024-03-01T00:01:00", None),
        ("[20.500000] disk", "2024-03-01T00:02:00", None),
        ("[15.000000] late", "2024-03-01T00:01:30", None),
    ],
    # a second uptime source: each source anchors on its own rows
    "dmesg.log": [
        ("[5.000000] start", "2024-03-02T00:00:10", None),
        ("[8.000000] next", "2024-03-02T00:00:30", None),
    ],
    # two year boundaries: the first two rows move back 2 years, the
    # next two 1 year; the continuation inherits its anchor's moved ts
    "multi.log": [
        ("Dec 30 10:00:00 host a: one", "2024-01-02T09:00:00", None),
        ("Dec 31 23:59:59 host a: two", "2024-01-02T09:00:00", None),
        ("Jan  1 00:00:30 host a: three", "2024-01-02T09:00:00", None),
        ("    continuation of three", "2024-01-02T09:00:00", None),
        ("Dec 31 12:00:00 host a: four", "2024-01-02T09:00:00", None),
        ("Jan  2 08:00:00 host a: five", "2024-01-02T09:00:00", None),
    ],
    # Feb 29 of the leap anchor year, then a boundary: moved back 1
    # year it lands on Feb 28 2023
    "leap.log": [
        ("Feb 29 10:00:00 host b: leap", "2024-03-05T00:00:00", None),
        ("Jan  5 08:00:00 host b: after", "2024-03-05T00:00:00", None),
    ],
    # continuations before the first anchor keep null msg/ts and sink
    # 'continuation'; the anchors are absolute (no repair)
    "pre.log": [
        ("    preamble one", "2024-01-06T00:00:00", None),
        ("    preamble two", "2024-01-06T00:00:00", None),
        ("2024-01-05T03:00:10 app start", "2024-01-06T00:00:00", None),
        ("    continuation", "2024-01-06T00:00:00", None),
        ("2024-01-05T03:01:00 app done", "2024-01-06T00:00:00", None),
    ],
    # 400 year boundaries move the first row back 400 years, past
    # the range of datetime64[ns] (1677)
    "ancient.log": [
        (f"{md} 12:00:00 host c: {i}", "2024-01-02T00:00:00", None)
        for i in range(400)
        for md in ("Dec 31", "Jan  1")
    ],
    # pre-stamped binary records keep their own ts, sink and turn
    "events.evtx": [
        ("<Event>0</Event>", "2024-01-05T03:00:00", "evtx"),
        ("<Event>1</Event>", "2024-01-05T03:00:01", "evtx"),
        ("<Event>2</Event>", "2024-01-05T02:59:00", "evtx"),
    ],
}


def _parsed(names: list[str]) -> pd.DataFrame:
    """The sources' rows as the search's decoder has them before
    repair: ROWS_SCHEMA with sink renamed _stamp, plus the parse."""
    rows = pd.DataFrame(
        [
            (name, i, "log", text, "none", pd.Timestamp(ts), stamp)
            for name in names
            for i, (text, ts, stamp) in enumerate(SOURCES[name])
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts",
                 "_stamp"],
    )
    text = rows["text"].where(rows["_stamp"].isna(), None)
    parsed = parse_series(text, anchor_years=rows["ts"].dt.year)
    return pd.concat([rows, parsed], axis=1)


def _py(v):
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v.item() if isinstance(v, np.generic) else v


def _columns(records: list[tuple]) -> dict[str, list]:
    records = sorted(records, key=lambda r: (r[0], r[1]))
    return {c: [r[i] for r in records] for i, c in enumerate(COLS)}


def _kernel(frame: pd.DataFrame) -> dict[str, list]:
    out = repair_assemble(frame)
    assert list(out.columns) == COLS
    return _columns(
        [tuple(_py(v) for v in r)
         for r in out.astype(object).itertuples(index=False)]
    )


def _spark(spark, frame: pd.DataFrame, repair) -> dict[str, list]:
    records = [tuple(_py(v) for v in r)
               for r in frame.astype(object).itertuples(index=False)]
    df = spark.createDataFrame(records, SCHEMA)
    stamped = F.col("_stamp").isNotNull()
    out = assemble_stage(repair(df)).select(
        "conv_id", "turn_idx", "role", "tool", "text", "ts",
        F.when(stamped, F.col("ts")).otherwise(F.col("ts_eff"))
        .alias("ts_eff"),
        F.coalesce("_stamp", "sink_eff").alias("sink_eff"),
        F.when(stamped, F.col("turn_idx")).otherwise(F.col("msg_turn_idx"))
        .alias("msg_turn_idx"),
    )
    return _columns([tuple(r) for r in out.collect()])


REPAIRS = {
    "fused": repair_stage,
    "chained": lambda df: repair_noyear_rollover(anchor_uptime(df)),
}


@pytest.mark.parametrize("repair", sorted(REPAIRS))
@pytest.mark.parametrize(
    "names",
    [[n] for n in SOURCES]
    + [["up.log", "dmesg.log"], list(SOURCES)],
    ids=lambda n: "+".join(n),
)
def test_kernel_matches_spark_forms(spark, names, repair):
    frame = _parsed(names)
    want = _spark(spark, frame, REPAIRS[repair])
    # input order must not matter: the kernel orders by source, turn
    shuffled = frame.sample(frac=1.0, random_state=7)
    for got in (_kernel(frame), _kernel(shuffled)):
        for c in COLS:
            assert got[c] == want[c], c


def test_fixture_reaches_every_repair():
    """The fixture's expected values, so a kernel and Spark form that
    both skipped a repair would not agree vacuously."""
    got = _kernel(_parsed(list(SOURCES)))
    eff = {
        (c, t): (ts, s, m)
        for c, t, ts, s, m in zip(
            got["conv_id"], got["turn_idx"], got["ts_eff"], got["sink_eff"],
            got["msg_turn_idx"],
        )
    }
    # uptime: anchor = 00:02:00 − 20.5 s
    assert eff["up.log", 0][0] == _ts("2024-03-01T00:01:49.500")
    assert eff["up.log", 1] == (_ts("2024-03-01T00:01:49.500"),
                                "dmesg_uptime", 0)
    assert eff["multi.log", 0][0] == _ts("2022-12-30T10:00:00")
    assert eff["multi.log", 3] == (_ts("2023-01-01T00:00:30"),
                                   "rfc3164_noyear", 2)
    assert eff["multi.log", 4][0] == _ts("2023-12-31T12:00:00")
    assert eff["multi.log", 5][0] == _ts("2024-01-02T08:00:00")
    assert eff["leap.log", 0][0] == _ts("2023-02-28T10:00:00")
    # anchor = 00:00:30 − 8 s
    assert eff["dmesg.log", 0][0] == _ts("2024-03-02T00:00:27")
    assert eff["pre.log", 0] == (None, "continuation", None)
    assert eff["pre.log", 3] == (_ts("2024-01-05T03:00:10"),
                                 "iso8601_notz", 2)
    assert eff["events.evtx", 2] == (_ts("2024-01-05T02:59:00"), "evtx", 2)
    assert eff["ancient.log", 0][0] == _ts("1624-12-31T12:00:00")
    assert eff["ancient.log", 799][0] == _ts("2024-01-01T12:00:00")


def test_search_takes_centuries_of_rollover(spark, tmp_path):
    """The decoder's kernel output reaches Spark outside the ns range:
    a file whose rollover moves rows back 400 years searches whole."""
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
    )

    p = tmp_path / "ancient.log"
    p.write_text("".join(t + "\n" for t, _, _ in SOURCES["ancient.log"]))
    mtime = _ts("2024-01-02T00:00:00").replace(tzinfo=dt.timezone.utc)
    os.utime(p, (mtime.timestamp(), mtime.timestamp()))
    got = assembled_from_paths(spark, [str(p)]).agg(
        F.count("*"), F.min("ts_eff"), F.max("ts_eff")
    ).first()
    assert tuple(got) == (800, _ts("1624-12-31T12:00:00"),
                          _ts("2024-01-01T12:00:00"))


def test_kernel_takes_an_empty_frame():
    out = repair_assemble(_parsed(["pre.log"]).iloc[:0])
    assert list(out.columns) == COLS and len(out) == 0
