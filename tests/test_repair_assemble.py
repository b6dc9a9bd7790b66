"""``operators.assemble.repair_assemble`` — the pandas repair +
assembly of the batch pipeline and the log-file search — against the
window forms it replaces, ``assemble_stage(repair_stage(df))`` plus
the search's stamped-row projection, over the same parsed rows; and
the batch pipeline's one Python pass (``pipeline.assembled``) against
the same window forms over a table."""

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
from super_speedy_syslog_searcher_spark.operators.parse import parse_stage
from super_speedy_syslog_searcher_spark.operators.repair import repair_stage

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
    assert list(out.columns) == list(frame.columns) + [
        "msg_turn_idx", "ts_eff", "sink_eff"]
    out = out[COLS]
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


REPAIRS = {"chained": repair_stage}


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
    frame = _parsed(["pre.log"]).iloc[:0]
    out = repair_assemble(frame)
    assert list(out.columns) == list(frame.columns) + [
        "msg_turn_idx", "ts_eff", "sink_eff"] and len(out) == 0


TABLE = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _table(spark, extra: dict[str, list]):
    """The unstamped fixture sources plus ``extra``, as a transcripts
    table."""
    sources = {n: v for n, v in SOURCES.items() if n != "events.evtx"}
    return spark.createDataFrame(
        [
            (name, i, "log", text, "none", _ts(ts))
            for name, lines in {**sources, **extra}.items()
            for i, (text, ts, _) in enumerate(lines)
        ],
        TABLE,
    )


def _sorted_columns(df) -> dict[str, list]:
    rows = sorted(map(tuple, df.collect()), key=lambda r: (r[0], r[1]))
    return {c: [r[i] for r in rows] for i, c in enumerate(df.columns)}


def test_table_pass_carries_conversations_across_batches(spark):
    """Five-row Arrow batches split every multi-row conversation: the
    uptime anchor, the rollover count and the forward fill each need
    the whole conversation, so ``pipeline.assembled`` must hold a
    batch's last conversation back for the next batch."""
    from super_speedy_syslog_searcher_spark import pipeline as P

    extra = {
        # an anchor, then continuations: batch boundaries fall inside,
        # so some batch starts with a continuation
        "tail.log": [("2024-01-05T03:00:00 app start",
                      "2024-01-06T00:00:00", None)]
        + [(f"    frame {i}", "2024-01-06T00:00:00", None)
           for i in range(11)],
        # uptime and no-year rows in one conversation, two rollovers
        "mixed.log": [
            ("[10.000000] boot", "2024-01-01T00:00:10", None),
            ("Dec 31 23:00:00 a", "2024-01-01T00:00:10", None),
            ("Jan  1 01:00:00 b", "2024-01-01T00:00:10", None),
            ("no datetime here", "2024-01-01T00:00:10", None),
            ("Dec 31 22:00:00 c", "2024-01-01T00:00:10", None),
            ("Jan  2 03:00:00 d", "2024-01-01T00:00:10", None),
            ("[99.250000] disk", "2024-01-01T00:01:39.25", None),
        ],
    }
    t = _table(spark, extra)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        got = _sorted_columns(P.assembled(t))
    finally:
        spark.conf.set(key, saved)
    want = _sorted_columns(assemble_stage(repair_stage(parse_stage(t))))
    assert list(got) == list(want)
    for c in want:
        assert got[c] == want[c], c
    eff = dict(zip(zip(got["conv_id"], got["turn_idx"]), got["ts_eff"]))
    assert eff["tail.log", 11] == _ts("2024-01-05T03:00:00")
    assert eff["ancient.log", 0] == _ts("1624-12-31T12:00:00")


def test_full_merge_runs_one_python_pass(spark, tmp_path):
    """The table path's executed plan: conv_id exchange → sort → one
    MapInPandas that parses, repairs and assembles — no parse UDF, no
    scatter exchange and no window."""
    from super_speedy_syslog_searcher_spark import pipeline as P

    p = str(tmp_path / "t.parquet")
    _table(spark, {}).write.parquet(p)
    merged = P.full_merge(spark.read.parquet(p))
    merged.collect()
    plan = merged._jdf.queryExecution().executedPlan().toString()
    # the cached child prints its final and initial plans; count one
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, plan
    assert "Exchange hashpartitioning(conv_id" in final, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "Window" not in plan, plan
    assert "xxhash64(conv_id" not in plan, plan


def test_narrow_text_len_counts_utf8_bytes(spark):
    """narrow=True keeps the dropped text's length in UTF-8 octets, as
    the summary stats expect, not in characters."""
    from super_speedy_syslog_searcher_spark import pipeline as P

    line = "2024-01-05T03:00:00 deploy ok \U0001f680 caf\u00e9"
    t = spark.createDataFrame(
        [("c", 0, "user", line, "none", _ts("2024-01-05T03:00:00"))], TABLE
    )
    row = P.parse_repair(t, narrow=True).first()
    assert "text" not in row.asDict()
    assert row["text_len"] == len(line.encode()) != len(line)
