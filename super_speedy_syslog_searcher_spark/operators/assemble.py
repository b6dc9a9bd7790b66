"""Sysline assembly: attach continuation lines to the previous
datetime-bearing message.

Reference: a Sysline is 1..N Lines whose first line carries the
datetime (src/data/mod.rs:34-44, src/data/sysline.rs:85-112);
SyslineReader::find_sysline accretes following no-datetime lines
(src/readers/syslinereader.rs:2842).

Spark form: the canonical sessionize-by-flag pattern — a running
``last(..., ignorenulls=True)`` over (conv_id, turn_idx) propagates
the anchor turn's identity forward.  Rows before the first anchor in
a conv keep null msg (s4: data before the first sysline datetime).

pandas form: ``repair_assemble`` runs repair (operators/repair.py)
and this assembly over a frame that holds whole sources, as s4's one
reader thread per file does; ``parse_assemble`` parses the frame
first.  The batch pipeline (``pipeline.assembled``, over
conv-sorted partitions) and the log-file search (inside its decoder)
both run it; the window form stays the reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.datetime_parse import parse_series
from .repair import NOYEAR_PATTERN_IDS, ROLLOVER_HOURS

_NAT = np.iinfo(np.int64).min  # NaT's int64 view
_ROLLOVER_US = ROLLOVER_HOURS * 3600 * 10**6


def _last_where(mask: np.ndarray, start_of: np.ndarray) -> tuple:
    """(position of the last ``mask`` row at or before each row,
    whether it lies in the row's group).  Rows are grouped contiguously
    and ``start_of`` is each row's group start, so a running max of the
    masked positions falls before the group start exactly when the
    group has no ``mask`` row yet."""
    last = np.maximum.accumulate(np.where(mask, np.arange(len(mask)), -1))
    return last, last >= start_of


def _minus_years(us: np.ndarray, years: np.ndarray) -> np.ndarray:
    """µs timestamps minus whole calendar years, Feb 29 → Feb 28 in a
    common year, time of day kept: Spark's ``ts - make_ym_interval(k,
    0)``.  µs, not ns: many year boundaries can move a row before
    1677, which datetime64[ns] cannot hold."""
    t = us.view("datetime64[us]")
    day = t.astype("datetime64[D]")
    month = day.astype("datetime64[M]")
    year = month.astype("datetime64[Y]").astype("int64") - years  # since 1970
    moy = month.astype("int64") % 12
    dom = (day - month).astype("int64")
    y = year + 1970
    common = (y % 4 != 0) | ((y % 100 == 0) & (y % 400 != 0))
    dom[(moy == 1) & (dom == 28) & common] = 27
    moved = (year * 12 + moy).astype("datetime64[M]").astype("datetime64[D]")
    moved += dom
    return (moved.astype("datetime64[us]") + (t - day)).view("int64")


def repair_assemble(frame: pd.DataFrame) -> pd.DataFrame:
    """Parsed rows → the same rows with ``ts_parsed`` repaired, plus
    msg_turn_idx, ts_eff and sink_eff: ``repair_stage`` then
    ``assemble_stage`` (and, given ``_stamp``, the search's
    stamped-row projection), in numpy over group boundaries.
    ``frame`` holds every row of each of its sources (``conv_id``)
    with the parse columns and optionally ``_stamp`` (the binary
    readers' kind, null for text lines; no column means no stamped
    rows), in any order: rows are ordered by (source, turn_idx) here.

    Per source:

    * uptime rows → max(ts of uptime rows) − max(uptime_us) + their
      uptime (syslogprocessor.rs:740-810);
    * a >25 h backwards jump among no-year rows is a year boundary,
      and each no-year row moves back one calendar year per boundary
      after it (syslogprocessor.rs:628-734);
    * msg_turn_idx / ts_eff / sink_eff carry forward from the last
      anchored (non-null ts) row; rows before the first anchor keep
      null msg and ts and sink 'continuation';
    * stamped rows keep their own ts, sink (``_stamp``) and turn.

    tests/test_repair_assemble.py pins it column by column against the
    Spark forms."""
    codes = pd.factorize(frame["conv_id"])[0]
    turn = frame["turn_idx"].to_numpy("int64")
    order = np.lexsort((turn, codes))
    if (order[1:] < order[:-1]).any():
        frame, codes, turn = frame.iloc[order], codes[order], turn[order]
    n = len(frame)
    new = np.ones(n, dtype=bool)
    new[1:] = codes[1:] != codes[:-1]
    starts = np.flatnonzero(new)
    grp = np.cumsum(new) - 1
    start_of = starts[grp]
    ends = np.append(starts[1:], n) - 1

    # µs int64 views of the timestamps, NaT = _NAT
    parsed = frame["ts_parsed"].to_numpy("datetime64[us]").view("int64")
    ts = frame["ts"].to_numpy("datetime64[us]").view("int64")
    fixed = parsed.copy()
    # uptime anchor: reads the source's trusted ts (the file mtime)
    has_up = frame["uptime_us"].notna().to_numpy()
    if has_up.any():
        up = frame["uptime_us"].to_numpy("int64", na_value=0)
        max_ts = np.maximum.reduceat(
            np.where(has_up & (ts != _NAT), ts, _NAT), starts
        )[grp[has_up]]
        max_up = np.maximum.reduceat(np.where(has_up, up, _NAT), starts)
        fixed[has_up] = np.where(
            max_ts == _NAT, _NAT, max_ts - max_up[grp[has_up]] + up[has_up]
        )
    # no-year rollover over the original ts_parsed (uptime and no-year
    # rows are disjoint, asserted in operators/repair.py)
    is_ny = (
        frame["pattern_id"].isin(NOYEAR_PATTERN_IDS)
        .to_numpy(dtype=bool, na_value=False)
    )
    ny = is_ny & (parsed != _NAT)
    if ny.any():
        # the source's previous no-year row, strictly before this one
        prev = np.concatenate(([-1], _last_where(ny, start_of)[0][:-1]))
        boundary = ny & (prev >= start_of) & (
            parsed < parsed[prev] - _ROLLOVER_US
        )
        run = np.cumsum(boundary)
        after = run[ends][grp] - run
        move = ny & (after > 0)
        if move.any():
            fixed[move] = _minus_years(parsed[move], after[move])

    anchored = fixed != _NAT
    last, has = _last_where(anchored, start_of)
    sink = frame["sink"].to_numpy(dtype=object)
    last_s, has_s = _last_where(anchored & pd.notna(sink), start_of)
    ts_eff = np.where(has, fixed[last], _NAT)
    sink_eff = np.where(has_s, sink[last_s], "continuation")
    msg = turn[last]
    if "_stamp" in frame:
        stamp = frame["_stamp"].to_numpy(dtype=object)
        stamped = pd.notna(stamp)
        ts_eff[stamped] = ts[stamped]
        sink_eff[stamped] = stamp[stamped]
        msg[stamped] = turn[stamped]
        has = has | stamped
    return frame.assign(
        ts_parsed=fixed.view("datetime64[us]"),
        msg_turn_idx=pd.arrays.IntegerArray(msg.astype("int32"), mask=~has),
        ts_eff=ts_eff.view("datetime64[us]"),
        sink_eff=sink_eff,
    ).reset_index(drop=True)


def parse_assemble(
    rows: pd.DataFrame,
    tz_offset_min: int = 0,
    anchor_years: pd.Series | None = None,
) -> pd.DataFrame:
    """Unparsed rows of whole sources → ``parse_series`` over their
    text (stamped rows parse a null line) → ``repair_assemble``."""
    text = rows["text"]
    if "_stamp" in rows:
        text = text.where(rows["_stamp"].isna(), None)
    parsed = parse_series(
        text, tz_offset_min=tz_offset_min, anchor_years=anchor_years
    )
    return repair_assemble(pd.concat([rows, parsed], axis=1))


def assemble_stage(df: DataFrame) -> DataFrame:
    """Adds:
    msg_turn_idx — turn_idx of the message anchor (dt-bearing turn)
    ts_eff       — the message timestamp every line inherits
    sink_eff     — the message's sink (continuations route with it)
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    anchored = F.col("ts_parsed").isNotNull()
    # one select, not chained withColumns: all three running lasts
    # share one window spec, and a single Project lets the analyzer
    # host them in ONE Window node (one buffer pass over each conv
    # group instead of two — plans/r06/parse_only_after.txt)
    return df.select(
        "*",
        F.last(
            F.when(anchored, F.col("turn_idx")), ignorenulls=True
        ).over(w).alias("msg_turn_idx"),
        F.last("ts_parsed", ignorenulls=True).over(w).alias("ts_eff"),
        F.coalesce(
            F.last(
                F.when(anchored, F.col("sink")), ignorenulls=True
            ).over(w),
            F.lit("continuation"),
        ).alias("sink_eff"),
    )
