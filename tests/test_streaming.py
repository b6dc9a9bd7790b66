"""Structured Streaming: availableNow drain equals batch results;
checkpoint restart processes only new files."""

from __future__ import annotations

from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.datagen import transcripts_df
from super_speedy_syslog_searcher_spark.operators.parse import parse_stage
from super_speedy_syslog_searcher_spark.streaming import pipeline as sp

from tests.conftest import SF_SMOKE


def _write_input(spark, t, path, marker):
    (
        t.withColumn("conv_id", F.concat("conv_id", F.lit(marker)))
        .coalesce(2)
        .write.mode("append")
        .parquet(path)
    )


def test_streaming_routed_and_incremental(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = transcripts_df(spark, SF_SMOKE)
    _write_input(spark, t, in_dir, "@a")

    def drain():
        # fan-out: the drain of drain_to_parquet, partitioned by sink
        sp.drain(
            parse_stage(sp.stream_source(spark, in_dir))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .partitionBy("sink")
        )

    drain()
    got1 = spark.read.parquet(out_dir)
    batch = parse_stage(spark.read.parquet(in_dir))
    assert got1.count() == batch.count()
    # routing fan-out: sink=... partition dirs exist
    sinks = {r["sink"] for r in got1.select("sink").distinct().collect()}
    assert "iso8601_tz" in sinks and "continuation" in sinks

    # append new files; restart with same checkpoint → only new rows added
    _write_input(spark, t, in_dir, "@b")
    drain()
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 2 * got1.count()
    # the first batch's rows were not reprocessed/duplicated
    a_rows = got2.filter(F.col("conv_id").endswith("@a")).count()
    assert a_rows == got1.count()


def test_streaming_hourly_matches_batch(spark, tmp_path):
    in_dir = str(tmp_path / "in2")
    t = transcripts_df(spark, SF_SMOKE)
    t.coalesce(2).write.mode("overwrite").parquet(in_dir)

    sp.drain_to_memory(
        sp.hourly_counts(sp.stream_source(spark, in_dir)),
        "hourly_t",
        "complete",
    )
    got = {
        (r["hour"], r["sink"]): r["rows"]
        for r in spark.sql("SELECT * FROM hourly_t").collect()
    }
    batch = (
        parse_stage(spark.read.parquet(in_dir))
        .filter(F.col("ts_parsed").isNotNull())
        .groupBy(
            F.date_trunc("hour", "ts_parsed").alias("hour"), "sink"
        )
        .agg(F.count("*").alias("rows"))
    )
    want = {(r["hour"], r["sink"]): r["rows"] for r in batch.collect()}
    assert got == want


def test_stateful_assembly_equals_batch(spark, tmp_path):
    """applyInPandasWithState continuation-attach across micro-batches
    == batch parse + uptime repair + assemble (the streaming path now
    carries the boot anchor in state, round-4); state survives the
    batch boundary."""
    from super_speedy_syslog_searcher_spark.operators.assemble import (
        assemble_stage,
    )
    from super_speedy_syslog_searcher_spark.operators.repair import (
        anchor_uptime,
    )
    from super_speedy_syslog_searcher_spark.streaming import stateful

    in_dir = str(tmp_path / "in3")
    out_dir = str(tmp_path / "out3")
    ckpt = str(tmp_path / "ck3")
    t = transcripts_df(spark, SF_SMOKE)
    cols = ["conv_id", "turn_idx", "msg_turn_idx", "ts_eff", "sink_eff"]

    def drain():
        sp.drain_to_parquet(
            stateful.assembled_stream(sp.stream_source(spark, in_dir)),
            out_dir,
            ckpt,
        )

    # two arrival batches split on turn ranges (append-only contract)
    t.filter("turn_idx < 20").coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    t.filter("turn_idx >= 20").coalesce(1).write.mode("append").parquet(in_dir)
    drain()

    got = spark.read.parquet(out_dir).select(*cols)
    want = assemble_stage(anchor_uptime(parse_stage(t))).select(*cols)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # at least one continuation in batch 2 inherits a batch-1 anchor
    cross = got.filter(
        (F.col("turn_idx") >= 20) & (F.col("msg_turn_idx") < 20)
    ).count()
    assert cross >= 1


def test_stateful_state_ttl_eviction(spark, tmp_path):
    """Idle-conversation state is evicted once the stream's event-time
    watermark passes anchor+TTL (EventTimeTimeout — deterministic, no
    wall clock); a late continuation arriving after eviction degrades
    to sink_eff='continuation' (documented), instead of inheriting the
    long-gone anchor.  Contrast: the no-TTL test above proves
    cross-batch inheritance when state is kept."""
    from super_speedy_syslog_searcher_spark.streaming import stateful

    in_dir = str(tmp_path / "in4")
    out_dir = str(tmp_path / "out4")
    ckpt = str(tmp_path / "ck4")
    schema = sp.TRANSCRIPT_SCHEMA

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def run():
        stream = sp.stream_source(spark, in_dir, max_files_per_trigger=1)
        sp.drain_to_parquet(
            # evict 1 event-minute after anchor
            stateful.assembled_stream(stream, state_ttl_ms=60_000),
            out_dir,
            ckpt,
        )

    t0 = __import__("datetime").datetime(2024, 1, 5, 3, 0, 0)
    # run 1: conv X anchors at 03:04:05 (deadline 03:05:05)
    write_batch(
        [
            ("conv-X", 0, "user", "2024-01-05T03:04:05 start", "none", t0),
            ("conv-X", 1, "user", "  continuation one", "none", t0),
        ]
    )
    run()
    # run 2: conv Y at 05:00 advances the watermark (event max minus
    # the 1-hour default reorder delay → 04:00) past X's deadline
    write_batch([("conv-Y", 0, "user", "2024-01-05T05:00:00 other", "none", t0)])
    run()
    # run 3: conv Z — X has no data this batch and wm > deadline → X's
    # timeout fires here and its state is removed
    write_batch([("conv-Z", 0, "user", "2024-01-05T05:00:01 third", "none", t0)])
    run()
    # run 4: late continuation for X after eviction
    write_batch([("conv-X", 2, "user", "  late continuation", "none", t0)])
    run()

    got = {
        (r["conv_id"], r["turn_idx"]): (r["sink_eff"], r["msg_turn_idx"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[("conv-X", 1)][0] == "iso8601_notz"  # pre-eviction attach
    assert got[("conv-X", 2)] == ("continuation", None)  # post-eviction


def test_stateful_ttl_late_datetime_row_dropped(spark, tmp_path):
    """ADVICE r2: under EventTimeTimeout Spark DROPS datetime-bearing
    rows older than the watermark — they lose the ROW, not just state.
    The watermark_delay default ('1 hour') is the reorder tolerance;
    this pins the documented semantics: a dt row >1h behind the
    stream's max event time never reaches the output, while a null-ts
    continuation always passes."""
    from super_speedy_syslog_searcher_spark.streaming import stateful

    in_dir = str(tmp_path / "in5")
    out_dir = str(tmp_path / "out5")
    ckpt = str(tmp_path / "ck5")
    schema = sp.TRANSCRIPT_SCHEMA
    t0 = __import__("datetime").datetime(2024, 1, 5, 3, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def run():
        stream = sp.stream_source(spark, in_dir, max_files_per_trigger=1)
        sp.drain_to_parquet(
            stateful.assembled_stream(stream, state_ttl_ms=60_000),
            out_dir,
            ckpt,
        )

    # batch 1 pushes the watermark to 09:00 (10:00 max - 1h delay)
    write_batch(
        [("conv-A", 0, "user", "2024-01-05T10:00:00 head", "none", t0)]
    )
    run()
    # batch 2: a dt row 7h behind the watermark (dropped) and a null-ts
    # continuation (kept, degrades to sink 'continuation' — conv-B has
    # no anchor)
    write_batch(
        [
            ("conv-B", 0, "user", "2024-01-05T02:00:00 too-late", "none", t0),
            ("conv-B", 1, "user", "  just a continuation", "none", t0),
        ]
    )
    run()

    rows = {
        (r["conv_id"], r["turn_idx"]): r["sink_eff"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert ("conv-B", 0) not in rows  # late dt row dropped entirely
    assert rows[("conv-B", 1)] == "continuation"


def test_stateful_uptime_anchor_carried_across_batches(spark, tmp_path):
    """Streaming uptime repair (round-4): the conv's boot anchor is
    computed from the first uptime row and CARRIED in state, so a
    dmesg row arriving in a later micro-batch — even with a NULL
    trusted-ts column — resolves to the same absolute time the batch
    repair derives (repair.anchor_uptime semantics)."""
    import datetime as dtm

    from super_speedy_syslog_searcher_spark.streaming import stateful

    in_dir = str(tmp_path / "in_up")
    out_dir = str(tmp_path / "out_up")
    ckpt = str(tmp_path / "ck_up")
    schema = sp.TRANSCRIPT_SCHEMA
    mt = dtm.datetime(2024, 1, 5, 3, 0, 0)  # mtime stand-in

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    def run():
        sp.drain_to_parquet(
            stateful.assembled_stream(sp.stream_source(spark, in_dir)),
            out_dir,
            ckpt,
        )

    # batch 1: boot becomes computable — uptime 100s at ts 03:00:00
    # → boot = 02:58:20
    write_batch(
        [
            ("conv-U", 0, "log", "[  100.000000] kernel up", "none", mt),
            ("conv-U", 1, "log", "    continuation alpha", "none", mt),
        ]
    )
    run()
    # batch 2: a dmesg row with NULL ts — only the carried state can
    # anchor it — plus a trailing continuation inheriting it
    write_batch(
        [
            ("conv-U", 2, "log", "[  250.500000] disk online", "none", None),
            ("conv-U", 3, "log", "    continuation beta", "none", None),
        ]
    )
    run()

    got = {
        r["turn_idx"]: r
        for r in spark.read.parquet(out_dir).collect()
    }
    boot = mt - dtm.timedelta(seconds=100)
    assert got[0]["ts_parsed"] == boot + dtm.timedelta(seconds=100)
    assert got[0]["sink_eff"] == "dmesg_uptime"
    assert got[1]["ts_eff"] == got[0]["ts_parsed"]  # continuation
    # the batch-2 dmesg row anchored purely from carried state
    assert got[2]["ts_parsed"] == boot + dtm.timedelta(
        seconds=250, microseconds=500000
    )
    assert got[2]["sink_eff"] == "dmesg_uptime"
    assert got[3]["ts_eff"] == got[2]["ts_parsed"]
    assert got[3]["msg_turn_idx"] == 2


def test_streaming_evtx_incremental_decode(spark, tmp_path):
    """Binary formats stream too: .evtx files arriving in a watched
    directory decode incrementally; the checkpoint makes the restart
    process ONLY the new file."""
    from super_speedy_syslog_searcher_spark.operators.evtx import (
        RECORDS_SCHEMA,
        decode_evtx_file,
        encode_evtx,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        read_binary_stream,
    )

    in_dir = tmp_path / "evtx_in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "evtx_out")
    ck = str(tmp_path / "evtx_ck")

    def drain():
        stream = read_binary_stream(
            spark, str(in_dir), ".evtx", decode_evtx_file, RECORDS_SCHEMA
        )
        sp.drain_to_parquet(stream, out_dir, ck)

    base = 1_704_423_600_000_000
    (in_dir / "a.evtx").write_bytes(
        encode_evtx(
            [{"record_id": i + 1, "ts_us": base + i, "payload": f"<E>{i}</E>"}
             for i in range(20)]
        )
    )
    drain()
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == 20
    (in_dir / "b.evtx").write_bytes(
        encode_evtx(
            [{"record_id": 100 + i, "ts_us": base + 50 + i,
              "payload": "<E>late</E>"} for i in range(5)]
        )
    )
    drain()
    got2 = spark.read.parquet(out_dir).toPandas()
    assert len(got2) == 25  # only the new file decoded on restart
    assert (
        got2[got2["source"].str.endswith("b.evtx")]["record_id"].min()
        == 100
    )


def test_streaming_dedup_collapses_redelivery(spark, tmp_path):
    """A redelivered subset of files (at-least-once source) collapses
    to the batch DISTINCT by text digest; re-delivered rows never
    reach the sink twice."""
    in_dir = str(tmp_path / "dd_in")
    t = transcripts_df(spark, SF_SMOKE).limit(400).cache()
    t.write.mode("overwrite").parquet(in_dir)
    # redeliver ~1/7 of the rows as extra files
    t.filter(F.col("turn_idx") % 7 == 0).write.mode("append").parquet(
        in_dir
    )
    name = "t_stream_dedup"
    sp.drain_to_memory(
        sp.dedup_keys(sp.stream_source(spark, in_dir)), name, "append"
    )
    got = spark.table(name)
    expected = t.select(F.md5("text").alias("digest")).distinct().count()
    assert got.count() == expected
    assert got.select("digest").distinct().count() == expected
    t.unpersist()


def test_streaming_scores_equal_batch_and_best_of_n(spark, tmp_path):
    """Stateful running-score stream: per-conv cumulative reward
    carried across micro-batches.  The final (max upd_seq) row per
    conversation equals the batch per-conv score exactly — score is a
    sum (order-independent) and prompt_key latches when turn 0
    arrives — so the drained feed reduces to batch best_of_n."""
    from super_speedy_syslog_searcher_spark.operators import sft
    from super_speedy_syslog_searcher_spark.streaming import stateful

    in_dir = str(tmp_path / "sc_in")
    out_dir = str(tmp_path / "sc_out")
    ckpt = str(tmp_path / "sc_ck")
    t = transcripts_df(spark, SF_SMOKE).cache()

    def drain():
        sp.drain_to_parquet(
            stateful.scored_stream(sp.stream_source(spark, in_dir)),
            out_dir,
            ckpt,
        )

    # two arrival batches split on turn ranges (append-only contract)
    t.filter("turn_idx < 10").coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    t.filter("turn_idx >= 10").coalesce(1).write.mode("append").parquet(in_dir)
    drain()

    got = spark.read.parquet(out_dir)
    fin = got.groupBy("conv_id").agg(
        F.expr("max_by(prompt_key, upd_seq)").alias("prompt_key"),
        F.expr("max_by(score, upd_seq)").alias("score"),
    )
    want = sft._conv_scores(t)
    assert fin.count() == want.count()
    assert fin.exceptAll(want.select("conv_id", "prompt_key", "score")).count() == 0
    # state actually carried: some conv was scored in BOTH batches
    # (upd_seq reached 2) and its running score strictly grew
    two = got.filter("upd_seq >= 2")
    assert two.count() >= 1
    grew = (
        got.alias("a")
        .join(got.alias("b"), "conv_id")
        .filter("a.upd_seq = 1 AND b.upd_seq = 2 AND b.score > a.score")
        .count()
    )
    assert grew >= 1
    t.unpersist()


def test_streaming_sessionize_equals_batch(spark, tmp_path):
    """Stateful streaming session labels across micro-batches equal
    batch sessionize exactly; the (last ts, session idx) state
    survives both micro-batch and restart (checkpoint) boundaries."""
    from super_speedy_syslog_searcher_spark.operators.temporal import (
        sessionize,
    )
    from super_speedy_syslog_searcher_spark.streaming import stateful

    in_dir = str(tmp_path / "se_in")
    out_dir = str(tmp_path / "se_out")
    ckpt = str(tmp_path / "se_ck")
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .cache()
    )
    # split INSIDE a multi-event session (the sparse smoke corpus has
    # ~10 h between a user's events, so a median split never lands in
    # one) — per-user arrival stays ts-ordered, and the chosen
    # session provably spans both batches
    span = (
        sessionize(ev)
        .groupBy("session_id")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("t0"),
            F.max("ts").alias("t1"),
        )
        .filter("n >= 2")
        .orderBy(F.desc("n"), "session_id")
        .first()
    )
    mid = span["t0"] + (span["t1"] - span["t0"]) / 2

    def drain():
        feed = sp.stream_source(spark, in_dir, schema=stateful.EVENTS_SCHEMA)
        sp.drain_to_parquet(stateful.sessionized_stream(feed), out_dir, ckpt)

    ev.filter(F.col("ts") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    drain()
    ev.filter(F.col("ts") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    drain()

    got = spark.read.parquet(out_dir).select(
        "event_id", "user_id", "ts", "session_id"
    )
    want = sessionize(ev).select(
        "event_id", "user_id", "ts", "session_id"
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the split actually exercised cross-batch state: some user has
    # ONE session spanning both sides of the median
    spanning = (
        got.withColumn("side", (F.col("ts") > mid).cast("int"))
        .groupBy("session_id")
        .agg(F.countDistinct("side").alias("sides"))
        .filter("sides = 2")
        .count()
    )
    assert spanning >= 1
    ev.unpersist()


def test_streaming_hll_registers_equal_batch(spark, tmp_path):
    """The complete-mode register stream equals the batch HLL sketch
    over everything ingested — including after a redelivered file
    (max is redelivery-insensitive), and across two drains."""
    from super_speedy_syslog_searcher_spark.operators.sketch import (
        hll_registers,
    )

    in_dir = str(tmp_path / "hll_in")
    t = transcripts_df(spark, SF_SMOKE).cache()
    t.filter("turn_idx < 10").coalesce(1).write.mode("append").parquet(in_dir)
    name = "t_stream_hll"

    def drain():
        sp.drain_to_memory(
            hll_registers(sp.stream_source(spark, in_dir), "text"),
            name,
            "complete",
        )

    drain()
    # second drain: more data + a redelivered subset
    t.filter("turn_idx >= 10").coalesce(1).write.mode("append").parquet(in_dir)
    t.filter("turn_idx % 3 = 0").coalesce(1).write.mode("append").parquet(in_dir)
    drain()

    got = spark.table(name).select("bucket", "maxrho")
    want = hll_registers(t.select("text"), "text")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    t.unpersist()


def test_streaming_cms_cells_equal_batch_across_drains(spark, tmp_path):
    """The complete-mode CMS cell stream equals the batch cms_cells
    over everything ingested so far, across two drains (exactly-once
    source — counts are additive, unlike the HLL max)."""
    from pyspark.sql import functions as F

    from super_speedy_syslog_searcher_spark.operators.sketch import (
        cms_cells,
    )

    in_dir = str(tmp_path / "cms_in")
    t = transcripts_df(spark, SF_SMOKE).cache()
    t.filter("turn_idx < 10").coalesce(1).write.mode("append").parquet(in_dir)
    name = "t_stream_cms"

    def drain():
        sp.drain_to_memory(
            sp.cms_cell_stream(sp.stream_source(spark, in_dir), "text"),
            name,
            "complete",
        )

    drain()

    def batch_cells(df):
        vocab = (
            df.select(
                F.explode(F.split(F.lower("text"), " ")).alias("token")
            )
            .groupBy("token")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
        return cms_cells(vocab)

    got1 = spark.table(name).select("j", "cell", "c")
    want1 = batch_cells(t.filter("turn_idx < 10").select("text"))
    assert got1.exceptAll(want1).count() == 0
    assert want1.exceptAll(got1).count() == 0

    # second drain: counts must GROW to the new batch total
    t.filter("turn_idx >= 10").coalesce(1).write.mode("append").parquet(
        in_dir
    )
    drain()
    got2 = spark.table(name).select("j", "cell", "c")
    want2 = batch_cells(t.select("text"))
    assert got2.exceptAll(want2).count() == 0
    assert want2.exceptAll(got2).count() == 0
    t.unpersist()


def test_drains_leave_no_query_running(spark, tmp_path):
    """Both drains return only after their AvailableNow query has
    stopped: a query still running when the caller moves on (or the
    process exits) would keep its executors and file handles."""
    in_dir = str(tmp_path / "live_in")
    transcripts_df(spark, SF_SMOKE).limit(50).write.parquet(in_dir)
    sp.drain_to_parquet(
        sp.stream_source(spark, in_dir),
        str(tmp_path / "live_out"),
        str(tmp_path / "live_ck"),
    )
    assert spark.streams.active == []
    sp.drain_to_memory(
        sp.hourly_counts(sp.stream_source(spark, in_dir)),
        "t_live_hourly",
        "complete",
    )
    assert spark.streams.active == []
    assert spark.read.parquet(str(tmp_path / "live_out")).count() == 50
    assert spark.table("t_live_hourly").count() > 0
