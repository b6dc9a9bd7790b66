"""Raw log-file source (text + gz) end-to-end, and physical-plan
assertions (pushdown / broadcast / codegen)."""

from __future__ import annotations

import datetime as dt
import gzip
import os

from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark import pipeline as P
from super_speedy_syslog_searcher_spark import plans
from super_speedy_syslog_searcher_spark.operators.enrich import enrich_stage
from super_speedy_syslog_searcher_spark.sources.logfiles import (
    read_log_files_decoded,
)

LOG_A = """2024-01-05T10:00:00 -0800 app start
2024-01-05T10:00:01 -0800 step one
    continuation frame alpha
2024-01-05T10:00:05 -0800 done
"""
LOG_B = """Jan  5 17:59:59 host cron: run
Jan  5 18:00:30 host cron: fin
"""


def test_logfile_source_end_to_end(spark, tmp_path):
    a = tmp_path / "a.log"
    a.write_text(LOG_A)
    bgz = tmp_path / "b.log.gz"
    with gzip.open(bgz, "wt") as f:
        f.write(LOG_B)

    mtime = dt.datetime(2024, 1, 5, 19, 0, 0, tzinfo=dt.timezone.utc)
    for f in (a, bgz):
        os.utime(f, (mtime.timestamp(), mtime.timestamp()))
    src = read_log_files_decoded(spark, [str(a), str(bgz)])
    assert src.count() == 6

    merged = P.full_merge(src)
    rows = merged.select("conv_id", "turn_idx", "text", "ts_eff").collect()
    # global datetime order across the two files, tz-normalized:
    # 17:59:59 UTC (b) < 18:00:00 UTC (a, -0800) < ... < 18:00:30 (b)
    texts = [r["text"] for r in rows]
    assert texts[0].endswith("cron: run")
    assert texts[1].endswith("app start")
    assert texts[-1].endswith("cron: fin")
    # continuation line inherits its anchor's timestamp and follows it
    i = texts.index("    continuation frame alpha")
    assert rows[i]["ts_eff"] == rows[i - 1]["ts_eff"]


def test_dt_filter_pushdown_to_parquet(spark, tmp_path):
    """The -a/-b predicate must reach the parquet scan when filtering
    on the native ts column (s4's binary-search analogue)."""
    p = str(tmp_path / "t.parquet")
    spark.range(100).select(
        F.col("id"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
    ).write.parquet(p)
    df = spark.read.parquet(p).filter(
        F.col("ts") >= F.lit("1970-01-02").cast("timestamp")
    )
    assert plans.has_pushed_filter(df, "ts")


def test_enrich_is_broadcast(spark, duck):
    from super_speedy_syslog_searcher_spark.datagen import transcripts_df

    df = enrich_stage(transcripts_df(spark, "/root/testdata/sf0.001"))
    assert plans.has_broadcast_join(df)


def test_parse_prunes_columns(spark, tmp_path):
    """Selecting only parse outputs prunes the scan to the parse's
    input and its scatter keys — column pruning through the UDF: the
    parquet scan reads conv_id, turn_idx and text, never role, tool
    or ts."""
    import re

    from super_speedy_syslog_searcher_spark.operators.parse import (
        parse_stage,
    )

    p = str(tmp_path / "transcripts.parquet")
    spark.createDataFrame(
        [("c1", 0, "user", "2024-01-05T10:00:00 start", "none",
          dt.datetime(2024, 1, 5, 10))],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).write.parquet(p)
    df = parse_stage(spark.read.parquet(p)).select("sink")
    plan = plans.explain_str(df)
    schemas = re.findall(r"ReadSchema: (struct<.*>)", plan)
    assert schemas == ["struct<conv_id:string,turn_idx:int,text:string>"], plan
    # one ArrowEvalPython node (formatted explain prints each node in
    # the tree and again in the details section)
    nodes = re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)
    assert len(nodes) == 1  # UDF evaluated once, not per struct field


def test_sniff_encoding_table():
    import codecs

    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        sniff_encoding,
    )

    assert sniff_encoding(codecs.BOM_UTF16_LE + b"ab") == "utf-16-le"
    assert sniff_encoding(codecs.BOM_UTF16_BE + b"ab") == "utf-16-be"
    assert sniff_encoding(codecs.BOM_UTF32_LE + b"ab") == "utf-32-le"
    assert sniff_encoding(codecs.BOM_UTF32_BE + b"ab") == "utf-32-be"
    assert sniff_encoding(codecs.BOM_UTF8 + b"ab") == "utf-8-sig"
    assert sniff_encoding(b"2024-01-05") == "utf-8"


def test_utf16_roundtrip_full_pipeline(spark, tmp_path):
    """UTF-16LE+BOM fixture through decode → parse → repair →
    assemble (filepreprocessor.rs:278-360 parity)."""
    import codecs

    from super_speedy_syslog_searcher_spark.operators.assemble import (
        assemble_stage,
    )
    from super_speedy_syslog_searcher_spark.operators.parse import parse_stage
    from super_speedy_syslog_searcher_spark.operators.repair import (
        repair_stage,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        read_log_files_decoded,
    )

    lines = [
        "2024-01-05T03:04:05 alpha start",
        "  continuation one",
        "2024-01-05T03:05:06 beta end",
    ]
    p = tmp_path / "u16.log"
    p.write_bytes(
        codecs.BOM_UTF16_LE + "\n".join(lines).encode("utf-16-le")
    )
    # and a UTF-32BE sibling, gzipped (codec → sniff → decode chain)
    import gzip as _gz

    q = tmp_path / "u32.log.gz"
    q.write_bytes(
        _gz.compress(
            codecs.BOM_UTF32_BE + "2024-01-05T04:00:00 gamma".encode("utf-32-be")
        )
    )
    df = read_log_files_decoded(spark, [str(p), str(q)])
    out = assemble_stage(repair_stage(parse_stage(df)))
    rows = sorted(
        out.collect(), key=lambda r: (r["conv_id"], r["turn_idx"])
    )
    u16 = [r for r in rows if r["conv_id"].endswith("u16.log")]
    assert [r["text"] for r in u16] == lines
    assert u16[0]["sink"] == "iso8601_notz"
    assert u16[1]["sink_eff"] == "iso8601_notz"  # continuation attached
    assert str(u16[2]["ts_eff"]) == "2024-01-05 03:05:06"
    u32 = [r for r in rows if "u32" in r["conv_id"]]
    assert len(u32) == 1 and str(u32[0]["ts_parsed"]) == "2024-01-05 04:00:00"


def test_near_dup_join_is_bucket_keyed(spark):
    """The embedding near-dup CANDIDATE join must key on the coarse
    cell id (an equi-join node with bucket in its keys) — never an
    all-pairs shape.  The only permitted non-equi join is the
    seed-scoring broadcast of the constant-size (K_SEEDS-row) centroid
    table inside seed_scores: that one appears twice (both self-join
    branches rank against the seeds) and is O(N * 16) work by
    construction, not O(N^2)."""
    from super_speedy_syslog_searcher_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plans.explain_str(similarity.embedding_near_dups(emb))
    assert "CartesianProduct" not in plan
    # the candidate pair join is an equi-join keyed on bucket
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert "bucket" in plan
    # seed broadcasts only: every nested-loop join must sit on top of a
    # BroadcastExchange (the 16-row centroid side), never two big
    # sides.  formatted explain prints each node twice (header +
    # detail), so 2 unique BNLJ nodes -> 4 mentions.
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj <= 4 and plan.count("BroadcastExchange") >= n_bnlj


def test_lsh_verified_join_has_no_shingle_self_join(spark):
    """dedup.lsh_verified_pairs: candidate scope comes from MinHash
    bands; the verify joins shingle sets per candidate doc pair, so no
    cartesian/nested-loop join may appear (the hot-shingle quadratic
    join was round-1's scale defect)."""
    from super_speedy_syslog_searcher_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plans.explain_str(dedup.lsh_verified_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_plan_broadcast_no_cartesian(spark):
    """semantic_dedup's member→representative join must broadcast the
    one-row-per-cell rep table and key on the cell — the O(N x 1)
    SemDeDup shape, never pairwise.  The only nested-loop joins
    allowed are the constant-size centroid broadcasts of
    seed_scores."""
    from super_speedy_syslog_searcher_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plans.explain_str(similarity.semantic_dedup(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # seed_scores evaluates twice (member side + rep derivation), so
    # up to 2 unique centroid BNLJ nodes (formatted explain prints
    # each node twice -> 4 mentions), every one atop a BroadcastExchange
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj <= 4 and plan.count("BroadcastExchange") >= n_bnlj


def test_pii_redact_stays_jvm_side(spark):
    """The redaction chain must be whole-stage-codegen expressions —
    no Python/Arrow eval node anywhere in the plan."""
    from super_speedy_syslog_searcher_spark.operators import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plans.explain_str(textstats.redact_pii(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "codegen id" in plan  # formatted-mode codegen annotation


def test_pack_sequences_bounded_explode(spark):
    """pack_sequences explodes each doc onto only the packs it
    overlaps (Generate over a sequence, not a join) and aggregates on
    pack_id; no join of any kind belongs in this plan."""
    from super_speedy_syslog_searcher_spark.operators import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plans.explain_str(textstats.pack_sequences(docs))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Generate" in plan and "HashAggregate" in plan


def test_assembled_from_paths_recurses_directories(spark, tmp_path):
    # s4 walks directory inputs recursively (filepreprocessor.rs
    # process_path); a dir argument must pick up files at any depth
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
    )

    (tmp_path / "top.log").write_text("2024-01-05T03:00:10 top\n")
    sub = tmp_path / "nested" / "deeper"
    sub.mkdir(parents=True)
    (sub / "deep.log").write_text("2024-01-05T03:00:11 deep\n")
    asm = assembled_from_paths(spark, [str(tmp_path)])
    texts = sorted(r.text for r in asm.select("text").collect())
    assert texts == [
        "2024-01-05T03:00:10 top",
        "2024-01-05T03:00:11 deep",
    ]


def test_assembled_from_paths_empty_dir_invalid(spark, tmp_path):
    import pytest as _pytest

    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
    )

    empty = tmp_path / "empty"
    empty.mkdir()
    with _pytest.raises(ValueError):
        assembled_from_paths(spark, [str(empty)])


def test_tar_binary_members_route_by_inner_type(spark, tmp_path):
    """A wtmp / .evtx / .journal member inside a .tar must reach its
    binary reader, not the text parser (filepreprocessor.rs:1205-1260
    routes each archive entry by its own inner filetype)."""
    import tarfile

    from super_speedy_syslog_searcher_spark.operators.evtx import (
        encode_evtx,
    )
    from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
        encode_records,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
    )

    base = 1_704_423_600_000_000  # 2024-01-05T03:00:00Z µs
    payloads = {
        "app.log": (
            b"2024-01-05T03:00:10 tar text line\n"
            b"    continuation line\n"
        ),
        "inner.log.gz": gzip.compress(
            b"2024-01-05T03:00:25 gz member line\n"
        ),
        "events.evtx": encode_evtx(
            [
                {"record_id": 1, "ts_us": base + 5_000_000,
                 "payload": "<Event>tar evtx</Event>"},
            ]
        ),
        "wtmp": encode_records(
            [
                {"ut_user": "root", "ut_line": "pts/9",
                 "ut_host": "tarbox",
                 "tv_sec": base // 1_000_000 + 50, "tv_usec": 0},
            ]
        ),
    }
    tar_path = tmp_path / "mixed.tar"
    with tarfile.open(tar_path, "w") as tf:
        import io
        import time

        for name, data in payloads.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = int(time.time())
            tf.addfile(info, io.BytesIO(data))

    asm = assembled_from_paths(spark, [str(tar_path)])
    rows = asm.collect()
    by_member = {}
    for r in rows:
        member = r.conv_id.split("!", 1)[1]
        by_member.setdefault(member, []).append(r)
    assert set(by_member) == {
        "app.log", "inner.log.gz", "events.evtx", "wtmp",
    }
    # binary members decoded as records, not text lines
    (ev,) = by_member["events.evtx"]
    assert ev.sink_eff == "evtx" and "tar evtx" in ev.text
    (wt,) = by_member["wtmp"]
    assert wt.sink_eff == "utmpx" and "root pts/9 tarbox" in wt.text
    # text members still run the full parse pipeline (continuation
    # attaches to its anchor)
    logs = sorted(by_member["app.log"], key=lambda r: r.turn_idx)
    assert [r.sink_eff for r in logs] == [
        "iso8601_notz", "iso8601_notz",
    ]
    assert logs[1].msg_turn_idx == logs[0].turn_idx
    (gz,) = by_member["inner.log.gz"]
    assert "gz member line" in gz.text
