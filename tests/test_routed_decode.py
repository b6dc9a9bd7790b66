"""The one-scan routed decode behind ``assembled_from_paths``: every
log-file kind read by one binaryFile scan and decoded by one
mapInPandas.  Equivalence with the per-kind readers, per-file fault
isolation inside a shared batch, and the plan shape."""

from __future__ import annotations

import bz2
import gzip
import io
import lzma
import os
import tarfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from super_speedy_syslog_searcher_spark.operators import asl, etl, evtx, odl
from super_speedy_syslog_searcher_spark.operators import fixedstruct as fx
from super_speedy_syslog_searcher_spark.operators import journal
from super_speedy_syslog_searcher_spark.operators.assemble import assemble_stage
from super_speedy_syslog_searcher_spark.operators.merge import (
    dt_filter,
    merge_ordered,
)
from super_speedy_syslog_searcher_spark.operators.parse import parse_stage
from super_speedy_syslog_searcher_spark.operators.repair import repair_stage
from super_speedy_syslog_searcher_spark.sources import logfiles as L

BASE_US = 1_704_423_600_000_000  # 2024-01-05T03:00:00Z
MTIME = 1_704_500_000  # 2024-01-06, the anchor year of no-year lines
PROVIDER = "2451d230-68a4-5c50-de82-8411646eb8b5"

TEXT = (
    "2024-01-05T03:00:10 app start\n"
    "    continuation one\n"
    "    continuation two\n"
    "Jan  5 03:00:40 host cron: no-year line\n"
    "2024-01-05T03:01:00 app done\n"
)


def _evtx(n: int, off: int = 0) -> bytes:
    return evtx.encode_evtx(
        [
            {"record_id": i + 1, "ts_us": BASE_US + (off + i) * 1_000_000,
             "payload": f"<Event>evtx {i}</Event>"}
            for i in range(n)
        ]
    )


def _journal(n: int) -> bytes:
    return journal.encode_journal(
        [
            {"seqnum": i + 1, "ts_us": BASE_US + (20 + i) * 1_000_000,
             "monotonic_us": i,
             "fields": {"MESSAGE": f"journal {i}",
                        # one entry without an identifier: role falls
                        # back to 'journal'
                        **({"SYSLOG_IDENTIFIER": "svc"} if i else {})}}
            for i in range(n)
        ]
    )


def _wtmp(n: int, user: str = "root") -> bytes:
    return fx.encode_records(
        [
            {"ut_user": user, "ut_line": f"pts/{i}", "ut_host": "box",
             "tv_sec": BASE_US // 1_000_000 + 30 + i, "tv_usec": 0}
            for i in range(n)
        ]
    )


def _asl(n: int) -> bytes:
    return asl.encode_asl(
        [
            {"rid": i + 1, "ts_us": BASE_US + (40 + i) * 1_000_000,
             "level": 5, "sender": "d", "message": f"asl {i}"}
            for i in range(n)
        ]
    )


def _etl(n: int) -> bytes:
    return etl.encode_etl(
        [
            {"ts_us": BASE_US + (50 + i) * 1_000_000, "provider": PROVIDER}
            for i in range(n)
        ],
        start_us=BASE_US + 50 * 1_000_000,
    )


def _odl(n: int) -> bytes:
    return odl.encode_odl(
        [
            {"ts_ms": BASE_US // 1000 + (60 + i) * 1000,
             "code_file": "A.cpp", "line": i, "function": "F::Run",
             # empty params: the rendered line drops the trailing part
             "params": [f"odl {i}"] if i else []}
            for i in range(n)
        ]
    )


def _tar(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = MTIME
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _write(root, files: dict[str, bytes]) -> None:
    for name, data in files.items():
        p = os.path.join(root, name)
        with open(p, "wb") as f:
            f.write(data)
        os.utime(p, (MTIME, MTIME))


def _good_files() -> dict[str, bytes]:
    return {
        "app.log": TEXT.encode(),
        "app2.log.gz": gzip.compress(TEXT.replace("app", "gz").encode()),
        "app3.log.bz2": bz2.compress(TEXT.replace("app", "bz").encode()),
        "events.evtx": _evtx(3),
        "system.journal": _journal(3),
        "wtmp": _wtmp(2),
        "store.asl": _asl(2),
        "trace.etl": _etl(2),
        "sync.odl": _odl(2),
        "bundle.tar": _tar(
            {
                "inner.log": TEXT.replace("app", "tar").encode(),
                "sub/inner.evtx": _evtx(2, off=5),
                "wtmp": _wtmp(1, user="tarred"),
            }
        ),
    }


@pytest.fixture(scope="module")
def mixed_dir(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mixed"))
    _write(root, _good_files())
    return root


# -- the per-kind reference composition ------------------------------------
# Each binary kind's records onto the assembled columns, as separate
# Spark selects over the public per-kind readers: the form the routed
# decode replaced, kept here as the reference it must reproduce.


def _stamped(df, role, text, sink):
    return df.select(
        F.col("source").alias("conv_id"),
        F.col("rec_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        F.lit("none").alias("tool"),
        text.alias("text"),
        F.col("ts"),
        F.col("ts").alias("ts_eff"),
        F.lit(sink).alias("sink_eff"),
        F.col("rec_idx").cast("int").alias("msg_turn_idx"),
    )


SELECTS = {
    "evtx": lambda d: _stamped(d, F.lit("evtx"), F.col("payload"), "evtx"),
    "journal": lambda d: _stamped(
        d,
        F.coalesce(F.nullif("identifier", F.lit("")), F.lit("journal")),
        F.col("message"),
        "journal",
    ),
    "asl": lambda d: _stamped(d, F.lit("asl"), F.col("line"), "asl"),
    "etl": lambda d: _stamped(d, F.lit("etl"), F.col("line"), "etl"),
    "odl": lambda d: _stamped(
        d,
        F.lit("odl"),
        F.concat(
            F.unix_millis("ts").cast("string"), F.lit(" "),
            F.col("code_file"), F.lit(":"), F.col("function"), F.lit(";"),
            F.when(
                F.col("params") != "", F.concat(F.lit(" "), F.col("params"))
            ).otherwise(F.lit("")),
        ),
        "odl",
    ),
    "fixedstruct": lambda d: _stamped(
        d,
        F.lit("utmpx"),
        F.concat_ws(" ", "ut_user", "ut_line", "ut_host"),
        "utmpx",
    ),
}

READERS = {
    "evtx": (evtx.read_evtx, evtx.decode_evtx_file, evtx.RECORDS_SCHEMA),
    "journal": (journal.read_journal, journal.decode_journal_file,
                journal.RECORDS_SCHEMA),
    "asl": (asl.read_asl, asl.decode_asl_file, asl.RECORDS_SCHEMA),
    "etl": (etl.read_etl, etl.decode_etl_file, etl.RECORDS_SCHEMA),
    "odl": (odl.read_odl, odl.decode_odl_file, odl.RECORDS_SCHEMA),
    "fixedstruct": (fx.read_fixedstruct, fx.decode_records,
                    fx.RECORDS_SCHEMA),
}


def _reference(spark, root: str):
    files = sorted(os.path.join(root, f) for f in os.listdir(root))
    kinds = {f: L.path_to_filetype(f) for f in files}
    text_files = [f for f, k in kinds.items() if k in ("text", "tar")]
    # read_log_files_decoded reads every tar member as text: keep the
    # lines of the text members only
    is_text = F.udf(
        lambda c: L.path_to_filetype(c.split("!", 1)[-1]) == "text",
        "boolean",
    )
    lines = L.read_log_files_decoded(spark, text_files).filter(
        is_text("conv_id")
    )
    cols = ["conv_id", "turn_idx", "role", "tool", "text", "ts",
            "ts_eff", "sink_eff", "msg_turn_idx"]
    parts = [
        assemble_stage(
            repair_stage(parse_stage(lines, anchor_from_ts=True))
        ).select(*cols)
    ]
    # binary tar members: decoded member by member on the driver
    tar_uri = {
        f: spark.read.format("binaryFile").load(f).first()["path"]
        for f, k in kinds.items() if k == "tar"
    }
    for kind, (read, decode, schema) in READERS.items():
        recs = [read(spark, [f for f, k in kinds.items() if k == kind])]
        for tar, uri in tar_uri.items():
            with tarfile.open(tar) as tf:
                for m in tf.getmembers():
                    if L.path_to_filetype(m.name) != kind:
                        continue
                    f = decode(tf.extractfile(m).read())
                    f.insert(0, "source", f"{uri}!{m.name}")
                    recs.append(spark.createDataFrame(f, schema))
        for r in recs:
            parts.append(SELECTS[kind](r))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _rows(df) -> list[tuple]:
    return sorted(
        df.collect(), key=lambda r: (r.conv_id, r.turn_idx, str(r.text))
    )


def test_routed_decode_matches_per_kind_readers(spark, mixed_dir):
    got = _rows(L.assembled_from_paths(spark, [mixed_dir]))
    want = _rows(_reference(spark, mixed_dir))
    assert got == want
    # the fixture reaches every kind, tar members included
    sinks = {r.sink_eff for r in got}
    assert {"evtx", "journal", "utmpx", "asl", "etl", "odl",
            "iso8601_notz", "rfc3164_noyear"} <= sinks
    assert any(r.msg_turn_idx != r.turn_idx for r in got)
    members = {r.conv_id.split("!", 1)[1] for r in got if "!" in r.conv_id}
    assert members == {"inner.log", "sub/inner.evtx", "wtmp"}
    assert any(r.role == "journal" for r in got)
    assert any(r.text == f"{BASE_US // 1000 + 60_000} A.cpp:F::Run;"
               for r in got)


def _executed_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _search(spark, mixed_dir):
    return merge_ordered(
        dt_filter(
            L.assembled_from_paths(spark, [mixed_dir]),
            "2024-01-05 03:00:00", "2024-01-05 03:02:00",
        )
    )


def test_one_scan_one_decoder_in_search_plan(spark, mixed_dir):
    """assembled_from_paths → dt_filter → merge_ordered decodes every
    file once: one binaryFile scan, one MapInPandas."""
    plan = _executed_plan(_search(spark, mixed_dir))
    assert plan.count("FileScan binaryFile") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    # lines parse inside the decoder: no second Python pass and no
    # scatter exchange ahead of one
    assert "ArrowEvalPython" not in plan, plan
    assert "xxhash64(conv_id" not in plan, plan
    # sources repair and assemble inside the decoder too: no window,
    # and the merge's exchange is the only one
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_drained_search_runs_two_jobs(spark, mixed_dir):
    """Draining a search as the CLI does runs the merge's shuffle map
    job and one result job: no range-sampling job re-runs the decoder,
    and one merged partition is one toLocalIterator job."""
    sc = spark.sparkContext
    group = "drained-search"
    sc.setJobGroup(group, group)
    try:
        rows = list(_search(spark, mixed_dir).toLocalIterator())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 2, jobs


def test_text_readers_split_lines_alike(spark, tmp_path):
    """Lines end at \\n, \\r\\n and \\r only, as in the Spark text
    source: a form feed, an RS and a U+2028 inside a line do not split
    it, and both text readers number the lines the Spark text source
    reads."""
    p = tmp_path / "ctl.log"
    p.write_bytes(
        "2024-01-05T03:00:10 page\x0cbreak\n"
        "2024-01-05T03:00:20 record\x1eseparator\r\n"
        "2024-01-05T03:00:30 line\u2028separator\rlast line\n".encode()
    )

    def lines(df):
        return sorted((r.turn_idx, r.text) for r in df.collect())

    # one small file is one split, so the text source keeps file order
    want = list(enumerate(r.value for r in spark.read.text(str(p)).collect()))
    assert len(want) == 4
    assert lines(L.read_log_files_decoded(spark, [str(p)])) == want
    assert lines(L.assembled_from_paths(spark, [str(p)])) == want


# -- fault isolation -------------------------------------------------------
# The raw walkers of evtx, journal and utmp recover torn input without
# raising (their own tests cover that), so the bad files of those kinds
# are truncated compressed streams, which fail as a whole.

BAD_FILES = {
    "bad.evtx.gz": gzip.compress(_evtx(2))[:-40],
    "bad.journal.bz2": bz2.compress(_journal(2))[:-20],
    "bad_wtmp.xz": lzma.compress(_wtmp(2))[:-20],
    "bad.asl": _asl(2)[:10],
    "bad.etl": _etl(2)[:-1],
    "bad.odl": bytes([_odl(2)[0] ^ 0xFF]) + _odl(2)[1:],
    "bad.tar": b"not a tar archive" * 64,
}


def _decode_one_batch(files: dict[str, bytes]) -> pd.DataFrame:
    batch = pd.DataFrame(
        {
            "path": [f"file:/logs/{n}" for n in files],
            "modificationTime": pd.Timestamp(MTIME, unit="s"),
            "content": list(files.values()),
        }
    )
    (out,) = list(L._decode_routed(iter([batch])))
    return out


def test_bad_files_share_a_batch_without_losing_good_rows(capsys):
    """Every file in ONE pandas batch, the way the routed decode sees
    a partition: each bad file warns once, and every row of the good
    files of every kind still decodes."""
    want = _decode_one_batch(_good_files())
    assert capsys.readouterr().err == ""
    got = _decode_one_batch({**_good_files(), **BAD_FILES})
    err = capsys.readouterr().err
    for name in BAD_FILES:
        assert err.count(f"WARNING: failed to decode 'file:/logs/{name}'") == 1
    assert err.count("WARNING") == len(BAD_FILES)
    pd.testing.assert_frame_equal(got, want)
    assert set(got["conv_id"].str.removeprefix("file:/logs/")) == {
        "app.log", "app2.log.gz", "app3.log.bz2", "events.evtx",
        "system.journal", "wtmp", "store.asl", "trace.etl", "sync.odl",
        "bundle.tar!inner.log", "bundle.tar!sub/inner.evtx",
        "bundle.tar!wtmp",
    }


def test_bad_files_do_not_fail_the_search(spark, mixed_dir, tmp_path):
    _write(str(tmp_path), {**_good_files(), **BAD_FILES})
    got = L.assembled_from_paths(spark, [str(tmp_path)])
    want = L.assembled_from_paths(spark, [mixed_dir])
    strip = F.regexp_extract("conv_id", r"[^/]+$", 0).alias("conv_id")
    cols = [strip, "turn_idx", "role", "text", "ts", "ts_eff", "sink_eff",
            "msg_turn_idx"]
    assert _rows(got.select(*cols)) == _rows(want.select(*cols))
