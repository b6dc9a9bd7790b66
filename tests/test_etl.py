"""ETL decoder tests: real-corpus parity, compressed variants,
round-trip, routing."""

from __future__ import annotations

import os
import re

import pytest

from super_speedy_syslog_searcher_spark.operators.etl import (
    decode_etl_file,
    encode_etl,
    read_etl,
)

REAL = (
    "/root/reference/logs/programs/Event_Trace_Log/"
    "waasmedic.20251005_113019_195.etl"
)
EXPECTED = (
    "/root/reference/tools/compare-current-and-expected/logs/programs/"
    "Event_Trace_Log/waasmedic.20251005_113019_195.etl.stdout"
)
needs_reference = pytest.mark.skipif(
    not os.path.exists(REAL), reason="reference logs not available"
)


def _norm(s: str) -> str:
    # the vendored renderer's NULLx<hex>L token is a memory-address
    # artifact of its run, not data — normalize it on both sides
    return re.sub(r"NULLx[0-9a-f]+L", "NULLxL", s)


def _expected_lines():
    raw = open(EXPECTED, encoding="utf-8", errors="replace").read()
    out = []
    for chunk in raw.split("⇳"):
        m = re.search(r"┋\d{8}T\d{6}\.\d+┋(.*?)\n?$", chunk, re.S)
        if m:
            out.append(m.group(1).rstrip("\n"))
    return out


@needs_reference
def test_real_etl_matches_reference_stdout():
    """All 21 records of the reference's expected ETL output,
    byte-identical modulo the NULLx memory-address token: WMI buffer
    walk, SystemHeader/PerfinfoTraceHeader/EventHeader layouts,
    QPC→wall anchoring against the logfile header's StartTime (the
    float pipeline reproducing the renderer's exact µs rounding),
    tracelogging extension items, and the EventTrace payload
    templates (logfile header, partition info, BuildInfo,
    DbgIdRSDS)."""
    df = decode_etl_file(open(REAL, "rb").read())
    expected = _expected_lines()
    assert len(df) == len(expected) == 21
    for mine, exp in zip(df["line"], expected):
        assert _norm(mine) == _norm(exp)
    # the ts COLUMN is integer-exact: within 2 µs of the rendered
    # float-pipeline stamps, monotone non-decreasing in this file
    assert df["ts"].notna().all()
    assert df["ts"].is_monotonic_increasing


@needs_reference
def test_compressed_etl_variants_decode():
    import gzip
    import lzma

    plain = decode_etl_file(open(REAL, "rb").read())
    from super_speedy_syslog_searcher_spark.functions import lz4frame

    for ext, dec in (
        (".gz", gzip.decompress),
        (".xz", lzma.decompress),
        (".lz4", lz4frame.decompress),
    ):
        data = dec(open(REAL + ext, "rb").read())
        df = decode_etl_file(data)
        assert list(df["line"]) == list(plain["line"]), ext


def test_etl_roundtrip_and_spark_read(spark, tmp_path):
    base_us = 1_704_423_600_000_000
    recs = [
        {
            "ts_us": base_us + i * 1_000_000,
            "provider": "2451d230-68a4-5c50-de82-8411646eb8b5",
            "tid": 100 + i,
            "pid": 999,
            "version": i % 3,
            "payload": b"x" * i,
        }
        for i in range(5)
    ]
    p = tmp_path / "t.etl"
    p.write_bytes(encode_etl(recs, start_us=base_us - 1_000_000))
    out = read_etl(spark, str(p)).orderBy("rec_idx").collect()
    assert len(out) == 6  # header event + 5
    assert out[0].kind == "SystemHeader" and out[0].opcode == "Header"
    for i, r in enumerate(out[1:]):
        assert r.kind == "EventHeader"
        assert r.provider_id == "2451d230-68a4-5c50-de82-8411646eb8b5"
        assert r.thread_id == 100 + i and r.process_id == 999
        assert r.ts.timestamp() * 1_000_000 == base_us + i * 1_000_000
        assert r.payload_len == i
        assert f"ThreadId={100 + i}" in r.line


def test_etl_routes_and_merges(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.operators.merge import (
        merge_ordered,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
        path_to_filetype,
    )

    assert path_to_filetype("x.etl") == "etl"
    assert path_to_filetype("x.etl.lz4") == "etl"
    (tmp_path / "app.log").write_text(
        "2024-01-05T03:00:20 in between\n"
    )
    base_us = 1_704_423_610_000_000  # 03:00:10Z
    (tmp_path / "t.etl").write_bytes(
        encode_etl(
            [
                {"ts_us": base_us,
                 "provider": "2451d230-68a4-5c50-de82-8411646eb8b5"},
                {"ts_us": base_us + 20_000_000,
                 "provider": "2451d230-68a4-5c50-de82-8411646eb8b5"},
            ],
            start_us=base_us,
        )
    )
    rows = merge_ordered(
        assembled_from_paths(
            spark, [str(tmp_path / "app.log"), str(tmp_path / "t.etl")]
        )
    ).collect()
    sinks = [r.sink_eff for r in rows]
    # header event + event1 at 03:00:10, text at :20, event2 at :30
    assert sinks == ["etl", "etl", "iso8601_notz", "etl"]
    assert "<EventHeader " in rows[1].text
