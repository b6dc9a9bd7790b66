"""ASL decoder tests: real-corpus parity, whole-corpus walk,
round-trip, routing."""

from __future__ import annotations

import glob
import os
import re

import pytest

from super_speedy_syslog_searcher_spark.operators.asl import (
    decode_asl_file,
    encode_asl,
    read_asl,
    render_line,
    walk_asl,
)

REAL = "/root/reference/logs/MacOS11/powermanagement/2023.10.26.asl"
EXPECTED = (
    "/root/reference/tools/compare-current-and-expected/logs/MacOS11/"
    "powermanagement/2023.10.26.asl.stdout"
)
needs_reference = pytest.mark.skipif(
    not os.path.exists(REAL), reason="reference logs not available"
)


@needs_reference
def test_real_asl_matches_reference_stdout():
    """Every record of the reference's expected .asl output,
    byte-identical (the rendering contract: UTC ISO ts, two-space
    field separation, uid omitted, message quoted, kv pairs
    appended)."""
    raw = open(EXPECTED, encoding="utf-8", errors="replace").read()
    expected = []
    for chunk in raw.split("⇳"):
        m = re.search(r"┋\d{8}T\d{6}\.\d+┋(.*?)\n?$", chunk, re.S)
        if m:
            expected.append(m.group(1).rstrip("\n"))
    mine = [render_line(r) for r in walk_asl(open(REAL, "rb").read())]
    assert len(mine) == len(expected) == 10
    assert mine == expected


@needs_reference
def test_whole_corpus_asl_walk():
    """All genuine .asl stores in the corpus decode without error
    (30 files, 4,000+ records across three macOS generations)."""
    files = [
        f
        for f in glob.glob(
            "/root/reference/logs/**/*.asl", recursive=True
        )
        if not f.rsplit("/", 1)[-1].startswith("._")
    ]
    assert len(files) >= 25
    total = 0
    for f in files:
        df = decode_asl_file(open(f, "rb").read())
        assert len(df) > 0, f
        assert df["ts"].notna().all(), f
        total += len(df)
    assert total >= 3500


def test_asl_roundtrip_and_spark_read(spark, tmp_path):
    base_us = 1_704_423_600_000_000
    recs = [
        {
            "rid": 100 + i,
            "ts_us": base_us + i * 1_500_000,
            "level": i % 8,
            "pid": 68,
            "uid": 0,
            "gid": 0,
            "ruid": 0xFFFFFFFF,
            "rgid": 80,
            "host": "localhost",  # 9 chars -> string record
            "sender": "pwd",  # <= 7 -> inline
            "facility": "com.apple.iokit.power",
            "message": f"msg number {i} with 'quotes' inside" if i else None,
            "kvs": [("ShortK", f"v{i}"), ("A.Longer.Key.Name", "value x")],
        }
        for i in range(5)
    ]
    p = tmp_path / "store.asl"
    p.write_bytes(encode_asl(recs))
    out = read_asl(spark, str(p)).orderBy("rec_idx").collect()
    assert len(out) == 5
    r1 = out[1]
    assert r1.rid == 101
    assert r1.level_name == "Alert"
    assert r1.host == "localhost" and r1.sender == "pwd"
    assert r1.message == "msg number 1 with 'quotes' inside"
    assert r1.extras == "ShortK=v1  A.Longer.Key.Name=value x"
    assert r1.read_uid == 4294967295 and r1.read_gid == 80
    assert out[0].message is None
    assert "message=" not in out[0].line
    assert "id=101" in r1.line and "level=Alert" in r1.line


def test_asl_routes_and_merges(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.operators.merge import (
        merge_ordered,
    )
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
        path_to_filetype,
    )

    assert path_to_filetype("x.asl") == "asl"
    assert path_to_filetype("x.asl.gz") == "asl"
    (tmp_path / "app.log").write_text(
        "2024-01-05T03:00:20 in between\n"
    )
    (tmp_path / "s.asl").write_bytes(
        encode_asl(
            [
                {"rid": 1, "ts_us": 1_704_423_610_000_000,
                 "level": 5, "sender": "d1", "message": "first"},
                {"rid": 2, "ts_us": 1_704_423_630_000_000,
                 "level": 5, "sender": "d2", "message": "last"},
            ]
        )
    )
    rows = merge_ordered(
        assembled_from_paths(
            spark, [str(tmp_path / "app.log"), str(tmp_path / "s.asl")]
        )
    ).collect()
    assert [r.sink_eff for r in rows] == ["asl", "iso8601_notz", "asl"]
    assert "message='first'" in rows[0].text
    assert rows[0].text.startswith("2024-01-05T03:00:10.000000  id=1")


def test_undecodable_binary_file_is_fault_isolated(spark, tmp_path):
    """An AppleDouble '._' sidecar (or any wrong-magic file) routed
    to a binary reader warns and skips — never kills the job (the
    per-file fault-isolation contract shared with the text
    source)."""
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
    )

    good = tmp_path / "good.asl"
    good.write_bytes(
        encode_asl(
            [{"rid": 1, "ts_us": 1_704_423_610_000_000,
              "level": 5, "sender": "d1", "message": "ok"}]
        )
    )
    junk = tmp_path / "._junk.asl"
    junk.write_bytes(b"\x00\x05\x16\x07 appledouble junk")
    rows = assembled_from_paths(spark, [str(tmp_path)]).collect()
    assert len(rows) == 1
    assert rows[0].text.endswith("message='ok'")
