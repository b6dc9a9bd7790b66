"""ODL decoder tests: real-corpus parity, round-trip, routing.

The parity test is the strongest check in the file: the reference
repo ships expected CLI outputs for three genuine OneDrive ODL files
(.odl, .odlgz with a multi-member gzip body, .aodl); our decoder +
renderer must reproduce every record byte-identically.
"""

from __future__ import annotations

import os
import re

import pytest

from super_speedy_syslog_searcher_spark.operators.odl import (
    decode_odl_file,
    encode_odl,
    read_odl,
    render_params,
)

R = "/root/reference/logs/programs/OneDrive/Local/Microsoft/OneDrive/logs"
E = (
    "/root/reference/tools/compare-current-and-expected/logs/programs/"
    "OneDrive/Local/Microsoft/OneDrive/logs"
)
REAL_FILES = [
    "Common/FileCoAuth-2025-12-21.1214.4056.1.odl",
    "ListSync/Business1/Nucleus-2025-12-21.1214.9352.1.odlgz",
    "ListSync/Business1/Nucleus-2025-12-23.1618.7692.3.aodl",
]


def _expected_records(path):
    raw = open(path, encoding="utf-8", errors="replace").read()
    out = []
    for chunk in raw.split("⇳"):
        m = re.search(r"┋(\d{13}) (.*?)\n?$", chunk, re.S)
        if m:
            out.append((int(m.group(1)), m.group(2).rstrip("\n")))
    return out


@pytest.mark.skipif(
    not os.path.isdir(R), reason="reference logs not available"
)
@pytest.mark.parametrize("rel", REAL_FILES)
def test_real_odl_files_match_reference_stdout(rel):
    """Every record of the reference's own expected ODL outputs,
    byte-identical (1,455 records across the three files)."""
    df = decode_odl_file(open(f"{R}/{rel}", "rb").read())
    expected = _expected_records(f"{E}/{rel}.stdout")
    assert len(df) == len(expected) > 0
    for (_, r), (ets, etext) in zip(df.iterrows(), expected):
        ts_ms = r["ts"].value // 1_000_000
        rend = f"{r['code_file']}:{r['function']};" + (
            f" {r['params']}" if r["params"] else ""
        )
        assert ts_ms == ets
        assert rend == etext


def test_odl_roundtrip_and_spark_read(spark, tmp_path):
    recs = [
        {
            "ts_ms": 1_704_423_600_000 + i * 1000,
            "code_file": f"Mod{i % 3}.cpp",
            "line": 10 + i,
            "function": f"Ns::Fn{i}",
            "params": [f"param one {i}", "second"] if i % 2 else [],
            "pid": 4242,
            "tid": 777,
        }
        for i in range(6)
    ]
    p1 = tmp_path / "a.odl"
    p1.write_bytes(encode_odl(recs[:3]))
    p2 = tmp_path / "b.odlgz"
    p2.write_bytes(encode_odl(recs[3:], gz=True))
    out = read_odl(spark, [str(p1), str(p2)]).collect()
    assert len(out) == 6
    by_src = {}
    for r in out:
        by_src.setdefault(r.source.rsplit("/", 1)[-1], []).append(r)
    a = sorted(by_src["a.odl"], key=lambda r: r.rec_idx)
    assert a[1].function == "Ns::Fn1"
    assert a[1].params == "param one 1 second"
    assert a[0].params == ""
    assert a[0].pid == 4242 and a[0].tid == 777 and a[0].line == 10
    b = sorted(by_src["b.odlgz"], key=lambda r: r.rec_idx)
    assert [r.code_file for r in b] == [
        "Mod0.cpp", "Mod1.cpp", "Mod2.cpp",
    ]


def test_render_params_rules():
    import struct

    def s(x):
        b = x.encode()
        return struct.pack("<I", len(b)) + b

    # strings >= 4 chars render, joined by single spaces
    assert render_params(s("alpha") + s("beta")) == "alpha beta"
    # < 4-char strings are skipped (the reference drops '596', 'ODB')
    assert render_params(s("AppId") + s("596")) == "AppId"
    # non-string params before a string: one-byte resync recovers it
    blob = b"\x00\x00\x00\x00\x01" + s("Saved ramp allowed")
    assert render_params(blob) == "Saved ramp allowed"
    # tabs allowed inside strings
    assert render_params(s("a\tb\tc")) == "a\tb\tc"
    # pure binary yields nothing
    assert render_params(b"\x00\x01\xff\xfe\x80\x90") == ""


def test_odl_routes_and_merges(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        assembled_from_paths,
        path_to_filetype,
    )

    assert path_to_filetype("x.odl") == "odl"
    assert path_to_filetype("x.odlgz") == "odl"
    assert path_to_filetype("x.aodl") == "odl"
    assert path_to_filetype("x.odl.gz") == "odl"
    (tmp_path / "app.log").write_text(
        "2024-01-05T03:00:20 in between\n"
    )
    (tmp_path / "t.odl").write_bytes(
        encode_odl(
            [
                {
                    "ts_ms": 1_704_423_610_000,  # 03:00:10Z
                    "code_file": "A.cpp",
                    "line": 1,
                    "function": "F::One",
                    "params": ["hello world"],
                },
                {
                    "ts_ms": 1_704_423_630_000,  # 03:00:30Z
                    "code_file": "B.cpp",
                    "line": 2,
                    "function": "F::Two",
                    "params": [],
                },
            ]
        )
    )
    from super_speedy_syslog_searcher_spark.operators.merge import (
        merge_ordered,
    )

    asm = assembled_from_paths(
        spark, [str(tmp_path / "app.log"), str(tmp_path / "t.odl")]
    )
    rows = merge_ordered(asm).collect()
    texts = [r.text for r in rows]
    assert texts == [
        "1704423610000 A.cpp:F::One; hello world",
        "2024-01-05T03:00:20 in between",
        "1704423630000 B.cpp:F::Two;",
    ]
    assert [r.sink_eff for r in rows] == [
        "odl", "iso8601_notz", "odl",
    ]
