"""CLI datetime-filter grammar (s4's 95-pattern table, core subset —
src/s4/s4.rs:552-559,3537,3614) + end-to-end CLI run."""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys

import pytest

from super_speedy_syslog_searcher_spark.cli import (
    decode_separator,
    parse_dt_filter,
    resolve_filters,
    tz_offset_minutes,
)

NOW = dt.datetime(2024, 6, 1, 12, 0, 0)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(*argv):
    """Run this checkout's CLI in a subprocess, output captured."""
    cmd = [sys.executable, "-m", "super_speedy_syslog_searcher_spark.cli"]
    return subprocess.run(
        [*cmd, *argv], capture_output=True, text=True, timeout=300, cwd=REPO
    )


@pytest.mark.parametrize(
    "value,expected",
    [
        ("2024-01-10", dt.datetime(2024, 1, 10)),
        ("2024-01-10T05:30", dt.datetime(2024, 1, 10, 5, 30)),
        ("2024-01-10 05:30:07", dt.datetime(2024, 1, 10, 5, 30, 7)),
        ("2024-01-10T05:30:07.123", dt.datetime(2024, 1, 10, 5, 30, 7, 123000)),
        ("2024-01-10T05:30:07Z", dt.datetime(2024, 1, 10, 5, 30, 7)),
        ("2024-01-10T05:30:07+0530", dt.datetime(2024, 1, 10, 0, 0, 7)),
        ("2024-01-10T05:30:07-0800", dt.datetime(2024, 1, 10, 13, 30, 7)),
        ("-1d", NOW - dt.timedelta(days=1)),
        ("-1w2d3h", NOW - dt.timedelta(weeks=1, days=2, hours=3)),
        ("+30m", NOW + dt.timedelta(minutes=30)),
        # round-2 grammar growth (s4.rs:552-559 forms)
        ("2024-01-10T05:30:07+05:30", dt.datetime(2024, 1, 10, 0, 0, 7)),
        ("2024-01-10 05:30:07 PST", dt.datetime(2024, 1, 10, 13, 30, 7)),
        ("2024-01-10 05:30:07 UTC", dt.datetime(2024, 1, 10, 5, 30, 7)),
        ("20240110", dt.datetime(2024, 1, 10)),
        ("20240110T053007", dt.datetime(2024, 1, 10, 5, 30, 7)),
        ("20240110_053007", dt.datetime(2024, 1, 10, 5, 30, 7)),
        ("1704112402", dt.datetime(2024, 1, 1, 12, 33, 22)),
        ("+1704112402", dt.datetime(2024, 1, 1, 12, 33, 22)),
    ],
)
def test_filter_grammar(value, expected):
    assert parse_dt_filter(value, now=NOW) == expected


def test_separator_escapes():
    assert decode_separator(r"\t") == "\t"
    assert decode_separator(r"\x00") == "\0"
    assert decode_separator(r"a\\b") == "a\\b"
    assert decode_separator(r"\x1b[") == "\x1b["
    assert decode_separator("plain") == "plain"


def test_tz_offset_minutes():
    assert tz_offset_minutes("+0530") == 330
    assert tz_offset_minutes("-08:00") == -480
    assert tz_offset_minutes("PST") == -480
    with pytest.raises(ValueError):
        tz_offset_minutes("XXX")


def test_at_anchoring():
    a, b = resolve_filters("2024-01-10", "@+5d", now=NOW)
    assert a == dt.datetime(2024, 1, 10)
    assert b == dt.datetime(2024, 1, 15)
    a, b = resolve_filters("@-2h", "2024-01-20T10:00", now=NOW)
    assert b == dt.datetime(2024, 1, 20, 10)
    assert a == dt.datetime(2024, 1, 20, 8)


def test_at_both_sides_rejected():
    with pytest.raises(ValueError):
        resolve_filters("@-1d", "@+1d", now=NOW)


def test_bad_filter_rejected():
    with pytest.raises(ValueError):
        parse_dt_filter("next tuesday", now=NOW)


def test_cli_end_to_end():
    """Run the CLI binary-style; ordered, prepended, bounded output."""
    out = _cli(
        "/root/testdata/sf0.001",
        "-a",
        "2024-01-10",
        "-b",
        "@+5d",
        "-u",
        "-l",
        "--limit",
        "25",
    )
    assert out.returncode == 0, out.stderr[-800:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 25
    stamps = [ln.split(" ")[0] for ln in lines]
    assert stamps == sorted(stamps)  # globally ordered
    assert all(ln.split(" ", 2)[1].startswith("conv-") for ln in lines)


def test_cli_align_tz_separator():
    """-w width alignment + -z arbitrary tz + escaped separator:
    byte-level shape of every prepended field."""
    out = _cli(
        "/root/testdata/sf0.001",
        "-a",
        "2024-01-10",
        "-b",
        "@+5d",
        "-z",
        "-0800",
        "-l",
        "-w",
        "--separator",
        r"\t",
        "--limit",
        "20",
    )
    assert out.returncode == 0, out.stderr[-800:]
    lines = out.stdout.rstrip("\n").split("\n")
    assert len(lines) == 20
    stamp_re = None
    import re as _re

    stamp_re = _re.compile(r"^\d{8}T\d{6}-0800$")
    widths = set()
    for ln in lines:
        stamp, conv, _rest = ln.split("\t", 2)
        assert stamp_re.match(stamp), stamp
        assert conv.startswith("conv-")
        widths.add(len(conv))  # -w: every conv field padded equal
    assert len(widths) == 1


def test_cli_format_jsonl():
    """--format jsonl: journalctl -o json analogue — one JSON object
    per merged row, rendered by a distributed to_json projection."""
    import json as _json

    out = _cli(
        "/root/testdata/sf0.001",
        "-a",
        "2024-01-10",
        "-b",
        "@+5d",
        "--format",
        "jsonl",
        "--limit",
        "15",
    )
    assert out.returncode == 0, out.stderr[-800:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 15
    rows = [_json.loads(ln) for ln in lines]
    for r in rows:
        assert set(r) >= {"ts", "conv_id", "turn_idx", "role", "text"}
    stamps = [r["ts"] for r in rows]
    assert stamps == sorted(stamps)


def test_cli_format_short_iso_and_export():
    """journalctl-family output modes render distributed: short-iso
    lines carry an ISO stamp + host/ident[pid] prefix; export emits
    key=value blocks (journalreader.rs:544-583 mode set)."""
    def run(fmt):
        out = _cli(
            "/root/testdata/sf0.001",
            "-a", "2024-01-10", "-b", "@+5d",
            "--format", fmt, "--limit", "5",
        )
        assert out.returncode == 0, out.stderr[-800:]
        return out.stdout

    import re as _re

    short = run("short-iso").splitlines()
    assert len(short) == 5
    assert all(
        _re.match(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\+0000 conv-\d+ \w+\[\d+\]: ", l)
        for l in short
    ), short[0]

    exp = run("export")
    assert "__REALTIME_TIMESTAMP=" in exp
    assert "MESSAGE=" in exp and "_HOSTNAME=conv-" in exp


def test_cli_prepend_dt_format_and_filename():
    """--prepend-dt-format compiles strftime to one JVM date_format;
    -n prepends the source basename (s4 -n / --prepend-dt-format)."""
    import re as _re

    out = _cli(
        "/root/testdata/sf0.001",
        "-a", "2024-01-10", "-b", "@+5d",
        "-u", "--prepend-dt-format", "%Y-%m-%d %H:%M:%S",
        "-n", "--prepend-separator", "|",
        "--limit", "4",
    )
    assert out.returncode == 0, out.stderr[-800:]
    lines = out.stdout.splitlines()
    assert len(lines) == 4
    assert all(
        _re.match(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\|conv-\d+: ", l)
        for l in lines
    ), lines[0]


def test_strftime_to_java_rejects_unknown():
    import pytest as _pytest

    from super_speedy_syslog_searcher_spark.cli import strftime_to_java

    assert strftime_to_java("%Y%m%dT%H%M%S%z") == "yyyyMMdd'T'HHmmssZ"
    with _pytest.raises(ValueError):
        strftime_to_java("%Q")


def test_cli_full_summary_layout():
    """--summary golden-stderr layout parity (printer/summary.rs:
    864-990 'Program summary:' block + :1279-1515 per-file
    About/Processed/Parsers sections + :163-189 SummaryPrinted
    counters)."""
    import re as _re

    out = _cli(
        "/root/testdata/sf0.001",
        "-a",
        "2024-01-10",
        "-b",
        "2024-01-20",
        "--limit",
        "10",
        "--summary",
    )
    assert out.returncode == 0, out.stderr[-800:]
    assert len(out.stdout.strip().splitlines()) == 10
    err = out.stderr
    # per-file blocks, s4 layout
    assert _re.search(r"^File: conv-\d+$", err, _re.M)
    for field in (
        "    About:",
        "        FileType      : ",
        "    Processed:",
        "        bytes         : ",
        "        lines         : ",
        "        Syslines      : ",
        "        datetime first: ",
        "        datetime last : ",
        "    Parsers:",
    ):
        assert field in err, field
    assert _re.search(r"^        @\[\d+\] regex \S+ \(uses \d+\)$", err, _re.M)
    # global block
    assert "Program summary:" in err
    for field, pat in (
        ("Paths considered       : ", r"\d+"),
        ("Files processed        : ", r"\d+"),
        ("Printed bytes          : ", r"[1-9]\d*"),
        ("Printed Lines          : ", r"10"),
        ("Printed Syslines       : ", r"10"),
        ("Processed Lines        : ", r"\d+"),
        ("Regex patterns known   : ", r"188"),
        ("Regex patterns compiled: ", r"\d\d"),
        ("Datetime filter -a     : ", r"2024-01-10"),
        ("Datetime printed first : ", r"2024-01-1\d"),
        ("Datetime filter -b     : ", r"2024-01-20"),
        ("Datetime printed last  : ", r"2024-01-1\d"),
        ("realtime elapsed       : ", r"\d+\.\d+ s"),
    ):
        m = _re.search(_re.escape(field) + pat, err)
        assert m, f"missing summary field: {field!r}"
    # printed dt range is within the -a/-b window and ordered
    first = _re.search(r"Datetime printed first : (\S+ \S+) ", err).group(1)
    last = _re.search(r"Datetime printed last  : (\S+ \S+) ", err).group(1)
    assert "2024-01-10" <= first <= last <= "2024-01-20"


def test_cli_file_paths_mode_multi_format(tmp_path):
    """`s4 <paths>` parity: the CLI accepts real files, routes by type
    (text / .gz / .evtx / .journal / utmp), and emits ONE globally
    datetime-ordered merge across all of them."""
    import gzip as _gzip

    from super_speedy_syslog_searcher_spark.operators.evtx import (
        encode_evtx,
    )
    from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
        encode_records,
    )
    from super_speedy_syslog_searcher_spark.operators.journal import (
        encode_journal,
    )

    (tmp_path / "app.log").write_text(
        "2024-01-05T03:00:10 text one\n"
        "2024-01-05T03:00:40 text two\n"
        "    continuation of two\n"
    )
    with _gzip.open(tmp_path / "zip.log.gz", "wt") as f:
        f.write("2024-01-05T03:00:25 gz line\n")
    base = 1_704_423_600_000_000  # 2024-01-05T03:00:00Z in µs
    (tmp_path / "events.evtx").write_bytes(
        encode_evtx(
            [
                {"record_id": 1, "ts_us": base + 5_000_000,
                 "payload": "<Event>evtx five</Event>"},
                {"record_id": 2, "ts_us": base + 35_000_000,
                 "payload": "<Event>evtx thirtyfive</Event>"},
            ]
        )
    )
    (tmp_path / "system.journal").write_bytes(
        encode_journal(
            [
                {"seqnum": 1, "ts_us": base + 20_000_000,
                 "fields": {"MESSAGE": "journal twenty",
                            "SYSLOG_IDENTIFIER": "jd"}},
            ]
        )
    )
    (tmp_path / "wtmp").write_bytes(
        encode_records(
            [
                {"ut_user": "root", "ut_line": "pts/1",
                 "ut_host": "box", "tv_sec": base // 1_000_000 + 50,
                 "tv_usec": 0},
            ]
        )
    )
    out = _cli(
        str(tmp_path / "app.log"),
        str(tmp_path / "zip.log.gz"),
        str(tmp_path / "events.evtx"),
        str(tmp_path / "system.journal"),
        str(tmp_path / "wtmp"),
        "-u", "-n",
    )
    assert out.returncode == 0, out.stderr[-1500:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 8
    stamps = [ln.split(" ")[0] for ln in lines]
    assert stamps == sorted(stamps)  # one global merge
    # interleaving across source types, in event-time order
    order = [ln.split(" ", 2)[1].rstrip(":") for ln in lines]
    assert order == [
        "events.evtx",     # 03:00:05
        "app.log",         # 03:00:10
        "system.journal",  # 03:00:20
        "zip.log.gz",      # 03:00:25
        "events.evtx",     # 03:00:35
        "app.log",         # 03:00:40
        "app.log",         # continuation inherits 03:00:40
        "wtmp",            # 03:00:50
    ]
    assert "journal twenty" in lines[2]
    assert "root pts/1 box" in lines[-1]


def test_cli_file_mode_summary_counts_binary_syslines(tmp_path):
    """File-mode --summary consumes the assembled frame: binary
    sources (pre-timestamped) report their records as syslines, the
    Parsers block lists the sink, text sources list their regex
    pattern (with the no-year estimate), and FileType is the routed
    kind."""
    import os as _os

    from super_speedy_syslog_searcher_spark.operators.evtx import (
        encode_evtx,
    )
    from super_speedy_syslog_searcher_spark.patterns import PATTERNS

    (tmp_path / "a.log").write_text(
        "2024-01-05T03:00:10 one\n2024-01-05T03:00:20 two\n"
    )
    # no-year syslog: the year comes from the file's mtime (2024)
    (tmp_path / "ny.log").write_text("Jan  5 03:00:10 host msg\n")
    mtime = dt.datetime(2024, 2, 15, tzinfo=dt.timezone.utc).timestamp()
    _os.utime(tmp_path / "ny.log", (mtime, mtime))
    (tmp_path / "e.evtx").write_bytes(
        encode_evtx(
            [
                {"record_id": 1, "ts_us": 1_704_423_605_000_000,
                 "payload": "<E>x</E>"},
                {"record_id": 2, "ts_us": 1_704_423_615_000_000,
                 "payload": "<E>y</E>"},
                {"record_id": 3, "ts_us": 1_704_423_625_000_000,
                 "payload": "<E>z</E>"},
            ]
        )
    )
    out = _cli(
        str(tmp_path / "a.log"),
        str(tmp_path / "e.evtx"),
        str(tmp_path / "ny.log"),
        "--summary",
    )
    assert out.returncode == 0, out.stderr[-1200:]
    assert len(out.stdout.strip().splitlines()) == 6
    import re as _re

    err = out.stderr
    blocks = dict(
        _re.findall(
            r"File: \S*/(\S+)\n.*?Syslines      : (\d+)",
            err,
            _re.S,
        )
    )
    assert blocks.get("e.evtx") == "3"
    assert blocks.get("a.log") == "2"
    assert "@[evtx] (uses 3)" in err
    pid = {p.name: p.pid for p in PATTERNS}["iso8601_notz"]
    assert f"@[{pid}] regex iso8601_notz (uses 2)" in err
    assert "estimated year of last sysline 2024" in err
    # file mode names each source's routed kind
    kinds = dict(
        _re.findall(
            r"File: \S*/(\S+)\n.*?FileType      : ([^\n]+)",
            err,
            _re.S,
        )
    )
    assert kinds == {"a.log": "text", "e.evtx": "evtx", "ny.log": "text"}


def test_cli_tz_offset_end_to_end(tmp_path):
    """-t/--tz-offset shifts tz-less file timestamps end-to-end: the
    same file read with -t=-0500 prints UTC stamps 5 h later than
    with -t +00:00, and a -a filter expressed in the default zone
    selects accordingly."""
    (tmp_path / "naive.log").write_text(
        "2024-01-05T10:00:00 first\n2024-01-05T11:00:00 second\n"
    )

    def run(*extra):
        out = _cli(
            str(tmp_path / "naive.log"), "-u", *extra,
        )
        assert out.returncode == 0, out.stderr[-800:]
        return out.stdout.strip().splitlines()

    utc = run("-t", "+00:00")
    est = run("-t=-0500")  # = notation for leading '-', s4-style
    assert utc[0].startswith("20240105T100000Z")
    assert est[0].startswith("20240105T150000Z")  # 10:00 EST → 15:00Z
    # filter in the default zone: -a 10:30 local (-0500) = 15:30Z,
    # keeps only the second line
    win = run("-t=-0500", "-a", "2024-01-05T10:30:00")
    assert len(win) == 1 and win[0].endswith("second")


def test_cli_journal_file_with_export_format(tmp_path):
    """journalctl-over-.journal UX: a real journal file rendered with
    --format export (the reference's JournalReader path end-to-end)."""
    from super_speedy_syslog_searcher_spark.operators.journal import (
        encode_journal,
    )

    (tmp_path / "sys.journal").write_bytes(
        encode_journal(
            [
                {"seqnum": 1, "ts_us": 1_704_423_605_000_000,
                 "fields": {"MESSAGE": "unit alpha started",
                            "SYSLOG_IDENTIFIER": "alphad"}},
                {"seqnum": 2, "ts_us": 1_704_423_606_000_000,
                 "fields": {"MESSAGE": "unit beta started",
                            "SYSLOG_IDENTIFIER": "betad"}},
            ]
        )
    )
    out = _cli(
        str(tmp_path / "sys.journal"),
        "--format", "export",
    )
    assert out.returncode == 0, out.stderr[-800:]
    text = out.stdout
    assert "MESSAGE=unit alpha started" in text
    assert "SYSLOG_IDENTIFIER=alphad" in text
    assert "__REALTIME_TIMESTAMP=1704423605000000" in text


def test_cli_invalid_path_warns_and_continues(tmp_path):
    (tmp_path / "ok.log").write_text("2024-01-05T03:00:10 fine\n")
    out = _cli(
        str(tmp_path / "ok.log"),
        str(tmp_path / "missing.log"),
    )
    assert out.returncode == 0, out.stderr[-800:]
    assert len(out.stdout.strip().splitlines()) == 1
    assert "not processed" in out.stderr


def test_cli_all_invalid_inputs_clean_error(tmp_path):
    # every input unreadable → one-line ERROR + nonzero exit, no
    # traceback (s4 exits cleanly when nothing is processable)
    out = _cli(
        str(tmp_path / "missing-a.log"),
        str(tmp_path / "missing-b.log"),
    )
    assert out.returncode == 1
    assert "ERROR:" in out.stderr
    assert "Traceback" not in out.stderr


def test_cli_color_always(tmp_path):
    """-c always wraps each line in its source's deterministic ANSI
    24-bit color from s4's dark palette (printer/printers.rs:117),
    reset-terminated; never strips color codes from --limit/summary
    accounting."""
    (tmp_path / "one.log").write_text(
        "2024-01-05T03:00:10 alpha\n2024-01-05T03:00:11 beta\n"
    )
    (tmp_path / "two.log").write_text("2024-01-05T03:00:12 gamma\n")
    out = _cli(
        str(tmp_path / "one.log"), str(tmp_path / "two.log"),
        "-c", "always",
    )
    assert out.returncode == 0, out.stderr[-800:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 3
    import re as _re

    pat = _re.compile(
        r"^\x1b\[38;2;\d+;\d+;\d+m(.*)\x1b\[0m$"
    )
    bodies = []
    prefixes = []
    for ln in lines:
        m = pat.match(ln)
        assert m, repr(ln)
        bodies.append(m.group(1))
        prefixes.append(ln.split("m", 1)[0])
    assert bodies == [
        "2024-01-05T03:00:10 alpha",
        "2024-01-05T03:00:11 beta",
        "2024-01-05T03:00:12 gamma",
    ]
    # same source -> same color; deterministic across runs
    assert prefixes[0] == prefixes[1]
    # auto on a non-tty (captured stdout) emits no escapes
    out2 = _cli(
        str(tmp_path / "one.log"),
    )
    assert "\x1b[" not in out2.stdout
