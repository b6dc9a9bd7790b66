"""s4-style CLI over the Spark pipeline.

    python -m super_speedy_syslog_searcher_spark.cli <sf_dir> \
        -a 2024-01-10 -b @+5d --prepend-utc --prepend-conv --summary
    python -m super_speedy_syslog_searcher_spark.cli \
        /var/log/app.log logs/*.gz events.evtx system.journal wtmp -u -n

Two input modes: a testdata dir holding events.parquet (the
transcripts table), or — s4's own shape — file paths/globs routed by
type (filepreprocessor.rs:1188 path_to_filetype): text (+gz/bz2/xz,
any UTF encoding) is parsed, repaired and assembled with per-source
mtime anchor years; .evtx / .journal / utmp-family records arrive
pre-timestamped.  Either way the assembled rows fan into ONE
dt-filtered, globally ordered merge, and ``--summary`` reads the same
assembled frame: regex parsers for text sources (with the no-year
estimate), the reader kind for binary ones.

Mirrors the reference's UX (README.md:34-56): a datetime window
(-a/-b) over many sources, globally datetime-ordered output, optional
prepended timestamp/source columns, per-source summary to stderr.

The filter grammar implements the core of s4's 95 accepted forms
(src/s4/s4.rs:552-559, 3537 string_to_rel_offset_datetime, 3614
process_dt): ISO datetime/date (with optional fractional seconds and
±hhmm / ±hh:mm offset, Z, or a named timezone), compact
``YYYYMMDD[Thhmmss]`` / underscore ``YYYYMMDD_hhmmss`` forms, epoch
seconds (``1704112402`` or ``+1704112402``, s4's ``+%s``), relative
offsets like ``-1w2d3h`` against now, and ``@±off`` anchored at the
*other* bound.

Prepend parity (README.md:746-748, s4.rs:6282-6299): ``-u`` UTC
stamp, ``-z TZ`` arbitrary-offset/named-tz stamp, ``-l`` source
(conv) prefix, ``-w`` width-aligns the source column, ``--separator``
decodes backslash escapes (``\\t``, ``\\x00``, …).

Output formats (``--format``): the reference's JournalReader renders
journalctl-compatible output formats (src/readers/journalreader.rs:
1705); here each mode is one projection expression evaluated
distributed — ``jsonl`` (= journalctl -o json) via ``to_json(struct)``,
``cat`` (message text only), ``default`` (text + requested prepends).
"""

from __future__ import annotations

import argparse
import datetime as dt
import re
import sys

# relative offsets: ±Nw/d/h/m/s chains, optional '!hh:mm[:ss]' exact
# time-of-day override, optional trailing tz swap — s4.rs:3537
# string_wdhms_to_duration / string_to_rel_offset_datetime
_TZ_SUFFIX = r"(Z|[+-]\d{2}:?\d{2}|[+-]\d{2}|[A-Za-z]{1,5})"
_REL = re.compile(
    r"^([+-])((?:\d+[smhdwy])+)"
    r"(?:!(\d{1,2}):(\d{2})(?::(\d{2}))?)?"
    rf"(?: ?{_TZ_SUFFIX})?$"
)
_REL_AT = re.compile(
    r"^@([+-])((?:\d+[smhdwy])+)"
    r"(?:!(\d{1,2}):(\d{2})(?::(\d{2}))?)?"
    rf"(?: ?{_TZ_SUFFIX})?$"
)
_UNITS = {
    "s": "seconds", "m": "minutes", "h": "hours",
    "d": "days", "w": "weeks",
}
# ISO with '-' or '/' date separators (s4 accepts %Y-%m-%d AND
# %Y/%m/%d families, s4.rs:552-2462), bare-hours %#z offsets, and
# any-case named tz
_ISO = re.compile(
    r"^(\d{4})([-/])(\d{2})\2(\d{2})"
    r"(?:[T ](\d{2}):(\d{2})(?::(\d{2})(?:\.(\d{1,6}))?)?)?"
    rf"\s*{_TZ_SUFFIX}?$"
)
# compact %Y%m%d[T%H%M%S[.f]][tz] incl. underscore form
_COMPACT = re.compile(
    r"^(\d{4})(\d{2})(\d{2})"
    r"(?:[T_](\d{2})(\d{2})(\d{2})(?:\.(\d{1,6}))?)?"
    rf"{_TZ_SUFFIX}?$"
)
# month-day / time-only shorthands (%m-%d, %m/%d, %H:%M:%S, %H:%M):
# the missing fields fill from 'now' (s4's add_date_y/add_time_*)
_MD = re.compile(r"^(\d{2})[-/](\d{2})$")
_HMS = re.compile(r"^(\d{2}):(\d{2})(?::(\d{2}))?$")
_EPOCH = re.compile(r"^\+?(\d{9,11})$")  # s4's +%s epoch-seconds form

_SEP_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "0": "\0",
    "a": "\a", "v": "\v", "e": "\x1b", "\\": "\\",
}


def decode_separator(s: str) -> str:
    """--separator escape decoding (README.md:746-748): \\t \\n \\r
    \\0 \\a \\v \\e \\\\ and \\xNN byte escapes.

    Known divergence: \\xNN decodes to the Unicode codepoint NN, so
    for NN >= 0x80 stdout carries its multi-byte UTF-8 encoding where
    s4 emits the raw byte.  \\x00-\\x7f (every separator in the
    reference's docs/tests) are byte-identical; emitting bare
    0x80-0xff would require a bytes-mode stdout for the whole line,
    mixing encodings with the UTF-8 message text."""
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            if n == "x" and i + 3 < len(s):
                try:
                    out.append(chr(int(s[i + 2 : i + 4], 16)))
                    i += 4
                    continue
                except ValueError:
                    pass
            if n in _SEP_ESCAPES:
                out.append(_SEP_ESCAPES[n])
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)



_STRF_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%e": "d",
    "%H": "HH", "%k": "H", "%I": "hh", "%l": "h", "%M": "mm",
    "%S": "ss", "%3f": "SSS", "%6f": "SSSSSS", "%f": "SSSSSS",
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE",
    "%j": "DDD", "%p": "a", "%z": "Z", "%:z": "xxx", "%Z": "zz",
    "%%": "'%'",
}


def strftime_to_java(fmt: str) -> str:
    """strftime directives → Java date_format pattern
    (--prepend-dt-format, s4.rs:3045: the reference hands the format
    to chrono; here it compiles to ONE JVM-side date_format).  Literal
    runs containing letters are quoted; unknown directives raise."""
    out, lit, i = [], [], 0

    def flush():
        if lit:
            s = "".join(lit)
            if any(c.isalpha() for c in s) or "'" in s:
                out.append("'" + s.replace("'", "''") + "'")
            else:
                out.append(s)
            lit.clear()

    while i < len(fmt):
        if fmt[i] == "%":
            for key in ("%:z", "%3f", "%6f"):
                if fmt.startswith(key, i):
                    flush()
                    out.append(_STRF_TO_JAVA[key])
                    i += len(key)
                    break
            else:
                key = fmt[i : i + 2]
                if key not in _STRF_TO_JAVA:
                    raise ValueError(f"unsupported strftime directive {key!r}")
                flush()
                out.append(_STRF_TO_JAVA[key])
                i += 2
        else:
            lit.append(fmt[i])
            i += 1
    flush()
    return "".join(out)


def tz_offset_minutes(z: str) -> int:
    """-z / filter-suffix value → signed offset minutes: ±hhmm,
    ±hh:mm, bare ±hh (%#z), or a named timezone from the pattern
    bank's table (patterns.TZ_OFFSET_MIN; ambiguous names apply no
    shift, reference MAP_TZZ_TO_TZz parity)."""
    m = re.fullmatch(r"([+-])(\d{2})(?::?(\d{2}))?", z)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return sign * (int(m.group(2)) * 60 + int(m.group(3) or 0))
    from .patterns import TZ_OFFSET_MIN

    if z.upper() in TZ_OFFSET_MIN:
        return TZ_OFFSET_MIN[z.upper()]
    raise ValueError(f"unrecognized timezone: {z!r}")


def cli_tz_offset(z: str) -> int:
    """-t/--tz-offset (and -z) value → signed minutes, the reference's
    cli_process_tz_offset (s4.rs:3232-3269): named timezones resolve
    through the bank table, an AMBIGUOUS abbreviation is an error
    (several real-world readings), numeric ±hh[:mm] accepted."""
    from .patterns import AMBIGUOUS_TZ

    if z.upper() in AMBIGUOUS_TZ:
        raise ValueError(
            f"ambiguous timezone {z!r} (this abbreviation refers to "
            "several timezone offsets)"
        )
    return tz_offset_minutes(z)


def _offset(sign: str, body: str) -> dt.timedelta:
    total = dt.timedelta()
    for num, unit in re.findall(r"(\d+)([smhdwy])", body):
        if unit == "y":
            total += dt.timedelta(days=365 * int(num))
        else:
            total += dt.timedelta(**{_UNITS[unit]: int(num)})
    return -total if sign == "-" else total


def parse_dt_filter(
    value: str,
    now: dt.datetime | None = None,
    other: dt.datetime | None = None,
    tzmin: int = 0,
) -> dt.datetime:
    """One -a/-b value → UTC-naive datetime.

    Forms: ISO date(/time, frac, ±hhmm/±hh:mm/Z/named tz); compact and
    underscore date-times; epoch seconds (±%s); ±offset (relative to
    now, s4.rs:3537); @±offset (relative to the other bound,
    s4.rs:3614).

    tzmin: the job's default tz offset (-t/--tz-offset) in minutes —
    naive forms are interpreted in that zone (s4.rs:3568 converts
    `now` into tz_offset before applying durations, and
    process_dt_exprs parses bare wall-clock values with the default
    offset); a value carrying its own tz (±hhmm / named / 'Z' / the
    relative-offset tz swap) overrides it.
    """
    now = now or dt.datetime.now(dt.timezone.utc).replace(
        microsecond=0, tzinfo=None
    )
    dtz = dt.timedelta(minutes=tzmin)

    def _rel(base, m):
        # work in the default-tz wall-clock frame, convert back at
        # the end — only observable with the '!hh:mm' override or the
        # explicit tz swap (pure durations cancel the shift)
        out = base + dtz + _offset(m.group(1), m.group(2))
        if m.group(3) is not None:  # '!hh:mm[:ss]' exact time override
            out = out.replace(
                hour=int(m.group(3)),
                minute=int(m.group(4)),
                second=int(m.group(5) or 0),
                microsecond=0,
            )
        if m.group(6):  # tz swap: keep wall clock, change zone
            return out - dt.timedelta(
                minutes=tz_offset_minutes(m.group(6))
            )
        return out - dtz

    def _tzfix(out, tz):
        if tz is None:
            return out - dtz  # naive → default zone
        if tz != "Z":
            out -= dt.timedelta(minutes=tz_offset_minutes(tz))
        return out

    m = _REL_AT.match(value)
    if m:
        if other is None:
            raise ValueError(f"'@' filter {value!r} needs the other bound")
        return _rel(other, m)
    m = _REL.match(value)
    if m:
        return _rel(now, m)
    m = _EPOCH.match(value)
    if m:
        return dt.datetime(1970, 1, 1) + dt.timedelta(
            seconds=int(m.group(1))
        )
    m = _COMPACT.match(value)
    if m:
        us = int((m.group(7) or "0").ljust(6, "0"))
        out = dt.datetime(
            int(m.group(1)), int(m.group(2)), int(m.group(3)),
            int(m.group(4) or 0), int(m.group(5) or 0),
            int(m.group(6) or 0), us,
        )
        return _tzfix(out, m.group(8))
    m = _ISO.match(value)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(3)), int(m.group(4))
        h = int(m.group(5) or 0)
        mi = int(m.group(6) or 0)
        s = int(m.group(7) or 0)
        us = int((m.group(8) or "0").ljust(6, "0"))
        return _tzfix(dt.datetime(y, mo, d, h, mi, s, us), m.group(9))
    lnow = now + dtz  # `now` in the default zone (s4.rs:3568)
    m = _MD.match(value)
    if m:  # %m-%d / %m/%d — year fills from now (s4 add_date_y)
        return (
            dt.datetime(lnow.year, int(m.group(1)), int(m.group(2)))
            - dtz
        )
    m = _HMS.match(value)
    if m:  # %H:%M[:%S] — date fills from now (s4 add_date_*)
        return dt.datetime(
            lnow.year, lnow.month, lnow.day,
            int(m.group(1)), int(m.group(2)), int(m.group(3) or 0),
        ) - dtz
    raise ValueError(f"unrecognized datetime filter: {value!r}")


def resolve_filters(
    a: str | None,
    b: str | None,
    now: dt.datetime | None = None,
    tzmin: int = 0,
) -> tuple[dt.datetime | None, dt.datetime | None]:
    """Resolve -a/-b including one-sided '@' anchoring (both-@ is an
    error, matching the reference)."""
    a_at = a is not None and a.startswith("@")
    b_at = b is not None and b.startswith("@")
    if a_at and b_at:
        raise ValueError("only one of -a/-b may use '@' anchoring")
    if a_at:
        rb = parse_dt_filter(b, now, tzmin=tzmin) if b else None
        return parse_dt_filter(a, now, other=rb, tzmin=tzmin), rb
    if b_at:
        ra = parse_dt_filter(a, now, tzmin=tzmin) if a else None
        return ra, parse_dt_filter(b, now, other=ra, tzmin=tzmin)
    return (
        parse_dt_filter(a, now, tzmin=tzmin) if a else None,
        parse_dt_filter(b, now, tzmin=tzmin) if b else None,
    )


# s4's 28-color text palettes (printer/printers.rs:117-205,
# COLORS_TEXT_DT dark / COLORS_TEXT_LT light).  Divergence: s4
# assigns each file a RANDOM palette entry per run (color_rand,
# s4.rs:5676); here the pick is a deterministic hash of the source
# so reruns color identically — same palette, reproducible choice.
_COLORS_DARK = [
    (102, 102, 230), (102, 230, 102), (102, 230, 230),
    (102, 102, 255), (102, 255, 102), (102, 255, 255),
    (127, 127, 127), (127, 230, 127), (127, 127, 230),
    (127, 230, 230), (127, 255, 127), (127, 127, 255),
    (127, 255, 255), (153, 153, 153), (153, 153, 255),
    (153, 255, 153), (153, 255, 255), (230, 127, 127),
    (230, 230, 127), (230, 127, 230), (230, 153, 153),
    (230, 230, 153), (230, 153, 230), (230, 230, 230),
    (230, 255, 255), (230, 230, 255), (230, 255, 230),
    (255, 255, 255),
]
_COLORS_LIGHT = [
    (102, 102, 25), (102, 25, 102), (102, 25, 25),
    (102, 102, 0), (102, 0, 102), (102, 0, 0),
    (127, 127, 127), (127, 25, 127), (127, 127, 25),
    (127, 25, 25), (127, 0, 127), (127, 127, 0),
    (127, 0, 0), (102, 102, 102), (102, 102, 0),
    (102, 0, 102), (102, 0, 0), (25, 127, 127),
    (25, 25, 127), (25, 127, 25), (25, 102, 102),
    (25, 25, 102), (25, 102, 25), (25, 25, 25),
    (25, 0, 0), (25, 25, 0), (25, 0, 25),
    (0, 0, 0),
]


def _color_enabled(args) -> bool:
    """-c/--color resolution (s4.rs:3148-3158 + termcolor
    ColorChoice): always | never | auto (tty-gated), with S4_COLOR
    env fallback like the reference's clap env binding."""
    import os

    choice = (
        args.color_choice or os.environ.get("S4_COLOR") or "auto"
    )
    if choice == "always":
        return True
    if choice == "never":
        return False
    return sys.stdout.isatty()


def _colorized(lines, light: bool):
    """Wrap each output line in its source's ANSI 24-bit color —
    one JVM-side expression (hash → palette element_at → concat),
    no driver-side per-row work."""
    from pyspark.sql import functions as F

    pal = _COLORS_LIGHT if light else _COLORS_DARK
    arr = F.array(
        *[F.lit("\x1b[38;2;%d;%d;%dm" % c) for c in pal]
    )
    pre = F.element_at(
        arr, F.pmod(F.hash("conv_id"), F.lit(len(pal))) + 1
    )
    return lines.withColumn(
        "line", F.concat(pre, F.col("line"), F.lit("\x1b[0m"))
    )


def _maybe_color(args, lines):
    import os

    if not _color_enabled(args):
        return lines
    light = (
        args.light_theme
        if args.light_theme is not None
        else bool(os.environ.get("S4_LIGHT_THEME"))
    )
    return _colorized(lines, light)


def _drain(lines, limit: int) -> dict:
    """Stream (line, ts_eff) rows to stdout, tracking the
    SummaryPrinted counters (printer/summary.rs:163-189: bytes,
    lines, syslines, dt_first, dt_last) as the rows pass through."""
    if limit:
        lines = lines.limit(limit)
    st = {
        "n": 0, "bytes": 0, "syslines": 0,
        "dt_first": None, "dt_last": None,
    }
    w = sys.stdout.write
    for row in lines.toLocalIterator():
        line = row["line"]
        w(line + "\n")
        st["n"] += 1
        # SummaryPrinted counts OUTPUT bytes (summary.rs:163-189), so
        # encoded UTF-8 length, not Python characters
        st["bytes"] += len(line.encode("utf-8")) + 1
        ts = row["ts_eff"]
        if ts is not None:
            st["syslines"] += 1
            if st["dt_first"] is None or ts < st["dt_first"]:
                st["dt_first"] = ts
            if st["dt_last"] is None or ts > st["dt_last"]:
                st["dt_last"] = ts
    return st


_SUMMARY_FILE_CAP = 20  # human-facing cap on per-source blocks


def _maybe_summary(args, asm, printed: dict, after, before, t0: float,
                   n_invalid: int, table_mode: bool) -> None:
    """--summary parity (printer/summary.rs:864-990 print_summary,
    :1279-1515 per-file Processed/Parsers blocks, :163-189
    SummaryPrinted): per-source About/Processed/Parsers sections for
    the first _SUMMARY_FILE_CAP sources, then the global 'Program
    summary:' block, all read from the assembled frame ``asm``.  A
    row is a sysline when it is its message's anchor; the Parsers
    block counts anchors per sink, a sink naming a regex pattern
    printing as that pattern.  Everything aggregates distributed;
    only the capped per-source rows and one global row reach the
    driver (at 10^8 convs the full per-source table belongs in a
    table sink)."""
    if not args.summary:
        return
    import time as _time

    from pyspark.sql import functions as F

    from .patterns import PATTERNS
    from .sources.logfiles import path_to_filetype

    err = sys.stderr
    by_name = {p.name: p for p in PATTERNS}
    noyear = [p.name for p in PATTERNS if p.noyear]
    is_anchor = F.col("msg_turn_idx") == F.col("turn_idx")
    parsed = asm.select(
        "conv_id",
        "ts",
        F.octet_length("text").cast("int").alias("text_len"),
        F.when(is_anchor, F.col("ts_eff")).alias("ts_parsed"),
        F.when(is_anchor, F.col("sink_eff")).alias("sink"),
    )
    parsed.persist()
    try:
        per_conv = (
            parsed.groupBy("conv_id")
            .agg(
                F.sum("text_len").alias("bytes"),
                F.count("*").alias("lines"),
                F.count("ts_parsed").alias("syslines"),
                F.min("ts_parsed").alias("dt_first"),
                F.max("ts_parsed").alias("dt_last"),
                F.max("ts").alias("mtime"),
                F.year(
                    F.max(
                        F.when(
                            F.col("sink").isin(*noyear), F.col("ts_parsed")
                        )
                    )
                ).alias("noyear_est"),
            )
            .orderBy("conv_id")
            .limit(_SUMMARY_FILE_CAP)
            .collect()
        )
        ids = [r["conv_id"] for r in per_conv]
        pat_rows = (
            parsed.filter(
                F.col("conv_id").isin(ids) & F.col("sink").isNotNull()
            )
            .groupBy("conv_id", "sink")
            .agg(F.count("*").alias("uses"))
            .collect()
        )
        pats = {}
        for r in pat_rows:
            p = by_name.get(r["sink"])
            pats.setdefault(r["conv_id"], []).append(
                (p.pid if p else r["sink"], int(r["uses"]), p)
            )
        g = parsed.agg(
            F.countDistinct("conv_id").alias("convs"),
            F.count("*").alias("lines"),
            F.count("ts_parsed").alias("syslines"),
            F.sum("text_len").alias("bytes"),
        ).collect()[0]
    finally:
        parsed.unpersist()

    ind1, ind2, ind3 = " " * 4, " " * 8, " " * 12
    for r in per_conv:
        err.write(f"File: {r['conv_id']}\n")
        err.write(f"{ind1}About:\n")
        kind = (
            "transcripts table source" if table_mode
            else path_to_filetype(r["conv_id"])
        )
        err.write(f"{ind2}FileType      : {kind}\n")
        if r["mtime"] is not None:
            err.write(f"{ind2}Modified time : {r['mtime']} (UTC)\n")
        err.write(f"{ind1}Processed:\n")
        err.write(f"{ind2}bytes         : {r['bytes'] or 0}\n")
        err.write(f"{ind2}lines         : {r['lines']}\n")
        err.write(f"{ind2}Syslines      : {r['syslines']}\n")
        err.write(f"{ind2}datetime first: {r['dt_first']}\n")
        err.write(f"{ind2}datetime last : {r['dt_last']}\n")
        plist = sorted(pats.get(r["conv_id"], []), key=lambda e: str(e[:2]))
        if plist:
            err.write(f"{ind1}Parsers:\n")
        for tag, uses, p in plist:
            if p is None:  # a binary reader's pre-stamped records
                err.write(f"{ind2}@[{tag}] (uses {uses})\n")
                continue
            err.write(f"{ind2}@[{tag}] regex {p.name} (uses {uses})\n")
            if p.noyear and r["noyear_est"]:
                err.write(
                    f"{ind3}datetime format missing year; estimated "
                    f"year of last sysline {r['noyear_est']}\n"
                )
    if int(g["convs"]) > len(per_conv):
        err.write(
            f"... ({int(g['convs']) - len(per_conv)} more sources; "
            f"per-source cap {_SUMMARY_FILE_CAP})\n"
        )

    err.write("Program summary:\n\n")
    err.write(
        f"Paths considered       : {int(g['convs']) + n_invalid}\n"
    )
    err.write(f"Paths not processed    : {n_invalid}\n")
    err.write(f"Files processed        : {g['convs']}\n")
    err.write(
        f"Files printed          : {g['convs'] if printed['n'] else 0}\n"
    )
    err.write(f"Printed bytes          : {printed['bytes']}\n")
    err.write(f"Printed Lines          : {printed['n']}\n")
    err.write(f"Printed Syslines       : {printed['syslines']}\n")
    err.write(f"Processed bytes        : {g['bytes'] or 0}\n")
    err.write(f"Processed Lines        : {g['lines']}\n")
    err.write(f"Processed Syslines     : {g['syslines']}\n")
    err.write("Regex patterns known   : 188\n")
    err.write(f"Regex patterns compiled: {len(PATTERNS)}\n")
    for label, ts in (
        ("Datetime filter -a     :", after),
        ("Datetime printed first :", printed["dt_first"]),
        ("Datetime filter -b     :", before),
        ("Datetime printed last  :", printed["dt_last"]),
    ):
        err.write(label + (f" {ts} (UTC)\n" if ts else "\n"))
    if t0:
        err.write(
            f"realtime elapsed       : "
            f"{_time.perf_counter() - t0:.3f} s\n"
        )


def _journal_formats():
    """journalctl-compatible renderings (JournalReader's output modes,
    src/readers/journalreader.rs:544-583,1705) as single JVM-side
    projection expressions over the merged frame.  Field mapping:
    _HOSTNAME=conv_id, SYSLOG_IDENTIFIER=role, _PID=turn_idx,
    MESSAGE=text, __REALTIME_TIMESTAMP=unix micros of ts_eff."""
    from pyspark.sql import functions as F

    def head(fmt):
        return lambda df, _f=fmt: F.concat(
            F.date_format("ts_eff", _f), F.lit(" "),
            F.col("conv_id"), F.lit(" "), F.col("role"),
            F.lit("["), F.col("turn_idx").cast("string"), F.lit("]: "),
            F.col("text"),
        )

    def short_unix(df):
        return F.concat(
            F.format_string(
                "%.6f", F.unix_micros("ts_eff") / F.lit(1_000_000.0)
            ),
            F.lit(" "), F.col("conv_id"), F.lit(" "), F.col("role"),
            F.lit("["), F.col("turn_idx").cast("string"), F.lit("]: "),
            F.col("text"),
        )

    def short_monotonic(df):
        # [   sec.micros] since the stream's first message — one
        # scalar min() job, then a distributed projection
        t0 = df.agg(F.min(F.unix_micros("ts_eff")).alias("m")).collect()[
            0
        ]["m"] or 0
        return F.concat(
            F.format_string(
                "[%12.6f]",
                (F.unix_micros("ts_eff") - F.lit(t0)) / F.lit(1_000_000.0),
            ),
            F.lit(" "), F.col("conv_id"), F.lit(" "), F.col("role"),
            F.lit("["), F.col("turn_idx").cast("string"), F.lit("]: "),
            F.col("text"),
        )

    def export(df):
        return F.concat(
            F.lit("__REALTIME_TIMESTAMP="),
            F.unix_micros("ts_eff").cast("string"),
            F.lit("\n_HOSTNAME="), F.col("conv_id"),
            F.lit("\nSYSLOG_IDENTIFIER="), F.col("role"),
            F.lit("\n_PID="), F.col("turn_idx").cast("string"),
            F.lit("\nMESSAGE="), F.col("text"), F.lit("\n"),
        )

    def verbose(df):
        return F.concat(
            F.date_format("ts_eff", "EEE yyyy-MM-dd HH:mm:ss.SSSSSS 'UTC'"),
            F.lit(" [s="), F.col("conv_id"), F.lit(";i="),
            F.col("turn_idx").cast("string"), F.lit("]"),
            F.lit("\n    _HOSTNAME="), F.col("conv_id"),
            F.lit("\n    SYSLOG_IDENTIFIER="), F.col("role"),
            F.lit("\n    _PID="), F.col("turn_idx").cast("string"),
            F.lit("\n    MESSAGE="), F.col("text"), F.lit("\n"),
        )

    return {
        "short": head("MMM dd HH:mm:ss"),
        "short-precise": head("MMM dd HH:mm:ss.SSSSSS"),
        "short-iso": head("yyyy-MM-dd'T'HH:mm:ssZ"),
        "short-iso-precise": head("yyyy-MM-dd'T'HH:mm:ss.SSSSSSZ"),
        "short-full": head("EEE yyyy-MM-dd HH:mm:ss 'UTC'"),
        "short-unix": short_unix,
        "short-monotonic": short_monotonic,
        "export": export,
        "verbose": verbose,
    }


class _LazyFormats(dict):
    def __contains__(self, k):
        return k in (
            "short", "short-precise", "short-iso", "short-iso-precise",
            "short-full", "short-unix", "short-monotonic", "export",
            "verbose",
        )

    def __getitem__(self, k):
        return _journal_formats()[k]


_JOURNAL_FORMATS = _LazyFormats()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="s4spark", description=__doc__.splitlines()[0]
    )
    ap.add_argument(
        "inputs", nargs="+",
        help="testdata dir holding events.parquet (table mode), OR "
             "one or more log / .gz / .bz2 / .xz / .evtx / .journal / "
             "utmp file paths or globs (s4 <paths> mode: routed by "
             "path_to_filetype, binary readers included)",
    )
    ap.add_argument("-a", "--dt-after", default=None)
    ap.add_argument("-b", "--dt-before", default=None)
    ap.add_argument("-t", "--tz-offset", default=None,
                    help="default timezone for datetimes without one "
                         "(±hh[:mm] or unambiguous name; s4 -t, env "
                         "S4_TZ_OFFSET; default: local system offset)")
    ap.add_argument("-u", "--prepend-utc", action="store_true")
    ap.add_argument("-z", "--prepend-tz", default=None,
                    help="prepend stamp in this tz (±hhmm / ±hh:mm / name)")
    ap.add_argument("-l", "--prepend-conv", action="store_true")
    ap.add_argument("-n", "--prepend-filename", action="store_true",
                    help="prepend the source's basename (s4 -n; for "
                         "table input the conv id's last path segment)")
    ap.add_argument("-p", "--prepend-filepath", action="store_true",
                    help="prepend the source's full path (s4 -p)")
    ap.add_argument("-w", "--prepend-align", action="store_true",
                    help="width-align the prepended conv column (s4 -w)")
    ap.add_argument("--prepend-dt-format", default=None,
                    help="strftime format for the -u/-z stamp "
                         "(s4 --prepend-dt-format; compiled to one "
                         "JVM-side date_format)")
    ap.add_argument("--prepend-separator", default=None,
                    help="separator BETWEEN prepended fields "
                         "(defaults to --separator; s4 "
                         "--prepend-separator)")
    ap.add_argument("--separator", default=" ")
    ap.add_argument("--format", dest="out_format", default="default",
                    choices=("default", "jsonl", "cat", "short",
                             "short-precise", "short-iso",
                             "short-iso-precise", "short-full",
                             "short-monotonic", "short-unix", "export",
                             "verbose"),
                    help="output rendering (s4's JournalReader renders "
                         "the journalctl output modes, journalreader.rs"
                         ":544-583; here each mode is ONE distributed "
                         "projection expression): default = text with "
                         "requested prepends, jsonl = one JSON object "
                         "per row, cat = bare text, plus the "
                         "journalctl family (short*, export, verbose) "
                         "with hostname=conv, identifier=role, "
                         "pid=turn_idx")
    ap.add_argument("-c", "--color", dest="color_choice",
                    choices=("always", "auto", "never"),
                    default=None,
                    help="colorize output per source (s4 -c/--color; "
                         "S4_COLOR env; default auto = only when "
                         "stdout is a tty)")
    ap.add_argument("--light-theme", action="store_true",
                    default=None,
                    help="dimmer palette for light terminal "
                         "backgrounds (s4 --light-theme; "
                         "S4_LIGHT_THEME env)")
    ap.add_argument("--summary", action="store_true")
    ap.add_argument("--limit", type=int, default=0)
    args = ap.parse_args(argv)

    if args.prepend_utc and args.prepend_tz:
        ap.error("-u and -z are mutually exclusive")
    try:
        # -t/--tz-offset with S4_TZ_OFFSET env fallback, defaulting to
        # the local system offset (s4.rs:2985-3008 LOCAL_NOW_OFFSET)
        import os

        tz_arg = args.tz_offset or os.environ.get("S4_TZ_OFFSET")
        tzmin = (
            cli_tz_offset(tz_arg)
            if tz_arg
            else int(
                (
                    dt.datetime.now().astimezone().utcoffset()
                    or dt.timedelta()
                ).total_seconds()
                // 60
            )
        )
        after, before = resolve_filters(
            args.dt_after, args.dt_before, tzmin=tzmin
        )
        z_offmin = (
            cli_tz_offset(args.prepend_tz) if args.prepend_tz else None
        )
        dt_fmt = (
            strftime_to_java(args.prepend_dt_format)
            if args.prepend_dt_format
            else None
        )
    except ValueError as ex:
        ap.error(str(ex))  # friendly one-liner + exit 2, s4-style

    import time as _time

    from pyspark.sql import functions as F

    from . import pipeline as P
    from .datagen import transcripts_df
    from .session import get_spark

    t0 = _time.perf_counter()

    spark = get_spark(
        app_name="s4spark-cli",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    a_str = after.isoformat(sep=" ") if after else None
    b_str = before.isoformat(sep=" ") if before else None
    table_mode = (
        len(args.inputs) == 1
        and os.path.isdir(args.inputs[0])
        and os.path.exists(os.path.join(args.inputs[0], "events.parquet"))
    )
    invalid_paths: list = []
    if table_mode:
        t = transcripts_df(spark, args.inputs[0])
        merged = P.full_merge(t, a_str, b_str, tz_offset_min=tzmin)
        asm = P.assembled(t, tz_offset_min=tzmin)
    else:
        # s4 <paths> mode: one Python pass per file decodes it by file
        # type, parses text lines with per-source mtime anchor years,
        # and repairs and assembles each source; binary records arrive
        # pre-timestamped.  Then one dt filter and a one-partition
        # merge (drained serially, like s4's single merge thread).
        from .operators.merge import dt_filter as _dtf
        from .operators.merge import merge_ordered as _mo
        from .sources.logfiles import assembled_from_paths

        try:
            asm = assembled_from_paths(
                spark, args.inputs, tz_offset_min=tzmin,
                invalid_out=invalid_paths,
            )
        except ValueError as exc:
            # s4 exits cleanly (nonzero) when no input is processable
            # (print_files_processpathresult → exit), not a traceback
            print(f"ERROR: {exc}", file=sys.stderr)
            spark.stop()
            return 1
        if args.summary or args.prepend_align:
            # -w's label width (before the drain) and --summary (after
            # it) read asm again: decode every file once, not per read
            asm.persist()
        merged = _mo(_dtf(asm, a_str, b_str))
        t = asm
    sep = decode_separator(args.separator)
    if args.out_format == "jsonl":
        # journalctl -o json analogue: a to_json projection, rendered
        # distributed (one JVM-side expression, no driver formatting);
        # microsecond ts like journalctl's (not second-truncated)
        lines = merged.select(
            F.to_json(
                F.struct(
                    F.date_format(
                        "ts_eff", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
                    ).alias("ts"),
                    "conv_id",
                    "turn_idx",
                    "role",
                    "tool",
                    "text",
                )
            ).alias("line"),
            "ts_eff",
            "conv_id",
        )
    elif args.out_format in _JOURNAL_FORMATS:
        lines = merged.select(
            _JOURNAL_FORMATS[args.out_format](merged).alias("line"),
            "ts_eff",
            "conv_id",
        )
    else:
        out = F.col("text")
        if args.out_format == "cat":
            # journalctl -o cat analogue: message text only, no prepends
            args.prepend_conv = False
            args.prepend_filename = False
            args.prepend_filepath = False
            args.prepend_utc = False
            args.prepend_tz = None
        psep = (
            decode_separator(args.prepend_separator)
            if args.prepend_separator is not None
            else sep
        )
        if args.prepend_conv or args.prepend_filename or args.prepend_filepath:
            # -l conv label; -n basename of the source (last path segment);
            # -p full path (s4 -n/-p distinction, s4.rs:3064,3076)
            base = (
                F.element_at(F.split(F.col("conv_id"), "/"), -1)
                if args.prepend_filename and not args.prepend_filepath
                else F.col("conv_id")
            )
            conv = F.concat(base, F.lit(":"))
            if args.prepend_align:
                # s4 -w: pad every source label to the widest (s4.rs:
                # 6282-6299 computes prepended-name width before printing).
                # One agg over the transcripts frame (file mode: the
                # persisted assembled frame).
                width = t.agg(
                    F.max(F.length("conv_id")).alias("w")
                ).collect()[0]["w"] or 0
                conv = F.rpad(conv, width + 1, " ")
            out = F.concat(conv, F.lit(sep), out)
        stamp = None
        if args.prepend_tz:
            # arbitrary-offset stamp: shift then format, suffix = ±hhmm
            suffix = "{}{:02d}{:02d}".format(
                "+" if z_offmin >= 0 else "-",
                abs(z_offmin) // 60,
                abs(z_offmin) % 60,
            )
            stamp = F.concat(
                F.date_format(
                    F.col("ts_eff") + F.expr(f"INTERVAL {z_offmin} MINUTES"),
                    dt_fmt or "yyyyMMdd'T'HHmmss",
                ),
                F.lit("" if dt_fmt else suffix),
            )
        elif args.prepend_utc:
            stamp = F.concat(
                F.date_format(
                    "ts_eff", dt_fmt or "yyyyMMdd'T'HHmmss'Z'"
                )
            )
        if stamp is not None:
            out = F.concat(stamp, F.lit(psep), out)
        lines = merged.select(out.alias("line"), "ts_eff", "conv_id")
    st = _drain(_maybe_color(args, lines), args.limit)
    # --summary works with every output format
    _maybe_summary(
        args, asm, st, after, before, t0, len(invalid_paths), table_mode
    )
    asm.unpersist()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
