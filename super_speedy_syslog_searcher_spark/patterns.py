"""The datetime-pattern bank — s4's DTPD table re-expressed as data.

The reference keeps an ordered table of 188 "datetime parse data"
instructions, each a regex plus a transcription recipe
(subprojects/ere/ere_datetimes_impl/src/ere_datetimes_impl.rs:2317-6439,
struct at :2096-2131).  Matching is first-match-wins in table order
(src/readers/syslinereader.rs:1782-1830) over a bounded prefix of the
line (range_regex, ere_datetimes_impl.rs:2106-2119), and every entry
carries embedded test cases validated by a dedicated test
(ere_datetimes_impl.rs:2078-2087).

We keep all three properties: an ordered list of pattern dicts,
prefix-bounded anchored regexes, and per-pattern ``tests`` consumed by
tests/test_patterns.py.  Canonicalization (month-name → number,
named-tz → offset, epoch split, year fill) mirrors
src/data/datetime.rs:1368-1890 ``captures_to_buffer_bytes`` but runs
vectorized in pandas (functions/datetime_parse.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

MAX_SCAN = 64  # chars of line prefix the bank inspects (range_regex analogue)
SCAN_MAX = 128  # wider region for the mid-line scan tier (ids 58+)
ANCHOR_YEAR_DEFAULT = 2024  # year fill for no-year formats (s4: file mtime)

MONTHS = {
    "Jan": "01", "Feb": "02", "Mar": "03", "Apr": "04",
    "May": "05", "Jun": "06", "Jul": "07", "Aug": "08",
    "Sep": "09", "Oct": "10", "Nov": "11", "Dec": "12",
}

# named-tz → offset minutes — full reference-parity table
# (src/data/datetime.rs:348-640 MAP_TZZ_TO_TZz; alternation
# ere_datetimes_impl.rs:1809 CGP_TZZ).  Ambiguous abbreviations map to
# the empty offset there — the reference applies NO shift and treats
# the time as local; we mirror that as offset 0 (naive == UTC here).
_TZ_HHMM = {
    "ACDT": "+10:30", "ACST": "+09:30", "ACWST": "+08:45",
    "ADT": "-03:00", "AEDT": "+11:00", "AEST": "+10:00", "AET": "+11:00",
    "AFT": "+04:30", "AKDT": "-08:00", "AKST": "-09:00", "ALMT": "+06:00",
    "AMST": "-03:00", "ANAT": "+12:00", "AQTT": "+05:00", "ART": "-03:00",
    "AWST": "+08:00", "AZOST": "+00:00", "AZOT": "-01:00", "AZT": "+04:00",
    "BNT": "+08:00", "BIOT": "+06:00", "BIT": "-12:00", "BOT": "-04:00",
    "BRST": "-02:00", "BRT": "-03:00", "BTT": "+06:00", "CAT": "+02:00",
    "CCT": "+06:30", "CEST": "+02:00", "CET": "+01:00", "CHADT": "+13:45",
    "CHAST": "+12:45", "CHOT": "+08:00", "CHOST": "+09:00",
    "CHST": "+10:00", "CHUT": "+10:00", "CIST": "-08:00", "CKT": "-10:00",
    "CLST": "-03:00", "CLT": "-04:00", "COST": "-04:00", "COT": "-05:00",
    "CT": "-05:00", "CVT": "-01:00", "CWST": "+08:45", "CXT": "+07:00",
    "DAVT": "+07:00", "DDUT": "+10:00", "DFT": "+01:00",
    "EASST": "-05:00", "EAST": "-06:00", "EAT": "+03:00", "EDT": "-04:00",
    "EEST": "+03:00", "EET": "+02:00", "EGST": "+00:00", "EGT": "-01:00",
    "EST": "-05:00", "ET": "-04:00", "FET": "+03:00", "FJT": "+12:00",
    "FKST": "-03:00", "FKT": "-04:00", "FNT": "-02:00", "GALT": "-06:00",
    "GAMT": "-09:00", "GET": "+04:00", "GFT": "-03:00", "GILT": "+12:00",
    "GIT": "-09:00", "GMT": "+00:00", "GYT": "-04:00", "HDT": "-09:00",
    "HAEC": "+02:00", "HST": "-10:00", "HKT": "+08:00", "HMT": "+05:00",
    "HOVST": "+08:00", "HOVT": "+07:00", "ICT": "+07:00",
    "IDLW": "-12:00", "IDT": "+03:00", "IOT": "+03:00", "IRDT": "+04:30",
    "IRKT": "+08:00", "IRST": "+03:30", "JST": "+09:00", "KALT": "+02:00",
    "KGT": "+06:00", "KOST": "+11:00", "KRAT": "+07:00", "KST": "+09:00",
    "LINT": "+14:00", "MAGT": "+12:00", "MART": "-09:30",
    "MAWT": "+05:00", "MDT": "-06:00", "MET": "+01:00", "MEST": "+02:00",
    "MHT": "+12:00", "MIST": "+11:00", "MIT": "-09:30", "MMT": "+06:30",
    "MSK": "+03:00", "MUT": "+04:00", "MVT": "+05:00", "MYT": "+08:00",
    "NCT": "+11:00", "NDT": "-02:30", "NFT": "+11:00", "NOVT": "+07:00",
    "NPT": "+05:45", "NST": "-03:30", "NT": "-03:30", "NUT": "-11:00",
    "NZDT": "+13:00", "NZST": "+12:00", "OMST": "+06:00",
    "ORAT": "+05:00", "PDT": "-07:00", "PET": "-05:00", "PETT": "+12:00",
    "PGT": "+10:00", "PHOT": "+13:00", "PHT": "+08:00", "PHST": "+08:00",
    "PKT": "+05:00", "PMDT": "-02:00", "PMST": "-03:00", "PONT": "+11:00",
    "PST": "-08:00", "PWT": "+09:00", "PYST": "-03:00", "PYT": "-04:00",
    "RET": "+04:00", "ROTT": "-03:00", "SAKT": "+11:00",
    "SAMT": "+04:00", "SAST": "+02:00", "SBT": "+11:00", "SCT": "+04:00",
    "SDT": "-10:00", "SGT": "+08:00", "SLST": "+05:30", "SRET": "+11:00",
    "SRT": "-03:00", "SYOT": "+03:00", "TAHT": "-10:00", "THA": "+07:00",
    "TFT": "+05:00", "TJT": "+05:00", "TKT": "+13:00", "TLT": "+09:00",
    "TMT": "+05:00", "TRT": "+03:00", "TOT": "+13:00", "TVT": "+12:00",
    "ULAST": "+09:00", "ULAT": "+08:00", "UT": "+00:00", "UTC": "+00:00",
    "UYST": "-02:00", "UYT": "-03:00", "UZT": "+05:00", "VET": "-04:00",
    "VLAT": "+10:00", "VOLT": "+03:00", "VOST": "+06:00", "VUT": "+11:00",
    "WAKT": "+12:00", "WAST": "+02:00", "WAT": "+01:00",
    "WEST": "+01:00", "WET": "+00:00", "WIB": "+07:00", "WIT": "+09:00",
    "WITA": "+08:00", "WGST": "-02:00", "WGT": "-03:00", "WST": "+08:00",
    "YAKT": "+09:00", "YEKT": "+05:00", "ZULU": "+00:00", "Z": "+00:00",
}
# names with several real-world readings; MAP_TZZ_TO_TZz maps them to
# "" (no shift applied)
AMBIGUOUS_TZ = {
    "ACT", "AMT", "AST", "BST", "CDT", "CST", "ECT", "GST", "IST",
    "LHST", "MST", "SST",
}
# unambiguous names only — ambiguous/unknown lookups fall through to
# the job's default tz offset (datetime.rs:1850-1872 substitutes
# tz_offset_string for an empty MAP_TZZ_TO_TZz value)
TZ_OFFSET_MIN_UNAMBIG = {
    n: (1 if s[0] == "+" else -1) * (int(s[1:3]) * 60 + int(s[4:6]))
    for n, s in _TZ_HHMM.items()
}
TZ_OFFSET_MIN = {
    **TZ_OFFSET_MIN_UNAMBIG,
    **{n: 0 for n in AMBIGUOUS_TZ},
}

MONTHS_FULL = {
    "January": "01", "February": "02", "March": "03", "April": "04",
    "May": "05", "June": "06", "July": "07", "August": "08",
    "September": "09", "October": "10", "November": "11", "December": "12",
}

_MON_ALT = "|".join(MONTHS)
# 'May' is excluded: it is both the full and the abbreviated spelling,
# so a 'DD May YYYY' line is *indistinguishable* from dd_mon_yyyy (32)
# and first-match-wins must give it to 32 (disjointness invariant).
_MON_FULL_ALT = "|".join(
    sorted((m for m in MONTHS_FULL if m != "May"), key=len, reverse=True)
)
_DOW_ALT = "Mon|Tue|Wed|Thu|Fri|Sat|Sun"
_TZN_ALT = "|".join(sorted(TZ_OFFSET_MIN, key=len, reverse=True))
# lowercase/UPPERCASE month spellings ONLY — exact Title-case is
# pattern 3's; keeping 17 disjoint from 3 means a line's family
# follows from its shape alone, not from where 17 sits in the
# first-match-wins bank order.
_MON_CI_ALT = "|".join(
    [m.lower() for m in MONTHS] + [m.upper() for m in MONTHS]
)
# case-insensitive named-tz alternation (CGP_TZZ matches upper AND
# lower spellings); needed by tier-1 fall-through guards as well
_TZN_CI_ALT = "|".join(
    sorted(
        {v for n in TZ_OFFSET_MIN for v in (n, n.lower())},
        key=lambda s: (-len(s), s),
    )
)
# a 4-digit number is only a year if chrono would accept it
# (CGP_YEAR, ere_datetimes_impl.rs:1584: 1969 | 197x..199x | 20xx);
# 'Jan 02 03:04:05 1900' parses as a NO-YEAR line in the reference
_REAL_YEAR = r"(?:1969|19[7-9]\d|20\d\d)"
_NO_YEAR_AFTER = rf"(?! {_REAL_YEAR}\b)"
# no-year syslog entries must NOT swallow a trailing named tz — the
# scan tier parses those lines WITH the offset applied
_NO_TZN_AFTER = rf"(?! ?(?:{_TZN_CI_ALT})(?![A-Za-z]))"


@dataclass
class Pattern:
    """One bank entry.

    kind drives canonicalization in the parse UDF:
      ymd      — Y/M(digit)/D/h/mi/s (+optional f, +optional tz/tzn)
      mon_name — month name group 'b' instead of digit month
      epoch    — 'es' seconds + 'f' fractional digits
      uptime   — 'us_' seconds + 'f' micros, relative (repair anchors it)
    dt_beg: fixed char offset of the datetime inside text, or None
    → derived from the 'pre' capture group length.
    tests: (text, expected_iso_utc_or_None, dt_beg, dt_end); uptime
    entries assert uptime_us instead of a timestamp.
    """

    pid: int
    name: str
    regex: str
    kind: str
    dt_beg: int | None = 0
    noyear: bool = False
    scan: bool = False
    gate: str | None = None  # scan-tier prefilter regex override
    tests: list = field(default_factory=list)


PATTERNS: list[Pattern] = [
    Pattern(
        0, "iso8601_tz",
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?"
        r" ?(?P<tz>[+-]\d{4}))",
        "ymd",
        tests=[
            ("2024-01-05T03:04:05 -0800 host x", "2024-01-05 11:04:05", 0, 25),
            ("2000-01-01T00:00:02.123 -1100 a", "2000-01-01 11:00:02.123000", 0, 29),
            ("2024-01-05 03:04:05+0530 y", "2024-01-04 21:34:05", 0, 24),
        ],
    ),
    Pattern(
        1, "iso8601_notz",
        # frac 1-9 digits (%f parity, ere_datetimes_impl.rs:520-525);
        # first match wins in bank order, so this catch-all must not
        # take lines that belong to a later family: the trailing
        # lookaheads keep it off AM/PM 12-hour (25), Zulu (29) and
        # named-tz (20) lines, and disjoint from space-separated
        # numeric-tz (0) lines too.
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?)"
        rf"(?![.\dZ+,\u2212-])(?! ?[-+\u2212]\d{{2}})(?! [AP]M\b)"
        rf"(?! ?(?:{_TZN_CI_ALT})(?![A-Za-z]))",
        "ymd",
        tests=[
            ("2020-01-02T03:04:05 rest", "2020-01-02 03:04:05", 0, 19),
            ("2020-01-02 03:04:05.123456 x", "2020-01-02 03:04:05.123456", 0, 26),
            ("2020-01-02T03:04:05.123456789 ns", "2020-01-02 03:04:05.123456", 0, 29),
            ("2020-01-02T03:04:05.1 short", "2020-01-02 03:04:05.100000", 0, 21),
        ],
    ),
    Pattern(
        2, "rfc2822",
        rf"^(?P<dt>(?:{_DOW_ALT}), (?P<D>\d{{2}}) (?P<b>{_MON_ALT}) "
        rf"(?P<Y>\d{{4}}) (?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}) "
        rf"(?P<tzn>{_TZN_ALT}))\b",
        "mon_name",
        tests=[
            ("Fri, 05 Jan 2024 03:04:05 PST x", "2024-01-05 11:04:05", 0, 29),
            ("Mon, 01 Jan 2024 18:00:44 CET y", "2024-01-01 17:00:44", 0, 29),
        ],
    ),
    Pattern(
        3, "rfc3164_noyear",
        rf"^(?P<dt>(?P<b>{_MON_ALT}) (?P<D>[ \d]\d) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}))"
        rf"{_NO_YEAR_AFTER}{_NO_TZN_AFTER}",
        "mon_name",
        noyear=True,
        tests=[
            ("Jan  2 03:04:39 host app: m", "2024-01-02 03:04:39", 0, 15),
            ("Dec 31 23:59:59 host app: m", "2024-12-31 23:59:59", 0, 15),
        ],
    ),
    Pattern(
        4, "apache_access",
        rf"^\[(?P<dt>(?P<D>\d{{2}})/(?P<b>{_MON_ALT})/(?P<Y>\d{{4}}):"
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}) (?P<tz>[+-]\d{{4}}))\]",
        "mon_name",
        dt_beg=1,
        tests=[
            ("[12/Jan/2024:07:34:47 +0000] GET /", "2024-01-12 07:34:47", 1, 27),
            ("[01/Jan/2020:00:00:01 -0800] GET /", "2020-01-01 08:00:01", 1, 27),
        ],
    ),
    Pattern(
        5, "tomcat",
        rf"^(?P<dt>(?P<D>\d{{2}})-(?P<b>{_MON_ALT})-(?P<Y>\d{{4}}) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}})\.(?P<f>\d{{3}}))",
        "mon_name",
        tests=[
            ("01-Jan-2024 17:27:00.875 INFO x", "2024-01-01 17:27:00.875000", 0, 24),
            ("08-Feb-2023 12:12:09.827 WARN y", "2023-02-08 12:12:09.827000", 0, 24),
        ],
    ),
    Pattern(
        6, "rh_audit_epoch",
        r"^(?P<pre>type=\w+ msg=audit\()(?P<dt>(?P<es>\d{9,11})\.(?P<f>\d{3})):\d+\):",
        "epoch",
        dt_beg=None,
        tests=[
            (
                "type=USER_ACCT msg=audit(1704527904.202:177): op=x",
                "2024-01-06 07:58:24.202000", 25, 39,
            ),
            (
                "type=DAEMON_START msg=audit(1681160194.260:3932): ok",
                "2023-04-10 20:56:34.260000", 28, 42,
            ),
        ],
    ),
    Pattern(
        7, "strace_epoch",
        r"^(?P<dt>(?P<es>\d{9,11})\.(?P<f>\d{6}))\b",
        "epoch",
        tests=[
            ("1704112402.016549 read(3, ...)", "2024-01-01 12:33:22.016549", 0, 17),
            ("1681160194.260123 write(1)", "2023-04-10 20:56:34.260123", 0, 17),
        ],
    ),
    Pattern(
        8, "dmesg_uptime",
        r"^(?P<pre>\[ *)(?P<dt>(?P<us_>\d{1,9})\.(?P<f>\d{6}))\]",
        "uptime",
        dt_beg=None,
        tests=[
            ("[0.000000] boot", 0, 1, 9),
            ("[12345.123456] usb 1-1: new device", 12345123456, 1, 13),
            ("[    1.000043] kernel: cmdline", 1000043, 5, 13),
        ],
    ),
    # ---- extended families (appended: pattern ids 0-8 stay stable;
    # the synthetic corpus generates only 0-8, these carry their own
    # embedded tests like every other bank entry) -------------------
    Pattern(
        9, "iso_comma_frac",  # log4j/java style (ere_datetimes 2435-area)
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2}),(?P<f>\d{3}))",
        "ymd",
        tests=[
            ("2020-01-02 03:04:05,123 INFO main", "2020-01-02 03:04:05.123000", 0, 23),
        ],
    ),
    Pattern(
        10, "slash_ymd",  # nginx-error style YYYY/MM/DD (+opt frac)
        # trailing lookaheads: tz-suffixed slash dates belong to the
        # appended 45 (numeric) / 46 (named) — parsing them here would
        # silently drop the offset (wrong instant, s4 applies it)
        r"^(?P<dt>(?P<Y>\d{4})/(?P<M>\d{2})/(?P<D>\d{2}) "
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:[.,](?P<f>\d{1,9}))?)"
        # (?![.,\d]) first: without it the greedy frac backtracks one
        # digit to slip past the tz lookaheads (dt would end mid-frac)
        rf"(?![.,\d])(?! ?[-+\u2212]\d{{2}})"
        rf"(?! ?(?:{_TZN_CI_ALT})(?![A-Za-z]))",
        "ymd",
        tests=[
            ("2020/01/02 03:04:05 [error] 1#1", "2020-01-02 03:04:05", 0, 19),
            ("2020/01/02 03:04:05.500 squid", "2020-01-02 03:04:05.500000", 0, 23),
        ],
    ),
    Pattern(
        11, "us_mdy_12h",  # Windows-ish MM/DD/YYYY hh:mm:ss AM/PM
        r"^(?P<dt>(?P<M>\d{2})/(?P<D>\d{2})/(?P<Y>\d{4}) "
        r"(?P<h12>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2}) (?P<ampm>AM|PM))",
        "mdy12",
        tests=[
            ("01/02/2020 03:04:05 PM event", "2020-01-02 15:04:05", 0, 22),
            ("01/02/2020 12:04:05 AM event", "2020-01-02 00:04:05", 0, 22),
            ("01/02/2020 12:04:05 PM event", "2020-01-02 12:04:05", 0, 22),
        ],
    ),
    Pattern(
        12, "compact_ymdhms",  # 20200102T030405 / _-separated
        r"^(?P<dt>(?P<Y>\d{4})(?P<M>\d{2})(?P<D>\d{2})[T_]"
        r"(?P<h>\d{2})(?P<mi>\d{2})(?P<s>\d{2}))(?!\d)"
        rf"(?! ?[-+\u2212]\d{{2}})(?! (?:{_TZN_CI_ALT})(?![A-Za-z]))",
        "ymd",
        tests=[
            ("20200102T030405 backup done", "2020-01-02 03:04:05", 0, 15),
            ("20200102_030405 snapshot", "2020-01-02 03:04:05", 0, 15),
        ],
    ),
    Pattern(
        13, "iso8601_tz_colon",  # RFC3339 with ±hh:mm offset
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?"
        r"(?P<tz>[+-]\d{2}:\d{2}))",
        "ymd",
        tests=[
            ("2020-01-01T22:00:00-08:00 host app: m", "2020-01-02 06:00:00", 0, 25),
            ("2020-01-01T22:00:00.500+05:30 x", "2020-01-01 16:30:00.500000", 0, 29),
        ],
    ),
    # ---- round-2 families (ids stable, append-only) ----------------
    Pattern(
        14, "epoch_bare",
        # bare epoch seconds, frac 0-5 or 7-9 digits; exactly-6 is
        # pattern 7's (strace) — excluding it keeps the two disjoint,
        # so a line's family follows from its shape, not bank order.
        # s4: squid/plain-epoch DTPDs, ere_datetimes_impl.rs:4661-4739.
        r"^(?P<dt>(?P<es>\d{9,11})(?:\.(?P<f>\d{7,9}|\d{1,5}))?)(?![\d.])",
        "epoch",
        tests=[
            ("1704112402.016 TCP_MISS/200", "2024-01-01 12:33:22.016000", 0, 14),
            ("1704112402 bare-epoch msg", "2024-01-01 12:33:22", 0, 10),
            ("1681160194.2601234 x", "2023-04-10 20:56:34.260123", 0, 18),
        ],
    ),
    Pattern(
        15, "epoch_ms13",  # 13-digit epoch milliseconds
        r"^(?P<dt>(?P<ems>\d{13}))(?!\d)",
        "epoch_ms",
        tests=[
            ("1704112402016 GET /index", "2024-01-01 12:33:22.016000", 0, 13),
        ],
    ),
    Pattern(
        16, "ctime_year",  # asctime(3): Mon Jan  2 15:04:05 2006
        rf"^(?P<dt>(?:{_DOW_ALT}) (?P<b>{_MON_ALT}) (?P<D>[ \d]\d) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}) (?P<Y>\d{{4}})"
        rf"(?: ?(?P<tz>[-+\u2212]\d{{2}}(?::?\d{{2}})?)(?!\d)"
        rf"| (?P<tzn>{_TZN_CI_ALT})(?![A-Za-z]))?)\b",
        "mon_name",
        tests=[
            ("Fri Jan  5 03:04:05 2024 kernel: up", "2024-01-05 03:04:05", 0, 24),
        ],
    ),
    Pattern(
        17, "syslog_lc_month",  # case-insensitive month (non-Title only)
        rf"^(?P<dt>(?P<b>{_MON_CI_ALT}) (?P<D>[ \d]\d) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}))"
        rf"{_NO_YEAR_AFTER}{_NO_TZN_AFTER}",
        "mon_name",
        noyear=True,
        tests=[
            ("jan  5 03:04:05 host app: m", "2024-01-05 03:04:05", 0, 15),
            ("DEC 31 23:59:59 host x", "2024-12-31 23:59:59", 0, 15),
        ],
    ),
    Pattern(
        18, "mdy_slash",  # NN/NN/YYYY 24-hour — MONTH-first: the
        # reference's DTPD test cases read '10/11/2022 13:14:09.751'
        # as October 11 (ere_datetimes_impl.rs mdy entries); frac opt.
        r"^(?P<dt>(?P<M>\d{2})/(?P<D>\d{2})/(?P<Y>\d{4}) "
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?)"
        r"(?![.\d])(?! [AP]M\b)",
        "ymd",
        tests=[
            ("01/05/2024 03:04:05 info", "2024-01-05 03:04:05", 0, 19),
            ("10/11/2022 13:14:09.751 [7712]: x",
             "2022-10-11 13:14:09.751000", 0, 23),
        ],
    ),
    Pattern(
        19, "dmy_dot",  # German-style DD.MM.YYYY
        r"^(?P<dt>(?P<D>\d{2})\.(?P<M>\d{2})\.(?P<Y>\d{4}) "
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2}))",
        "ymd",
        tests=[
            ("05.01.2024 03:04:05 fein", "2024-01-05 03:04:05", 0, 19),
        ],
    ),
    Pattern(
        20, "iso_named_tz",  # YYYY-MM-DD HH:MM:SS TZNAME
        rf"^(?P<dt>(?P<Y>\d{{4}})-(?P<M>\d{{2}})-(?P<D>\d{{2}})[T ]"
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}})(?:\.(?P<f>\d{{1,9}}))?"
        rf" (?P<tzn>{_TZN_ALT}))\b",
        "ymd",
        tests=[
            ("2024-01-05 03:04:05 PST event", "2024-01-05 11:04:05", 0, 23),
            # IST is ambiguous (+05:30 / +01:00 / +02:00): the reference
            # maps it to the empty offset (datetime.rs:348) — no shift
            ("2024-01-05 03:04:05.123 IST x", "2024-01-05 03:04:05.123000", 0, 27),
        ],
    ),
    Pattern(
        21, "rfc5424_pri",  # syslog protocol: <pri>ver ISO±tz|Z
        r"^(?P<pre><\d{1,3}>\d{0,2} )"
        r"(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})T"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?"
        r"(?P<tz>Z|[+-]\d{2}:?\d{2}))",
        "ymd",
        dt_beg=None,
        tests=[
            ("<14>1 2024-01-05T03:04:05+05:30 host app - - - m", "2024-01-04 21:34:05", 6, 31),
            ("<165>1 2003-10-11T22:14:15.003Z mymachine", "2003-10-11 22:14:15.003000", 7, 31),
        ],
    ),
    Pattern(
        22, "mon_dy_year",  # Jan 02 2024 03:04:05
        rf"^(?P<dt>(?P<b>{_MON_ALT}) (?P<D>[ \d]\d) (?P<Y>\d{{4}}) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}))",
        "mon_name",
        tests=[
            ("Jan 05 2024 03:04:05 server x", "2024-01-05 03:04:05", 0, 20),
        ],
    ),
    Pattern(
        23, "android_logcat",  # MM-DD HH:MM:SS(.fff) — no year
        r"^(?P<dt>(?P<M>\d{2})-(?P<D>\d{2}) "
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?)",
        "ymd",
        noyear=True,
        tests=[
            ("01-05 03:04:05.123 1234 5678 I tag: m", "2024-01-05 03:04:05.123000", 0, 18),
            ("12-31 23:59:59 x", "2024-12-31 23:59:59", 0, 14),
        ],
    ),
    Pattern(
        24, "apache_error",  # [Dow Mon DD HH:MM:SS(.ffffff) YYYY]
        rf"^(?P<pre>\[)(?P<dt>(?:{_DOW_ALT}) (?P<b>{_MON_ALT}) (?P<D>\d{{2}}) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}})(?:\.(?P<f>\d{{1,9}}))?"
        rf" (?P<Y>\d{{4}}))\]",
        "mon_name",
        dt_beg=None,
        tests=[
            ("[Fri Jan 05 03:04:05.123456 2024] [core:notice] x", "2024-01-05 03:04:05.123456", 1, 32),
            ("[Fri Jan 05 03:04:05 2024] [mpm] y", "2024-01-05 03:04:05", 1, 25),
        ],
    ),
    Pattern(
        25, "win_iso_12h",  # YYYY-MM-DD hh:mm:ss AM/PM
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2}) "
        r"(?P<h12>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2}) (?P<ampm>AM|PM))\b",
        "mdy12",
        tests=[
            ("2024-01-05 03:04:05 PM event", "2024-01-05 15:04:05", 0, 22),
            ("2024-01-05 12:04:05 AM event", "2024-01-05 00:04:05", 0, 22),
        ],
    ),
    Pattern(
        26, "epoch_us16",  # 16-digit epoch microseconds
        r"^(?P<dt>(?P<eu>\d{16}))(?!\d)",
        "epoch_us",
        tests=[
            ("1704112402016549 syscall enter", "2024-01-01 12:33:22.016549", 0, 16),
        ],
    ),
    Pattern(
        27, "ctime_noyear",  # Mon Jan  2 15:04:05 (no trailing year)
        # second lookahead keeps this disjoint from unix_date_tz (37):
        # 'Fri Jan  5 03:04:05 UTC 2024' must fall through
        rf"^(?P<dt>(?:{_DOW_ALT}) (?P<b>{_MON_ALT}) (?P<D>[ \d]\d) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}})){_NO_YEAR_AFTER}"
        rf"(?! (?:{_TZN_ALT}) \d{{4}}){_NO_TZN_AFTER}"
        rf"(?! ?[-+\u2212]\d{{2}})",
        "mon_name",
        noyear=True,
        tests=[
            ("Fri Jan  5 03:04:05 host x", "2024-01-05 03:04:05", 0, 19),
        ],
    ),
    Pattern(
        28, "bracketed_iso",  # [YYYY-MM-DD HH:MM:SS(.f)]
        r"^(?P<pre>\[)(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?)\]",
        "ymd",
        dt_beg=None,
        tests=[
            ("[2024-01-05 03:04:05] INFO x", "2024-01-05 03:04:05", 1, 20),
            ("[2024-01-05T03:04:05.123] DEBUG", "2024-01-05 03:04:05.123000", 1, 24),
        ],
    ),
    # ---- round-2 second batch (ids stable, append-only) -------------
    Pattern(
        29, "iso8601_zulu",  # RFC3339 Zulu: ...THH:MM:SS(.f)Z
        # pattern 1 excludes a trailing Z (lookahead), so Zulu lines
        # fall through to here and the Z is part of the matched span —
        # s4 treats Z as an explicit +00:00 (ere_datetimes_impl.rs:589).
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?"
        r"(?P<tz>Z))",
        "ymd",
        tests=[
            ("2024-01-05T03:04:05Z host x", "2024-01-05 03:04:05", 0, 20),
            ("2024-01-05T03:04:05.123Z y", "2024-01-05 03:04:05.123000", 0, 24),
        ],
    ),
    Pattern(
        30, "nagios_epoch",  # [1704112402] SERVICE ALERT: ...
        r"^(?P<pre>\[)(?P<dt>(?P<es>\d{9,11}))\]",
        "epoch",
        dt_beg=None,
        tests=[
            ("[1704112402] SERVICE ALERT: h;s", "2024-01-01 12:33:22", 1, 11),
        ],
    ),
    Pattern(
        31, "bash_history",  # HISTTIMEFORMAT marker: #<epoch>
        r"^(?P<pre>#)(?P<dt>(?P<es>\d{9,11}))(?![\d.])",
        "epoch",
        dt_beg=None,
        tests=[
            ("#1704112402", "2024-01-01 12:33:22", 1, 11),
        ],
    ),
    Pattern(
        32, "dd_mon_yyyy",  # 05 Jan 2024 03:04:05 (proftpd-ish)
        rf"^(?P<dt>(?P<D>\d{{2}}) (?P<b>{_MON_ALT}) (?P<Y>\d{{4}}) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}))",
        "mon_name",
        tests=[
            ("05 Jan 2024 03:04:05 info m", "2024-01-05 03:04:05", 0, 20),
        ],
    ),
    Pattern(
        33, "java_util_log",  # JUL SimpleFormatter: Jan 05, 2024 3:04:05 AM
        rf"^(?P<dt>(?P<b>{_MON_ALT}) (?P<D>\d{{2}}), (?P<Y>\d{{4}}) "
        rf"(?P<h12>\d{{1,2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}) (?P<ampm>AM|PM))\b",
        "mon12",
        tests=[
            ("Jan 05, 2024 03:04:05 AM m", "2024-01-05 03:04:05", 0, 24),
            ("Jan 05, 2024 11:04:05 PM m", "2024-01-05 23:04:05", 0, 24),
            ("Jan 05, 2024 3:04:05 PM m", "2024-01-05 15:04:05", 0, 23),
        ],
    ),
    Pattern(
        34, "bracketed_iso_tz",  # JVM GC-log style: [ISO±tz|Z]
        # bracketed_iso (28) requires ']' right after secs/frac, so
        # tz-suffixed brackets fall through to here.
        r"^(?P<pre>\[)(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?"
        r"(?P<tz>Z|[+-]\d{2}:?\d{2}))\]",
        "ymd",
        dt_beg=None,
        tests=[
            ("[2024-01-05T03:04:05+0000] GC pause", "2024-01-05 03:04:05", 1, 25),
            ("[2024-01-05T03:04:05.123-0800] x", "2024-01-05 11:04:05.123000", 1, 29),
            ("[2024-01-05T03:04:05.123Z] gc", "2024-01-05 03:04:05.123000", 1, 25),
        ],
    ),
    Pattern(
        35, "ymd_dash_time",  # YYYY-MM-DD-HH:MM:SS (dash joins time)
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})-"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2}))"
        r"(?! ?[-+\u2212]\d{2})(?![.,\d])",
        "ymd",
        tests=[
            ("2024-01-05-03:04:05 backup done", "2024-01-05 03:04:05", 0, 19),
        ],
    ),
    Pattern(
        36, "compact_ymd_space",  # YYYYMMDD HHMMSS
        r"^(?P<dt>(?P<Y>\d{4})(?P<M>\d{2})(?P<D>\d{2}) "
        r"(?P<h>\d{2})(?P<mi>\d{2})(?P<s>\d{2}))(?!\d)",
        "ymd",
        tests=[
            ("20240105 030405 snapshot ok", "2024-01-05 03:04:05", 0, 15),
        ],
    ),
    # ---- round-2 third batch (ids stable, append-only) --------------
    Pattern(
        37, "unix_date_tz",  # unix date(1): Fri Jan  5 03:04:05 UTC 2024
        # ctime_noyear (27) excludes the ' TZN YYYY' tail by lookahead
        rf"^(?P<dt>(?:{_DOW_ALT}) (?P<b>{_MON_ALT}) (?P<D>[ \d]\d) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}) "
        rf"(?P<tzn>{_TZN_ALT}) (?P<Y>\d{{4}}))\b",
        "mon_name",
        tests=[
            ("Fri Jan  5 03:04:05 UTC 2024 up", "2024-01-05 03:04:05", 0, 28),
            ("Fri Jan  5 03:04:05 PST 2024 x", "2024-01-05 11:04:05", 0, 28),
        ],
    ),
    Pattern(
        38, "apache_nobracket",  # DD/Mon/YYYY:HH:MM:SS ±zzzz, no []
        rf"^(?P<dt>(?P<D>\d{{2}})/(?P<b>{_MON_ALT})/(?P<Y>\d{{4}}):"
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}) (?P<tz>[+-]\d{{4}}))\b",
        "mon_name",
        tests=[
            ("05/Jan/2024:03:04:05 +0000 GET /", "2024-01-05 03:04:05", 0, 26),
            ("05/Jan/2024:03:04:05 -0800 GET /", "2024-01-05 11:04:05", 0, 26),
        ],
    ),
    Pattern(
        39, "iso_tz_hour",  # ISO with bare-hours offset: ...+08
        # pattern 1's lookahead excludes any ±\d\d suffix, so these
        # fall through; the trailing lookahead rejects ±hhmm / ±hh:mm
        # prefixes (those belong to 0 / 13), keeping the bank disjoint.
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?"
        r" ?(?P<tz>[+-]\d{2}))(?![\d:])",
        "ymd",
        tests=[
            ("2024-01-05T03:04:05+08 x", "2024-01-04 19:04:05", 0, 22),
            ("2024-01-05 03:04:05.5-11 y", "2024-01-05 14:04:05.500000", 0, 24),
        ],
    ),
    Pattern(
        40, "gc_uptime_s",  # JVM GC log: [12345.123s] (bank-only:
        # the synthetic corpus keeps one uptime family (8) because the
        # boot-anchor derivation is per-conv; embedded tests cover this)
        r"^(?P<pre>\[ *\+?)(?P<dt>(?P<us_>\d{1,9})\.(?P<f>\d{1,6}))s\]",
        "uptime",
        dt_beg=None,
        tests=[
            ("[12345.123s] GC pause young", 12345123000, 1, 10),
            ("[0.004s] Using G1", 4000, 1, 6),
        ],
    ),
    # ---- round-2 fourth batch (ids stable, append-only) --------------
    Pattern(
        41, "iso_minute",  # minute-resolution ISO: YYYY-MM-DD HH:MM
        # every other ISO family requires :ss, so these fall through;
        # the lookahead rejects second/fraction/digit continuations.
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}))(?![:.\d])",
        "ymd",
        tests=[
            ("2024-01-05 03:04 backup start", "2024-01-05 03:04:00", 0, 16),
            ("2024-01-05T03:04 cron", "2024-01-05 03:04:00", 0, 16),
        ],
    ),
    Pattern(
        42, "full_month_dmy",  # %B: 05 January 2024 03:04:05 (bank-only:
        # 'DD May YYYY' would be corpus-ambiguous with dd_mon_yyyy, so
        # the synthetic corpus does not emit this family; embedded
        # tests cover it)
        rf"^(?P<dt>(?P<D>\d{{2}}) (?P<bf>{_MON_FULL_ALT}) (?P<Y>\d{{4}}) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}))",
        "mon_name",
        tests=[
            ("05 January 2024 03:04:05 msg", "2024-01-05 03:04:05", 0, 24),
            ("31 December 2023 23:59:59 y", "2023-12-31 23:59:59", 0, 25),
        ],
    ),
    Pattern(
        43, "win_cbs",  # Windows CBS.log: ISO secs + ', Info CBS ...'
        # pattern 1's catch-all lookahead excludes a trailing comma and
        # iso_comma_frac (9) requires digits after it, so ', <word>'
        # lines land here; the comma stays outside the dt span.
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})[T ]"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2}))(?=, )",
        "ymd",
        tests=[
            ("2024-01-05 03:04:05, Info CBS Starting", "2024-01-05 03:04:05", 0, 19),
        ],
    ),
    Pattern(
        44, "mdy_slash_yy",  # %y 2-digit year: 01/05/24 03:04:05
        # disjoint from the 4-digit-year slash families by construction
        # (their year digits collide with this one's required space);
        # y2 maps through chrono's %y pivot (<=68 -> 20xx, else 19xx).
        r"^(?P<dt>(?P<M>\d{2})/(?P<D>\d{2})/(?P<y2>\d{2}) "
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2}))(?! [AP]M\b)",
        "ymd",
        tests=[
            ("01/05/24 03:04:05 event ok", "2024-01-05 03:04:05", 0, 17),
            ("12/31/99 23:59:59 y2k-eve", "1999-12-31 23:59:59", 0, 17),
        ],
    ),
    # ---- round-2 fifth batch (ids stable, append-only; shapes mined
    # from the reference's DTPD test cases, ere_datetimes_impl.rs) ----
    Pattern(
        45, "slash_ymd_numtz",  # 2000/01/02 00:00:02(.123) -1100|−08|+05:30
        r"^(?P<dt>(?P<Y>\d{4})/(?P<M>\d{2})/(?P<D>\d{2}) "
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:[.,](?P<f>\d{1,9}))?"
        r" ?(?P<tz>[+-]\d{2}(?::?\d{2})?))(?![\d:])",
        "ymd",
        tests=[
            ("2024/01/05 03:04:05 -0800 a", "2024-01-05 11:04:05", 0, 25),
            ("2024/01/05 03:04:05.123 -08 b", "2024-01-05 11:04:05.123000", 0, 27),
        ],
    ),
    Pattern(
        46, "slash_ymd_namedtz",  # 2000/01/05 00:00:05 PETT
        rf"^(?P<dt>(?P<Y>\d{{4}})/(?P<M>\d{{2}})/(?P<D>\d{{2}}) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}})(?:\.(?P<f>\d{{1,9}}))?"
        rf" (?P<tzn>{_TZN_ALT}))\b",
        "ymd",
        tests=[
            ("2024/01/05 03:04:05 PST event", "2024-01-05 11:04:05", 0, 23),
        ],
    ),
    Pattern(
        47, "commonlog_apache",  # 192.168.0.8 - - [07/Mar/2020:06:30:43 -0800]
        # the one non-line-anchored family: s4's range_regex scans a
        # bounded prefix REGION, not byte 0 — the common-log host/ident/
        # user tokens precede the bracketed datetime (DTPD test cases
        # '192.168.0.8 - - [...]', ere_datetimes_impl.rs)
        rf"^(?P<pre>\S+ \S+ \S+ \[)(?P<dt>(?P<D>\d{{2}})/(?P<b>{_MON_ALT})/"
        rf"(?P<Y>\d{{4}}):(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}})"
        rf" (?P<tz>[+-]\d{{4}}))\]",
        "mon_name",
        dt_beg=None,
        tests=[
            (
                '192.168.0.8 - - [05/Jan/2024:03:04:05 -0800] "GET /"',
                "2024-01-05 11:04:05", 17, 43,
            ),
        ],
    ),
    Pattern(
        48, "slash_ymd_dashtime",  # 2000/01/02 05-01-32(.123)
        r"^(?P<dt>(?P<Y>\d{4})/(?P<M>\d{2})/(?P<D>\d{2}) "
        r"(?P<h>\d{2})-(?P<mi>\d{2})-(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?)"
        r"(?![.\d])(?! ?[+-]\d{2})",
        "ymd",
        tests=[
            ("2024/01/05 03-04-05 backup", "2024-01-05 03:04:05", 0, 19),
        ],
    ),
    Pattern(
        49, "iso_dashtime",  # 2017-05-14 04-00-07: report start
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2}) "
        r"(?P<h>\d{2})-(?P<mi>\d{2})-(?P<s>\d{2}))(?![\d-])",
        "ymd",
        tests=[
            ("2024-01-05 03-04-05: report start", "2024-01-05 03:04:05", 0, 19),
        ],
    ),
    # ---- round-2 sixth batch (ids stable, append-only; more
    # reference DTPD fixture shapes: tab-angle / space-curly mid-line
    # datetimes, compact-colon, plus-separated dash-time) -------------
    Pattern(
        50, "angle_dd_mon",  # 192.168.0.172\t<11-oct-2022 00:10:26+0100>
        rf"^(?P<pre>\S+\t<)(?P<dt>(?P<D>\d{{2}})-(?P<b>{_MON_ALT}|{_MON_CI_ALT})-"
        rf"(?P<Y>\d{{4}}) (?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}})"
        rf"(?:\.(?P<f>\d{{1,9}}))?(?: ?(?P<tz>[+-]\d{{2}}(?::?\d{{2}})?))?)>",
        "mon_name",
        dt_beg=None,
        tests=[
            (
                "192.168.0.8\t<05-jan-2024 03:04:05-0800> fw drop",
                "2024-01-05 11:04:05", 13, 38,
            ),
            (
                "192.168.0.8\t<05-Oct-2024 00:10:26> fw",
                "2024-10-05 00:10:26", 13, 33,
            ),
        ],
    ),
    Pattern(
        51, "curly_dd_mon_slash",  # 192.168.0.8 - - {11/oct/2022 ... +0100}
        rf"^(?P<pre>\S+ \S+ \S+ \{{)(?P<dt>(?P<D>\d{{2}})/"
        rf"(?P<b>{_MON_ALT}|{_MON_CI_ALT})/(?P<Y>\d{{4}}) "
        rf"(?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}) (?P<tz>[+-]\d{{4}}))\}}",
        "mon_name",
        dt_beg=None,
        tests=[
            (
                '192.168.0.8 - - {05/jan/2024 03:04:05 +0000} "GET /"',
                "2024-01-05 03:04:05", 17, 43,
            ),
        ],
    ),
    Pattern(
        52, "compact_colon_ms",  # 20000102:070832.123 -1100
        r"^(?P<dt>(?P<Y>\d{4})(?P<M>\d{2})(?P<D>\d{2}):"
        r"(?P<h>\d{2})(?P<mi>\d{2})(?P<s>\d{2})\.(?P<f>\d{3})"
        r" (?P<tz>[+-]\d{4}))(?!\d)",
        "ymd",
        tests=[
            ("20240105:030405.123 -0800 abc", "2024-01-05 11:04:05.123000", 0, 25),
        ],
    ),
    Pattern(
        53, "iso_plus_dashtime",  # 2019-01-29+02-07-27.809
        r"^(?P<dt>(?P<Y>\d{4})-(?P<M>\d{2})-(?P<D>\d{2})\+"
        r"(?P<h>\d{2})-(?P<mi>\d{2})-(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?)"
        r"(?![.\d])",
        "ymd",
        tests=[
            ("2024-01-29+02-07-27.809 sess", "2024-01-29 02:07:27.809000", 0, 23),
        ],
    ),
    # ---- round-2 seventh batch (ids stable, append-only) -------------
    Pattern(
        54, "mdy_colon_time",  # ie4uinit-style MM/DD/YYYY:HH:MM:SS:
        # colon joins date and time, so this is textually disjoint from
        # every space-joined slash-date family (11/18/38/44)
        r"^(?P<dt>(?P<M>\d{2})/(?P<D>\d{2})/(?P<Y>\d{4}):"
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2}))",
        "ymd",
        tests=[
            ("02/21/2023:06:27:45: Starting x", "2023-02-21 06:27:45", 0, 19),
        ],
    ),
    Pattern(
        55, "paren_slash_tz",  # (2000/01/01 00:00:02.123 -1100) smbd
        r"^(?P<pre>\()(?P<dt>(?P<Y>\d{4})/(?P<M>\d{2})/(?P<D>\d{2}) "
        r"(?P<h>\d{2}):(?P<mi>\d{2}):(?P<s>\d{2})(?:\.(?P<f>\d{1,9}))?"
        r" (?P<tz>[+-]\d{4}))\)",
        "ymd",
        dt_beg=None,
        tests=[
            ("(2024/01/05 03:04:05 -0800) oplock", "2024-01-05 11:04:05", 1, 26),
            ("(2024/01/05 03:04:05.123 -0800) x", "2024-01-05 11:04:05.123000", 1, 30),
        ],
    ),
    Pattern(
        56, "star_rfc2822_tz",  # *Tue, Jun 28 01:51:12 2022 +01:30
        rf"^(?P<pre>\*{{1,3}})(?P<dt>(?:{_DOW_ALT}), (?P<b>{_MON_ALT}) "
        rf"(?P<D>[ \d]\d) (?P<h>\d{{2}}):(?P<mi>\d{{2}}):(?P<s>\d{{2}}) "
        rf"(?P<Y>\d{{4}}) (?P<tz>[+-]\d{{2}}:\d{{2}}))\b",
        "mon_name",
        dt_beg=None,
        tests=[
            ("*Fri, Jan  5 03:04:05 2024 +05:30 X", "2024-01-04 21:34:05", 1, 33),
        ],
    ),
    Pattern(
        57, "compact_upper_mon",  # 11OCT2022T001026Z (compact %d%b%Y)
        rf"^(?P<dt>(?P<D>\d{{2}})(?P<b>{'|'.join(m.upper() for m in MONTHS)})"
        rf"(?P<Y>\d{{4}})T(?P<h>\d{{2}})(?P<mi>\d{{2}})(?P<s>\d{{2}})"
        rf"(?P<tz>Z)?)(?!\d)",
        "mon_name",
        tests=[
            ("05JAN2024T030405Z route", "2024-01-05 03:04:05", 0, 17),
            ("05JAN2024T030405 route", "2024-01-05 03:04:05", 0, 16),
        ],
    ),
]

# --------------------------------------------------------------------
# Scan tier (ids 58+, scan=True): compositional mid-line patterns, the
# analogue of the reference building every DTPD from shared fragments
# (CGP_*/D_*/RP_* constants, ere_datetimes_impl.rs:1584-1946) and
# *searching* the line's prefix REGION rather than matching at byte 0
# (range_regex + RP_NOALNUMb left boundaries).  These run ONLY on rows
# the anchored tier rejected (first-match-wins puts them last), so the
# hot path — corpus lines, which all match an anchored family — never
# pays the bounded-backtracking prefix.
#
# One scan entry deliberately covers many concrete shapes (optional
# separators, any bracket, optional tz of every kind), exactly like
# one reference DTPD does via D_Dq/RP_LB/CGP_TZ alternations.

# bounded left boundary: up to 100 chars of anything, ending at a
# non-alphanumeric (or line start) — RP_NOALNUMb + range_regex (the
# scan tier inspects SCAN_MAX chars, wider than the anchored tier's
# MAX_SCAN, mirroring the reference's per-entry range_regex widths)
_SC_PRE = r"^(?P<pre>.{0,100}?(?:^|[^0-9A-Za-z]))"
# component fragments (CGP_* analogues; YEAR constrained to 1969-2099
# like CGP_YEAR so digit runs can't false-positive as dates)
_Y4 = rf"(?P<Y>{_REAL_YEAR})"
_M2 = r"(?P<M>0\d|1[012])"
_Msd = r"(?P<M>0\d|1[012]|\d)"
_D2 = r"(?P<D>[012]\d|3[01])"
_Dsd = r"(?P<D>[012]\d|3[01]| \d|\d)"
_H2 = r"(?P<h>[01]\d|2[0-4])"
_Hsd = r"(?P<h>[01]\d|2[0-4]|\d)"
_MI2 = r"(?P<mi>[0-5]\d)"
_MIsd = r"(?P<mi>[0-5]\d|\d)"
_S2s = r"(?P<s>[0-5]\d|6[01])"
_Ssd = r"(?P<s>[0-5]\d|6[01]|\d)"
_FR = r"(?:[\.,](?P<f>\d{1,9}))?"
_AMPM_OPT = r"(?: ?(?P<ampm>[AP]M|[ap]m))?"
# date separators incl. backslash (D_Deq: MS-style '2023\2\22');
# date-time joiner incl. '_', '+', and 1-2 blanks (D_DHcdqu + RP_BLANKS)
_DSEP = r"[ /\\\-]"
_JOIN = r"(?:[T:+_\t\-]| {1,2})"
# numeric offset incl. bare hours and the U+2212 minus the reference
# accepts (CGP_TZz classes are [+-−])
_TZNUM = r"[-+\u2212](?:[01]\d|2[0-3])(?::?[0-5]\d)?"
# any-kind optional tz: numeric after 0-2 blanks, or a named tz after
# any blanks INCLUDING attached ('...123456789PETT', RP_BLANKSq) and
# terminated by a non-alpha (RP_NOALPHA: 'pst123' still counts)
# last branch: no tz — then the datetime must not be a prefix of a
# longer digit run (the RP_NODIGIT right boundary)
_SC_TZ_OPT = (
    rf"(?:[ \t]{{0,2}}(?P<tz>{_TZNUM})(?!\d)"
    rf"|[ \t]*(?P<tzn>{_TZN_CI_ALT})(?![A-Za-z])"
    rf"|(?!\d))"
)
_TZN_U_ALT = "|".join(sorted(TZ_OFFSET_MIN, key=lambda s: (-len(s), s)))
# tail for '<b> <d> <Y> <time>' shapes: numeric tz after 0-2 blanks;
# named tz across a tab / 2+ spaces in any case, or across a single
# space only when UPPERCASE (the reference's tz-capturing entries use
# CGP_TZZ_U and precede the no-tz fallbacks in table order, so
# '...08:45:55 PST' shifts while a lowercase word stays message text)
_SC_TZ_TAIL_STRICT = (
    rf"(?:[ \t]{{0,2}}(?P<tz>{_TZNUM})(?!\d)"
    rf"|(?:\t[ \t]*| {{2,}})(?P<tzn>{_TZN_CI_ALT})(?![A-Za-z])"
    rf"| (?P<tznu>{_TZN_U_ALT})(?![A-Za-z])"
    rf"|(?!\d))"
)
_MON_ANY_CI = "|".join(
    sorted(
        {
            v
            for m in list(MONTHS_FULL) + list(MONTHS)
            for v in (m, m.lower(), m.upper())
        },
        key=lambda s: (-len(s), s),
    )
)
_DOWS_FULL = [
    "Monday", "Tuesday", "Wednesday", "Thursday",
    "Friday", "Saturday", "Sunday",
]
_DOW_ANY_CI = "|".join(
    sorted(
        {
            v
            for d in _DOWS_FULL + _DOW_ALT.split("|")
            for v in (d, d.lower(), d.upper())
        },
        key=lambda s: (-len(s), s),
    )
)
_SC_DOW_OPT = rf"(?:(?:{_DOW_ANY_CI})\.?,? )?"
_B_ANY = rf"(?P<b>{_MON_ANY_CI})\.?"

SCAN_PATTERNS: list[Pattern] = [
    Pattern(
        58, "scan_ymd_hms",
        # Y(mdHMS) with optional [ /\-] date seps, joiner, optional
        # :-less or dash time, frac (incl. ':'-separated ms, the
        # Windows-CBS shape), any-kind optional tz — the
        # DTFSS_YmdHMS* block (entries w/ D_Dq/D_DHcdq/CGP_TZ*)
        rf"{_SC_PRE}(?P<dt>{_Y4}{_DSEP}?{_M2}{_DSEP}?{_D2}{_JOIN}?"
        rf"{_H2}[:\-]?{_MI2}[:\-]?{_S2s}(?:[\.,:](?P<f>\d{{1,9}}))?"
        rf"{_SC_TZ_OPT})",
        "ymd",
        dt_beg=None,
        scan=True,
        tests=[
            ("pid=77 (2021/03/04-05:06:07.123456 -0800) done",
             "2021-03-04 13:06:07.123456", 8, 40),
            ("x 20211231T235959 y", "2021-12-31 23:59:59", 2, 17),
            ("host <2020-01-02 03:04:05,123 pst> m",
             "2020-01-02 11:04:05.123000", 6, 33),
            ("log 2023\\02\\22  04:05:07 tail",
             "2023-02-22 04:05:07", 4, 24),
            (" 2019-01-29+02-07-27.809 ",
             "2019-01-29 02:07:27.809000", 1, 24),
        ],
    ),
    Pattern(
        59, "scan_ymd_sd_hms",
        # single-digit month/day/hour variants, separators required
        # (DTFSS_Ysdkms / YsdkMS / Ysdksf)
        rf"{_SC_PRE}(?P<dt>{_Y4}{_DSEP}{_Msd}{_DSEP}{_Dsd}(?:[T+\t]| {{1,2}})"
        rf"{_Hsd}[:\-]{_MIsd}[:\-]{_Ssd}{_FR}{_SC_TZ_OPT})",
        "ymd",
        dt_beg=None,
        scan=True,
        tests=[
            ("note 2020/1/2 3:4:5 end", "2020-01-02 03:04:05", 5, 19),
            ("START 2023\\2\\22  4:5:7 ---", "2023-02-22 04:05:07", 6, 22),
        ],
    ),
    Pattern(
        60, "scan_ymd_hm",
        # minute resolution (DTFSS_YmdHM)
        rf"{_SC_PRE}(?P<dt>{_Y4}[ /\-]{_M2}[ /\-]{_D2}[ T]"
        rf"{_H2}:{_MI2})(?![:\.\d])",
        "ymd",
        dt_beg=None,
        scan=True,
        tests=[
            ("took 2020/01/02 03:04 ok", "2020-01-02 03:04:00", 5, 21),
        ],
    ),
    Pattern(
        73, "scan_dow0_b_d_y_hms",
        # weekday anchored at byte 0 (reference entries 34-37:
        # '^CGP_DAYa RP_dcq RP_BLANK12 CGP_MONTHBb ... CGP_TZ*',
        # ere_datetimes_impl.rs): at line start the FULL-case tz
        # alternation applies (CGP_TZZ includes lowercase, :1809), so
        # 'sunday Jun 28 2022 01:51:12 yekt' shifts — while the same
        # tail mid-line (entry 148's RP_NOALPHAb no-tz shape) stays
        # message text via pattern 61's strict tail.  Must precede 61.
        rf"^(?P<pre>)(?P<dt>(?:{_DOW_ANY_CI})[\.,]? {{1,2}}{_B_ANY}"
        rf"[ \t]{{1,2}}{_Dsd},?[ \t]{{1,2}}{_Y4}"
        rf"[ \t]{{1,2}}{_Hsd}:{_MI2}:{_S2s}{_FR}{_SC_TZ_OPT})",
        "mon_name",
        dt_beg=None,
        scan=True,
        tests=[
            ("sunday Jun 28 2022 01:51:12 yekt FOOBAR",
             "2022-06-27 20:51:12", 0, 32),
            ("SAT, Jun 28 2022 01:51:12 WITA:FOOBAR",
             "2022-06-27 17:51:12", 0, 30),
            ("mon Jun 28 2022 01:51:12 +1230",
             "2022-06-27 13:21:12", 0, 30),
        ],
    ),
    Pattern(
        61, "scan_b_d_y_hms",
        # Month-name day year time (DTFSS_BdHMSY* / bdHMSY*); named tz
        # only counts across a tab / 2+ spaces (see _SC_TZ_TAIL_STRICT)
        rf"{_SC_PRE}(?P<dt>{_SC_DOW_OPT}{_B_ANY}[ \t\-]{_Dsd},?[ \t]{_Y4}"
        rf"[ \t]{_Hsd}:{_MI2}:{_S2s}{_FR}{_AMPM_OPT}{_SC_TZ_TAIL_STRICT})",
        "mon_name",
        dt_beg=None,
        scan=True,
        tests=[
            ("up January 1 2020 08:33:01\tPWT go",
             "2019-12-31 23:33:01", 3, 30),
            # single-space UPPERCASE name = tz (CGP_TZZ_U precedence);
            # a single-space lowercase word would stay message text
            ("at jan. 5, 2024 3:04:05 pm CET x",
             "2024-01-05 14:04:05", 3, 30),
        ],
    ),
    Pattern(
        62, "scan_b_d_hms_y",
        # ctime-with-year; tz (numeric OR named) may sit before or
        # after the year (DTFSS_BdHMSY{Z,z,zc,zp}: 'Jan  1 15:00:36
        # -02:00 2023', 'Mon Dec 5 21:01:12 2016 PST', tab-separated
        # 'WED February  8 14:58:07\t2018\tPST')
        rf"{_SC_PRE}(?P<dt>{_SC_DOW_OPT}{_B_ANY}[ \t\-]{_Dsd}[ \t]"
        rf"{_Hsd}:{_MI2}:{_S2s}{_FR}"
        rf"(?:[ \t](?P<tzn>{_TZN_CI_ALT})(?![A-Za-z])"
        rf"|[ \t]?(?P<tz>{_TZNUM})(?!\d))?"
        rf"[ \t]{_Y4}"
        rf"(?:[ \t]?(?P<tz2>{_TZNUM})(?!\d)"
        rf"|[ \t]*(?P<tzn2>{_TZN_CI_ALT})(?![A-Za-z]))?)",
        "mon_name",
        dt_beg=None,
        scan=True,
        tests=[
            ("** Mon Jan  2 15:04:05 MST 2006 tail",
             "2006-01-02 15:04:05", 3, 31),
            ("= tue, jun 28 01:51:12 2022 +01:30 =",
             "2022-06-28 00:21:12", 2, 34),
            ("<14>Jan  1 15:00:36 -02:00 2023 HOST x",
             "2023-01-01 17:00:36", 4, 31),
            ("e: Thu Feb 27 00:33:59 2020 ALMT: called",
             "2020-02-26 18:33:59", 3, 32),
        ],
    ),
    Pattern(
        64, "scan_d_b_y_hms",
        # day month-name year time ('11-oct-2022 00:10:26',
        # '18/Feb/2000:09:00:01 +0100' — DTFSS_YbdHMS day-first forms)
        rf"{_SC_PRE}(?P<dt>{_Dsd}[ /\-\.]{_B_ANY}[ /\-\.,]? ?{_Y4}[ :T\-]"
        rf"{_Hsd}:{_MI2}:{_S2s}{_FR}{_AMPM_OPT}{_SC_TZ_TAIL_STRICT})",
        "mon_name",
        dt_beg=None,
        scan=True,
        tests=[
            ("ip 18/Feb/2000:09:00:01 +0100 GET",
             "2000-02-18 08:00:01", 3, 29),
            ("fw <11-oct-2022 00:10:26+0100> drop",
             "2022-10-10 23:10:26", 4, 29),
            ("d: Tue, 1 Jul 2003 10:52:37  CAT from x",
             "2003-07-01 08:52:37", 7, 32),
        ],
    ),
    Pattern(
        65, "scan_y_b_d_hms",
        # year month-name day time (DTFSS_YbdHMS*)
        rf"{_SC_PRE}(?P<dt>{_Y4}[ /\-\.]{_B_ANY}[ /\-\.]{_Dsd}[ :T\-]"
        rf"{_Hsd}:{_MI2}:{_S2s}{_FR}{_AMPM_OPT}{_SC_TZ_OPT})",
        "mon_name",
        dt_beg=None,
        scan=True,
        tests=[
            ("v 2000 Jan 01 12:55:04 UTC end",
             "2000-01-01 12:55:04", 2, 26),
        ],
    ),
    Pattern(
        67, "scan_mdy_hms",
        # month-first NN/NN/YYYY mid-line, '.'-separated seconds
        # allowed ('[02/21/2023 07:07.05.262]' — Windows WudfCoInstaller)
        rf"{_SC_PRE}(?P<dt>{_Msd}[/\-]{_Dsd}[/\-]{_Y4}{_JOIN}"
        rf"{_Hsd}[:\.]{_MIsd}[:\.]{_Ssd}(?:[\.,:](?P<f>\d{{1,9}}))?"
        rf"{_SC_TZ_OPT})",
        "ymd",
        dt_beg=None,
        scan=True,
        tests=[
            ("[02/21/2023 07:07.05.262] W: x",
             "2023-02-21 07:07:05.262000", 1, 24),
            ("(05/27/2020-12:25:43.0877) total",
             "2020-05-27 12:25:43.087700", 1, 25),
        ],
    ),
    Pattern(
        68, "scan_d_b_y2_hms",
        # day month-name 2-digit-year ('[22-Feb-17 21:24:20]',
        # opentftp '%d-%b-%y %X'); %y pivot <=68 → 20xx
        rf"{_SC_PRE}(?P<dt>{_D2}[ /\-\.]{_B_ANY}[ /\-\.]?(?P<y2>\d\d)"
        rf"[ :T]{_H2}:{_MI2}:{_S2s}{_FR}{_SC_TZ_OPT})",
        "mon_name",
        dt_beg=None,
        scan=True,
        tests=[
            ("[22-Feb-17 21:24:20] Section x",
             "2017-02-22 21:24:20", 1, 19),
        ],
    ),
    Pattern(
        69, "scan_dmy2_hms",
        # day-month-2-digit-year numeric ('[29-08-24 13:17:25]',
        # Squirrel dd-mm-yy); must run before the no-year md shape
        rf"{_SC_PRE}(?P<dt>{_D2}-{_M2}-(?P<y2>\d\d) "
        rf"{_H2}:{_MI2}:{_S2s}{_FR})(?!\d)",
        "ymd",
        dt_beg=None,
        scan=True,
        tests=[
            ("[29-08-24 13:17:25] info: x", "2024-08-29 13:17:25", 1, 18),
        ],
    ),
    Pattern(
        63, "scan_b_d_hms",
        # no-year syslog shape mid-line (DTFSS_BdHMS, '<14>Jan  1 ...',
        # 'Jun-16 14:09:58'); runs AFTER every year-bearing shape
        rf"{_SC_PRE}(?P<dt>{_SC_DOW_OPT}{_B_ANY}[ \t\-]{_Dsd}[ \t]"
        rf"{_Hsd}:{_MI2}:{_S2s}{_FR}{_AMPM_OPT}{_SC_TZ_OPT}){_NO_YEAR_AFTER}",
        "mon_name",
        dt_beg=None,
        noyear=True,
        scan=True,
        tests=[
            ("<14>Jan  1 15:00:36 HOST app: m",
             "2024-01-01 15:00:36", 4, 19),
            ("INFO Jun-16 14:09:58 === x", "2024-06-16 14:09:58", 5, 20),
        ],
    ),
    Pattern(
        66, "scan_md_hms",
        # month-day time, no year (DTFSS_mdHMS[f] / sdHMS: logcat-ish
        # mid-line, '[ 2/21 07:06:54]')
        rf"{_SC_PRE}(?P<dt>{_Msd}[/\-]{_Dsd} {_Hsd}:{_MI2}:{_S2s}{_FR})"
        rf"(?![\d])",
        "ymd",
        dt_beg=None,
        noyear=True,
        scan=True,
        tests=[
            ("lvl 01-05 03:04:05.123 tag: m",
             "2024-01-05 03:04:05.123000", 4, 22),
            ("[ 2/21 07:06:54] 840.860> x", "2024-02-21 07:06:54", 2, 15),
        ],
    ),
    Pattern(
        70, "scan_json_epoch",
        # '"timestamp": 1779505414374,' JSON epoch in ms or s
        # (reference entries w/ CGP_EPOCHms / CGP_EPOCH after a literal
        # "timestamp" key); the required key keeps mid-line epoch
        # matching from false-positiving on arbitrary digit runs
        r"^(?P<pre>.{0,100}?\"(?:TIMESTAMP|Timestamp|timestamp)\" ?: ?)"
        r"(?P<dt>(?P<es>\d{10})(?P<f>\d{3})?)(?=[ ,\}])",
        "epoch",
        dt_beg=None,
        scan=True,
        gate=r'(?:TIMESTAMP|Timestamp|timestamp)"',
        tests=[
            ('x {"timestamp":1704112402016, "a":1}',
             "2024-01-01 12:33:22.016000", 15, 28),
            ('{"Timestamp": 1704112402}',
             "2024-01-01 12:33:22", 14, 24),
        ],
    ),
    Pattern(
        71, "scan_compact_dby",
        # mid-line compact '<11OCT2022T001026Z>' (upper-month compact,
        # the tab-angle router shape of tier-1 57)
        rf"{_SC_PRE}(?P<dt>{_D2}(?P<b>{'|'.join(m.upper() for m in MONTHS)})"
        rf"{_Y4}T{_H2}{_MI2}{_S2s}(?P<tz>Z)?)(?!\d)",
        "mon_name",
        dt_beg=None,
        scan=True,
        gate=r"\d(?:JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG|SEP|OCT|NOV|DEC)\d",
        tests=[
            ('ip\t<11OCT2022T001026Z>\t"GET"', "2022-10-11 00:10:26", 4, 21),
        ],
    ),
    Pattern(
        72, "scan_compact_md_hms",
        # no-year compact 'MMDD/HHMMSS(.fff)' (chromium logs
        # '[0509/110534.660:VERBOSE1:', JSON '"logTime": "0425/073750"')
        rf"{_SC_PRE}(?P<dt>{_M2}{_D2}/{_H2}{_MI2}{_S2s}"
        rf"(?:\.(?P<f>\d{{3}}(?:\d{{3}}){{0,2}}))?)(?![0-9A-Za-z])",
        "ymd",
        dt_beg=None,
        noyear=True,
        scan=True,
        gate=r"\d{4}/\d{6}",
        tests=[
            ("[0509/110534.660:VERBOSE1:x]",
             "2024-05-09 11:05:34.660000", 1, 16),
            ('{"logTime": "0425/073750", "v":1}', "2024-04-25 07:37:50", 13, 24),
        ],
    ),
    Pattern(
        74, "scan_compact_ymd_hms",
        # compact 'YYYYmdd_HMMSS' (reference entry 142 DTFSS_YsdkMS:
        # CGP_YEAR D_Deq CGP_MONTHms D_Deq CGP_DAYde D_DHcdqu
        # CGP_HOUR_sd D_T CGP_MINUTE D_T CGP_SECOND — all date/time
        # separators optional, single-digit month and hour:
        # '2020307_42530:/sbin/e2fsck').  We keep the date-time
        # joiner REQUIRED (every reference embedded case has one) so
        # a bare 13-digit run can never false-positive as a datetime.
        rf"{_SC_PRE}(?P<dt>{_Y4}{_DSEP}?(?P<M>1[012]|\d){_DSEP}?{_D2}"
        rf"[ T_:\-]{_Hsd}[:\-]?{_MI2}[:\-]?{_S2s})(?![0-9A-Za-z])",
        "ymd",
        dt_beg=None,
        scan=True,
        tests=[
            ("2020307_42530:/sbin/e2fsck -pvf",
             "2020-03-07 04:25:30", 0, 13),
            ("[2020307_42530] /sbin/e2fsck -pvf",
             "2020-03-07 04:25:30", 1, 14),
        ],
    ),
    Pattern(
        75, "scan_md_slash_hms_f",
        # no-year 'mm/dd/HH:MM:SS.fff' (reference entry 187
        # DTFSS_mdHMSf: CGP_MONTHm D_Deq CGP_DAYd D_DHcds CGP_HOUR
        # D_Teq CGP_MINUTE D_Teq CGP_SECOND D_SF CGP_FRACTIONAL369 —
        # Vivaldi '[05/09/11:05:34.660:VERBOSE1:...').  The fraction
        # is REQUIRED (FRACTIONAL369), which keeps this from eating
        # month-first m/d/y dates.
        rf"{_SC_PRE}(?P<dt>{_M2}/{_D2}/{_H2}:{_MI2}:{_S2s}"
        rf"\.(?P<f>\d{{3}}(?:\d{{3}}){{0,2}}))(?![0-9A-Za-z])",
        "ymd",
        dt_beg=None,
        noyear=True,
        scan=True,
        tests=[
            ("[05/09/11:05:34.660:VERBOSE1:x.cc:445] I",
             "2024-05-09 11:05:34.660000", 1, 19),
        ],
    ),
]

PATTERNS.extend(SCAN_PATTERNS)

CONTINUATION_SINK = "continuation"
SINK_NAMES = [p.name for p in PATTERNS] + [CONTINUATION_SINK]
