"""Fixed-size binary record decode (utmp/utmpx-style login records).

The reference ships a 6,119-line table-driven decoder for utmp/utmpx/
lastlog/acct layouts across platforms (src/data/fixedstruct.rs;
reader protocol src/readers/fixedstructreader.rs:190-215: entry-sized
blocks → typed records → chronological order).  Spark-first
re-expression: whole files arrive via the binaryFile source, and ONE
numpy ``frombuffer`` with a structured dtype decodes every record of
a file at once inside mapInPandas — vectorized, no per-record Python.

The layout here is the glibc x86_64 ``struct utmp`` (384 bytes,
little-endian — bits/utmp.h; the reference's linux_x86::utmpx
equivalent).  Other layouts are additional dtypes in ``LAYOUTS``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..sources.logfiles import read_binary

# glibc bits/utmp.h, x86_64: short ut_type; pad; pid_t ut_pid;
# char ut_line[32]; char ut_id[4]; char ut_user[32]; char ut_host[256];
# exit_status {short,short}; long->int32 ut_session;
# timeval32 {int32 tv_sec; int32 tv_usec}; int32 ut_addr_v6[4];
# char __glibc_reserved[20]  => 384 bytes total
UTMPX_DTYPE = np.dtype(
    [
        ("ut_type", "<i2"),
        ("_pad", "<i2"),
        ("ut_pid", "<i4"),
        ("ut_line", "S32"),
        ("ut_id", "S4"),
        ("ut_user", "S32"),
        ("ut_host", "S256"),
        ("e_termination", "<i2"),
        ("e_exit", "<i2"),
        ("ut_session", "<i4"),
        ("tv_sec", "<i4"),
        ("tv_usec", "<i4"),
        ("ut_addr_v6", "<i4", (4,)),
        ("_reserved", "S20"),
    ]
)
assert UTMPX_DTYPE.itemsize == 384, UTMPX_DTYPE.itemsize

LAYOUTS = {"utmpx_linux_x86_64": UTMPX_DTYPE}

RECORDS_SCHEMA = (
    "source string, rec_idx int, ut_type int, ut_pid int, "
    "ut_line string, ut_user string, ut_host string, ts timestamp"
)

# ut_type names (utmp.h) — the reference renders these symbolically
UT_TYPES = [
    "EMPTY", "RUN_LVL", "BOOT_TIME", "NEW_TIME", "OLD_TIME",
    "INIT_PROCESS", "LOGIN_PROCESS", "USER_PROCESS", "DEAD_PROCESS",
    "ACCOUNTING",
]


def _cstr(arr: np.ndarray) -> pd.Series:
    """NUL-padded fixed C strings → python str (vectorized)."""
    return pd.Series(arr).str.decode("utf-8", errors="replace").str.rstrip(
        "\x00"
    )


_UT_TYPE_MAX = 9  # ACCOUNTING
_TV_SEC_MAX = 4_102_444_800  # year 2100


def decode_records(
    content: bytes, dtype: np.dtype = UTMPX_DTYPE
) -> pd.DataFrame:
    """One file's bytes → typed record frame (single frombuffer; a
    trailing partial record is dropped like the reference's
    entry-sized block reader).

    Record VALIDATION mirrors the reference's layout scoring
    (fixedstructreader.rs tries many platform layouts and accepts
    only records that score as plausible — its expected output for
    the corrupt ``host-entry1.wtmp`` fixture is "no valid
    fixed-structure records"): a record is kept iff ut_type is in
    range, tv_sec is a sane wall-clock, and the string fields are
    properly NUL-terminated C strings (no interior NUL before
    payload — numpy S-dtypes strip only TRAILING NULs, so an interior
    NUL betrays a shifted/foreign layout).  All checks vectorized.
    """
    n = len(content) // dtype.itemsize
    rec = np.frombuffer(content, dtype=dtype, count=n)
    valid = (
        (rec["ut_type"] >= 0)
        & (rec["ut_type"] <= _UT_TYPE_MAX)
        & (rec["tv_sec"] > 0)
        & (rec["tv_sec"].astype("int64") < _TV_SEC_MAX)
    )
    # C-string shape check on the RAW field bytes (np.char strips
    # trailing NULs and treats interior NULs as terminators, hiding
    # exactly the corruption we must detect): the nonzero mask must be
    # a prefix — once a NUL appears, everything after stays NUL
    raw = np.frombuffer(
        content, dtype=np.uint8, count=n * dtype.itemsize
    ).reshape(n, dtype.itemsize)
    for f in ("ut_line", "ut_user", "ut_host"):
        off = dtype.fields[f][1]
        width = dtype.fields[f][0].itemsize
        nz = (raw[:, off : off + width] != 0).astype(np.int8)
        valid &= np.all(nz[:, :-1] >= nz[:, 1:], axis=1)
    rec_idx = np.arange(n, dtype="int32")[valid]
    rec = rec[valid]
    ts_us = rec["tv_sec"].astype("int64") * 1_000_000 + rec[
        "tv_usec"
    ].astype("int64")
    return pd.DataFrame(
        {
            "rec_idx": rec_idx,
            "ut_type": rec["ut_type"].astype("int32"),
            "ut_pid": rec["ut_pid"].astype("int32"),
            "ut_line": _cstr(rec["ut_line"]),
            "ut_user": _cstr(rec["ut_user"]),
            "ut_host": _cstr(rec["ut_host"]),
            "ts": pd.to_datetime(ts_us, unit="us"),
        }
    )


def as_rows(rec: pd.DataFrame) -> pd.DataFrame:
    """Records → the routed row shape (sources.logfiles.ROWS_SCHEMA,
    minus conv_id/tool): text is 'user line host'."""
    return pd.DataFrame(
        {
            "turn_idx": rec["rec_idx"].astype("int32"),
            "role": "utmpx",
            "text": rec["ut_user"] + " " + rec["ut_line"] + " "
            + rec["ut_host"],
            "ts": rec["ts"],
            "sink": "utmpx",
        }
    )


def read_fixedstruct(
    spark: SparkSession,
    paths: list[str] | str,
    layout: str = "utmpx_linux_x86_64",
) -> DataFrame:
    """utmp files → typed records DataFrame.

    A file is the unit of parallelism (binaryFile never splits), same
    as the reference's one-reader-per-file model; the decode is one
    numpy frombuffer per file inside an Arrow-batched mapInPandas.
    Chronological ordering, when needed, is the ordinary merge stage
    downstream (the reference pre-sorts in FixedStructReader because
    it streams; a DataFrame sorts lazily where required).
    """
    dtype = LAYOUTS[layout]
    return read_binary(
        spark, paths, lambda b: decode_records(b, dtype), RECORDS_SCHEMA
    )


def encode_records(rows: list[dict], dtype: np.dtype = UTMPX_DTYPE) -> bytes:
    """Inverse (fixture generation / tests): dict rows → packed bytes."""
    arr = np.zeros(len(rows), dtype=dtype)
    for i, r in enumerate(rows):
        arr[i]["ut_type"] = r.get("ut_type", 7)
        arr[i]["ut_pid"] = r.get("ut_pid", 0)
        arr[i]["ut_line"] = r.get("ut_line", "").encode()[:32]
        arr[i]["ut_id"] = r.get("ut_id", "").encode()[:4]
        arr[i]["ut_user"] = r.get("ut_user", "").encode()[:32]
        arr[i]["ut_host"] = r.get("ut_host", "").encode()[:256]
        arr[i]["tv_sec"] = r.get("tv_sec", 0)
        arr[i]["tv_usec"] = r.get("tv_usec", 0)
    return arr.tobytes()
