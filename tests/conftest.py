from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The suite shares one long-lived JVM (the session fixture).  Under the
# package's 64g default driver heap it grows past the RAM of a small
# host and is killed mid-suite, so cap it — and the CLI subprocesses,
# which inherit the variable — at half the host's RAM.
with open("/proc/meminfo") as _f:
    _ram_kib = int(next(x for x in _f if x.startswith("MemTotal:")).split()[1])
os.environ.setdefault("S4SPARK_DRIVER_MEM", f"{max(1, _ram_kib // 2 // 1024**2)}g")

from super_speedy_syslog_searcher_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    s = get_spark()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def norm_frame(df):
    """Order-insensitive, dtype-tolerant normal form for comparison."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif dt in ("Int32", "Int64", "int32", "int64", "Float64"):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def assert_frames_equal(sdf, odf, name=""):
    import pandas as pd  # noqa: F401

    a, b = norm_frame(sdf), norm_frame(odf)
    assert list(a.columns) == list(b.columns), f"{name}: column mismatch"
    assert len(a) == len(b), f"{name}: row count {len(a)} != {len(b)}"
    for c in a.columns:
        eq = ((a[c].isna() & b[c].isna()) | (a[c] == b[c])).all()
        assert eq, f"{name}.{c}: values differ"
