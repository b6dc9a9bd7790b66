"""Benchmark input generator: seed → input files + ground truth.

Runs as its own process before the measured Spark session starts, so
the program under test only ever sees files on disk:

    python3 perfbench/gen.py --workload table_merge --seed 7 --out DIR

table_merge gets a parquet transcripts table: a seed-drawn ``events``
table is pushed through the package's own engine-portable derivation
(datagen.transcripts_sql) in DuckDB, replicated with distinct
conversation ids and written in a seed-permuted row order.  Ground
truth comes from the DuckDB oracle (oracle.base): per dt window the
row count and a content hash of the assembled, dt-filtered rows, and
per sink the routed row counts (for the routed ingest of the traced
run).

logfile_search gets a directory of log files — plain, .gz and .bz2
text in several datetime formats with continuation lines, plus .evtx,
.journal and wtmp files built with the package's inverse encoders —
and the per-row effective timestamp of every record, from which the
expected output of any dt window follows.

Everything is drawn from ``numpy.random.default_rng(seed)``; the same
seed gives byte-identical files (gzip mtime pinned, fixed file
mtimes, ordered parquet writes).
"""

from __future__ import annotations

import argparse
import bz2
import gzip
import hashlib
import json
import os
import sys
from datetime import datetime, timedelta, timezone

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
JAN1_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
SPAN_DAYS = 30
# fixed mtime after every generated record: no-year formats anchor to
# 2024 and nothing is later than the file's mtime
FILE_MTIME = int(datetime(2024, 2, 15, tzinfo=timezone.utc).timestamp())

# log-file kinds; "files" in SCALES counts files of each kind.  The
# kind mix, the five text formats in equal turns, the continuation
# rate and the uneven size split below are assumptions: no measured
# corpus of s4 inputs is in the repository.  The one measured shape
# is a 119-file, 100k-line search session, about 840 lines per file,
# which sets "lines_per_file".
_KINDS = ["log", "gz", "bz2", "evtx", "journal", "wtmp"]
# input sizes per scale; "smoke" is for the benchmark's own tests
SCALES = {
    "full": {"events": 12_000, "repl": 10, "files": (16, 4, 3, 3, 3, 1),
             "lines_per_file": 840},
    "smoke": {"events": 1_000, "repl": 2, "files": (6, 2, 2, 2, 2, 1),
              "lines_per_file": 100},
}
# a text record is followed by 1..3 continuation lines this often
CONT_P = 0.1
LINES_PER_RECORD = 1 + CONT_P * 2  # expected lines per text record
N_WINDOWS = 64


def _window_list(rng, min_us: int, max_us: int) -> list[tuple[int, int]]:
    """dt windows [after, before] with log-uniform length 1 h .. 3 d,
    whole seconds (the program's -a/-b take second-resolution
    datetimes)."""
    out = []
    for _ in range(N_WINDOWS):
        length = int(np.exp(rng.uniform(np.log(HOUR_US), np.log(3 * DAY_US))))
        start = int(rng.integers(min_us, max(min_us + 1, max_us - length)))
        a = start // 1_000_000 * 1_000_000
        b = (start + length) // 1_000_000 * 1_000_000
        out.append((a, b))
    return out


def fmt_us(us: int) -> str:
    """µs since epoch → 'YYYY-MM-DD HH:MM:SS' (UTC), the dt_filter form."""
    return datetime.fromtimestamp(us // 1_000_000, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


# -- table workloads ----------------------------------------------------


def gen_table(rng, out: str, scale: dict) -> dict:
    import duckdb
    import pyarrow as pa

    sys.path.insert(0, ROOT)
    from super_speedy_syslog_searcher_spark.datagen import transcripts_sql
    from super_speedy_syslog_searcher_spark.oracle import base

    n, repl = scale["events"], scale["repl"]
    ts = np.sort(JAN1_US + rng.integers(0, SPAN_DAYS * DAY_US, n))
    events = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, max(1, n * 15 // 1000), n).astype(np.int64),
            "event_type": rng.choice(
                np.array(["click", "signup", "error", "view", "purchase"]), n
            ),
            "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        }
    )
    perm_key = int(rng.integers(0, 2**31))
    con = duckdb.connect()
    try:
        con.sql("SET TimeZone = 'UTC'")
        con.sql("SET threads = 2")
        con.sql(f"SET temp_directory = '{os.path.join(out, 'duckdb.tmp')}'")
        con.register("events", events)
        path = os.path.join(out, "transcripts.parquet")
        # TIMESTAMPTZ → parquet isAdjustedToUTC, which Spark reads as
        # TIMESTAMP (the type the pipeline's repair stage expects)
        con.sql(
            f"""COPY (
              SELECT conv_id || '#' || r AS conv_id, turn_idx, role, text,
                     tool, ts::TIMESTAMPTZ AS ts
              FROM ({transcripts_sql('duckdb')}) t, range({repl}) AS rr(r)
              ORDER BY hash(conv_id, turn_idx, r, {perm_key})
            ) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 65536)"""
        )
        # oracle: assembled rows once per base conversation, then the
        # replication (the suffix makes every copy its own conversation)
        con.sql(
            f"""CREATE TABLE asm AS
            {base('events')}
            SELECT conv_id || '#' || r AS conv_id, turn_idx, text,
                   epoch_us(ts_eff) AS ts_us, sink_eff, msg_turn_idx
            FROM asm, range({repl}) AS rr(r)"""
        )
        con.sql(
            """CREATE TABLE h AS SELECT ts_us, sink_eff,
                 ('0x' || substr(md5(concat_ws('|', conv_id, turn_idx, ts_us,
                   sink_eff, msg_turn_idx, text)), 1, 15))::BIGINT AS h
               FROM asm"""
        )
        lo, hi = con.sql(
            "SELECT min(ts_us), max(ts_us) FROM h WHERE ts_us IS NOT NULL"
        ).fetchone()
        windows = []
        for a, b in _window_list(rng, lo, hi):
            cnt, hsum = con.sql(
                f"SELECT count(*), coalesce(sum(h::HUGEINT), 0) FROM h "
                f"WHERE ts_us BETWEEN {a} AND {b}"
            ).fetchone()
            windows.append(
                {"after": fmt_us(a), "before": fmt_us(b), "rows": int(cnt),
                 "hash": str(hsum)}
            )
        sinks = dict(
            con.sql(
                "SELECT coalesce(sink_eff, 'null'), count(*) FROM asm GROUP BY 1"
            ).fetchall()
        )
        hours = con.sql(
            "SELECT count(DISTINCT ts_us // 3600000000) FROM h "
            "WHERE ts_us IS NOT NULL"
        ).fetchone()[0]
        n_rows, ts_rows = con.sql(
            "SELECT count(*), count(ts_us) FROM asm"
        ).fetchone()
    finally:
        con.close()
    return {
        "inputs": ["transcripts.parquet"],
        "rows": int(n_rows),
        "files": 1,
        "windows": windows,
        "sink_counts": {k: int(v) for k, v in sorted(sinks.items())},
        "hours": int(hours),
        "ts_rows": int(ts_rows),
    }


# -- log files ------------------------------------------------------------

_MON = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
_CONT = [
    "    at com.example.svc.Handler.call(Handler.java:{n})",
    "    at com.example.svc.Pool.run(Pool.java:{n})",
    "    ... {n} more",
    "  caused by: connection reset by peer (attempt {n})",
]


def _text_line(kind: int, us: int, i: int, rng) -> str:
    d = EPOCH + timedelta(microseconds=us)
    msg = f"worker {int(rng.integers(0, 64))} handled request {i} in {int(rng.integers(1, 999))} ms"
    if kind == 0:  # ISO 8601, no zone (default UTC)
        return d.strftime("%Y-%m-%dT%H:%M:%S") + f" app[{i % 97}]: {msg}"
    if kind == 1:  # RFC 3164, no year: anchored to the file mtime year
        return f"{_MON[d.month - 1]} {d.day:2d} {d:%H:%M:%S} host{i % 7:02d} sshd[{i % 4000}]: {msg}"
    if kind == 2:  # ISO with comma milliseconds
        return f"{d:%Y-%m-%d %H:%M:%S},{d.microsecond // 1000:03d} INFO [main] svc - {msg}"
    if kind == 3:  # Apache common log, datetime mid-line
        return (
            f"10.0.{i % 250}.{i % 199} - - [{d.day:02d}/{_MON[d.month - 1]}/{d.year}:"
            f"{d:%H:%M:%S} +0000] \"GET /item/{i} HTTP/1.1\" 200 {int(rng.integers(100, 9000))}"
        )
    # RFC 3339 Zulu, microseconds
    return f"{d:%Y-%m-%dT%H:%M:%S}.{d.microsecond:06d}Z svc: {msg}"


# text kind → timestamp resolution the format carries, in µs
_KIND_RES = {0: 1_000_000, 1: 1_000_000, 2: 1_000, 3: 1_000_000, 4: 1}


def _record_times(rng, n: int, res: int) -> np.ndarray:
    """n nondecreasing record times inside the corpus span."""
    start = JAN1_US + int(rng.integers(0, (SPAN_DAYS - 2) * DAY_US))
    end = JAN1_US + SPAN_DAYS * DAY_US
    t = np.sort(rng.integers(start, end, n))
    return t // res * res


def gen_logs(rng, out: str, scale: dict) -> dict:
    sys.path.insert(0, ROOT)
    from super_speedy_syslog_searcher_spark.operators.evtx import encode_evtx
    from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
        encode_records,
    )
    from super_speedy_syslog_searcher_spark.operators.journal import (
        encode_journal,
    )

    # the seed shuffles which file is which kind and how the line
    # budget splits; the count of each kind is fixed so every seed asks
    # the program for the same amount of work
    kinds = rng.permutation(
        [k for k, n in zip(_KINDS, scale["files"]) for _ in range(n)]
    )
    n_files = len(kinds)
    # each kind gets lines_per_file lines per file, split unevenly
    # across its files (a few big, many small); a binary record counts
    # as one line.  Text files take the datetime formats in turn, in a
    # seed-shuffled order
    sizes = np.zeros(n_files, dtype=int)
    for k in _KINDS:
        idx = np.flatnonzero(kinds == k)
        if len(idx):
            share = rng.dirichlet(np.full(len(idx), 0.8))
            budget = scale["lines_per_file"] * len(idx)
            sizes[idx] = np.maximum(8, (share * budget).astype(int))
    text = np.isin(kinds, ["log", "gz", "bz2"])
    fmts = np.zeros(n_files, dtype=int)
    fmts[text] = rng.permutation(np.arange(text.sum()) % len(_KIND_RES))
    logdir = os.path.join(out, "logs")
    os.makedirs(logdir)
    names, row_file, row_idx, row_ts = [], [], [], []
    for fi, (kind, size) in enumerate(zip(kinds, sizes)):
        size = int(size)
        if kind in ("log", "gz", "bz2"):
            fmt = int(fmts[fi])
            n_rec = max(8, round(size / LINES_PER_RECORD))
            times = _record_times(rng, n_rec, _KIND_RES[fmt])
            lines, eff = [], []
            for i, us in enumerate(times):
                lines.append(_text_line(fmt, int(us), i, rng))
                eff.append(int(us))
                if rng.random() < CONT_P:  # continuation lines inherit ts
                    for _ in range(int(rng.integers(1, 4))):
                        lines.append(_CONT[int(rng.integers(0, 4))].format(
                            n=int(rng.integers(1, 500))))
                        eff.append(int(us))
            data = ("\n".join(lines) + "\n").encode()
            name = f"app-{fi:03d}.log"
            if kind == "gz":
                name += ".gz"
                data = gzip.compress(data, mtime=0)
            elif kind == "bz2":
                name += ".bz2"
                data = bz2.compress(data)
        elif kind == "evtx":
            eff = [int(x) for x in _record_times(rng, size, 1)]
            name = f"sec-{fi:03d}.evtx"
            data = encode_evtx(
                [
                    {"record_id": i + 1, "ts_us": us,
                     "payload": f"<Event><EventID>{4624 + i % 9}</EventID>"
                                f"<Data>logon {i}</Data></Event>"}
                    for i, us in enumerate(eff)
                ]
            )
        elif kind == "journal":
            eff = [int(x) for x in _record_times(rng, size, 1)]
            name = f"sys-{fi:03d}.journal"
            data = encode_journal(
                [
                    {"seqnum": i + 1, "ts_us": us, "monotonic_us": 1000 + i,
                     "fields": {"MESSAGE": f"unit {i % 31} state change {i}",
                                "SYSLOG_IDENTIFIER": f"unitd{i % 5}"}}
                    for i, us in enumerate(eff)
                ]
            )
        else:
            eff = [int(x) for x in _record_times(rng, size, 1)]
            name = f"host-{fi:03d}.wtmp"
            data = encode_records(
                [
                    {"ut_user": f"user{i % 13}", "ut_line": f"pts/{i % 9}",
                     "ut_host": f"10.1.0.{i % 250}", "tv_sec": us // 1_000_000,
                     "tv_usec": us % 1_000_000}
                    for i, us in enumerate(eff)
                ]
            )
        path = os.path.join(logdir, name)
        with open(path, "wb") as f:
            f.write(data)
        os.utime(path, (FILE_MTIME, FILE_MTIME))
        names.append(name)
        row_file.extend([fi] * len(eff))
        row_idx.extend(range(len(eff)))
        row_ts.extend(eff)
    np.savez(
        os.path.join(out, "truth.npz"),
        file_idx=np.asarray(row_file, dtype=np.int32),
        idx=np.asarray(row_idx, dtype=np.int32),
        ts=np.asarray(row_ts, dtype=np.int64),
    )
    ts = np.asarray(row_ts)
    windows = []
    for a, b in _window_list(rng, int(ts.min()), int(ts.max())):
        windows.append({"after": fmt_us(a), "before": fmt_us(b),
                        "rows": int(((ts >= a) & (ts <= b)).sum())})
    return {
        "inputs": [os.path.join("logs", n) for n in names],
        "names": names,
        "kinds": [str(k) for k in kinds],
        "rows": len(row_ts),
        "files": n_files,
        "windows": windows,
    }


def generate(workload: str, seed: int, out: str, scale: str = "full") -> dict:
    rng = np.random.default_rng([seed, 0x5EED])
    os.makedirs(out, exist_ok=True)
    sc = SCALES[scale]
    if workload == "table_merge":
        man = gen_table(rng, out, sc)
    elif workload == "logfile_search":
        man = gen_logs(rng, out, sc)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    # window order is the query sequence: shuffled by the seed too
    order = rng.permutation(len(man["windows"]))
    man["windows"] = [man["windows"][i] for i in order]
    h = hashlib.sha256()
    size = 0
    for rel in man["inputs"]:
        with open(os.path.join(out, rel), "rb") as f:
            data = f.read()
        h.update(rel.encode() + b"\0" + data)
        size += len(data)
    man.update(workload=workload, seed=seed, scale=scale,
               input_bytes=size, input_sha256=h.hexdigest())
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    return man


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", default="full", choices=sorted(SCALES))
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, a.scale)


if __name__ == "__main__":
    main()
