"""The benchmark's workloads: one closed-loop client, one operation in
flight, each operation checked against ground truth from gen.py.

A workload exposes
  * ``op(i, group, drain)`` — the timed operation on seed-drawn window
                     i, run in Spark job group ``group``; returns
                     {"seconds", "ok", "rows", "parts", ...}.  ``drain``
                     asks for the check that needs the rows on the
                     driver (row order); the check op after the cold
                     one uses it
  * ``ladder(i)``  — cumulative-prefix DataFrames of the op's layers for
                     the traced run, built from the package's public
                     functions; each rung runs as a noop action (or a
                     drain, for ``drained_rungs``) and a layer's self
                     time is its rung minus the rung below
  * ``layers(...)`` — per-layer metrics from the traced run
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from . import sparkstats as S

MERGE_COLS = [
    "conv_id", "turn_idx", "role", "tool", "text", "ts",
    "ts_eff", "sink_eff", "msg_turn_idx",
]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def ran(ops: list[dict]) -> list[dict]:
    """The ops that returned (a raised op has no rows or parts)."""
    return [o for o in ops if o["seconds"] is not None]


def staged(df, stg: list):
    """Persist ``df`` as full_merge does before its range sort; the
    ladder unpersists everything in ``stg`` after the rung."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    stg.append(df)
    return df


def row_hash(F):
    """Per-row content hash, computed the same way by the DuckDB oracle
    in gen.py: first 60 bits of md5 over the '|'-joined output row."""
    s = F.concat_ws(
        "|",
        F.col("conv_id"),
        F.col("turn_idx").cast("string"),
        F.unix_micros("ts_eff").cast("string"),
        F.col("sink_eff"),
        F.col("msg_turn_idx").cast("string"),
        F.col("text"),
    )
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(38,0)")


class Workload:
    name = ""
    # ladder rungs in order → the per-layer metric their self time is
    # reported as
    self_metrics: dict[str, str] = {}
    # rungs run as a toLocalIterator drain instead of a noop write
    drained_rungs: tuple = ()
    # every op drains its rows to the driver (else one check op does)
    op_drains = False

    def __init__(self, spark, man: dict, work: str, tracer):
        self.spark, self.man, self.work, self.tr = spark, man, work, tracer
        self.rows_in = int(man["rows"])

    def window(self, i: int) -> dict:
        return self.man["windows"][i % len(self.man["windows"])]

    def extra_trace(self, do, rung_med: dict) -> dict:
        """Per-layer numbers that need actions of their own, run after
        the ladder (``do`` runs and counts a checked op)."""
        return {}

    @property
    def rungs(self) -> list[str]:
        return list(self.self_metrics)

    def run_rung(self, name: str, build) -> None:
        """Run one ladder rung, then drop what it persisted."""
        stg: list = []
        df = build(stg)
        if name in self.drained_rungs:
            for _ in df.toLocalIterator():
                pass
        else:
            noop(df)
        for d in stg:
            d.unpersist(blocking=True)

    def ladder_selfs(self, rung_med: dict) -> dict:
        """Layer self times: each rung minus the rung below it."""
        out, prev = {}, 0.0
        for name in self.rungs:
            out[name] = rung_med[name] - prev
            prev = rung_med[name]
        return out

    def layers(self, ops, groups, selfs, summary_groups) -> dict:
        """Per-layer metrics of the traced ops: ladder self times, the
        window layer and the parse UDF's Python boundary, plus the
        workload's own (``own_layers``).  Byte and time sums over a
        job group are reported per op."""
        ops = ran(ops)
        nodes = [n for g in groups for n in g["nodes"]]
        k = max(1, len(groups))
        out = {self.self_metrics[r]: selfs[r] for r in self.rungs}
        out.update(window_metrics(nodes, k))
        out.update({f"parse.{a}": v / k for a, v in
                    S.python_io(nodes, "ArrowEvalPython").items()})
        out.update(self.own_layers(ops, nodes, k, summary_groups))
        return out

    def own_layers(self, ops, nodes, k, summary_groups) -> dict:
        return {}


# -- table_merge ----------------------------------------------------------


class TableMerge(Workload):
    """pipeline.full_merge over the transcripts table, dt window drawn
    by the seed, into a noop sink."""

    name = "table_merge"
    self_metrics = {
        "scan": "scan.self_s", "parse": "parse.self_s",
        "repair": "repair.self_s", "assemble": "assemble.self_s",
        "filter": "merge.filter_self_s", "sort": "merge.sort_self_s",
    }

    def __init__(self, spark, man, work, tracer):
        super().__init__(spark, man, work, tracer)
        self.t = spark.read.parquet(os.path.join(work, "transcripts.parquet"))

    def op(self, i: int, group: str = "op", drain: bool = False) -> dict:
        """One checked merge.  Count and hash ride on the noop write as a
        DataFrame.observe.  An aggregate cannot see row order, so with
        ``drain`` the rows go to the driver instead and are also checked
        for (ts_eff, conv_id, turn_idx) order."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from super_speedy_syslog_searcher_spark import pipeline as P

        w = self.window(i)
        stg: list = []
        tr = self.tr
        t0 = time.perf_counter()
        with S.job_group(self.spark, group):
            with tr.span("pipeline.full_merge"):
                out = P.full_merge(self.t, w["after"], w["before"], staging=stg)
            if drain:
                keys, hsum = [], 0
                for r in out.select(
                    F.unix_micros("ts_eff"), "conv_id", "turn_idx", row_hash(F)
                ).toLocalIterator():
                    keys.append((r[0], r[1], r[2]))
                    hsum += int(r[3])
                ordered = all(a <= b for a, b in zip(keys, keys[1:]))
                rows, got_hash = len(keys), str(hsum)
            else:
                obs = Observation(f"chk_{group}_{i}")
                out = out.observe(
                    obs, F.count(F.lit(1)).alias("rows"),
                    F.sum(row_hash(F)).alias("hash"),
                )
                with tr.span("action.noop_write"):
                    noop(out)
            persisted = S.cached_bytes(self.spark) if tr.enabled else 0
            with tr.span("action.unpersist"):
                for s in stg:
                    s.unpersist(blocking=True)
        secs = time.perf_counter() - t0
        if not drain:
            m = obs.get
            ordered, rows = True, int(m["rows"])
            got_hash = str(m["hash"] if m["hash"] is not None else 0)
        ok = ordered and rows == w["rows"] and got_hash == w["hash"]
        return {"seconds": secs, "ok": ok, "rows": rows,
                "expected_rows": w["rows"], "persist_bytes": persisted,
                "parts": {}}

    def ladder(self, i: int) -> dict:
        """full_merge taken apart: the sort rung persists the filtered
        rows before merge_ordered, as full_merge does."""
        from super_speedy_syslog_searcher_spark.operators.merge import (
            dt_filter,
            merge_ordered,
        )

        w = self.window(i)
        rungs = table_rungs(self.t)
        rungs["filter"] = lambda stg: dt_filter(
            rungs["assemble"](stg).select(*MERGE_COLS), w["after"], w["before"]
        )
        rungs["sort"] = lambda stg: merge_ordered(staged(rungs["filter"](stg), stg))
        return rungs

    def extra_trace(self, do, rung_med: dict) -> dict:
        """Parse counts, plus the routed write path on the same table:
        routed_ingest ops (write_routed + read-back summary) traced
        here, so the route and stats layers are measured by this
        workload's traced run."""
        out = parse_counts(self.t, anchor_from_ts=False)
        ri = RoutedIngest(self.spark, self.man, self.work, self.tr)
        ops, sgroups = [], []
        for j in range(2):
            with self.tr.span("op", op="traced"):
                ops.append(do(ri, j, "traced", group=f"ri{j}"))
            sgroups.append(S.group_stats(self.spark, f"ri{j}-summary"))
        out.update(ri.own_layers(ops, [], 1, sgroups))
        out["route.write_self_s"] = (
            med(o["seconds"] for o in ops) - rung_med["assemble"]
        )
        return out

    def own_layers(self, ops, nodes, k, summary_groups) -> dict:
        return {
            "merge.filter_selectivity": med(o["rows"] / self.rows_in for o in ops),
            "merge.persist_bytes": med(o["persist_bytes"] for o in ops),
            "merge.range_shuffle_bytes": S.node_sum(
                nodes, "Exchange", "shuffle bytes written", S.is_range_exchange) / k,
        }


# -- routed_ingest --------------------------------------------------------


class RoutedIngest(Workload):
    """route.write_routed(pipeline.assembled(t)) into per-sink parquet
    directories, then the read-back summary (stats.sink_counts +
    stats.hourly_histogram) timed as one operation.  Not a timed
    workload: table_merge's traced run runs it for the route and stats
    layers."""

    def __init__(self, spark, man, work, tracer):
        super().__init__(spark, man, work, tracer)
        self.src = os.path.join(work, "transcripts.parquet")
        self.t = spark.read.parquet(self.src)
        self.out = os.path.join(work, "routed")

    def op(self, i: int, group: str = "op", drain: bool = False) -> dict:
        from super_speedy_syslog_searcher_spark import pipeline as P
        from super_speedy_syslog_searcher_spark.operators import route, stats

        tr = self.tr
        t0 = time.perf_counter()
        with S.job_group(self.spark, group):
            with tr.span("pipeline.assembled"):
                asm = P.assembled(self.t)
            with tr.span("route.write_routed"):
                route.write_routed(asm, self.out)
        t1 = time.perf_counter()
        with S.job_group(self.spark, group + "-summary"):
            with tr.span("stats.sink_counts"):
                sinks = stats.sink_counts(self.spark.read.parquet(self.out)).collect()
            with tr.span("stats.hourly_histogram"):
                hours = stats.hourly_histogram(
                    self.spark.read.parquet(self.out)
                ).collect()
        t2 = time.perf_counter()
        got = {(r["sink"] if r["sink"] is not None else "null"): r["rows"]
               for r in sinks}
        ok = (
            got == self.man["sink_counts"]
            and len(hours) == self.man["hours"]
            and sum(r["rows"] for r in hours) == self.man["ts_rows"]
        )
        return {"seconds": t1 - t0, "ok": ok, "rows": sum(got.values()),
                "expected_rows": self.rows_in, "result_rows": len(sinks) + len(hours),
                "parts": {"ingest_s": t1 - t0, "summary_s": t2 - t1}}

    def stored(self) -> tuple[int, int]:
        """(bytes, data files) under the routed output."""
        size = files = 0
        for root, _dirs, names in os.walk(self.out):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                size += os.path.getsize(os.path.join(root, n))
                files += 1
        return size, files

    def own_layers(self, ops, nodes, k, summary_groups) -> dict:
        """Route and stats numbers of ingest ops and their summaries."""
        size, files = self.stored()
        snodes = [n for g in summary_groups for n in g["nodes"]]
        scanned = S.node_sum(snodes, "Scan parquet", "number of output rows")
        results = sum(o.get("result_rows", 0) for o in ran(ops))
        return {
            "route.bytes_written": size,
            "route.files_written": files,
            "route.stored_bytes_ratio": size / self.man["input_bytes"],
            "stats.rows_scanned_per_result_row": scanned / max(1, results),
        }


# -- logfile_search -------------------------------------------------------


class LogfileSearch(Workload):
    """`s4 <dir> -a A -b B`: sources.logfiles.assembled_from_paths →
    merge.dt_filter → merge.merge_ordered, rows drained to the driver
    with toLocalIterator as the CLI does."""

    name = "logfile_search"
    self_metrics = {
        "decode": "logfiles.decode_s", "parse": "parse.self_s",
        "repair": "repair.self_s", "assemble": "assemble.self_s",
        "binary": "logfiles.binary_decode_s",
        "filter": "merge.filter_self_s", "sort": "merge.sort_self_s",
        "drain": "merge.drain_s",
    }
    drained_rungs = ("drain",)
    op_drains = True

    def __init__(self, spark, man, work, tracer):
        super().__init__(spark, man, work, tracer)
        self.logdir = os.path.join(work, "logs")
        tz = np.load(os.path.join(work, "truth.npz"))
        self.t_file, self.t_idx, self.t_ts = tz["file_idx"], tz["idx"], tz["ts"]
        self.names = man["names"]
        self.text_paths = [
            os.path.join(self.logdir, n)
            for n, k in zip(man["names"], man["kinds"])
            if k in ("log", "gz", "bz2")
        ]
        self._expected: dict[int, list] = {}

    def expected(self, i: int) -> list[tuple]:
        """Sorted (file name, record index, ts µs) of window i."""
        if i not in self._expected:
            w = self.window(i)
            a, b = _us(w["after"]), _us(w["before"])
            m = (self.t_ts >= a) & (self.t_ts <= b)
            self._expected[i] = sorted(
                (self.names[f], int(x), int(t))
                for f, x, t in zip(self.t_file[m], self.t_idx[m], self.t_ts[m])
            )
        return self._expected[i]

    def op(self, i: int, group: str = "op", drain: bool = True) -> dict:
        from pyspark.sql import functions as F

        from super_speedy_syslog_searcher_spark.operators.merge import (
            dt_filter,
            merge_ordered,
        )
        from super_speedy_syslog_searcher_spark.sources.logfiles import (
            assembled_from_paths,
        )

        i %= len(self.man["windows"])
        w = self.window(i)
        tr = self.tr
        keys, first, nbytes = [], None, 0
        t0 = time.perf_counter()
        with S.job_group(self.spark, group):
            with tr.span("logfiles.assembled_from_paths"):
                asm = assembled_from_paths(self.spark, [self.logdir])
            with tr.span("merge.dt_filter"):
                f = dt_filter(asm, w["after"], w["before"])
            with tr.span("merge.merge_ordered"):
                m = merge_ordered(f)
            out = m.select(*drain_cols(F))
            with tr.span("action.toLocalIterator"):
                for r in out.toLocalIterator():
                    if first is None:
                        first = time.perf_counter() - t0
                    keys.append((r[0], r[1], r[2]))
                    nbytes += len(r[3]) + 1
        secs = time.perf_counter() - t0
        first = secs if first is None else first
        got = sorted((c.rsplit("/", 1)[-1], x, t) for t, c, x in keys)
        ok = (
            all(a <= b for a, b in zip(keys, keys[1:]))
            and got == self.expected(i)
        )
        return {"seconds": secs, "ok": ok, "rows": len(keys),
                "expected_rows": w["rows"], "bytes_out": nbytes,
                "parts": {"first_row_s": first}}

    def ladder(self, i: int) -> dict:
        """The text branch of assembled_from_paths is
        read_log_files_decoded → pipeline.assembled_files (parse with
        per-source anchor years → repair → assemble), so its rungs are
        the first four; the binary rung is the whole
        assembled_from_paths (binary decoders + union on top).  The
        sort rung is the op's merge_ordered output under a noop write,
        the drain rung the same rows drained as the op drains them."""
        from pyspark.sql import functions as F

        from super_speedy_syslog_searcher_spark.operators.assemble import (
            assemble_stage,
        )
        from super_speedy_syslog_searcher_spark.operators.merge import (
            dt_filter,
            merge_ordered,
        )
        from super_speedy_syslog_searcher_spark.operators.parse import parse_stage
        from super_speedy_syslog_searcher_spark.operators.repair import (
            repair_stage,
        )
        from super_speedy_syslog_searcher_spark.sources.logfiles import (
            assembled_from_paths,
            read_log_files_decoded,
        )

        w = self.window(i)
        sp, paths = self.spark, self.text_paths

        def lines(stg):
            return read_log_files_decoded(sp, paths)

        def parsed(stg):
            return parse_stage(lines(stg), anchor_from_ts=True)

        def filtered(stg):
            return dt_filter(
                assembled_from_paths(sp, [self.logdir]), w["after"], w["before"]
            )

        def ordered(stg):
            return merge_ordered(filtered(stg)).select(*drain_cols(F))

        return {
            "decode": lines,
            "parse": parsed,
            "repair": lambda stg: repair_stage(parsed(stg)),
            "assemble": lambda stg: assemble_stage(repair_stage(parsed(stg))),
            "binary": lambda stg: assembled_from_paths(sp, [self.logdir]),
            "filter": filtered,
            "sort": ordered,
            "drain": ordered,
        }

    def extra_trace(self, do, rung_med: dict) -> dict:
        from pyspark.sql import functions as F

        from super_speedy_syslog_searcher_spark.sources.logfiles import (
            assembled_from_paths,
            read_log_files_decoded,
        )

        with_rows = (
            assembled_from_paths(self.spark, [self.logdir])
            .filter(F.col("ts_eff").isNotNull())
            .select("conv_id").distinct().count()
        )
        out = parse_counts(
            read_log_files_decoded(self.spark, self.text_paths), anchor_from_ts=True
        )
        out["logfiles.files_in"] = len(self.names)
        out["logfiles.files_without_rows"] = len(self.names) - with_rows
        return out

    def own_layers(self, ops, nodes, k, summary_groups) -> dict:
        plan = [
            s["end"] - s["start"]
            for s in self.tr.spans
            if s["name"] == "logfiles.assembled_from_paths" and s["op"] == "traced"
        ]
        out = {
            "logfiles.plan_s": med(plan),
            "merge.filter_selectivity": med(o["rows"] / self.rows_in for o in ops),
            "merge.first_row_s": med(o["parts"]["first_row_s"] for o in ops),
            "merge.range_shuffle_bytes": S.node_sum(
                nodes, "Exchange", "shuffle bytes written", S.is_range_exchange) / k,
        }
        out.update({f"logfiles.{a}": v / k for a, v in
                    S.python_io(nodes, "MapInPandas").items()})
        return out


# -- shared ------------------------------------------------------------------


def drain_cols(F) -> list:
    """The columns a search drains to the driver."""
    return [F.unix_micros("ts_eff"), "conv_id", "turn_idx", "text"]


def table_rungs(t) -> dict:
    """Cumulative prefixes of pipeline.assembled on the table."""
    from super_speedy_syslog_searcher_spark.operators.assemble import (
        assemble_stage,
    )
    from super_speedy_syslog_searcher_spark.operators.parse import parse_stage
    from super_speedy_syslog_searcher_spark.operators.repair import repair_stage

    return {
        "scan": lambda stg: t,
        "parse": lambda stg: parse_stage(t),
        "repair": lambda stg: repair_stage(parse_stage(t)),
        "assemble": lambda stg: assemble_stage(repair_stage(parse_stage(t))),
    }


def _us(s: str) -> int:
    from datetime import datetime, timezone

    d = datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
    return int(d.timestamp()) * 1_000_000


def window_metrics(nodes: list[dict], k: int) -> dict:
    """Conv-keyed window layer: shuffle bytes into it, spill in its
    sort and windows, and how often its input is read per row
    (records read by the window exchange ÷ records written: 1.0 when
    the window stages run once, 2.0 when a later job re-runs them)."""
    written = S.node_sum(nodes, "Exchange", "shuffle records written",
                         S.is_window_exchange)
    read = S.node_sum(nodes, "Exchange", "records read", S.is_window_exchange)
    spill = S.node_sum(nodes, "Window", "spill size") + S.node_sum(
        nodes, "Sort", "spill size", lambda n: n["desc"].startswith("Sort [conv_id")
    )
    return {
        "window.shuffle_bytes": S.node_sum(
            nodes, "Exchange", "shuffle bytes written", S.is_window_exchange) / k,
        "window.spill_bytes": spill / k,
        "window.recompute_ratio": read / written if written else 0.0,
    }


def parse_counts(lines, anchor_from_ts: bool) -> dict:
    """Rows into the parse layer and the share matched by a datetime
    pattern vs. continuation lines (one aggregate action)."""
    from pyspark.sql import functions as F

    from super_speedy_syslog_searcher_spark.operators.parse import parse_stage

    r = parse_stage(lines, anchor_from_ts=anchor_from_ts).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("pattern_id").alias("matched"),
        F.sum((F.col("sink") == "continuation").cast("long")).alias("cont"),
    ).first()
    n = max(1, r["n"])
    return {
        "parse.rows_in": r["n"],
        "parse.matched_frac": r["matched"] / n,
        "parse.continuation_frac": (r["cont"] or 0) / n,
    }


WORKLOADS = {w.name: w for w in (TableMerge, LogfileSearch)}
