"""Benchmark entry point.

    python3 perfbench/run.py --workload table_merge --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One run:

1. ``gen.py`` (its own process) writes the workload's inputs and ground
   truth for ``--seed`` under ``.perfbench/``;
2. the program's own ``session.get_spark()`` starts Spark on
   ``local[<cores>]`` (no session option overridden);
   ``setup_s`` runs from that call to the end of the first, cold
   operation;
3. one drained check op (row order), unless every op drains; then
   WARM_OPS warm-up operations; the record says whether their time
   had stopped falling by then (measure.settled);
4. with ``--trace 0`` operations repeat for ``--seconds`` and the
   end-to-end metrics are reported; with ``--trace 1`` a traced run
   reports every per-layer metric instead (untraced and traced
   operations, then the cumulative-prefix ladder).

Every operation's output is checked against the ground truth.  The
last stdout line is the result JSON; the line before it is the full
run record (also written to ``.perfbench/records/``).  Exit status is
1 when any check failed, 2 when the program is not there to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "super_speedy_syslog_searcher_spark"

# A fixed warm-up, so every run measures from the same point of the
# warm-up curve.  Op times fall for longer than a run can wait, and a
# warm-up that stopped as soon as they looked flat measured runs at
# different points of the curve.
WARM_OPS = 6
SETTLE_K = 2  # settled: median of the last 2 ops within 5% of the 2 before
SETTLE_TOL = 0.05
TRACE_REPS = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _host_snapshot(measure) -> dict:
    busy, steal = measure.host_cpu()
    return {"loadavg": os.getloadavg(), "busy_s": busy, "steal_s": steal,
            "tree_cpu_s": measure.tree_usage(os.getpid())[0],
            "t": time.time()}


def _spark_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the run's work directory, and let workers import the package."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _stop_spark(spark, measure) -> None:
    """Stop the session, end the JVM and wait for every process this
    run started (JVM, Python daemon and workers)."""
    from pyspark import SparkContext

    pids = measure.tree_pids(os.getpid()) - {os.getpid()}
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 20
        while pids and time.time() < deadline:
            pids = {p for p in pids if os.path.exists(f"/proc/{p}")
                    and _state(p) != "Z"}
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        return s[s.rfind(")") + 2]
    except OSError:
        return "Z"


class _StderrToFile:
    """fd-level stderr redirect, so the JVM and Python workers (which
    inherit fd 2) log to a file the run can count codegen fallbacks
    in."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self):
        sys.stderr.flush()
        self.saved = os.dup(2)
        self.f = open(self.path, "wb")
        os.dup2(self.f.fileno(), 2)
        return self

    def __exit__(self, *exc):
        sys.stderr.flush()
        os.dup2(self.saved, 2)
        os.close(self.saved)
        self.f.close()
        return False

    def count(self, needle: str) -> int:
        with open(self.path, "rb") as f:
            return f.read().count(needle.encode())


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import measure
    from perfbench import sparkstats as S
    from perfbench.workloads import WORKLOADS, med

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    host0 = _host_snapshot(measure)
    t = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", work, "--scale", args.scale],
        check=True, timeout=170, cwd=ROOT,
    )
    gen_s = time.perf_counter() - t
    man = json.load(open(os.path.join(work, "manifest.json")))
    _spark_env(work)
    sampler = measure.TreeSampler(os.getpid())
    sampler.start()
    tracer = measure.Tracer(enabled=False)
    ops: list[dict] = []

    def do(wl, i, phase, group="op", drain=False):
        c0 = measure.tree_usage(os.getpid())[0]
        j0 = measure.jit_cpu(os.getpid())
        t0 = time.perf_counter()
        try:
            r = wl.op(i, group=group, drain=drain)
        except Exception as ex:  # noqa: BLE001 - a failed op is counted
            r = {"seconds": None, "ok": False, "error": repr(ex)[:500]}
        j1 = measure.jit_cpu(os.getpid())
        r.update(phase=phase, i=i, cpu_s=measure.tree_usage(os.getpid())[0] - c0,
                 jit_s=sum(v - j0.get(tid, 0.0) for tid, v in j1.items()),
                 rss_peak=sampler.peak(t0, time.perf_counter()))
        ops.append(r)
        return r

    err = _StderrToFile(os.path.join(work, "stderr.log"))
    with err:
        from pyspark.sql import SparkSession  # noqa: F401 - import outside setup_s

        from super_speedy_syslog_searcher_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.get_spark", op="setup"):
            spark = get_spark()
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, man, work, tracer)
            do(wl, 0, "cold")
            setup_s = time.perf_counter() - t0
            i = 1
            if not wl.op_drains:
                do(wl, i, "check", drain=True)
                i += 1
            warm = [do(wl, i + j, "warm")["seconds"] for j in range(WARM_OPS)]
            i += WARM_OPS
            warm_settled = _settled(warm)
            if args.trace:
                fallbacks = err.count("failed to compile")
                layers = _traced(spark, wl, tracer, do, i, S, med)
                layers["session.start_s"] = session_s
                layers["spark.codegen_fallbacks"] = (
                    err.count("failed to compile") - fallbacks
                ) / max(1, sum(1 for o in ops if o["phase"] == "traced"))
            else:
                tm = time.perf_counter()
                while time.perf_counter() - tm < args.seconds:
                    do(wl, i, "measured")
                    i += 1
            # before the stop: orphaned workers would drop out of the tree
            host1 = _host_snapshot(measure)
        finally:
            _stop_spark(spark, measure)
    sampler.stop()

    measured = [o for o in ops if o["phase"] == "measured"]
    secs = [o["seconds"] for o in measured if o["seconds"] is not None]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    e2e = {}
    if not args.trace:
        e2e = {
            "setup_s": setup_s,
            "op_s_p50": med(secs),
            "cpu_s_per_mrow": med(o["cpu_s"] - o["jit_s"] for o in measured)
            / wl.rows_in * 1e6,
        }
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    want = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layers if args.trace else e2e
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": units[m["name"]]}
            for m in want
        },
    }
    tail = measure.tail_percentile(secs) if secs else None
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cores": _cores(),
        "inputs": {k: man[k] for k in ("rows", "files", "input_bytes", "input_sha256")},
        "gen_s": gen_s, "session_s": session_s, "setup_s": setup_s,
        "warm_ops": sum(1 for o in ops if o["phase"] == "warm"),
        "warm_settled": warm_settled,
        "samples": len(secs),
        "peak_rss_mb": med(o["rss_peak"] for o in measured) / 2**20,
        "peak_rss_run_mb": sampler.peak() / 2**20,
        "op_s_p50": med(secs) if secs else None,
        "op_s_tail": tail,
        "failed_frac": failed / max(1, attempted),
        "named": _named(args.workload, measured, wl),
        "host": {
            "loadavg_start": host0["loadavg"], "loadavg_end": host1["loadavg"],
            "steal_s": host1["steal_s"] - host0["steal_s"],
            "cpu_outside_tree_s": (host1["busy_s"] - host0["busy_s"])
            - (host1["tree_cpu_s"] - host0["tree_cpu_s"]),
            "wall_s": host1["t"] - host0["t"],
        },
        "ops": [{k: v for k, v in o.items() if k != "persist_bytes"} for o in ops],
        "result": result,
    }
    if args.trace:
        record["layers"] = layers
    rec_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        for sp, self_s in zip(tracer.spans, measure.self_times(tracer.spans)):
            sp["self"] = self_s
        with open(stem + ".spans.json", "w") as f:
            json.dump(tracer.spans, f)
    return record, result


def _settled(secs: list) -> bool:
    """Warm-up op times (None for a raised op) have stopped falling."""
    from perfbench import measure

    return measure.settled([s for s in secs if s is not None],
                           k=SETTLE_K, tol=SETTLE_TOL)


def _traced(spark, wl, tracer, do, i, S, med) -> dict:
    """Per-layer run.  Each of TRACE_REPS rounds runs, on one dt window,
    an untraced op, a traced op (spans + job-group stats) and every
    rung of the cumulative-prefix ladder, so all three sample the same
    stretch of the warm-up curve and of host load.

    The rung self times telescope to the top rung, so
    ``trace.layer_sum_ratio`` (their sum over the traced op median)
    checks that the ladder, built from the package's public functions
    apart from the op, costs what the op costs.  A negative self time
    (a rung faster than the one below it) is counted in
    ``trace.negative_selfs``."""
    untraced, traced, groups, sgroups = [], [], [], []
    rung_t: dict[str, list[float]] = {n: [] for n in wl.rungs}
    for rep in range(TRACE_REPS):
        tracer.enabled = False
        untraced.append(do(wl, i, "untraced", group=f"u{rep}"))
        tracer.enabled = True
        with tracer.span("op", op="traced"):
            traced.append(do(wl, i, "traced", group=f"t{rep}"))
        groups.append(S.group_stats(spark, f"t{rep}"))
        sgroups.append(S.group_stats(spark, f"t{rep}-summary"))
        lad = wl.ladder(i)
        for name in wl.rungs:
            with tracer.span(f"rung.{name}", op=f"ladder{rep}"):
                t0 = time.perf_counter()
                with S.job_group(spark, f"l{rep}-{name}"):
                    wl.run_rung(name, lad[name])
                rung_t[name].append(time.perf_counter() - t0)
        i += 1
    rung_med = {n: med(v) for n, v in rung_t.items()}
    selfs = wl.ladder_selfs(rung_med)
    extra = wl.extra_trace(do, rung_med)
    tracer.enabled = False
    out = wl.layers(traced, groups, selfs, sgroups)
    out.update(extra)
    traced_s = med(o["seconds"] for o in traced)
    out["trace.overhead_s"] = traced_s - med(o["seconds"] for o in untraced)
    out["trace.layer_sum_ratio"] = sum(selfs.values()) / traced_s if traced_s else 0.0
    out["trace.negative_selfs"] = sum(1 for v in selfs.values() if v < 0)
    for key, col in (("jobs_per_op", "jobs"), ("stages_per_op", "stages"),
                     ("tasks_per_op", "tasks"), ("executor_run_ms", "executor_run_ms"),
                     ("jvm_cpu_ms", "jvm_cpu_ms"), ("gc_ms", "gc_ms"),
                     ("shuffle_write_bytes", "shuffle_write_bytes"),
                     ("spill_bytes", "spill_bytes")):
        out[f"spark.{key}"] = med(g[col] for g in groups)
    out["spark.jit_cpu_s"] = med(o["jit_s"] for o in traced)
    out["mem.peak_rss_mb"] = med(o["rss_peak"] for o in traced) / 2**20
    for name in ("stats.sink_counts", "stats.hourly_histogram"):
        out[name + "_s"] = med(
            s["end"] - s["start"] for s in tracer.spans
            if s["name"] == name and s["op"] == "traced"
        )
    out["rungs"] = {n: v for n, v in rung_t.items()}
    return out


def _named(workload: str, measured: list[dict], wl) -> dict:
    """The workload's own names for its headline numbers."""
    from perfbench.workloads import med, ran

    measured = ran(measured)
    secs = [o["seconds"] for o in measured]
    if not secs:
        return {}
    if workload == "table_merge":
        return {"merge_turns_per_s": wl.rows_in / med(secs)}
    return {"search_s_p50": med(secs), "search_s_samples": secs,
            "first_row_s_p50": med(o["parts"]["first_row_s"] for o in measured)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", choices=("full", "smoke"))
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package at {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    try:
        record, result = run(args, work)
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        log = os.path.join(work, "stderr.log")
        if os.path.exists(log):
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: v for k, v in record.items() if k != "ops"}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
