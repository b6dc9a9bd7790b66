"""Per-job-group engine numbers from Spark's own status stores.

Every benchmark action runs inside a job group.  Afterwards the
group's jobs give its stages (``statusStore().lastStageAttempt``: run
time, JVM CPU, GC, shuffle, spill) and the SQL executions those jobs
belong to give plan-node metrics (ArrowEvalPython / MapInPandas Python
worker time and bytes, Exchange bytes and records, Window / Sort
spill).  Reading the stores adds no job.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """A formatted SQL metric → number (bytes, milliseconds or count).

    Timing and size metrics read 'total (min, med, max ...)\\n<total>
    (...)'; sums read '1,234'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1)


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _scala_ints(it) -> set[int]:
    out = set()
    it = it.iterator()
    while it.hasNext():
        out.add(int(it.next()))
    return out


def group_stats(spark, group: str) -> dict:
    """Stage totals and SQL plan-node metrics of one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group))
    store = sc._jsc.sc().statusStore()
    st = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_ms": 0,
          "jvm_cpu_ms": 0.0, "gc_ms": 0, "shuffle_write_bytes": 0,
          "spill_bytes": 0}
    seen = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - never-submitted stage
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            st["stages"] += 1
            st["tasks"] += sd.numCompleteTasks()
            st["executor_run_ms"] += sd.executorRunTime()
            st["jvm_cpu_ms"] += sd.executorCpuTime() / 1e6
            st["gc_ms"] += sd.jvmGcTime()
            st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    st["nodes"] = _sql_nodes(spark, jobs)
    return st


def _sql_nodes(spark, jobs: set[int]) -> list[dict]:
    """Plan nodes (name, desc, metrics) of the SQL executions that ran
    any of ``jobs``."""
    sql = spark._jsparkSession.sharedState().statusStore()
    nodes: list[dict] = []
    it = sql.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if not (_scala_ints(e.jobs().keySet()) & jobs):
            continue
        eid = e.executionId()
        vals = sql.executionMetrics(eid)
        graph = sql.planGraph(eid)
        it_n = graph.allNodes().iterator()
        while it_n.hasNext():
            n = it_n.next()
            ms = {}
            it_m = n.metrics().iterator()
            while it_m.hasNext():
                m = it_m.next()
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    ms[m.name()] = metric_value(v.get())
            nodes.append({"name": n.name(), "desc": n.desc(), "metrics": ms})
    return nodes


def node_sum(nodes: list[dict], name: str, metric: str, where=None) -> float:
    return sum(
        n["metrics"].get(metric, 0.0)
        for n in nodes
        if n["name"].strip() == name and (where is None or where(n))
    )


def is_window_exchange(n: dict) -> bool:
    """The conv_id-keyed exchange feeding the repair/assemble windows
    (the parse scatter hashes (conv_id, turn_idx) through xxhash64;
    the merge exchange is a range partitioning)."""
    return "hashpartitioning(conv_id" in n["desc"]


def is_range_exchange(n: dict) -> bool:
    return "rangepartitioning(" in n["desc"]


def python_io(nodes: list[dict], node_name: str) -> dict:
    """Python boundary numbers of one node kind: worker start+init and
    run time in ms, bytes to and from the workers."""
    return {
        "py_init_ms": node_sum(nodes, node_name, "time to start Python workers")
        + node_sum(nodes, node_name, "time to initialize Python workers"),
        "py_run_ms": node_sum(nodes, node_name, "time to run Python workers"),
        "bytes_to_py": node_sum(nodes, node_name, "data sent to Python workers"),
        "bytes_from_py": node_sum(
            nodes, node_name, "data returned from Python workers"
        ),
    }


def cached_bytes(spark) -> int:
    """Bytes held by persisted RDDs (memory + disk) right now."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total
