"""Pure helpers of the benchmark: estimators, the warm-up rule, span
self time and a process-tree sampler.  Nothing here imports Spark."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

# -- estimators ----------------------------------------------------------

TAIL_PERCENTILES = (90.0, 95.0, 99.0, 99.9)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest of TAIL_PERCENTILES that has at least ten samples
    beyond it, as (percentile, nearest-rank value); None when even the
    lowest has fewer than ten (then only the median is reported)."""
    n = len(samples)
    best = None
    for p in TAIL_PERCENTILES:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    if best is None:
        return None
    rank = max(1, math.ceil(best / 100.0 * n))
    return best, sorted(samples)[rank - 1]


def settled(times: list[float], k: int = 3, tol: float = 0.05) -> bool:
    """Warm-up rule: op time has stopped falling once the median of
    the last k ops is no more than tol below the median of the k
    before them."""
    if len(times) < 2 * k:
        return False
    last = statistics.median(times[-k:])
    prev = statistics.median(times[-2 * k : -k])
    return last >= (1.0 - tol) * prev


# -- spans ---------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op).  ``enabled``
    False makes span() a no-op so the same code serves timed runs."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str | None = None):
        return _Span(self, name, op)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: str | None):
        self.t, self.name, self.op = tracer, name, op
        self.rec: dict | None = None

    def __enter__(self):
        if not self.t.enabled:
            return self
        parent = self.t._stack[-1] if self.t._stack else None
        op = self.op
        if op is None and parent is not None:
            op = self.t.spans[parent]["op"]
        self.rec = {"name": self.name, "start": time.perf_counter(),
                    "end": None, "parent": parent, "op": op}
        self.t.spans.append(self.rec)
        self.t._stack.append(len(self.t.spans) - 1)
        return self

    def __exit__(self, *exc):
        if self.rec is not None:
            self.rec["end"] = time.perf_counter()
            self.t._stack.pop()
        return False


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append((s["end"] - s["start"]) - covered)
    return out


# -- process tree and host ------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid → (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        rest = st[st.rfind(")") + 2 :].split()
        # fields after comm: state(0) ppid(1) ... utime(11) stime(12)
        # cutime(13) cstime(14) ... rss(21)
        cpu = sum(int(x) for x in rest[11:15]) / _TICK
        out[int(d)] = (int(rest[1]), cpu, int(rest[21]) * _PAGE)
    return out


def tree_pids(root: int, table: dict | None = None) -> set[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p in table and p not in out:
            out.add(p)
            todo.extend(kids.get(p, []))
    return out


def tree_usage(root: int) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over root and its descendants.
    A reaped child's CPU sits in its parent's cutime, so a difference
    of two readings stays right when workers exit in between."""
    table = _proc_table()
    pids = tree_pids(root, table)
    return (sum(table[p][1] for p in pids), sum(table[p][2] for p in pids))


def jit_cpu(root: int) -> dict[int, float]:
    """CPU seconds of each live JIT compiler thread in the tree, by tid."""
    out = {}
    for pid in tree_pids(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            comm = st[st.find("(") + 1 : st.rfind(")")]
            if "CompilerThre" in comm:
                rest = st[st.rfind(")") + 2 :].split()
                out[int(tid)] = (int(rest[11]) + int(rest[12])) / _TICK
    return out


def host_cpu() -> tuple[float, float]:
    """(busy seconds, steal seconds) of the whole host since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    steal = v[7] if len(v) > 7 else 0
    return (sum(v[:8]) - idle - steal) / _TICK, steal / _TICK


class TreeSampler(threading.Thread):
    """Samples the process tree's RSS every ``period`` seconds."""

    def __init__(self, root: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.period = root, period
        self.samples: list[tuple[float, int]] = []  # (perf_counter, rss)
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.samples.append((time.perf_counter(), tree_usage(self.root)[1]))
            self._stop_evt.wait(self.period)

    def peak(self, t0: float = float("-inf"), t1: float = float("inf")) -> int:
        """Largest RSS sampled between t0 and t1 (0 if none)."""
        return max((r for t, r in list(self.samples) if t0 <= t <= t1), default=0)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)
