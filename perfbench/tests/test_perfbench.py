"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark once per workload at the "smoke" input
scale (about a minute each)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, measure, run  # noqa: E402
from perfbench.sparkstats import metric_value  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for root, _dirs, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            out[os.path.relpath(p, d)] = open(p, "rb").read()
    return out


@pytest.mark.parametrize("workload", ["table_merge", "logfile_search"])
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    a = gen.generate(workload, 11, str(tmp_path / "a"), scale="smoke")
    b = gen.generate(workload, 11, str(tmp_path / "b"), scale="smoke")
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))


def test_other_seed_changes_file_mix_and_windows(tmp_path):
    a = gen.generate("logfile_search", 1, str(tmp_path / "a"), scale="smoke")
    b = gen.generate("logfile_search", 2, str(tmp_path / "b"), scale="smoke")
    assert a["input_sha256"] != b["input_sha256"]
    assert (a["files"], a["kinds"]) != (b["files"], b["kinds"])
    assert a["windows"] != b["windows"]
    t1 = gen.generate("table_merge", 1, str(tmp_path / "t1"), scale="smoke")
    t2 = gen.generate("table_merge", 2, str(tmp_path / "t2"), scale="smoke")
    assert t1["input_sha256"] != t2["input_sha256"]
    assert t1["windows"] != t2["windows"]


def test_windows_span_one_hour_to_three_days(tmp_path):
    m = gen.generate("logfile_search", 5, str(tmp_path / "l"), scale="smoke")
    from perfbench.workloads import _us

    for w in m["windows"]:
        length = _us(w["before"]) - _us(w["after"])
        assert gen.HOUR_US - 1_000_000 <= length <= 3 * gen.DAY_US


def test_tail_percentile_needs_ten_samples_beyond():
    assert measure.tail_percentile(list(range(19))) is None
    p, v = measure.tail_percentile([float(x) for x in range(1, 101)])
    assert (p, v) == (90.0, 90.0)
    p, _ = measure.tail_percentile([1.0] * 199)
    assert p == 90.0
    p, v = measure.tail_percentile([float(x) for x in range(1, 201)])
    assert (p, v) == (95.0, 190.0)
    p, _ = measure.tail_percentile([1.0] * 1000)
    assert p == 99.0
    p, _ = measure.tail_percentile([1.0] * 10_000)
    assert p == 99.9


def test_settled_rule():
    assert not measure.settled([6.0, 5.5, 5.2], k=2)  # too few ops
    assert not measure.settled([7.0, 5.2, 5.3, 5.1], k=2)  # still falling
    assert measure.settled([5.4, 5.2, 5.3, 5.1], k=2)
    # a file-search warm-up curve: falling for 8 ops, then flat
    t = [6.0, 7.1, 6.4, 6.2, 6.0, 5.5, 5.3, 5.1, 5.4, 5.2, 5.3]
    first = next(n for n in range(1, len(t) + 1) if measure.settled(t[:n], k=3))
    assert first == 11
    # the run's warm-up is long enough for its own rule to be judged
    assert 2 * run.SETTLE_K <= run.WARM_OPS


def _span(name, start, end, parent=None, op="x"):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": op}


def test_self_time_is_span_minus_children():
    spans = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 2.0, 5.0, parent=0),  # overlaps a: union 1..5
        _span("c", 7.0, 12.0, parent=0),  # clipped to the parent: 7..10
        _span("a.1", 1.5, 2.0, parent=1),
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 3.0)
    assert st[1] == pytest.approx(2.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_records_parent_and_op():
    tr = measure.Tracer()
    with tr.span("op", op="traced"):
        with tr.span("child"):
            pass
    assert [s["name"] for s in tr.spans] == ["op", "child"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[1]["op"] == "traced"
    off = measure.Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_metric_value_parses_spark_formats():
    assert metric_value("1,926") == 1926
    assert metric_value("total (min, med, max (stageId: taskId))\n114.1 KiB (336.0 B)") == (
        pytest.approx(114.1 * 1024)
    )
    assert metric_value("total (min, med, max)\n3.0 s (606 ms)") == 3000
    assert metric_value("0 ms") == 0


def test_benchmark_json_lists_the_workloads_and_bounds():
    names = [w["name"] for w in BENCH["workloads"]]
    assert set(names) <= set(WORKLOADS)
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def _run(args, cwd=ROOT, timeout=400):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "2",
              "--trace", str(trace), "--scale", "smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in want]
    if trace:
        rec = json.loads(p.stdout.strip().splitlines()[-2])
        extra = set(rec["layers"]) - {m["name"] for m in want} - {"rungs"}
        assert not extra, f"per-layer metrics missing from BENCHMARK.json: {extra}"
    else:
        assert all(m["value"] > 0 for m in res["metrics"].values())


# run.py with the search op made to raise: on every other op of a
# timed run, on the first traced op of a traced run
_FAULTY = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads
op = workloads.LogfileSearch.op
def faulty(self, i, group="op", drain=True):
    if group == "t0" or (group == "op" and i % 2 == 0):
        raise RuntimeError("injected")
    return op(self, i, group=group, drain=drain)
workloads.LogfileSearch.op = faulty
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("trace", [0, 1])
def test_raised_op_is_counted_and_reported(trace):
    p = subprocess.run(
        [sys.executable, "-c", _FAULTY.format(root=ROOT),
         "--workload", "logfile_search", "--seed", "3", "--seconds", "2",
         "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert p.returncode == 1, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert not res["correct"]
    assert 1 <= res["failed"] < res["attempted"]
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in want]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "table_merge", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=str(tmp_path), timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
