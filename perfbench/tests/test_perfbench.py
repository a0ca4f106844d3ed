"""Tests of the benchmark itself: schedules, metric names, self time and a
smoke run of each workload on a tiny warehouse.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import schedule  # noqa: E402
from run import END_TO_END, WORKLOADS  # noqa: E402
from tracing import Span, by_name, self_times  # noqa: E402

ORACLE = {name: f"SELECT '{name}'" for name in schedule.CATALOG_ROWS}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_schedule():
    a = schedule.interactive_schedule(7, 30, ORACLE)
    b = schedule.interactive_schedule(7, 30, ORACLE)
    assert a == b and len(a) > 10
    assert schedule.catalog_order(7, list("abcdefg")) == schedule.catalog_order(7, list("abcdefg"))


def test_other_seed_other_schedule():
    a = schedule.interactive_schedule(7, 30, ORACLE)
    b = schedule.interactive_schedule(8, 30, ORACLE)
    assert a != b
    assert [r for _, r in a] != [r for _, r in b]
    assert schedule.catalog_order(7, list("abcdefg")) != schedule.catalog_order(8, list("abcdefg"))
    assert schedule.closed_batch(7, ORACLE) != schedule.closed_batch(8, ORACLE)
    assert schedule.export_batch(7) != schedule.export_batch(8)


def test_closed_phases_are_seeded_and_fixed_in_size():
    assert schedule.closed_batch(7, ORACLE) == schedule.closed_batch(7, ORACLE)
    assert schedule.export_batch(7) == schedule.export_batch(7)
    for seed in range(20):
        batch = schedule.closed_batch(seed, ORACLE)
        classes = [r.cls for r in batch]
        assert {c: classes.count(c) for c in classes} == {
            "catalog": len(schedule.CATALOG_ROWS), **schedule.BATCH}
        assert {r.sql for r in batch if r.cls == "catalog"} == set(ORACLE.values())
        exports = schedule.export_batch(seed)
        assert len(exports) == len(schedule.EXPORTS)
        assert all(r.kind == "sql" and r.cls == "export" for r in exports)
    warm = schedule.export_batch(7, warm=True)
    assert warm == schedule.export_batch(8, warm=True)
    assert all(w.sql != e.sql for w, e in zip(warm, schedule.export_batch(7)))


def test_schedule_mix():
    sched = schedule.interactive_schedule(3, 600, ORACLE)
    dues = [d for d, _ in sched]
    assert dues == sorted(dues) and dues[-1] < 600
    rate = len(sched) / 600
    assert abs(rate - schedule.INTERACTIVE_RATE) < 0.2 * schedule.INTERACTIVE_RATE
    classes = [r.cls for _, r in sched]
    for cls, share in schedule.MIX:
        assert abs(classes.count(cls) / len(sched) - share) < 0.02
    catalog = {r.sql for _, r in sched if r.cls == "catalog"}
    assert catalog == set(ORACLE.values())
    keys = [r.key for _, r in sched]
    assert 0.35 < 1 - len(set(keys)) / len(keys) < 0.75  # about half repeat


def test_class_counts():
    assert schedule.class_counts(18) == {
        "catalog": 6, "point": 5, "prepared": 2, "meta": 2, "probe": 3}
    for n in range(1, 200):
        counts = schedule.class_counts(n)
        assert sum(counts.values()) == n and min(counts.values()) >= 0
        k = len(schedule.CATALOG_ROWS)
        assert counts["catalog"] % k == 0 or counts["catalog"] == n


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(layers.PER_LAYER)
    for m in spec["per_layer"]:
        assert m["unit"] == layers.unit(m["name"])


def test_self_time_on_hand_built_tree():
    # root 0..10 ── a 1..4 ── a1 2..3
    #           └── b 5..9
    spans = [
        Span(1, "root", 0.0, 10.0),
        Span(2, "a", 1.0, 4.0, parent=1, request=1),
        Span(3, "a1", 2.0, 3.0, parent=2, request=1),
        Span(4, "b", 5.0, 9.0, parent=1, request=1),
        Span(5, "a", 11.0, 12.5),
    ]
    st = self_times(spans)
    assert st == {1: 3.0, 2: 2.0, 3: 1.0, 4: 4.0, 5: 1.5}
    agg = by_name(spans)
    assert agg["a"]["calls"] == 2
    assert agg["a"]["self_s"] == pytest.approx(3.5)
    assert agg["a"]["total_s"] == pytest.approx(4.5)


def test_percentiles():
    from measure import percentile, tail_percentile

    xs = [float(i) for i in range(1, 41)]
    assert percentile(xs, 50) == pytest.approx(20.5)
    assert percentile(xs, 90) == pytest.approx(36.1)
    q, v = tail_percentile(xs)  # 40 samples: p75 has ten above it
    assert q == 75 and sum(x > v for x in xs) == 10


def test_subtree_py4j():
    spans = [Span(1, "r", 0, 4, py4j=1), Span(2, "c", 1, 2, parent=1, py4j=5),
             Span(3, "g", 1, 2, parent=2, py4j=7)]
    assert layers.subtree_py4j(spans) == {1: 13, 2: 12, 3: 7}


def test_stop_processes_reaches_other_groups():
    from measure import _alive, descendants, stop_processes

    # A child that starts a grandchild in a process group of its own, as
    # pyspark's worker daemon does under the JVM.
    code = ("import subprocess, sys, time; subprocess.Popen([sys.executable, '-c', "
            "'import time; time.sleep(60)'], process_group=0); time.sleep(60)")
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        for _ in range(100):
            tree = descendants()
            if len(tree) >= 2:
                break
            time.sleep(0.05)
        assert child.pid in tree and len(tree) == 2
        stop_processes(tree)
        assert not any(_alive(p) for p in tree)
        assert child.poll() is not None
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


def _run(args, cwd=ROOT, timeout=600, env=None):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout,
                          env=env)


def _marked(mark: str) -> list[int]:
    """Processes whose environment holds ``mark``: what a run started,
    its JVM and the processes that left its session or group too."""
    needle = mark.encode()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read():
                    found.append(int(name))
        except OSError:
            continue
    return found


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run(workload, trace):
    mark = f"PERFBENCH_SMOKE={os.getpid()}-{workload}-{trace}"
    env = dict(os.environ, PERFBENCH_SMOKE=mark.split("=", 1)[1])
    proc = _run(["--workload", workload, "--seed", "5", "--seconds", "4",
                 "--trace", str(trace), "--sf", "0.001"], env=env)
    assert _marked(mark) == [], "the run left processes behind"
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names)
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "out", "__pycache__"))
    proc = _run(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=tmp_path, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
