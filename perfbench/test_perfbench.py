"""The benchmark's own tests; none of them starts Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_are_well_formed_and_declared():
    spec = _benchmark_json()
    layers = run._layer_names()
    for name in list(run.END_TO_END) + list(layers):
        assert NAME.fullmatch(name), name
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(layers)
    for m in spec["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == layers[m["name"]]
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields})


def _task(stage: int, cpu_ns: int, gc_ms: int, read: int, shuffle: int, py_ms=None) -> str:
    accs = [{"Name": "number of output rows", "Update": "5"}]
    if py_ms is not None:
        accs.append({"Name": eventlog.PYTHON_RUN_METRIC, "Update": str(py_ms)})
    return _event(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Memory Bytes Spilled": 7,
                "Disk Bytes Spilled": 0,
                "Input Metrics": {"Bytes Read": read, "Records Read": 10},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
        },
    )


def test_reducer_counts_a_canned_event_log(tmp_path):
    lines = [
        _event("SparkListenerLogStart"),
        # job 0 in span "a", job 1 in the nested span "b", job 2 outside both
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1_000, "Stage IDs": [0]}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1_500, "Stage IDs": [1, 2]}),
        _event("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 9_000, "Stage IDs": [3]}),
        _task(0, 2_000_000_000, 100, 1000, 0),
        _task(0, 1_000_000_000, 50, 500, 0),
        _task(1, 500_000_000, 0, 0, 300, py_ms=1500),
        _task(2, 500_000_000, 0, 0, 0, py_ms=500),
        _task(3, 9_000_000_000, 0, 0, 0),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 3}}),
    ]
    rolled = tmp_path / "eventlog_v2_local-1"
    rolled.mkdir()
    (rolled / "events_1_local-1").write_text("\n".join(lines[:5]) + "\n")
    (rolled / "events_2_local-1").write_text("\n".join(lines[5:]) + "\n")
    (rolled / "appstatus_local-1").write_text("")
    spans = [eventlog.Span("a", 900, 2_000), eventlog.Span("b", 1_400, 1_600)]

    out = eventlog.reduce_events(eventlog.event_log_lines(str(tmp_path)), spans)

    a, b = out["a"], out["b"]
    assert (a.jobs, a.stages, a.tasks) == (1, 1, 2)
    assert a.executor_cpu_s == pytest.approx(3.0)
    assert a.gc_s == pytest.approx(0.15)
    assert (a.scan_bytes, a.scan_rows, a.spill_bytes) == (1500, 20, 14)
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 2)
    assert b.shuffle_write_bytes == 300
    assert b.python_s == pytest.approx(2.0)
    total = eventlog.merge(out.values())
    assert total.jobs == 2  # job 2 fell outside every span
    assert total.executor_cpu_s == pytest.approx(4.0)


def test_failing_iteration_is_counted_not_fatal():
    h = run.Harness(seed=0, seconds=0)
    calls = []

    def iteration():
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected failure")
        return 0.5, 0.25

    try:
        walls, cpus = h.measure(iteration, min_iterations=3)
        result = run._result(h, {"wall_s": (0.5, "s")})
    finally:
        h.close()
    assert len(calls) == 3
    assert (h.attempted, h.failed) == (3, 1)
    assert walls == [0.5, 0.5] and cpus == [0.25, 0.25]
    assert result["correct"] is False and result["failed"] == 1
    assert not h.work.exists()


def _day_files(cache: Path, seed: int) -> dict[str, bytes]:
    day = inputs.hfp_day(cache, seed, 40, 2)
    return {str(p.relative_to(day)): p.read_bytes() for p in sorted(day.rglob("*.csv"))}


def test_seed_determines_the_hfp_day(tmp_path):
    one = _day_files(tmp_path / "c1", 1)
    again = _day_files(tmp_path / "c2", 1)
    other = _day_files(tmp_path / "c1", 2)
    assert one == again
    assert one.keys() == other.keys() and one != other
    meta = inputs.read_meta(tmp_path / "c1" / "hfp-b2-r40-s1")
    assert sum(meta["expected"].values()) < meta["input_rows"]


def test_cache_rebuilds_an_unfinished_entry(tmp_path):
    calls = []

    def build(out):
        calls.append(out)
        (out / "x").write_text("1")
        return {}

    first = inputs.cached(tmp_path, "k", {"s": 1}, build)
    (first / "_DONE").unlink()  # as if generation had been interrupted
    inputs.cached(tmp_path, "k", {"s": 1}, build)
    inputs.cached(tmp_path, "k", {"s": 1}, build)
    assert len(calls) == 2


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "day_load", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
