"""Reduce a Spark event log into per-span counters.

A span is a named wall-clock window the benchmark recorded around one of
its own calls.  Each job is attributed to the innermost span that holds
its submission time; stages follow their job and tasks their stage.  Job
groups are not used: threads of a pool that ``hfp_load`` starts do not
inherit the caller's job group, so only some of its jobs would carry it.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable
from dataclasses import dataclass, fields

#: SQL metric that times the Python worker lane (milliseconds).
PYTHON_RUN_METRIC = "time to run Python workers"


@dataclass(frozen=True)
class Span:
    name: str
    start_ms: float
    end_ms: float


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_bytes: int = 0
    scan_rows: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0


def event_log_lines(log_dir: str) -> Iterable[str]:
    """Lines of every event-log file under ``log_dir``, in write order.

    Handles both the single-file layout and Spark's rolling layout
    (``eventlog_v2_<app>/events_<n>_<app>``).
    """
    files = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith("appstatus") or n.endswith(".crc"):
                continue
            m = re.match(r"events_(\d+)_", n)
            files.append((root, int(m.group(1)) if m else 0, n))
    for root, _idx, n in sorted(files):
        with open(os.path.join(root, n)) as fh:
            yield from fh


def _span_for(spans: list[Span], t_ms: float) -> str | None:
    best = None
    for s in spans:
        if s.start_ms <= t_ms <= s.end_ms and (
            best is None or s.end_ms - s.start_ms < best.end_ms - best.start_ms
        ):
            best = s
    return best.name if best else None


def reduce_events(lines: Iterable[str], spans: list[Span]) -> dict[str, Counters]:
    """Counters per span name; events outside every span are dropped."""
    out: dict[str, Counters] = {s.name: Counters() for s in spans}
    stage_span: dict[int, str] = {}
    for line in lines:
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            name = _span_for(spans, event["Submission Time"])
            if name is None:
                continue
            c = out[name]
            c.jobs += 1
            for sid in event.get("Stage IDs", []):
                stage_span.setdefault(sid, name)
        elif kind == "SparkListenerStageCompleted":
            name = stage_span.get(event["Stage Info"]["Stage ID"])
            if name is not None:
                out[name].stages += 1
        elif kind == "SparkListenerTaskEnd":
            name = stage_span.get(event["Stage ID"])
            metrics = event.get("Task Metrics")
            if name is None or not metrics:
                continue
            c = out[name]
            c.tasks += 1
            c.executor_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
            c.gc_s += metrics.get("JVM GC Time", 0) / 1e3
            inp = metrics.get("Input Metrics", {})
            c.scan_bytes += inp.get("Bytes Read", 0)
            c.scan_rows += inp.get("Records Read", 0)
            c.shuffle_write_bytes += metrics.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            c.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                "Disk Bytes Spilled", 0
            )
            for acc in event.get("Task Info", {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_RUN_METRIC:
                    c.python_s += float(acc.get("Update", 0)) / 1e3
    return out


def merge(counters: Iterable[Counters]) -> Counters:
    """Sum of several spans' counters."""
    total = Counters()
    for c in counters:
        for f in fields(Counters):
            setattr(total, f.name, getattr(total, f.name) + getattr(c, f.name))
    return total
