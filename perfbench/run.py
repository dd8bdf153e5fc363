"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload day_load --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  With ``--trace 0`` the last line of
standard output holds the end-to-end metrics; with ``--trace 1`` it holds
the per-layer metrics of an extra run made in a session that writes a
Spark event log.  Inputs are generated from ``--seed`` and cached under
``.bench_build/perfbench/``; everything else a run writes lives in a
per-run directory there that is removed at exit.  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 5

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}


def _layer_names() -> dict[str, str]:
    from workloads import MODULES, RELOAD_METRICS

    units = {
        "session.start_s": "s",
        "cold_s": "s",
        "cpu_s": "s",
        "jvm.peak_rss_mb": "MiB",
        "trace.overhead_ratio": "ratio",
        "sink_bytes_per_input_byte": "ratio",
        "sources.csv_source.build_s": "s",
        "sources.csv_source.scan_s": "s",
        "sources.csv_source.rows_read": "count",
        "sources.csv_source.bytes_read": "bytes",
        "operators.transform.build_s": "s",
        "operators.transform.self_s": "s",
        "sink.existing_keys.build_s": "s",
        "sink.existing_keys.scan_s": "s",
        "sink.existing_keys.rows": "count",
        "operators.dedup.build_s": "s",
        "operators.dedup.self_s": "s",
        "operators.dedup.rows_dropped": "count",
        "operators.dedup.drop_ratio": "ratio",
        "operators.routing.rows_unsigned": "count",
        "sink.write_s": "s",
        "sink.rows_written": "count",
        "sink.bytes_written": "bytes",
        "sink.files_written": "count",
    }
    for k in RELOAD_METRICS:
        units["reload." + k] = units[k]
    for g in ("stopEvent", "otherEvent", "vehiclePosition"):
        units[f"job.load_event_group_s.{g}"] = "s"
    for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ):
        units[f"job.{k}"] = u
    for module in MODULES:
        for k, u in (
            ("build_s", "s"), ("cold_s", "s"), ("wall_s", "s"), ("jobs", "count"),
            ("tasks", "count"), ("executor_cpu_s", "s"), ("scan_bytes", "bytes"),
            ("shuffle_bytes", "bytes"), ("python_s", "s"),
        ):
            units[f"plans.{module}.{k}"] = u
    for k, u in (
        ("streaming.jobs.ingest_s", "s"), ("streaming.jobs.batches", "count"),
        ("streaming.jobs.jobs", "count"), ("maintenance.compact_s", "s"),
        ("versioned.truncate_s", "s"), ("versioned.files_before_compact", "count"),
        ("versioned.files_after_compact", "count"), ("operators.geo.serve_s", "s"),
    ):
        units[k] = u
    return units


@dataclass
class Timing:
    seconds: float = 0.0


class Harness:
    """Per-run state: directories, the Spark session, spans and counts."""

    def __init__(self, seed: int, seconds: float):
        self.seed, self.seconds = seed, seconds
        base = ROOT / ".bench_build" / "perfbench"
        self.cache = base / "cache"
        self.work = base / f"run-{os.getpid()}"
        for stale in base.glob("run-*"):  # left by a run that was killed
            if not Path(f"/proc/{stale.name[4:]}").exists() or stale == self.work:
                shutil.rmtree(stale, ignore_errors=True)
        for d in ("tmp", "jtmp", "spark-local"):
            (self.work / d).mkdir(parents=True)
        self.cache.mkdir(parents=True, exist_ok=True)
        self.spark = None
        self.jvm_pid = None
        self.spans = None  # list of eventlog.Span while tracing
        self.attempted = self.failed = 0
        self._dirs = 0

    # -- environment and session

    def isolate(self) -> None:
        """Keep temp files, Spark scratch and the warehouse in the run dir."""
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        # Both JVMs (spark-submit's launcher and the driver) read this.  The
        # JVM's performance-counter file would go to /tmp/hsperfdata_<user>
        # whatever java.io.tmpdir says, so it is switched off.
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.work / 'jtmp'} -XX:-UsePerfData"
        )
        tempfile.tempdir = None

    def _conf(self, event_log: str | None) -> dict[str, str]:
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": Path(event_log).as_uri(),
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start_session(self, event_log: str | None = None) -> float:
        """(Re)start the Spark session; returns its start seconds."""
        from hfp_loader_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self._conf(event_log))
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return dt

    def close(self) -> None:
        """Stop the session, end the JVM and its workers, remove the run dir."""
        from probes import descendants

        try:
            if self.spark is not None:
                self.spark.stop()
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                kids = descendants(proc.pid) if proc is not None else []
                gateway.shutdown()
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()  # the JVM exits on EOF
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
                _wait_gone(kids, timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    # -- measurement primitives

    def fresh_dir(self, prefix: str) -> Path:
        self._dirs += 1
        d = self.work / f"{prefix}-{self._dirs}"
        d.mkdir()
        return d

    @contextlib.contextmanager
    def span(self, name: str | None):
        """Time a block; while tracing, also record it as a named span."""
        t = Timing()
        start_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            yield t
        finally:
            t.seconds = time.perf_counter() - t0
            if name is not None and self.spans is not None:
                from eventlog import Span

                self.spans.append(Span(name, start_ms, time.time() * 1000))

    def timed(self, fn, span: str | None = None):
        """(result, wall seconds, CPU seconds) of ``fn()``."""
        from probes import cpu_seconds

        c0 = cpu_seconds(self.jvm_pid)
        with self.span(span) as t:
            result = fn()
        return result, t.seconds, cpu_seconds(self.jvm_pid) - c0

    def until_deadline(self, min_iterations: int = 1):
        """Yield 0, 1, ... until ``seconds`` have passed and enough ran."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < min_iterations or time.perf_counter() < deadline:
            yield i
            i += 1

    def attempt(self, fn):
        """(ok, result) of one attempted unit of work; a failure is counted."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # noqa: BLE001 - counted in ``failed``, run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False, None

    def measure(self, iteration, min_iterations: int) -> tuple[list[float], list[float]]:
        """Timed iterations until the deadline; (walls, cpus) of the good ones."""
        walls, cpus = [], []
        for _ in self.until_deadline(min_iterations):
            ok, out = self.attempt(iteration)
            if ok:
                walls.append(out[0])
                cpus.append(out[1])
        return walls, cpus


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent reaps it
            except OSError:
                break
            time.sleep(0.05)


_T0 = time.perf_counter()


def log(phase: str) -> None:
    print(f"perfbench: {phase} done at {time.perf_counter() - _T0:.1f}s", file=sys.stderr)


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> dict:
    from workloads import WORKLOADS

    h = Harness(seed, seconds)
    h.isolate()
    try:
        wl = WORKLOADS[workload_name](h)
        wl.prepare()
        log("inputs")

        launch = h.start_session()
        log(f"launch ({launch:.3f} s)")
        wl.warm_query()
        wl.settle()
        log("first query")
        setups, starts = [], []
        for _ in range(SETUPS):
            # Stopping the old session is not set-up; its time is bimodal
            # (about 0.1 s or 0.5 s, by where Spark's shutdown polls fall).
            h.spark.stop()
            h.spark = None
            t0 = time.perf_counter()
            starts.append(h.start_session())
            wl.warm_query()
            setups.append(time.perf_counter() - t0)

        log(f"setup {[round(x, 3) for x in setups]} (session starts {[round(x, 3) for x in starts]})")
        cold = wl.warm_up()
        log("warm-up")
        walls, cpus = h.measure(wl.iteration, wl.MIN_ITERATIONS)
        log("timed")
        if not walls:
            raise RuntimeError("no iteration succeeded")
        from probes import peak_rss_mb

        wall = wl.wall(walls)
        result = {"setup_s": statistics.median(setups), "wall_s": wall}
        peak_rss = peak_rss_mb(h.jvm_pid)
        print(
            f"perfbench: {workload_name} iterations={len(walls)} walls="
            f"{[round(w, 3) for w in walls]}",
            file=sys.stderr,
        )
        if not trace:
            return _result(h, {k: (v, END_TO_END[k]) for k, v in result.items()})

        from eventlog import event_log_lines, reduce_events

        log_dir = h.work / "eventlog"
        log_dir.mkdir()
        h.start_session(event_log=str(log_dir))
        h.spans = []
        raw = wl.trace()
        log("traced")
        h.spark.stop()
        h.spark = None
        counters = reduce_events(event_log_lines(str(log_dir)), h.spans)
        units = _layer_names()
        layers = dict.fromkeys(units, 0.0)
        layers.update(wl.layer_metrics(raw, counters))
        layers["session.start_s"] = statistics.median(starts)
        layers["jvm.peak_rss_mb"] = peak_rss
        layers["cold_s"] = cold
        layers["cpu_s"] = statistics.median(cpus)
        layers["trace.overhead_ratio"] = raw["traced_wall_s"] / wall
        return _result(h, {k: (v, units[k]) for k, v in layers.items()})
    finally:
        h.close()


def _result(h: Harness, metrics: dict) -> dict:
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())
        },
    }


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [
        f for f in ("hfp_loader_spark/job.py", "tests/hfp_fixtures.py", "tools/check_correctness.py")
        if not (ROOT / f).is_file()
    ]
    if missing:
        print(f"perfbench: not a checkout of the program; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))  # after this script's directory
    # SIGTERM unwinds like an error, so the session and the JVM are closed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
