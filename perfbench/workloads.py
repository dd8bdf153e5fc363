"""The benchmark's workloads.

Each workload drives the program only through its public functions.  An
iteration returns the wall and CPU seconds of its timed part and raises
``Mismatch`` when the output is wrong; the harness counts both outcomes.
A workload's ``trace`` runs in a session that writes an event log and
records spans through ``h.span``; ``layer_metrics`` turns the spans'
timings and event-log counters into per-layer metrics afterwards.
"""

from __future__ import annotations

import shutil
import statistics
import threading
import uuid
from pathlib import Path

import inputs
from eventlog import Counters, merge


class Mismatch(AssertionError):
    """An iteration's output differs from the expected output."""


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def noop_count(h, df, span: str) -> tuple[float, int]:
    """Seconds and row count of a noop write of ``df``, in one pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"perfbench_{uuid.uuid4().hex[:8]}")
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    with h.span(span) as s:
        observed.write.format("noop").mode("overwrite").save()
    return s.seconds, int(obs.get["n"])


def parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in path.rglob("*.parquet"))


class Workload:
    name = ""
    input_bytes = 1
    #: Untimed iterations after the first, so the JIT settles before timing.
    WARM_ITERATIONS = 1
    #: Timed iterations a run makes even when ``--seconds`` ran out first;
    #: sized so the count is the same on every run, since the JIT is still
    #: speeding later iterations up.
    MIN_ITERATIONS = 3

    def __init__(self, h):
        self.h = h

    def prepare(self) -> None:
        """Generate or fetch the cached inputs (untimed)."""

    def warm_query(self) -> None:
        """The small query run after each session start, inside ``setup_s``."""
        raise NotImplementedError

    def settle(self) -> None:
        """Wait for work ``prepare`` started in the background."""

    def iteration(self) -> tuple[float, float]:
        raise NotImplementedError

    def wall(self, walls: list[float]) -> float:
        """``wall_s`` from the timed iterations' seconds."""
        return statistics.median(walls)

    def warm_up(self) -> float:
        """Checked iterations before the timed ones; seconds of the first."""
        runs = [self.h.attempt(self.iteration) for _ in range(1 + self.WARM_ITERATIONS)]
        ok, out = runs[0]
        return out[0] if ok else 0.0

    def trace(self) -> dict:
        """Traced iterations and layer breakdowns; raw input to ``layer_metrics``."""
        raise NotImplementedError

    def layer_metrics(self, raw: dict, spans: dict[str, Counters]) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------- load path


class DayLoad(Workload):
    """A fresh load of one HFP day into an empty ParquetSink."""

    name = "day_load"
    ROWS_PER_GROUP = 6_000
    BLOBS = 4

    def prepare(self) -> None:
        h = self.h
        self.day = inputs.hfp_day(
            h.cache, inputs.derive_seed(h.seed, "day"), self.ROWS_PER_GROUP, self.BLOBS
        )
        meta = inputs.read_meta(self.day)
        self.expected = meta["expected"]
        self.input_bytes = meta["input_bytes"]
        self.warm_day = inputs.hfp_day(h.cache, inputs.derive_seed(h.seed, "warm"), 200, 1)

    def warm_query(self) -> None:
        """A tiny HFP group scanned and typed."""
        from hfp_loader_spark.operators.transform import typed_projection
        from hfp_loader_spark.sources.csv_source import read_hfp_group

        raw = read_hfp_group(self.h.spark, str(self.warm_day), "stopEvent", inputs.HFP_DATE)
        typed_projection(raw).write.format("noop").mode("overwrite").save()

    def _sink(self, root: Path):
        from hfp_loader_spark.sink import ParquetSink

        return ParquetSink(str(root))

    def _load(self, sink, span: str | None = None):
        from hfp_loader_spark.job import hfp_load

        return self.h.timed(
            lambda: hfp_load(self.h.spark, str(self.day), inputs.HFP_DATE, sink),
            span,
        )

    def iteration(self) -> tuple[float, float]:
        root = self.h.fresh_dir("sink")
        try:
            report, dt, cpu = self._load(self._sink(root))
            if report.inserted_by_table != self.expected:
                raise Mismatch(f"inserted {report.inserted_by_table} != {self.expected}")
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return dt, cpu

    # -- trace: the concurrent load as timed, then sequential breakdowns of
    # a fresh load and of a re-load into the sink that load filled

    def _traced_iteration(self, span: str) -> float:
        root = self.h.fresh_dir("sink")
        _report, dt, _cpu = self._load(self._sink(root), span=span)
        shutil.rmtree(root, ignore_errors=True)
        return dt

    def trace(self) -> dict:
        h = self.h
        walls = [self._traced_iteration(f"iter:{i}") for i in h.until_deadline()]
        root = h.fresh_dir("sink")
        raw = {"iterations": len(walls), "traced_wall_s": _median(walls)}
        raw["load"] = self._breakdown(root, "load")
        h.attempt(lambda: self._check_load(raw["load"]["inserted"]))
        rows = parquet_rows(root)
        raw["reload"] = self._breakdown(root, "reload")
        h.attempt(lambda: self._check_reload(raw["reload"]["inserted"], rows, root))
        return raw

    def _check_load(self, inserted: dict) -> None:
        if inserted != self.expected:
            raise Mismatch(f"inserted {inserted} != {self.expected}")

    @staticmethod
    def _check_reload(inserted: dict, rows_before: int, root: Path) -> None:
        if any(inserted.values()):
            raise Mismatch(f"re-load inserted {inserted}")
        rows = parquet_rows(root)
        if rows != rows_before:
            raise Mismatch(f"sink holds {rows} rows after the re-load, {rows_before} before")

    def _breakdown(self, root: Path, tag: str) -> dict:
        """Each layer of each group built, then run as a noop prefix."""
        from hfp_loader_spark.job import LoadReport, load_event_group
        from hfp_loader_spark.operators.dedup import (
            anti_join_existing,
            filter_valid_uuid,
            union_key_sets,
        )
        from hfp_loader_spark.operators.routing import routed_tables
        from hfp_loader_spark.operators.transform import typed_projection
        from hfp_loader_spark.schema import EVENT_GROUPS
        from hfp_loader_spark.sources.csv_source import read_hfp_group

        h, spark, date, day = self.h, self.h.spark, inputs.HFP_DATE, str(self.day)
        sink = self._sink(root)
        bytes_before, files_before = inputs.dir_bytes(root)
        report = LoadReport(date=date)
        out: dict = {"groups": {}}
        for g in EVENT_GROUPS:
            r: dict = {}
            with h.span(None) as s:
                raw = read_hfp_group(spark, day, g, date)
            r["csv_build"] = s.seconds
            r["scan"], r["rows_read"] = noop_count(h, raw, f"{tag}:csv.scan:{g}")
            with h.span(None) as s:
                typed = filter_valid_uuid(typed_projection(raw))
            r["transform_build"] = s.seconds
            r["typed"], r["typed_rows"] = noop_count(h, typed, f"{tag}:typed:{g}")
            with h.span(None) as s:
                keys = union_key_sets(
                    *[sink.existing_keys(spark, t, date) for t in routed_tables(g)]
                )
            r["keys_build"] = s.seconds
            r["keys"], r["key_rows"] = noop_count(h, keys, f"{tag}:keys:{g}")
            with h.span(None) as s:
                deduped = anti_join_existing(typed, keys)
            r["dedup_build"] = s.seconds
            r["dedup"], r["dedup_rows"] = noop_count(h, deduped, f"{tag}:dedup:{g}")
            with h.span(f"{tag}:group:{g}") as s:
                load_event_group(spark, sink, day, g, date, report)
            r["group"] = s.seconds
            out["groups"][g] = r
        bytes_after, files_after = inputs.dir_bytes(root)
        out["inserted"] = dict(report.inserted_by_table)
        out["bytes_written"] = bytes_after - bytes_before
        out["files_written"] = files_after - files_before
        return out

    def _breakdown_metrics(self, raw: dict, spans: dict[str, Counters], tag: str) -> dict:
        groups = raw["groups"]

        def total(key):
            return sum(r[key] for r in groups.values())

        typed_rows = total("typed_rows")
        dropped = typed_rows - total("dedup_rows")
        scans = merge(c for n, c in spans.items() if n.startswith(f"{tag}:csv.scan:"))
        m = {
            "sources.csv_source.build_s": total("csv_build"),
            "sources.csv_source.scan_s": total("scan"),
            "sources.csv_source.rows_read": total("rows_read"),
            "sources.csv_source.bytes_read": scans.scan_bytes,
            "operators.transform.build_s": total("transform_build"),
            "operators.transform.self_s": total("typed") - total("scan"),
            "sink.existing_keys.build_s": total("keys_build"),
            "sink.existing_keys.scan_s": total("keys"),
            "sink.existing_keys.rows": total("key_rows"),
            "operators.dedup.build_s": total("dedup_build"),
            "operators.dedup.self_s": total("dedup") - total("typed"),
            "operators.dedup.rows_dropped": dropped,
            "operators.dedup.drop_ratio": dropped / typed_rows if typed_rows else 0.0,
            "operators.routing.rows_unsigned": raw["inserted"].get("unsignedevent", 0),
            "sink.write_s": total("group") - total("dedup"),
            "sink.rows_written": sum(raw["inserted"].values()),
            "sink.bytes_written": raw["bytes_written"],
            "sink.files_written": raw["files_written"],
            "sink_bytes_per_input_byte": raw["bytes_written"] / self.input_bytes,
        }
        for g, r in groups.items():
            m[f"job.load_event_group_s.{g}"] = r["group"]
        return m

    def layer_metrics(self, raw: dict, spans: dict[str, Counters]) -> dict[str, float]:
        iters = merge(c for n, c in spans.items() if n.startswith("iter:"))
        n = max(raw["iterations"], 1)
        m = {
            "job.jobs": iters.jobs / n,
            "job.stages": iters.stages / n,
            "job.tasks": iters.tasks / n,
            "job.executor_cpu_s": iters.executor_cpu_s / n,
            "job.gc_s": iters.gc_s / n,
            "job.shuffle_write_bytes": iters.shuffle_write_bytes / n,
            "job.spill_bytes": iters.spill_bytes / n,
        }
        m.update(self._breakdown_metrics(raw["load"], spans, "load"))
        reload = self._breakdown_metrics(raw["reload"], spans, "reload")
        m.update({"reload." + k: reload[k] for k in RELOAD_METRICS})
        return m


#: The layers a re-load moves: the key scan, the anti-join and the sink.
RELOAD_METRICS = [
    "sink.existing_keys.scan_s",
    "operators.dedup.self_s",
    "operators.dedup.drop_ratio",
    "sink.write_s",
    "sink.rows_written",
]


# ---------------------------------------------------------------- catalog


class CatalogMix(Workload):
    """A fixed ordered list of catalog entries, each written to ``noop``."""

    name = "catalog_mix"
    SCALE = 60  # thousand lineitem rows
    STREAM_ITERATIONS = 2
    #: The oracle pass is the only warm-up, so the first noop pass still
    #: compiles code; two are timed (a pass takes 9-13 s, and the oracle
    #: pass and the JVM's first calls already take most of a run).
    MIN_ITERATIONS = 2
    ENTRIES = [
        "q3_top_unshipped_orders",
        "orders_basket_brand_rules",
        "dedup_minhash_lsh",
        "sim_cosine_topk_arrow",
        "sim_ann_ivf",
        "text_bpe_merges",
        "graph_pagerank_cust_supp",
        "emb_power_iteration_pc1",
        "geo_leg_speed_profile",
    ]

    def prepare(self) -> None:
        from hfp_loader_spark.plans import catalog

        h = self.h
        self.corpus = inputs.catalog_corpus(
            h.cache, inputs.derive_seed(h.seed, "corpus"), self.SCALE
        )
        self.specs = [catalog.REGISTRY[e] for e in self.ENTRIES]
        modules = list(dict.fromkeys(spec.module for spec in self.specs))
        if modules != MODULES:
            raise RuntimeError(f"entries come from {modules}, MODULES says {MODULES}")
        self.passes: list[dict[str, float]] = []
        self.cold: dict[str, float] = {}
        # DuckDB computes the oracles while the JVM launches; ``settle``
        # waits for them before anything is timed.
        self.oracles: dict = {}
        self._oracle_thread = threading.Thread(target=self._compute_oracles, daemon=True)
        self._oracle_thread.start()

    def warm_query(self) -> None:
        """One corpus table read and aggregated."""
        from hfp_loader_spark.plans.catalog import load_table

        orders = load_table(self.h.spark, str(self.corpus), "orders")
        orders.groupBy("o_orderstatus").count().write.format("noop").mode("overwrite").save()

    def _pass(self, tag: str = "") -> dict[str, tuple[float, float]]:
        """One pass; returns entry → (build seconds, total seconds)."""
        h, sf = self.h, str(self.corpus)
        out = {}
        for spec in self.specs:
            with h.span(f"build:{tag}:{spec.name}") as b:
                df = spec.builder(h.spark, sf)
            with h.span(f"run:{tag}:{spec.name}") as r:
                df.write.format("noop").mode("overwrite").save()
            out[spec.name] = (b.seconds, b.seconds + r.seconds)
        return out

    def iteration(self) -> tuple[float, float]:
        times, dt, cpu = self.h.timed(self._pass)
        self.passes.append({name: total for name, (_b, total) in times.items()})
        return dt, cpu

    def wall(self, walls: list[float]) -> float:
        """A pass as the sum of each entry's fastest seconds over the timed
        passes.  The host's noise only adds time (stolen CPU, a stalled
        job among an entry's many small ones), and with one pass a stall
        moved ``wall_s`` by up to 55%."""
        return sum(min(p[e] for p in self.passes) for e in self.ENTRIES)

    def _compute_oracles(self) -> None:
        """Every entry's DuckDB oracle result (or the error computing it)."""
        import duckdb

        from hfp_loader_spark.plans.catalog import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")
            for spec in self.specs:
                try:
                    self.oracles[spec.name] = con.execute(spec.oracle).df()
                except Exception as e:  # noqa: BLE001 - fails that entry's check
                    self.oracles[spec.name] = e
        finally:
            con.close()

    def settle(self) -> None:
        self._oracle_thread.join()

    def warm_up(self) -> float:
        """A first pass that collects each entry and compares it with its
        DuckDB oracle, one attempt per entry.  Returns the pass's Spark
        seconds."""
        for spec in self.specs:
            self.h.attempt(lambda spec=spec: self._compare(spec))
        return sum(self.cold.values())

    def _compare(self, spec) -> None:
        from tools.check_correctness import _spark_frame, canon_cells

        want = self.oracles[spec.name]
        if isinstance(want, Exception):
            raise want
        with self.h.span(None) as t:
            got = _spark_frame(spec.builder(self.h.spark, str(self.corpus)))
        self.cold[spec.name] = t.seconds
        if sorted(got.columns) != sorted(want.columns):
            raise Mismatch(f"{spec.name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
        if canon_cells(got) != canon_cells(want):
            raise Mismatch(f"{spec.name}: values differ from the oracle")

    def trace(self) -> dict:
        walls, builds = [], []
        i = 0
        for _ in self.h.until_deadline(min_iterations=2):
            times = self._pass(tag=str(i))
            if i > 0:  # the first traced pass warms the new session
                walls.append(sum(t for _b, t in times.values()))
                builds.append(times)
            i += 1
        # The stream lifecycle's layers are traced here too; see README.md.
        self.stream = StreamTrace(self.h)
        stream = self.stream.trace(self.STREAM_ITERATIONS)
        return {
            "passes": i,
            "traced_wall_s": _median(walls),
            "builds": builds,
            "stream": stream,
        }

    def layer_metrics(self, raw: dict, spans: dict[str, Counters]) -> dict[str, float]:
        m: dict[str, float] = {}
        warm = [str(i) for i in range(1, raw["passes"])]
        n = max(len(warm), 1)
        for module in MODULES:
            names = [s.name for s in self.specs if s.module == module]
            c = merge(
                spans[f"{kind}:{p}:{e}"]
                for kind in ("build", "run")
                for p in warm
                for e in names
                if f"{kind}:{p}:{e}" in spans
            )
            pre = f"plans.{module}."
            m[pre + "build_s"] = _median(
                sum(b[e][0] for e in names) for b in raw["builds"]
            )
            m[pre + "cold_s"] = sum(self.cold.get(e, 0.0) for e in names)
            m[pre + "wall_s"] = _median(sum(p.get(e, 0.0) for e in names) for p in self.passes)
            m[pre + "jobs"] = c.jobs / n
            m[pre + "tasks"] = c.tasks / n
            m[pre + "executor_cpu_s"] = c.executor_cpu_s / n
            m[pre + "scan_bytes"] = c.scan_bytes / n
            m[pre + "shuffle_bytes"] = c.shuffle_write_bytes / n
            m[pre + "python_s"] = c.python_s / n
        m.update(self.stream.layer_metrics(raw["stream"], spans))
        return m


#: The plans modules that define the mix's entries, in mix order.
MODULES = [
    "core_relational",
    "relational_extra",
    "dedup_queries",
    "similarity_queries",
    "model_queries",
    "text_queries",
    "incremental_queries",
    "decomposition_queries",
    "geo_queries",
]


# ---------------------------------------------------------------- streaming


class StreamTrace:
    """Micro-batch ingest, compaction, history truncation, per-cell serve.

    Traced inside ``catalog_mix``: the only path through ``streaming/``,
    ``versioned.py`` and ``maintenance.py``.  Each lifecycle writes a fresh
    log from the same landing files, and its served top-5 cells are
    checked against the grid aggregate computed here directly.
    """

    ROWS_PER_BATCH = 25_000
    BATCHES = 4
    CELLS_PER_DEG = 20

    def __init__(self, h):
        import numpy as np
        import pyarrow.parquet as pq

        self.h = h
        landing = inputs.landing_files(
            h.cache, inputs.derive_seed(h.seed, "landing"), self.ROWS_PER_BATCH, self.BATCHES
        )
        meta = inputs.read_meta(landing)
        self.files = landing / "files"
        self.input_bytes = meta["input_bytes"]
        t = pq.read_table(self.files)
        lat = np.floor(t["lat"].to_numpy() * self.CELLS_PER_DEG).astype(np.int64)
        lng = np.floor(t["lng"].to_numpy() * self.CELLS_PER_DEG).astype(np.int64)
        cells, counts = np.unique(lat * 100000 + lng, return_counts=True)
        order = sorted(zip(-counts, cells))[:5]
        self.expected = [(int(c), int(-n)) for n, c in order]

    def _lifecycle(self, log_root: str) -> dict:
        from pyspark.sql import functions as F

        from hfp_loader_spark.maintenance import compact_snapshot
        from hfp_loader_spark.operators.geo import load_positions
        from hfp_loader_spark.streaming.jobs import stream_ingest_positions
        from hfp_loader_spark.versioned import truncate_history

        h, spark = self.h, self.h.spark
        out: dict = {}
        with h.span("ingest") as s:
            versions = stream_ingest_positions(
                spark, str(self.files), log_root, cells_per_deg=self.CELLS_PER_DEG
            )
        out["ingest"], out["batches"] = s.seconds, len(versions)
        out["files_before"] = inputs.dir_bytes(log_root)[1]
        with h.span("compact") as s:
            compact_snapshot(spark, log_root, min_dirs=2)
        out["compact"] = s.seconds
        out["files_after"] = inputs.dir_bytes(log_root)[1]
        with h.span("truncate") as s:
            truncate_history(spark, log_root, keep_last=1)
        out["truncate"] = s.seconds
        with h.span("serve") as s:
            top = (
                load_positions(spark, log_root)
                .groupBy("cell")
                .count()
                .orderBy(F.desc("count"), "cell")
                .limit(5)
                .collect()
            )
        out["serve"] = s.seconds
        out["top"] = [(int(r["cell"]), int(r["count"])) for r in top]
        return out

    def _check(self, top: list) -> None:
        if top != self.expected:
            raise Mismatch(f"served {top} != direct {self.expected}")

    def trace(self, iterations: int) -> dict:
        runs = []
        for _ in range(iterations):
            log_root = self.h.fresh_dir("poslog")
            runs.append(self._lifecycle(str(log_root)))
            runs[-1]["log_bytes"] = inputs.dir_bytes(log_root)[0]
            shutil.rmtree(log_root, ignore_errors=True)
            self.h.attempt(lambda: self._check(runs[-1]["top"]))
        return {"runs": runs}

    def layer_metrics(self, raw: dict, spans: dict[str, Counters]) -> dict[str, float]:
        runs = raw["runs"]
        ingest = spans.get("ingest", Counters())

        def med(key):
            return _median(r[key] for r in runs)

        return {
            "streaming.jobs.ingest_s": med("ingest"),
            "streaming.jobs.batches": med("batches"),
            "streaming.jobs.jobs": ingest.jobs / max(len(runs), 1),
            "maintenance.compact_s": med("compact"),
            "versioned.truncate_s": med("truncate"),
            "versioned.files_before_compact": med("files_before"),
            "versioned.files_after_compact": med("files_after"),
            "operators.geo.serve_s": med("serve"),
            "sink_bytes_per_input_byte": med("log_bytes") / self.input_bytes,
        }


WORKLOADS = {w.name: w for w in (DayLoad, CatalogMix)}
