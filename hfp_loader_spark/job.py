"""End-to-end HFP load job — the reference's single entry point, restated.

Reference trace (SURVEY §3.1, index.ts:9-34 → service/hfpTask.ts:13-146):
for each event group (StopEvent → OtherEvent → VehiclePosition, sequential),
list the date's blobs, load the day's existing uuids, stream-parse blobs,
type-coerce, drop empty-uuid rows, skip uuids already in the sink, route
VehiclePosition non-journey rows to ``unsignedevent``, bulk-append.

Spark restatement: per event group ONE lazy plan
``csv_scan → typed_select → filter(uuid) → anti_join(existing keys) →
[route] → append`` — Catalyst pipelines scan/project/filter/probe into a
single whole-stage-codegen pass; executors provide the parallelism the
reference approximated with overlapped I/O (INSERT_CONCURRENCY=100 in-flight
INSERTs, constants.ts:51).  The three group loads run CONCURRENTLY from a
small driver thread pool (optimization r17, guide §2.6 — Spark happily
schedules several jobs at once and FIFO scheduling back-fills one group's
straggler tail with the next group's tasks): the groups are independent by
construction — they route to DISJOINT table sets (stopevent / otherevent /
vehicleposition+unsignedevent), and the reference's own existence checks
probe only the group's own tables (hfpTask.ts:97-115), so no group reads
what another writes.  The reference's sequential order (hfpTask.ts:83-86)
was I/O pacing, not a data dependency; results and the idempotency
contract are unchanged, and each group's report row is computed exactly as
before.

Row counters (hfpTask.ts:18-31's insertsQueued/insertsCompleted) map to
``DataFrame.observe`` metrics collected during the write action — no extra
pass over the data.
"""

from __future__ import annotations

import datetime
import uuid as _uuid
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from hfp_loader_spark.errors import is_path_not_found

from hfp_loader_spark.operators.dedup import (
    anti_join_existing,
    filter_valid_uuid,
    union_key_sets,
)
from hfp_loader_spark.operators.routing import (
    TARGET_COL,
    routed_tables,
    with_target_table,
)
from hfp_loader_spark.operators.transform import typed_projection
from hfp_loader_spark.schema import EVENT_GROUPS, VEHICLE_POSITION
from hfp_loader_spark.sources.csv_source import read_hfp_group


@dataclass
class LoadReport:
    """Per-run counters (the A1 instrumentation surface)."""

    date: str
    inserted_by_table: dict[str, int] = field(default_factory=dict)

    @property
    def total_inserted(self) -> int:
        return sum(self.inserted_by_table.values())


def validate_date(date: str) -> str:
    """ISO date guard (index.ts:12-21)."""
    datetime.date.fromisoformat(date)
    return date


def load_event_group(
    spark: SparkSession,
    sink,
    storage_root: str,
    event_group: str,
    date: str,
    report: LoadReport,
) -> None:
    """Build and execute the load plan for one event group."""
    try:
        raw = read_hfp_group(spark, storage_root, event_group, date)
    except AnalysisException as e:
        # No blobs for this group/date — the reference logs and moves on
        # (hfpTask.ts:88-95).  ONLY path-not-found qualifies: any other
        # read error (corrupt footer, permission denial) must propagate,
        # or a failed day would silently register as "nothing to load".
        if is_path_not_found(e):
            return
        raise

    typed = filter_valid_uuid(typed_projection(raw))

    # Existing-key set: union over every table this group can write to —
    # eventExists probes one per-group set, so a uuid already present in
    # vehicleposition also blocks unsignedevent and vice versa
    # (hfpTask.ts:97-115).
    tables = routed_tables(event_group)
    existing = union_key_sets(
        *[sink.existing_keys(spark, t, date) for t in tables]
    )
    deduped = anti_join_existing(typed, existing)

    routed = with_target_table(deduped, event_group)

    # Multi-table groups (VehiclePosition → vehicleposition + unsignedevent)
    # trigger one write action per table; without a materialization barrier
    # each action would re-execute the full scan → typed-project → anti-join
    # lineage — a second full pass over the day's largest event group at
    # 100 TB — and the second write's existing-keys scan could even observe
    # the first write's own appends.  persist() runs the lineage once and
    # serves both filtered writes from cached partitions.
    if len(tables) > 1:
        routed = routed.persist()
    try:
        for table in tables:
            out = routed.where(F.col(TARGET_COL) == table).drop(TARGET_COL)
            obs = Observation(
                f"insert_{event_group}_{table}_{_uuid.uuid4().hex[:8]}"
            )
            sink.write(out.observe(obs, F.count(F.lit(1)).alias("rows")), table)
            report.inserted_by_table[table] = report.inserted_by_table.get(
                table, 0
            ) + int(obs.get["rows"])
    finally:
        if len(tables) > 1:
            routed.unpersist()


def hfp_load(
    spark: SparkSession,
    storage_root: str,
    date: str,
    sink,
    event_groups: list[str] | None = None,
) -> LoadReport:
    """Load one calendar day of HFP events (the `yarn start <date>` surface).

    Idempotent by construction: a re-run's anti-join sees the rows the first
    run wrote and inserts nothing (README.md:53-57 re-load semantics).
    """
    validate_date(date)
    report = LoadReport(date=date)
    groups = list(event_groups or EVENT_GROUPS)
    if len(groups) <= 1:
        for group in groups:
            load_event_group(spark, sink, storage_root, group, date, report)
        return report
    # Concurrent group loads (guide §2.6): each group gets its OWN report
    # so no thread shares mutable state; the per-table rows merge after —
    # table sets are disjoint across groups, so the merge is a plain
    # union.  Failure is NOT the sequential loop's: every group starts at
    # once, so a failing group stops none of the others.  They run to
    # completion and commit their appends; the first failure in group
    # order raises only after the pool joins them (shutdown on exit), and
    # the committed groups' counts are lost with it.  Nothing is
    # swallowed, and a re-run's anti-join blocks the rows they committed.
    from concurrent.futures import ThreadPoolExecutor

    def run_group(group: str) -> LoadReport:
        sub = LoadReport(date=date)
        load_event_group(spark, sink, storage_root, group, date, sub)
        return sub

    with ThreadPoolExecutor(max_workers=len(groups)) as pool:
        for sub in pool.map(run_group, groups):
            for table, n in sub.inserted_by_table.items():
                report.inserted_by_table[table] = (
                    report.inserted_by_table.get(table, 0) + n
                )
    return report


__all__ = ["hfp_load", "load_event_group", "LoadReport", "validate_date", "VEHICLE_POSITION"]
