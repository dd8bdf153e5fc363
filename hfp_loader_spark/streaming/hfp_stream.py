"""Streaming variant of the HFP load (SURVEY §2.9).

The reference runs batch over archived blobs; this is the Structured
Streaming restatement: a file-source stream over the event group's blob
directory, the SAME typed projection / uuid filter / routing operators,
``withWatermark + dropDuplicates`` in place of the batch anti-join, and a
``foreachBatch`` routed append through the same sink API.

Semantics vs batch (documented divergence, SURVEY §2.3 scope caveat):
``dropDuplicates('uuid')`` dedups *within the stream as well* — stricter
than the reference's anti-join-only scoping, and exactly the "stricter
dedup as explicit extension operator" SURVEY prescribes.  Re-runs are
still idempotent against prior sink state because foreachBatch applies
the same existing-keys anti-join per micro-batch.

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch memory for a
backfill; dedup state is bounded by the 1-day watermark horizon (one day
IS the reference's unit of work); the per-batch anti-join prunes to the
load date exactly like the batch job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
from hfp_loader_spark.schema import EVENT_GROUP_PATH_PREFIXES, RAW_SCHEMA


def read_hfp_stream(
    spark: SparkSession,
    storage_root: str,
    event_group: str,
    date: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source CSV stream over one event group's blob dir, filtered to
    the date's blobs via pathGlobFilter (same prefix construction as the
    batch scan, service/hfpStorage.ts:26-27)."""
    prefix = EVENT_GROUP_PATH_PREFIXES[event_group]
    reader = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("header", "false")
        .option("sep", ",")
        .option("quote", '"')
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", "true")
        .option("ignoreTrailingWhiteSpace", "true")
        .option("mode", "PERMISSIVE")
        .option("pathGlobFilter", f"{date}*")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(f"{storage_root.rstrip('/')}/{prefix}")


def hfp_stream_load(
    spark: SparkSession,
    storage_root: str,
    event_group: str,
    date: str,
    sink,
    timeout_sec: int = 300,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> None:
    """Run the streaming HFP load to completion (availableNow).

    Pipeline per micro-batch: typed projection → uuid filter → stream-wide
    watermark dedup on uuid → anti-join against sink state → routed append.

    The checkpoint lives with the SINK (not the source): it tracks what
    this sink has consumed, so two sinks loading the same archive don't
    share progress.  Passing a fresh ``checkpoint_dir`` forces a full
    re-read, which the per-batch anti-join then makes a no-op — the same
    re-run idempotency as the batch job.
    """
    raw = read_hfp_stream(
        spark, storage_root, event_group, date, max_files_per_trigger
    )
    typed = filter_valid_uuid(typed_projection(raw))
    deduped = typed.withWatermark("tst", "1 day").dropDuplicates(["uuid"])
    routed = with_target_table(deduped, event_group)
    tables = routed_tables(event_group)

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        existing = union_key_sets(
            *[sink.existing_keys(spark, t, date) for t in tables]
        )
        fresh = anti_join_existing(batch_df, existing).persist()
        try:
            for t in tables:
                sink.write(
                    fresh.where(F.col(TARGET_COL) == t).drop(TARGET_COL), t
                )
        finally:
            fresh.unpersist()

    if checkpoint_dir is None:
        base = getattr(sink, "root", storage_root.rstrip("/"))
        checkpoint_dir = f"{base}/_chk_{event_group}_{date}"
    q = (
        routed.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:  # pragma: no cover
            q.stop()
