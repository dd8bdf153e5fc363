"""Structured Streaming operators over the ``events`` stream.

The reference is batch-only (SURVEY §2.9): its streaming-shaped properties
(pipelined execution, idempotent re-run) map to Spark task pipelining and
the dedup anti-join.  This module adds the genuine streaming surface the
extension tier requires:

- file-source ``readStream`` with ``trigger(availableNow=True)`` — the
  "process the day's archive incrementally, then stop" mode that matches
  the reference's daily batch cadence while scaling to continuous ingest;
- ``withWatermark`` + ``dropDuplicates`` — streaming dedup, the streaming
  twin of the J1 anti-join (state is bounded by the watermark horizon);
- tumbling / sliding ``window`` and ``session_window`` aggregates.

The window transformations are expressed on a plain DataFrame, so the SAME
function serves batch (oracle-checkable) and streaming inputs — Spark's
unified batch/stream semantics make the batch result the ground truth of
the streaming one.

Scale notes: watermark state and window state are per-key in the state
store, pruned as the watermark advances; ``availableNow`` splits the
backlog into rate-limited micro-batches (``maxFilesPerTrigger``) instead
of one giant batch, so a 100 TB backfill does not need one-batch memory.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_sink_counter = itertools.count()


def _as_source_dir(path: str) -> str:
    """Spark's file stream source requires a *directory*.  The driver's
    tables are single parquet files, so stage a hardlink/copy into a
    content-addressed temp dir (idempotent, done once per input file)."""
    import hashlib
    import os
    import shutil
    import tempfile

    if os.path.isdir(path):
        return path
    digest = hashlib.md5(path.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), "hfp_stream_src", digest)
    os.makedirs(d, exist_ok=True)
    dst = os.path.join(d, os.path.basename(path))
    if not os.path.exists(dst):
        try:
            os.link(path, dst)
        except OSError:
            shutil.copy2(path, dst)
    return d


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of the events table (schema from a batch probe;
    nanos-long ``ts`` normalized to TimestampType like plans.catalog)."""
    path = _as_source_dir(f"{sf_dir.rstrip('/')}/events.parquet")
    # Self-sufficient conf setup (don't rely on a prior load_table call):
    # nanosAsLong for the NANOS-encoded variant of the driver data, UTC
    # session tz so the ntz→timestamp cast below is the identity.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the batch schema probe, once per file generation (the same memo
    # kind load_table uses)
    from hfp_loader_spark.plans.catalog import _table_schema

    schema = _table_schema(spark, path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    ts_dt = dict(df.dtypes).get("ts") or ""
    if ts_dt == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_dt.startswith("timestamp_ntz"):
        # Same normalization as plans.catalog.load_table: session tz is UTC,
        # so the cast reinterprets the naive wall-clock as the UTC instant.
        # withWatermark requires TimestampType — ntz is rejected outright.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling_window_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows: counts + value sum per (window, type)."""
    return (
        events.groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_window_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding windows (each event lands in width/slide windows)."""
    return (
        events.groupBy(F.window("ts", width, slide))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def session_window_counts(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows per user: sessions close after ``gap`` of silence.

    Spark merges overlapping [ts, ts+gap) intervals per key; the session
    start is the first event, matching the lag/cumsum islands batch
    pattern (operators.relational.sessionize).
    """
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
    )


def watermark_dedup(
    events: DataFrame, keys: list[str], delay: str = "10 minutes"
) -> DataFrame:
    """Streaming dedup: ``withWatermark`` bounds the key state, then
    ``dropDuplicates`` keeps the first arrival per key.

    Projected to the key columns so batch and streaming agree exactly
    (which non-key row survives is arrival-order-dependent in a stream).
    """
    return events.withWatermark("ts", delay).select(
        "ts", *keys
    ).dropDuplicates(keys).select(*keys)


def watermark_dedup_within(
    events: DataFrame, keys: list[str], delay: str = "10 minutes"
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark``: duplicates are
    only guaranteed dropped when they arrive within the watermark delay of
    the first sighting — in exchange, state for a key is EVICTED once the
    watermark passes it, so state is bounded by the delay horizon alone
    (plain ``dropDuplicates`` keeps every key forever unless the event-time
    column itself is part of the key).

    The right tool when the dedup key does NOT embed event time (e.g. a
    uuid) and late duplicates beyond the horizon are acceptable — the HFP
    re-load scenario, where the per-batch anti-join catches the stragglers.
    With the archive replayed in order (availableNow), no duplicate arrives
    later than the delay, so the result equals batch DISTINCT — the oracle.
    """
    return events.withWatermark("ts", delay).select(
        "ts", *keys
    ).dropDuplicatesWithinWatermark(keys).select(*keys)


def followup_join(
    events: DataFrame,
    probe_mod: int = 97,
    horizon: str = "12 hours",
    delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream self-join: for each probe event (every
    ``probe_mod``-th id), the same user's follow-up events within
    ``horizon``.

    The genuinely streaming-only join shape: BOTH sides carry watermarks
    and the join condition time-bounds the match window, so each side's
    buffered state is pruned to watermark + horizon — O(horizon of
    events), not O(stream).  Batch execution of the same expression is
    the oracle (inner join: every in-horizon match is emitted exactly
    once regardless of micro-batching).

    ``how="left_outer"`` adds the streaming-only DELAYED-NULL semantics:
    a probe with no in-horizon follow-up is emitted (NULL match, NULL
    lag) only when the event-time watermark passes ``probe_ts +
    horizon`` — the earliest moment "no match" is PROVABLE under the
    lateness contract, at which point the buffered probe state is also
    evicted.  Probes whose horizon is still open when the stream drains
    are NOT emitted (their absence is not yet a fact); the batch oracle
    states that final-watermark truncation explicitly:
    ``probe_ts + horizon < max(ts) − delay``.
    """
    probes = (
        events.where((F.col("event_id") % probe_mod) == 0)
        .select(
            F.col("event_id").alias("probe_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("probe_ts"),
        )
        .withWatermark("probe_ts", delay)
    )
    matches = events.select(
        F.col("event_id").alias("matched_event_id"),
        F.col("user_id").alias("m_user"),
        F.col("ts").alias("m_ts"),
    ).withWatermark("m_ts", delay)
    joined = probes.join(
        matches,
        (F.col("p_user") == F.col("m_user"))
        & (F.col("m_ts") > F.col("probe_ts"))
        & (F.col("m_ts") <= F.col("probe_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    )
    return joined.select(
        "probe_id",
        F.col("p_user").alias("user_id"),
        "matched_event_id",
        (F.unix_timestamp("m_ts") - F.unix_timestamp("probe_ts"))
        .cast("long")
        .alias("lag_seconds"),
    )


def run_available_now(
    streaming_df: DataFrame,
    timeout_sec: int = 300,
    output_mode: str = "append",
    observer: dict | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion with availableNow
    into an in-memory table; returns the materialized result.

    Append mode (default): only windows fully below the final watermark
    are emitted — the streaming-semantics tail truncation the oracle
    must replicate.  ``output_mode="complete"`` emits the full final
    aggregate state instead (no watermark needed) — for running
    aggregates whose final value must equal the batch computation,
    e.g. the streaming scatter-stats fold.

    ``observer`` (optional dict, filled in place) captures the run's
    execution-shape metrics for plan/state invariants (VERDICT r11 #5 —
    the streaming entries were exempt from every cap): ``num_batches``
    (micro-batches executed), ``state_rows_total`` (final stateful-
    operator row count — the 100 TB memory bound), and
    ``state_rows_max_operator``."""
    name = f"stream_sink_{next(_sink_counter)}"
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:  # pragma: no cover — safety on timeout
            q.stop()
    if observer is not None:
        progress = q.recentProgress or []
        state_rows = [
            sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
            for p in progress
        ]
        observer["num_batches"] = len(progress)
        observer["state_rows_total"] = state_rows[-1] if state_rows else 0
        observer["state_rows_max_operator"] = max(
            (
                op.get("numRowsTotal", 0)
                for p in progress
                for op in p.get("stateOperators", [])
            ),
            default=0,
        )
    return streaming_df.sparkSession.table(name)


def static_enrich(
    events: DataFrame,
    dim: DataFrame,
    dim_key: str,
    event_key: str = "user_id",
) -> DataFrame:
    """Stream-static equi-join: enrich streaming events with a static
    dimension (broadcast-able; no state, no watermark needed — the
    static side is re-planned per micro-batch, which is also how slowly-
    changing dims get picked up between batches at deployment time).

    Generic over BOTH join keys: ``events[event_key] == dim[dim_key]``.
    Output = every event column plus every dim column except ``dim_key``
    (its value duplicates the event key) — project the inputs before
    calling to shape the output.

    The stateless streaming join family: rows flow through enriched,
    exactly one output per matching input row regardless of
    micro-batching — which is why plain batch execution of the same join
    is the exact oracle."""
    enrich_cols = [c for c in dim.columns if c != dim_key]
    return events.join(
        F.broadcast(dim), events[event_key] == dim[dim_key]
    ).select(events["*"], *[dim[c] for c in enrich_cols])


def stream_ingest_corpus(
    spark,
    source_dir: str,
    index_root: str,
    schema: str = "doc_id long, text string",
    timeout_sec: int = 300,
) -> dict[int, dict[str, int]]:
    """Streaming corpus ingestion: each micro-batch runs the incremental
    dedup pipeline (``pipeline.ingest_delta``) against the persisted
    MinHash signature index via ``foreachBatch``.

    The production continuous-ingest shape: new document files land in
    ``source_dir``; ``availableNow`` drains whatever is present in
    batches; every batch is quality-gated, exact-deduped within itself,
    near-deduped against ALL previously ingested content (the signature
    index the previous batches appended to — so batch N dedups against
    batches 1..N-1 without re-reading their text), and its survivors'
    signatures are committed before the next batch starts.  foreachBatch
    micro-batches run sequentially, so index append/read interleaving is
    race-free by construction.  A brand-new ``index_root`` needs no
    pre-seeding: the first batch dedups within itself and its signature
    append creates version 1 (``dedup_delta_against_index`` bootstraps
    the empty-history case).

    Returns {batch_id: stage_counts} — the per-batch audit trail.

    Restart-safe: the checkpoint lives next to the index
    (``<index_root>/_stream_checkpoint``), so a later invocation resumes
    from the last committed file instead of re-reading everything —
    without it, a re-run would re-ingest batch 1's docs, and because the
    LSH pair join excludes equal ids (``doc_a < doc_b``), a re-ingested
    doc would NOT collide with its own stored signature and would be
    double-appended.  A timeout raises instead of returning a silently
    partial report.
    """
    import os

    from hfp_loader_spark.pipeline import ingest_delta

    reports: dict[int, dict[str, int]] = {}

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        _, counts = ingest_delta(spark, batch_df, index_root)
        reports[batch_id] = counts

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(_as_source_dir(source_dir))
    )
    q = (
        stream.writeStream.foreachBatch(handle_batch)
        .option(
            "checkpointLocation",
            os.path.join(index_root, "_stream_checkpoint"),
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            raise TimeoutError(
                f"stream_ingest_corpus did not drain {source_dir!r} within "
                f"{timeout_sec}s; index {index_root!r} holds only the "
                f"batches committed so far (resume by re-running — the "
                f"checkpoint skips completed files)"
            )
    finally:
        if q.isActive:  # pragma: no cover — safety on timeout
            q.stop()
    return reports


def stream_ingest_cell_tags(
    spark,
    source_dir: str,
    tags_root: str,
    cent_assign: list[tuple[int, list[int]]],
    scale: int = 1_000_000,
    schema: str = "vec_id long, embedding array<float>",
    timeout_sec: int = 300,
) -> dict[int, int]:
    """Streaming O(delta) cell tagging: every micro-batch of newly
    landed embedding files is assigned against the PINNED serve model
    (``similarity.append_cell_tags`` — the narrow literal-argmin pass)
    and committed as one versioned append to the tag table.

    The streaming half of the persisted-IVF-index story, the exact
    analogue of :func:`stream_ingest_corpus` for the signature index:
    foreachBatch micro-batches run sequentially so tag appends never
    interleave; every commit is manifest-pinned to the model
    fingerprint, so a model rebuild mid-stream FAILS the query instead
    of silently mixing tag generations (restart after a deliberate
    re-tag, not around it); the checkpoint lives next to the table so a
    re-run resumes from the last committed file instead of
    double-tagging batch 1.

    Exactly-once per micro-batch: every commit stamps its
    ``stream_batch_id`` in the manifest, and a batch whose id is ≤ the
    stamped head is a crash-replay (driver died between the versioned
    commit and the checkpoint's offset write) and is skipped — without
    this, the replayed append would double the batch's rows and break
    the delta-appends ≡ full-recompute invariant.  Corollary: the
    checkpoint is PART of the table's state — deleting it while
    keeping the table makes Spark renumber batches from 0, which the
    guard would skip against the stale stamp; after a checkpoint loss,
    rebuild the table (or point at a fresh one).

    Returns {batch_id: committed_version} — the per-batch audit trail.
    """
    import os

    from hfp_loader_spark.operators.similarity import append_cell_tags

    versions: dict[int, int] = {}
    checkpoint = os.path.join(tags_root, "_stream_checkpoint")
    ingest_id = _ingest_identity(spark, checkpoint)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        if _replayed(spark, tags_root, batch_id, ingest_id):
            return
        versions[batch_id] = append_cell_tags(
            spark,
            batch_df,
            tags_root,
            cent_assign,
            scale,
            extra_meta={
                "stream_batch_id": int(batch_id),
                "stream_ingest_id": ingest_id,
            },
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_as_source_dir(source_dir))
    )
    q = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            raise TimeoutError(
                f"stream_ingest_cell_tags did not drain {source_dir!r} "
                f"within {timeout_sec}s; {tags_root!r} holds only the "
                "batches committed so far (resume by re-running — the "
                "checkpoint skips completed files)"
            )
    finally:
        if q.isActive:  # pragma: no cover — safety on timeout
            q.stop()
    return versions


def _ingest_identity(spark, checkpoint_dir: str) -> str:
    """Stable identity of one checkpoint generation: a uuid persisted
    as ``<checkpoint>/_INGEST_ID`` on first use.  Stamped into every
    versioned commit so a crash-replay (same checkpoint → same id) is
    distinguishable from a DIFFERENT stream feeding the same table
    (fresh/foreign checkpoint → different id), which must fail loud
    instead of silently skipping its batches."""
    import uuid as _uuid

    from hfp_loader_spark.versioned import _fs

    fs, P = _fs(spark, checkpoint_dir)
    target = P(f"{checkpoint_dir.rstrip('/')}/_INGEST_ID")
    if fs.exists(target):
        stream = fs.open(target)
        try:
            return spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            ).strip()
        finally:
            stream.close()
    ident = _uuid.uuid4().hex
    fs.mkdirs(target.getParent())
    out = fs.create(target, True)
    try:
        out.write(bytearray(ident.encode("utf-8")))
    finally:
        out.close()
    return ident


def _replayed(spark, root: str, batch_id: int, ingest_id: str) -> bool:
    """True iff ``batch_id`` is already stamped in the table's SURVIVING
    manifest history BY THIS SAME STREAM — a crash-replay of a
    committed-but-unacknowledged micro-batch (the driver died between
    ``commit_snapshot`` succeeding and the streaming checkpoint
    recording the batch).

    The scan walks manifests newest→oldest rather than trusting the
    head alone (ADVICE r13): a non-stream ``append_positions`` /
    ``append_cell_tags`` commit landing between a stream batch's commit
    and its checkpoint write leaves an UNSTAMPED head, behind which the
    stream's real high-water stamp still sits.  Batches commit
    sequentially (foreachBatch serializes), so the newest stamped
    manifest carries the stream's max batch id.  The walk stops at an
    ``overwrite`` commit — a rebuild replaces the table's contents, so
    nothing older can duplicate rows.  A stamp from a DIFFERENT ingest
    identity raises: treating a foreign stream's (or a re-created
    checkpoint's) batch numbering as replays would silently DROP its
    data.

    Retention contract: ``truncate_history`` must keep manifests back
    to the newest stream commit while a live checkpoint exists —
    truncating every stamped manifest away makes the one crash-replay
    window (last commit vs checkpoint) undetectable again."""
    from hfp_loader_spark.versioned import (
        _existing_versions,
        _read_manifest,
    )

    for v in reversed(_existing_versions(spark, root)):
        info = _read_manifest(spark, root, v)
        stamped = info.meta.get("stream_batch_id")
        if stamped is not None:
            stamped_id = info.meta.get("stream_ingest_id")
            if stamped_id != ingest_id:
                raise ValueError(
                    f"table at {root} was last fed by stream ingest"
                    f" {stamped_id!r}; this query's checkpoint identity"
                    f" is {ingest_id!r} — its batch numbering cannot be"
                    " compared, so replays are undetectable. Resume the"
                    " ORIGINAL checkpoint, or rebuild the table for a"
                    " new stream."
                )
            return batch_id <= stamped
        if info.op == "overwrite":
            return False
    return False


def stream_ingest_positions(
    spark,
    source_dir: str,
    log_root: str,
    cells_per_deg: int = 20,
    lat_col: str = "lat",
    lng_col: str = "lng",
    schema: str = (
        "vehicle_id long, event_id long, t_us long, lat double, lng double"
    ),
    timeout_sec: int = 300,
) -> dict[int, int]:
    """Streaming O(delta) position ingest: every micro-batch of newly
    landed position files is cell-stamped under the PINNED grid
    (``geo.append_positions`` — the same one-definition stamping pass
    as the batch append) and committed as one versioned append to the
    position log — the streaming half of the position-lake lifecycle
    (VERDICT r12 #6), the exact geo analogue of
    :func:`stream_ingest_cell_tags` for the IVF index.

    foreachBatch micro-batches run sequentially so log appends never
    interleave; every commit is manifest-pinned to the grid generation,
    so a re-grid mid-stream FAILS the query instead of silently mixing
    cell geometries (restart after a deliberate
    ``geo.rebuild_positions``, not around it); the checkpoint lives
    next to the log so a re-run resumes from the last committed file
    instead of double-ingesting batch 1, and the per-commit
    ``stream_batch_id`` stamp makes a crash-replayed batch a no-op
    (same exactly-once contract — and the same checkpoint-lifetime
    caveat — as :func:`stream_ingest_cell_tags`).  The serve layout is
    re-published from the log head on the maintenance cadence
    (``geo.materialize_position_lake_from_log``), with
    ``maintenance.compact_snapshot`` bounding the append chain.

    Returns {batch_id: committed_version} — the per-batch audit trail.
    """
    import os

    from hfp_loader_spark.operators.geo import append_positions

    versions: dict[int, int] = {}
    checkpoint = os.path.join(log_root, "_stream_checkpoint")
    ingest_id = _ingest_identity(spark, checkpoint)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        if _replayed(spark, log_root, batch_id, ingest_id):
            return
        versions[batch_id] = append_positions(
            spark,
            batch_df,
            log_root,
            cells_per_deg=cells_per_deg,
            lat_col=lat_col,
            lng_col=lng_col,
            extra_meta={
                "stream_batch_id": int(batch_id),
                "stream_ingest_id": ingest_id,
            },
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_as_source_dir(source_dir))
    )
    q = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            raise TimeoutError(
                f"stream_ingest_positions did not drain {source_dir!r} "
                f"within {timeout_sec}s; {log_root!r} holds only the "
                "batches committed so far (resume by re-running — the "
                "checkpoint skips completed files)"
            )
    finally:
        if q.isActive:  # pragma: no cover — safety on timeout
            q.stop()
    return versions
