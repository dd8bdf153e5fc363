"""Streaming query catalog over ``events`` (SURVEY §2.9 / §2.11).

Spark's batch/stream unification is the correctness strategy: the window
transformations in ``streaming.jobs`` are plain DataFrame functions, so
the batch-executed entries are oracle-checked against DuckDB
``time_bucket`` / islands SQL, and the genuinely-streaming entries
(``readStream`` + ``availableNow``) reuse the SAME transformation — with
the watermark-truncation semantics stated in the oracle where it applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hfp_loader_spark.plans.catalog import _t, defquery
from hfp_loader_spark.streaming.jobs import (
    followup_join,
    read_events_stream,
    run_available_now,
    session_window_counts,
    sliding_window_counts,
    tumbling_window_counts,
    watermark_dedup,
)


@defquery(
    "stream_tumbling_counts",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 2)      AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour event-time windows per event_type (batch "
    "execution of the shared streaming transformation). One shuffle on "
    "(window, type); map-side partials absorb the raw events.",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_counts(_t(spark, sf_dir, "events"))


@defquery(
    "stream_sliding_counts",
    """
    WITH offsets AS (SELECT unnest([0, 1]) AS k)
    SELECT strftime(time_bucket(INTERVAL '30 minutes', ts)
                    - k * INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S')
             AS window_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events CROSS JOIN offsets
    GROUP BY 1
    """,
    doc="Sliding windows (1 h width, 30 min slide): each event lands in "
    "width/slide = 2 windows. Spark expands in-row before the aggregate; "
    "the oracle states the same expansion with an offsets cross join.",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_counts(_t(spark, sf_dir, "events"))


@defquery(
    "stream_session_counts",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts >= lag(ts) OVER w + INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    islands AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 2)      AS total_value
    FROM islands
    GROUP BY user_id, session_no
    """,
    doc="Session windows per user (10 min gap): Spark session_window "
    "merge-interval semantics vs the lag+cumsum islands oracle. State is "
    "per-user in streaming; batch plans one shuffle + sort per user.",
)
def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_counts(_t(spark, sf_dir, "events"))


@defquery(
    "streaming_watermark_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="GENUINE streaming execution: readStream(parquet) → withWatermark "
    "10 min → dropDuplicates(user_id, event_type) → availableNow to a "
    "memory sink. First arrival per key is emitted and watermark prunes "
    "key state; projected to keys so batch DISTINCT is the exact oracle.",
)
def streaming_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    deduped = watermark_dedup(stream, ["user_id", "event_type"])
    return run_available_now(deduped)


@defquery(
    "streaming_tumbling_availablenow",
    # Append mode emits exactly the windows the FINAL watermark closed, and
    # with availableNow the final watermark is deterministic: max(ts) − the
    # 10-min delay (Spark tracks it at millisecond precision, hence the
    # date_trunc; the trailing no-data micro-batch — on by default — flushes
    # every window that watermark passed, independent of micro-batch
    # boundaries).  So the emitted set IS SQL-stateable: tumbling windows
    # with window_end ≤ final watermark.
    """
    WITH wm AS (
      SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '10 minutes' AS w
      FROM events
    )
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 2)      AS total_value
    FROM events, wm
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= wm.w
    GROUP BY 1, 2
    """,
    doc="GENUINE streaming execution of the tumbling-window aggregate: "
    "readStream → withWatermark 10 min → window counts → availableNow, "
    "append mode. Emits exactly the windows closed by the final "
    "watermark (= max event time − 10 min, stated in the oracle's WHERE) "
    "— the bounded-state 100 TB ingest path.",
)
def streaming_tumbling_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_available_now(tumbling_window_counts(stream))


@defquery(
    "streaming_sliding_availablenow",
    """
    WITH wm AS (
      SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '10 minutes' AS w
      FROM events
    ),
    offsets AS (SELECT unnest([0, 1]) AS k),
    expanded AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - k * INTERVAL '30 minutes' AS ws
      FROM events CROSS JOIN offsets
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM expanded, wm
    WHERE ws + INTERVAL '1 hour' <= wm.w
    GROUP BY 1
    """,
    doc="GENUINE streaming execution of the sliding-window aggregate "
    "(1 h width, 30 min slide): readStream → withWatermark 10 min → "
    "availableNow, append mode. Each event expands to width/slide = 2 "
    "windows IN-ROW before the stateful aggregate; the final watermark "
    "(max event time − 10 min) closes exactly the windows the oracle's "
    "WHERE states — verified equal before wiring.",
)
def streaming_sliding_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_available_now(sliding_window_counts(stream))


@defquery(
    "streaming_session_availablenow",
    """
    WITH wm AS (
      SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '10 minutes' AS w
      FROM events
    ),
    marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER win IS NULL
                       OR ts >= lag(ts) OVER win + INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts)
    ),
    islands AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 2)      AS total_value
    FROM islands, wm
    GROUP BY user_id, session_no, wm.w
    HAVING max(ts) + INTERVAL '10 minutes' <= wm.w
    """,
    doc="GENUINE streaming execution of session windows (10 min gap) with "
    "MERGING state: readStream → withWatermark → session_window → "
    "availableNow, append mode. A session closes when the watermark "
    "passes its end (last event + gap — no earlier event can extend it), "
    "so the emitted set is the islands sessions whose max(ts) + gap ≤ "
    "final watermark, exactly the oracle's HAVING — verified equal "
    "before wiring. The hardest streaming state shape (windows that "
    "MERGE), driver-verified against batch SQL.",
)
def streaming_session_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return run_available_now(session_window_counts(stream))


@defquery(
    "streaming_stateful_counters",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT)                  AS n_events,
           round(sum(value), 2)                      AS total_value,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S')    AS max_ts
    FROM events
    GROUP BY user_id
    """,
    doc="GENUINE streaming execution of a CUSTOM stateful operator: "
    "applyInPandasWithState carries per-user running totals across "
    "micro-batches in the state store (O(keys) memory, Arrow-batched "
    "group shipping). With the archive fully ingested, the cumulative "
    "totals equal the batch aggregate — the oracle.",
)
def streaming_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.streaming.stateful import stateful_user_counters

    stream = read_events_stream(spark, sf_dir)
    return run_available_now(stateful_user_counters(stream))


@defquery(
    "streaming_static_enrich",
    """
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           c.c_mktsegment, c.c_nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="GENUINE streaming stream-STATIC join: readStream events enriched "
    "against the static customer dimension (broadcast), availableNow, "
    "append mode. The stateless join family — no watermark, no buffered "
    "state; the static side is re-planned per micro-batch (how "
    "slowly-changing dims refresh mid-stream at deployment). Exactly one "
    "output per matching input row regardless of micro-batching, so the "
    "batch join is the exact oracle.",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.plans.catalog import load_table
    from hfp_loader_spark.streaming.jobs import static_enrich

    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    return run_available_now(static_enrich(stream, dim, "c_custkey"))


@defquery(
    "streaming_followup_join",
    """
    WITH p AS (
      SELECT event_id AS probe_id, user_id, ts AS probe_ts
      FROM events WHERE event_id % 97 = 0
    )
    SELECT p.probe_id, p.user_id, e.event_id AS matched_event_id,
           CAST(date_diff('second', p.probe_ts, e.ts) AS BIGINT) AS lag_seconds
    FROM p JOIN events e
      ON p.user_id = e.user_id
     AND e.ts > p.probe_ts
     AND e.ts <= p.probe_ts + INTERVAL '12 hours'
    """,
    doc="GENUINE streaming stream-stream self-join: probes vs follow-up "
    "events of the same user within 12 h, watermarks on BOTH sides so "
    "buffered join state is pruned to watermark+horizon. Inner join → "
    "every in-horizon match emitted exactly once; batch execution of the "
    "same join is the oracle.",
)
def streaming_followup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    return run_available_now(followup_join(stream))


def _register_transform_with_state() -> None:
    """Register the transformWithState entry only where the runtime can
    execute it (the Spark 4 state-server protocol needs protobuf on the
    workers — absent in this container, so the entry would be a
    guaranteed-red row).  The operator itself ships either way; its
    semantics are covered by tests/test_streaming.py's gated test."""
    from hfp_loader_spark.streaming.stateful import HAS_TRANSFORM_WITH_STATE

    if not HAS_TRANSFORM_WITH_STATE:
        return

    @defquery(
        "streaming_stateful_distinct",
        """
        SELECT user_id,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct_types
        FROM events GROUP BY user_id
        """,
        doc="GENUINE streaming execution on the Spark 4 transformWithState "
        "API: per-user seen-type sets in typed ListState (incremental "
        "appends, no whole-value rewrite), refreshed distinct counts "
        "emitted per touched key. Archive fully ingested → totals equal "
        "the batch COUNT(DISTINCT) — the oracle.",
    )
    def streaming_stateful_distinct(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from hfp_loader_spark.streaming.stateful import stateful_distinct_types

        stream = read_events_stream(spark, sf_dir)
        return run_available_now(stateful_distinct_types(stream))


_register_transform_with_state()


@defquery(
    "streaming_watermark_dedup_within",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="GENUINE streaming execution: dropDuplicatesWithinWatermark — "
    "state per key is EVICTED once the watermark passes it (bounded by "
    "the 10-min horizon, vs dropDuplicates' forever-state), trading away "
    "only beyond-horizon late duplicates. Ordered archive replay ⇒ equal "
    "to batch DISTINCT, the oracle.",
)
def streaming_watermark_dedup_within(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hfp_loader_spark.streaming.jobs import watermark_dedup_within

    stream = read_events_stream(spark, sf_dir)
    return run_available_now(watermark_dedup_within(stream, ["user_id", "event_type"]))


@defquery(
    "streaming_followup_left_outer",
    """
    WITH p AS (
      SELECT event_id AS probe_id, user_id, ts AS probe_ts
      FROM events WHERE event_id % 89 = 0
    ),
    -- the stream's FINAL event-time watermark: the global watermark is
    -- the MIN across both join inputs, and the probe side is filtered,
    -- so it is max(probe_ts) - delay, NOT max(ts) - delay
    wm AS (SELECT max(probe_ts) - INTERVAL '10 minutes' AS w FROM p),
    j AS (
      SELECT p.probe_id, p.user_id, e.event_id AS matched_event_id,
             CAST(date_diff('second', p.probe_ts, e.ts) AS BIGINT)
               AS lag_seconds
      FROM p JOIN events e
        ON p.user_id = e.user_id
       AND e.ts > p.probe_ts
       AND e.ts <= p.probe_ts + INTERVAL '2 hours'
    )
    SELECT * FROM j
    UNION ALL
    SELECT p.probe_id, p.user_id, NULL AS matched_event_id,
           NULL AS lag_seconds
    FROM p, wm
    WHERE NOT EXISTS (
            SELECT 1 FROM events e
            WHERE e.user_id = p.user_id
              AND e.ts > p.probe_ts
              AND e.ts <= p.probe_ts + INTERVAL '2 hours')
      AND p.probe_ts + INTERVAL '2 hours' < wm.w
    """,
    doc="GENUINE streaming stream-stream LEFT OUTER join with the "
    "delayed-NULL semantics only streaming has: a probe with no "
    "follow-up within 2 h is emitted (NULL match) only when the "
    "event-time watermark passes probe_ts + horizon — the earliest "
    "moment 'no match' is provable under the lateness contract — and "
    "probes whose horizon is still open when the archive drains are "
    "withheld. The oracle states that truncation exactly, including the "
    "non-obvious watermark source: the global watermark is the MIN over "
    "both inputs' (max event time − delay), and the probe side is "
    "filtered, so the cutoff derives from max(probe_ts), not max(ts) — "
    "measured from the query's own progress log, then pinned here. "
    "State stays O(horizon of events) on both sides.",
)
def streaming_followup_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    return run_available_now(
        followup_join(
            stream, probe_mod=89, horizon="2 hours", how="left_outer"
        )
    )


from hfp_loader_spark.plans.decomposition_queries import (  # noqa: E402
    _STATS_CTES as _SCATTER_CTES,
)


@defquery(
    "streaming_scatter_covariance",
    # the SAME oracle text as emb_scatter_covariance (built from the
    # shared CTE constant): a stateless fold + running aggregate is
    # micro-batch-invariant, so the streaming final state must equal
    # the batch computation exactly
    f"""
    WITH {_SCATTER_CTES}
    SELECT i, j,
           round(CAST(nn AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 10)
             AS cov
    FROM cen
    """,
    doc="GENUINE streaming execution of the scatter/covariance fold: "
    "readStream over the embeddings parquet (maxFilesPerTrigger=1) → "
    "the same Arrow partial-Gram mapInPandas → running (kind,i,j) "
    "aggregate in COMPLETE mode → availableNow; the final state feeds "
    "the identical centering/rounding as emb_scatter_covariance, whose "
    "oracle this entry reuses verbatim (registered below) — "
    "micro-batch boundaries cannot perturb an integer sum. The "
    "incremental-PCA maintenance path, executed as an actual stream.",
)
def streaming_scatter_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hfp_loader_spark.operators.decomposition import (
        centered_numerator,
        scatter_stats,
    )

    from hfp_loader_spark.streaming.jobs import _as_source_dir

    path = _as_source_dir(f"{sf_dir.rstrip('/')}/embeddings.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    stats = run_available_now(
        scatter_stats(stream), output_mode="complete"
    )
    cen = centered_numerator(stats)
    nd = F.col("n").cast("double")
    return cen.select(
        "i",
        "j",
        F.round(
            F.col("nn").cast("double") / (nd * nd * F.lit(1e12)), 10
        ).alias("cov"),
    )



@defquery(
    "streaming_bitmap_dau",
    """
    WITH b AS (
      SELECT CAST(ts AS DATE) AS day, user_id // 63 AS word_idx,
             bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT day, CAST(sum(bit_count(word)) AS BIGINT) AS n_users
    FROM b GROUP BY day
    """,
    doc="GENUINE streaming daily-active-users over BITMAP state "
    "(operators.sketches.key_bitmaps as a streaming aggregate): "
    "readStream over the events archive → (day, word) bit_or in "
    "COMPLETE mode → availableNow; bit_or is commutative/associative, "
    "so micro-batch boundaries cannot perturb the words and the final "
    "state hash-matches the batch bitmap exactly — the same "
    "micro-batch-invariance argument as streaming_scatter_covariance, "
    "on a different mergeable structure. State is ~8 bytes per 63 "
    "distinct users per day (vs one row per (day, user) for streaming "
    "dropDuplicates-then-count), and the SAME state answers any later "
    "intersection question (retention, audience overlap) without "
    "re-reading the stream — the streaming build path of the "
    "events_retention_bitmap index.",
)
def streaming_bitmap_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hfp_loader_spark.operators.sketches import (
        bitmap_cardinality,
        key_bitmaps,
    )
    from hfp_loader_spark.streaming.jobs import run_available_now

    stream = read_events_stream(spark, sf_dir)
    bm = key_bitmaps(
        stream.select(F.col("ts").cast("date").alias("day"), "user_id"),
        "day",
        "user_id",
    )
    final = run_available_now(bm, output_mode="complete")
    return bitmap_cardinality(final).select(
        F.col("dim").alias("day"), F.col("n_keys").cast("long").alias("n_users")
    )
