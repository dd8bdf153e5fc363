"""Trajectory / geospatial catalog entries (operators.geo).

The reference loads a vehicle-position feed (HFP v2: lat/long/spd per
vehicle per second — SURVEY §2.1); these entries are the questions that
table exists to answer: leg distances and speeds, stop/dwell detection,
spatial density, O-D flows, headways, nearest-stop assignment.

The driver's oracle can only see the ten registered testdata views, so
— exactly like hfp_parity — both engines derive an identical synthetic
trajectory *deterministically from the events table*: vehicle =
``user_id``, point order = row_number over (ts, event_id), and
lat/lng/spd from integer-hash arithmetic rendered from ONE template
string per column into both the Spark plan (``F.expr``) and the DuckDB
oracle, so the float inputs are bit-identical by construction.  The
only engine-divergent token is integer division (Spark ``div``, DuckDB
``//``) — substituted per engine from the same template.

Float determinism: all geometry uses the fixed-latitude planar metric
(operators/geo.py module docstring — ``+ - * / sqrt`` are IEEE-correctly
rounded, libm trig is not), so distances and argmins are bit-identical
across engines; only SUM/AVG aggregates see cross-engine summation-order
ulps, and those are round()-ed on both sides like every other catalog
float aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hfp_loader_spark import memo
from hfp_loader_spark.operators.geo import (
    grid_cell,
    headways_at_cells,
    leg_metrics,
    nearest_assign,
    od_flows,
    resample_first_per_bucket,
    stop_episodes,
    trips_by_gap,
)
from hfp_loader_spark.operators.geo import fence_cond_sql as _fence_cond_sql
from hfp_loader_spark.plans.catalog import _t, defquery

# --- the ONE definition of the synthetic trajectory (both engines) ----
#
# ~60°N / ~24.5°E (the reference fleet's home box).  Per-vehicle base
# offset from hashed vehicle id, drift along the track from the point
# sequence number, per-point jitter from a hashed event id.  All exact
# integer arithmetic until one final double division per term.

_LAT_T = (
    "60.0 + CAST((vehicle_id * 7919) % 200 AS DOUBLE) / 1000.0"
    " + CAST(rn AS DOUBLE) / 20000.0"
    " + CAST(((event_id % 1000003) * 2654435761) % 41 - 20 AS DOUBLE) / 1000000.0"
)
_LNG_T = (
    "24.5 + CAST((vehicle_id * 104729) % 300 AS DOUBLE) / 1000.0"
    " + CAST(rn AS DOUBLE) / 10000.0"
    " + CAST(((event_id % 1000003) * 1099087573) % 41 - 20 AS DOUBLE) / 1000000.0"
)
#: Speed in m/s with stop runs: every 4th block of 5 consecutive points
#: is a "stopped" block (spd < 2.0), so gaps-and-islands stop detection
#: has real multi-point episodes to find.  {IDIV}: Spark `div`, DuckDB `//`.
_SPD_T = (
    "CASE WHEN ((rn {IDIV} 5) + vehicle_id) % 4 = 0"
    " THEN CAST((event_id * 13) % 200 AS DOUBLE) / 100.0"
    " ELSE 2.0 + CAST((event_id * 13) % 2800 AS DOUBLE) / 100.0 END"
)

#: Planar distance template (oracle side) — textual lockstep with
#: operators.geo.planar_distance_m (M_PER_DEG=111320.0, LAT_FACTOR=0.5).


def _dist_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    return (
        f"111320.0 * sqrt(({lat1} - {lat2}) * ({lat1} - {lat2})"
        f" + (0.5 * ({lng1} - {lng2})) * (0.5 * ({lng1} - {lng2})))"
    )


def _cell_sql(lat: str, lng: str) -> str:
    """Oracle twin of operators.geo.grid_cell (cells_per_deg=200)."""
    return (
        f"CAST(floor({lat} * 200.0) AS BIGINT) * 100000"
        f" + CAST(floor({lng} * 200.0) AS BIGINT)"
    )


def _traj_cte() -> str:
    """Shared oracle CTE: ``pts`` (ordered points) → ``traj``."""
    return f"""
    pts AS (
      SELECT user_id AS vehicle_id, event_id, epoch_us(ts) AS t_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    traj AS (
      SELECT vehicle_id, event_id, rn, t_us,
             {_LAT_T} AS lat,
             {_LNG_T} AS lng,
             {_SPD_T.format(IDIV="//")} AS spd
      FROM pts
    )"""


def _traj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_traj_cte`` — same templates, ``div`` for ``//``.

    The rename to ``vehicle_id`` happens BEFORE the row_number window so
    the window's exchange partitions on the attribute every downstream
    per-vehicle window/aggregate actually references: alias-aware
    partitioning propagation only rewrites aliases introduced ABOVE an
    exchange, so windowing on ``user_id`` and renaming afterwards loses
    the partitioning guarantee and re-shuffles each consumer (measured:
    2 exchanges → 1 for the whole leg-profile entry)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("user_id").alias("vehicle_id"),
        "event_id",
        "ts",
        F.unix_micros("ts").alias("t_us"),
    )
    w = Window.partitionBy("vehicle_id").orderBy("ts", "event_id")
    pts = base.select(
        "vehicle_id",
        "event_id",
        "t_us",
        F.row_number().over(w).alias("rn"),
    )
    return pts.select(
        "vehicle_id",
        "event_id",
        "rn",
        "t_us",
        F.expr(_LAT_T).alias("lat"),
        F.expr(_LNG_T).alias("lng"),
        F.expr(_SPD_T.format(IDIV="div")).alias("spd"),
    )


_LEG_SQL = _dist_sql(
    "lat", "lng", "lag(lat) OVER w", "lag(lng) OVER w"
)


#: Exact integer-cents mean of spd — the synthetic speeds are exact
#: multiples of 0.01, so summing cents as BIGINT removes the
#: summation-order ulps a float AVG carries across engines (one
#: sf0.001 avg_spd landed on a .0005 rounding boundary and flipped —
#: the only float-aggregate failure mode this catalog has).  The final
#: (sum/count)/100 division chain is per-step correctly rounded from
#: identical inputs, hence bit-identical.
_AVG_SPD_SQL = (
    "round((CAST(sum(CAST(round(spd * 100.0, 0) AS BIGINT)) AS DOUBLE)"
    " / CAST(count(*) AS DOUBLE)) / 100.0, 3)"
)


def _avg_spd_col():
    cents = F.round(F.col("spd") * 100.0, 0).cast("long")
    return F.round(
        (F.sum(cents).cast("double") / F.count("*").cast("double"))
        / 100.0,
        3,
    )


@defquery(
    "geo_leg_speed_profile",
    f"""
    WITH {_traj_cte()},
    legs AS (
      SELECT vehicle_id,
             {_LEG_SQL} AS leg_m,
             CAST(t_us - lag(t_us) OVER w AS DOUBLE) / 1000000.0 AS dt_s
      FROM traj
      WINDOW w AS (PARTITION BY vehicle_id ORDER BY rn)
    )
    SELECT vehicle_id,
           CAST(count(leg_m) AS BIGINT)  AS n_legs,
           -- legs quantized to integer micrometres BEFORE the sum: a
           -- float sum is summation-order-dependent, and this column is
           -- the ORDER BY key — a last-ulp diff on a .05 boundary could
           -- flip top-20 membership.  floor and the BIGINT sum are
           -- exact; the single final division is correctly rounded from
           -- identical inputs on both engines.
           round(CAST(sum(CAST(floor(leg_m * 1000000.0) AS BIGINT))
                      AS DOUBLE) / 1000000.0, 1) AS total_m,
           round(max(CASE WHEN dt_s > 0 THEN leg_m / dt_s END), 2)
                                         AS max_speed_ms
    FROM legs WHERE leg_m IS NOT NULL
    GROUP BY vehicle_id
    ORDER BY total_m DESC, vehicle_id LIMIT 20
    """,
    doc="Per-vehicle trajectory profile: consecutive-point planar leg "
    "lengths + implied speeds via one lag window (operators.geo."
    "leg_metrics), aggregated per vehicle — top 20 by distance. ONE "
    "exchange on the vehicle key shared by every lag; the planar metric "
    "keeps the floats bit-identical across engines (geo.py docstring).",
)
def geo_leg_speed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    legs = leg_metrics(_traj(spark, sf_dir))
    return (
        legs.where(F.col("leg_m").isNotNull())
        .groupBy("vehicle_id")
        .agg(
            F.count("leg_m").alias("n_legs"),
            # exact integer-µm sum — see the oracle comment
            F.round(
                F.sum(
                    F.floor(F.col("leg_m") * 1000000.0).cast("long")
                ).cast("double")
                / 1000000.0,
                1,
            ).alias("total_m"),
            F.round(F.max("speed_ms"), 2).alias("max_speed_ms"),
        )
        .orderBy(F.desc("total_m"), "vehicle_id")
        .limit(20)
    )


# --- persisted position-lake lifecycle (VERDICT r12 #6) --------------
#
# The serve-side twin of model_queries' IVF index: positions land in a
# versioned O(delta) log (operators.geo.append_positions — the daily
# HFP-load shape; exercised in tests/test_geo.py and the streaming
# ingest test), the log is published as the cell-partitioned lake
# (materialize_position_lake_from_log); the measured entry reads ONLY
# the queried cells' partition directories.  Roots are keyed by a
# corpus stamp (the events file stamp + row count + max event id), so
# regenerated testdata gets a fresh build instead of serving a stale
# lake.

_GEO_LAKE_CPD = 20


def _ensure_position_lake(spark: SparkSession, sf_dir: str) -> str:
    events = memo.table_paths(sf_dir, "events")
    return memo.memo(
        "geo_lake",
        None,
        events,
        _GEO_LAKE_CPD,
        lambda: _build_position_lake(spark, sf_dir, memo.stamp(events)),
    )


def _build_position_lake(spark: SparkSession, sf_dir: str, stamp) -> str:
    from hfp_loader_spark.operators.geo import (
        _log_meta,
        materialize_position_lake_from_log,
        rebuild_positions,
    )
    from hfp_loader_spark.operators.similarity import read_index_manifest
    from hfp_loader_spark.versioned import _read_manifest, latest_version

    ev = _t(spark, sf_dir, "events")
    n, mx = ev.agg(F.count("*"), F.max("event_id")).collect()[0]
    # the file stat stamp joins the corpus key (not only the memo):
    # regenerated testdata with the SAME row count and max event_id but
    # different values must get a fresh root, not re-serve the old lake
    log_root = memo.index_root("geo_poslog", sf_dir, n, mx, stamp)
    lake_root = memo.index_root("geo_lake", sf_dir, n, mx, stamp)
    want = _log_meta(_GEO_LAKE_CPD, "lat", "lng")
    head = latest_version(spark, log_root)
    log_ok = False
    if head is not None:
        stamped = _read_manifest(spark, log_root, head).meta
        log_ok = {k: stamped.get(k) for k in want} == want
    if not log_ok:
        # ONE overwrite-commit (rebuild), not an append loop: concurrent
        # ensurers (bench / sharded suite / replay share this root) must
        # converge — racing overwrites of identical content are
        # idempotent, racing APPENDS would duplicate rows (the same
        # reason _ensure_ivf_tags rebuilds).  Also the self-heal for a
        # resident log stamped under an OLD generation (a changed
        # _GEO_LAKE_CPD or a retuned trajectory formula after testdata
        # regeneration).  The O(delta) append + compact lifecycle is
        # exercised by its own tests.
        head = rebuild_positions(
            spark,
            _traj(spark, sf_dir),
            log_root,
            cells_per_deg=_GEO_LAKE_CPD,
        )
    doc = read_index_manifest(spark, lake_root)
    # NO log_version staleness check here, deliberately: both roots are
    # CORPUS-KEYED, so any resident lake with the right kind+grid holds
    # exactly this corpus's rows — racing ensurers commit identical
    # content under different log versions, and re-materializing on a
    # version mismatch would make peers endlessly republish (and a
    # publish's delete-then-rename window could yank the lake from
    # under a peer's in-flight scan).  The general-purpose staleness
    # protocol (manifest log_version vs log head) is for MUTABLE logs —
    # the lifecycle tests cover it; this ensure's log is write-once per
    # corpus generation.
    if not (
        doc
        and doc.get("kind") == "geo_position_lake"
        and doc.get("cells_per_deg") == _GEO_LAKE_CPD
    ):
        try:
            materialize_position_lake_from_log(spark, log_root, lake_root)
        except IOError:
            # lost the first-build publish race to a peer ensurer —
            # accept the resident layout if it serves this grid
            doc = read_index_manifest(spark, lake_root)
            if not (
                doc
                and doc.get("kind") == "geo_position_lake"
                and doc.get("cells_per_deg") == _GEO_LAKE_CPD
            ):
                raise
    return lake_root


#: The queried region: lat [60.05, 60.15) × lng [24.55, 24.70), edges
#: ALIGNED to cell boundaries at cpd=20 so cell membership IS box
#: membership — 6 literal cells, enumerable at plan-build time.
_LAKE_BOX_CELLS = [
    lat_c * 100000 + lng_c
    for lat_c in (1201, 1202)
    for lng_c in (491, 492, 493)
]


@defquery(
    "geo_lake_cells_served",
    f"""
    WITH {_traj_cte()}
    SELECT CAST(floor(lat * 20.0) AS BIGINT) * 100000
             + CAST(floor(lng * 20.0) AS BIGINT)     AS cell,
           CAST(count(*) AS BIGINT)                  AS n_points,
           CAST(count(DISTINCT vehicle_id) AS BIGINT) AS n_vehicles,
           CAST(sum(CAST(floor(spd * 100.0) AS BIGINT)) AS BIGINT)
             AS sum_spd_cents
    FROM traj
    WHERE CAST(floor(lat * 20.0) AS BIGINT) * 100000
            + CAST(floor(lng * 20.0) AS BIGINT)
          IN ({", ".join(str(c) for c in _LAKE_BOX_CELLS)})
    GROUP BY cell
    """,
    doc="Region density SERVED FROM THE PERSISTED POSITION LAKE "
    "(r13 — closes VERDICT r12 #6): positions are committed to the "
    "versioned grid-pinned log (one idempotent rebuild here — racing "
    "ensurers across bench/suite JVMs must converge, and racing "
    "APPENDS would duplicate rows; the O(delta) append + compact + "
    "truncate lifecycle is exercised by tests/test_geo.py and the "
    "streaming ingest test) and published as the cell-PARTITIONED "
    "lake (materialize_position_lake_from_log); the measured plan "
    "reads ONLY the 6 queried cells' partition "
    "directories (static cell IN (…) partition filters — the box edges "
    "align to cell boundaries at cpd=20, so cell membership IS box "
    "membership). FULL oracle: DuckDB recomputes the same cells from "
    "the raw events — the external append≡recompute check for the "
    "whole log→compact→materialize→serve lifecycle. Speed is summed "
    "in integer cents (floor(spd*100)) so the aggregate is exact "
    "cross-engine.",
)
def geo_lake_cells_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.geo import read_position_lake

    lake_root = _ensure_position_lake(spark, sf_dir)
    lake = read_position_lake(
        spark, lake_root, expect_cells_per_deg=_GEO_LAKE_CPD
    )
    return (
        lake.where(F.col("cell").isin(_LAKE_BOX_CELLS))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_points"),
            F.count_distinct("vehicle_id").alias("n_vehicles"),
            F.sum(F.floor(F.col("spd") * 100.0).cast("long")).alias(
                "sum_spd_cents"
            ),
        )
    )


@defquery(
    "geo_grid_density",
    f"""
    WITH {_traj_cte()}
    SELECT {_cell_sql("lat", "lng")} AS cell,
           CAST(count(*) AS BIGINT)                  AS n_points,
           CAST(count(DISTINCT vehicle_id) AS BIGINT) AS n_vehicles,
           {_AVG_SPD_SQL} AS avg_spd
    FROM traj
    GROUP BY cell
    ORDER BY n_points DESC, cell LIMIT 25
    """,
    doc="Spatial density: integer grid-cell binning (operators.geo."
    "grid_cell — multiply+floor, exact in doubles, engine-agnostic) with "
    "per-cell point/vehicle counts and mean speed. Map-side-combinable "
    "aggregate; the cell id is the natural partition key for a 100 TB "
    "position lake (and composes with the z-order layout entry).",
)
def geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _traj(spark, sf_dir)
    return (
        tr.groupBy(grid_cell(F.col("lat"), F.col("lng")).alias("cell"))
        .agg(
            F.count("*").alias("n_points"),
            F.count_distinct("vehicle_id").alias("n_vehicles"),
            _avg_spd_col().alias("avg_spd"),
        )
        .orderBy(F.desc("n_points"), "cell")
        .limit(25)
    )


@defquery(
    "geo_stop_dwell",
    f"""
    WITH {_traj_cte()},
    flagged AS (
      SELECT vehicle_id, rn, t_us,
             row_number() OVER (PARTITION BY vehicle_id ORDER BY rn) AS k
      FROM traj WHERE spd < 2.0
    ),
    epi AS (
      SELECT vehicle_id, max(t_us) - min(t_us) AS dwell_us
      FROM flagged
      GROUP BY vehicle_id, rn - k
      HAVING count(*) >= 3
    )
    SELECT vehicle_id,
           CAST(count(*) AS BIGINT)   AS n_stops,
           round(CAST(sum(dwell_us) AS DOUBLE) / 1000000.0, 1)
                                      AS total_dwell_s,
           round(CAST(max(dwell_us) AS DOUBLE) / 1000000.0, 1)
                                      AS max_dwell_s
    FROM epi GROUP BY vehicle_id
    ORDER BY n_stops DESC, total_dwell_s DESC, vehicle_id LIMIT 20
    """,
    doc="Stop/dwell detection: gaps-and-islands over the stopped "
    "predicate (spd < 2 m/s, ≥3 consecutive points — operators.geo."
    "stop_episodes), then per-vehicle dwell stats. The island key is "
    "order−rank, so detection + aggregation share ONE vehicle-key "
    "exchange at any scale.",
)
def geo_stop_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _traj(spark, sf_dir)
    epi = stop_episodes(tr, F.col("spd") < 2.0, min_points=3)
    return (
        epi.groupBy("vehicle_id")
        .agg(
            F.count("*").alias("n_stops"),
            # sum the exact integer µs, divide ONCE — a float-seconds
            # sum is summation-order-dependent across engines
            F.round(
                F.sum("dwell_us").cast("double") / 1000000.0, 1
            ).alias("total_dwell_s"),
            F.round(
                F.max("dwell_us").cast("double") / 1000000.0, 1
            ).alias("max_dwell_s"),
        )
        .orderBy(F.desc("n_stops"), F.desc("total_dwell_s"), "vehicle_id")
        .limit(20)
    )


@defquery(
    "geo_od_matrix",
    f"""
    WITH {_traj_cte()},
    lagged AS (
      SELECT vehicle_id, rn, t_us, lat, lng,
             lag(t_us) OVER (PARTITION BY vehicle_id ORDER BY rn) AS pt
      FROM traj
    ),
    tr AS (
      SELECT vehicle_id, rn,
             {_cell_sql("lat", "lng")} AS cell,
             CAST(sum(CASE WHEN pt IS NULL OR t_us - pt > 43200000000
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY vehicle_id ORDER BY rn) AS BIGINT)
               AS trip_id
      FROM lagged
    ),
    ends AS (
      SELECT vehicle_id, trip_id,
             min_by(cell, rn) AS origin_cell,
             max_by(cell, rn) AS dest_cell
      FROM tr GROUP BY vehicle_id, trip_id
    )
    SELECT origin_cell, dest_cell, CAST(count(*) AS BIGINT) AS n_trips
    FROM ends GROUP BY origin_cell, dest_cell
    ORDER BY n_trips DESC, origin_cell, dest_cell LIMIT 20
    """,
    doc="Origin-destination flow matrix: trip segmentation at >12 h "
    "gaps (operators.geo.trips_by_gap — lag+cumsum islands), then "
    "first/last grid cell per trip via min_by/max_by (map-side-"
    "combinable, NO window over the point stream) and flow counts. "
    "Top 20 flows.",
)
def geo_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = trips_by_gap(_traj(spark, sf_dir), gap_seconds=43200)
    flows = od_flows(tr, grid_cell(F.col("lat"), F.col("lng")))
    return flows.orderBy(
        F.desc("n_trips"), "origin_cell", "dest_cell"
    ).limit(20)


@defquery(
    "geo_resample_6h",
    f"""
    WITH {_traj_cte()},
    rs AS (
      SELECT vehicle_id, t_us // 21600000000 AS bucket,
             min_by(spd, rn) AS spd, count(*) AS n_raw
      FROM traj GROUP BY vehicle_id, bucket
    )
    SELECT vehicle_id,
           CAST(count(*) AS BIGINT)    AS n_buckets,
           CAST(sum(n_raw) AS BIGINT)  AS n_raw_points,
           {_AVG_SPD_SQL} AS avg_first_spd
    FROM rs GROUP BY vehicle_id
    ORDER BY n_buckets DESC, vehicle_id LIMIT 20
    """,
    doc="Trajectory resampling: FIRST point per (vehicle, 6 h bucket) "
    "via min_by(struct, order) — a map-side-combinable aggregate that "
    "thins partitions BEFORE the shuffle (operators.geo."
    "resample_first_per_bucket), vs row_number-then-filter which "
    "shuffles every raw point. Bucketing is integer division (double-"
    "divide + cast ROUNDS in DuckDB but TRUNCATES in Spark — avoided).",
)
def geo_resample_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    rs = resample_first_per_bucket(
        _traj(spark, sf_dir), bucket_us=21_600_000_000
    )
    return (
        rs.groupBy("vehicle_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("n_raw").cast("long").alias("n_raw_points"),
            _avg_spd_col().alias("avg_first_spd"),
        )
        .orderBy(F.desc("n_buckets"), "vehicle_id")
        .limit(20)
    )


@defquery(
    "geo_headway_per_cell",
    f"""
    WITH {_traj_cte()},
    arr AS (
      SELECT CAST(floor(lat * 20.0) AS BIGINT) * 100000
               + CAST(floor(lng * 20.0) AS BIGINT) AS cell,
             vehicle_id, min(t_us) AS arr_us
      FROM traj GROUP BY cell, vehicle_id
    ),
    hw AS (
      SELECT cell,
             arr_us - lag(arr_us)
                  OVER (PARTITION BY cell ORDER BY arr_us, vehicle_id)
               AS headway_us
      FROM arr
    )
    SELECT cell,
           CAST(count(*) AS BIGINT)  AS n_headways,
           round((CAST(sum(headway_us) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)) / 1000000.0, 1)
                                     AS avg_headway_s,
           round(CAST(min(headway_us) AS DOUBLE) / 1000000.0, 1)
                                     AS min_headway_s
    FROM hw WHERE headway_us IS NOT NULL
    GROUP BY cell HAVING count(*) >= 1
    ORDER BY n_headways DESC, cell LIMIT 20
    """,
    doc="Service headways: first arrival per (cell, vehicle) — map-side "
    "min aggregate — then gaps between consecutive distinct-vehicle "
    "arrivals per cell (operators.geo.headways_at_cells). The window "
    "runs over the arrival frame (bounded by fleet size per cell), "
    "never the raw point stream. Coarser 0.05° cells (~5.6 km × 2.8 km) "
    "so multiple vehicles genuinely share a cell at gate scale.",
)
def geo_headway_per_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    hw = headways_at_cells(
        _traj(spark, sf_dir),
        grid_cell(F.col("lat"), F.col("lng"), cells_per_deg=20),
    )
    return (
        hw.groupBy("cell")
        .agg(
            F.count("*").alias("n_headways"),
            # exact integer-µs mean (see _AVG_SPD_SQL rationale)
            F.round(
                (
                    F.sum("headway_us").cast("double")
                    / F.count("*").cast("double")
                )
                / 1000000.0,
                1,
            ).alias("avg_headway_s"),
            F.round(
                F.min("headway_us").cast("double") / 1000000.0, 1
            ).alias("min_headway_s"),
        )
        .where(F.col("n_headways") >= 1)
        .orderBy(F.desc("n_headways"), "cell")
        .limit(20)
    )


@defquery(
    "geo_nearest_stop_assign",
    f"""
    WITH {_traj_cte()},
    cells AS (
      SELECT {_cell_sql("lat", "lng")} AS cell, lat, lng FROM traj
    ),
    stops AS (
      SELECT cell AS stop_id,
             round((CAST(sum(CAST(floor(lat * 1000000.0) AS BIGINT))
                    AS DOUBLE) / CAST(count(*) AS DOUBLE))
                   / 1000000.0, 5) AS stop_lat,
             round((CAST(sum(CAST(floor(lng * 1000000.0) AS BIGINT))
                    AS DOUBLE) / CAST(count(*) AS DOUBLE))
                   / 1000000.0, 5) AS stop_lng,
             count(*) AS n
      FROM cells GROUP BY cell
      ORDER BY n DESC, cell LIMIT 10
    ),
    scored AS (
      SELECT t.event_id, s.stop_id,
             {_dist_sql("t.lat", "t.lng", "s.stop_lat", "s.stop_lng")}
               AS dist_m
      FROM traj t CROSS JOIN stops s
    ),
    ranked AS (
      SELECT event_id, stop_id, dist_m,
             row_number() OVER (PARTITION BY event_id
                                ORDER BY dist_m, stop_id) AS rk
      FROM scored
    )
    SELECT stop_id,
           CAST(count(*) AS BIGINT) AS n_points,
           round(avg(dist_m), 2)    AS avg_dist_m
    FROM ranked WHERE rk = 1
    GROUP BY stop_id ORDER BY stop_id
    """,
    doc="Nearest-stop assignment: derive the 10 densest cells as stop "
    "locations (centroids rounded to 5 dp on both engines), then assign "
    "every point to its nearest stop via a BROADCAST argmin join "
    "(operators.geo.nearest_assign — min(struct(dist, stop)) reduces "
    "map-side; no shuffle of the point stream). Distances use only "
    "correctly-rounded IEEE ops, so the argmin itself needs no rounding "
    "to agree across engines.",
)
def geo_nearest_stop_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _traj(spark, sf_dir)
    stops = (
        tr.groupBy(grid_cell(F.col("lat"), F.col("lng")).alias("cell"))
        .agg(
            # centroid of µdeg-FLOORED coords: the integer sum is exact,
            # so the rounded centroid can never boundary-flip between
            # engines the way a float AVG can (see _AVG_SPD_SQL)
            F.round(
                (
                    F.sum(
                        F.floor(F.col("lat") * 1000000.0).cast("long")
                    ).cast("double")
                    / F.count("*").cast("double")
                )
                / 1000000.0,
                5,
            ).alias("stop_lat"),
            F.round(
                (
                    F.sum(
                        F.floor(F.col("lng") * 1000000.0).cast("long")
                    ).cast("double")
                    / F.count("*").cast("double")
                )
                / 1000000.0,
                5,
            ).alias("stop_lng"),
            F.count("*").alias("n"),
        )
        .orderBy(F.desc("n"), "cell")
        .limit(10)
        .select(
            F.col("cell").alias("stop_id"), "stop_lat", "stop_lng"
        )
    )
    assigned = nearest_assign(
        tr.select("event_id", "lat", "lng"), stops
    )
    return (
        assigned.groupBy("stop_id")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.avg("dist_m"), 2).alias("avg_dist_m"),
        )
        .orderBy("stop_id")
    )


@defquery(
    "geo_dq_speed_violations",
    f"""
    WITH {_traj_cte()},
    legs AS (
      SELECT vehicle_id, spd,
             {_LEG_SQL} AS leg_m,
             CAST(t_us - lag(t_us) OVER w AS DOUBLE) / 1000000.0 AS dt_s
      FROM traj
      WINDOW w AS (PARTITION BY vehicle_id ORDER BY rn)
    ),
    checked AS (
      SELECT vehicle_id,
             CASE WHEN dt_s > 0 THEN leg_m / dt_s END AS inferred,
             spd
      FROM legs WHERE leg_m IS NOT NULL
    )
    SELECT vehicle_id,
           CAST(count(*) AS BIGINT) AS n_legs,
           CAST(count(*) FILTER (WHERE inferred IS NOT NULL
                 AND abs(spd - inferred) > 25.0) AS BIGINT) AS n_violations,
           round(CAST(count(*) FILTER (WHERE inferred IS NOT NULL
                 AND abs(spd - inferred) > 25.0) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 4) AS violation_rate
    FROM checked GROUP BY vehicle_id
    HAVING count(*) FILTER (WHERE inferred IS NOT NULL
                 AND abs(spd - inferred) > 25.0) > 0
    ORDER BY violation_rate DESC, vehicle_id LIMIT 20
    """,
    doc="Telemetry consistency audit: the reported speed channel vs the "
    "speed implied by consecutive positions (operators.geo.leg_metrics) "
    "— the odometer/GPS cross-check every fleet QA pipeline runs. "
    "Flags legs where the two disagree by > 25 m/s; per-vehicle "
    "violation rates, worst first. Same single vehicle-key exchange as "
    "the leg profile.",
)
def geo_dq_speed_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    legs = leg_metrics(_traj(spark, sf_dir)).where(
        F.col("leg_m").isNotNull()
    )
    viol = F.col("speed_ms").isNotNull() & (
        F.abs(F.col("spd") - F.col("speed_ms")) > 25.0
    )
    out = (
        legs.groupBy("vehicle_id")
        .agg(
            F.count("*").alias("n_legs"),
            F.sum(viol.cast("long")).alias("n_violations"),
            F.round(
                F.sum(viol.cast("long")).cast("double")
                / F.count("*").cast("double"),
                4,
            ).alias("violation_rate"),
        )
        .where(F.col("n_violations") > 0)
    )
    return out.orderBy(F.desc("violation_rate"), "vehicle_id").limit(20)


@defquery(
    "geo_grid_rollup_multires",
    f"""
    WITH {_traj_cte()},
    cells AS (
      SELECT CAST(floor(lat * 20.0) AS BIGINT) * 100000
               + CAST(floor(lng * 20.0) AS BIGINT) AS coarse_cell,
             {_cell_sql("lat", "lng")} AS fine_cell,
             spd
      FROM traj
    )
    SELECT coalesce(coarse_cell, -1) AS coarse_cell,
           coalesce(fine_cell, -1)   AS fine_cell,
           CAST(count(*) AS BIGINT)  AS n_points,
           {_AVG_SPD_SQL} AS avg_spd
    FROM cells
    GROUP BY ROLLUP (coarse_cell, fine_cell)
    ORDER BY n_points DESC, coarse_cell, fine_cell LIMIT 25
    """,
    doc="Multi-resolution spatial rollup: point counts + mean speed at "
    "fine cells (0.005°), coarse cells (0.05°), and the grand total in "
    "ONE pass via ROLLUP — Spark expands the grouping sets before a "
    "single shuffle instead of running three aggregates (the "
    "hierarchical-tile pyramid every map-density service pre-computes).",
)
def geo_grid_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _traj(spark, sf_dir)
    cells = tr.select(
        grid_cell(F.col("lat"), F.col("lng"), cells_per_deg=20).alias(
            "coarse_cell"
        ),
        grid_cell(F.col("lat"), F.col("lng")).alias("fine_cell"),
        "spd",
    )
    return (
        cells.rollup("coarse_cell", "fine_cell")
        .agg(
            F.count("*").alias("n_points"),
            _avg_spd_col().alias("avg_spd"),
        )
        .select(
            F.coalesce(F.col("coarse_cell"), F.lit(-1)).alias("coarse_cell"),
            F.coalesce(F.col("fine_cell"), F.lit(-1)).alias("fine_cell"),
            "n_points",
            "avg_spd",
        )
        .orderBy(F.desc("n_points"), "coarse_cell", "fine_cell")
        .limit(25)
    )


@defquery(
    "geo_speed_by_hour",
    f"""
    WITH {_traj_cte()}
    SELECT CAST((t_us // 3600000000) % 24 AS BIGINT) AS hour_utc,
           CAST(count(*) AS BIGINT)            AS n_points,
           round(quantile_cont(spd, 0.5), 3)   AS p50_spd,
           round(quantile_cont(spd, 0.9), 3)   AS p90_spd
    FROM traj
    GROUP BY hour_utc
    ORDER BY hour_utc
    """,
    doc="Hour-of-day speed percentiles across the fleet: exact "
    "interpolated p50/p90 per UTC hour (Spark percentile ≡ DuckDB "
    "quantile_cont). Hour comes from integer epoch division — no "
    "timestamp formatting in the group key, so it pushes into one "
    "24-group aggregate; at 100 TB swap in approx_percentile the same "
    "way agg_percentiles documents.",
)
def geo_speed_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _traj(spark, sf_dir)
    hour = F.expr("(t_us div 3600000000) % 24").cast("long")
    return (
        tr.groupBy(hour.alias("hour_utc"))
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.percentile("spd", 0.5), 3).alias("p50_spd"),
            F.round(F.percentile("spd", 0.9), 3).alias("p90_spd"),
        )
        .orderBy("hour_utc")
    )


#: Geofences for the containment entry: strictly convex CCW rings in
#: integer microdegrees over the synthetic box (lat 60.0–60.21,
#: lng 24.5–24.81).  Vertices as (lng_e6, lat_e6).
_FENCES: dict[int, list[tuple[int, int]]] = {
    1: [  # triangle across the west half
        (24_500_000, 60_000_000),
        (24_900_000, 60_100_000),
        (24_500_000, 60_200_000),
    ],
    2: [  # central box
        (24_600_000, 60_050_000),
        (24_750_000, 60_050_000),
        (24_750_000, 60_150_000),
        (24_600_000, 60_150_000),
    ],
}

#: Integer-microdegree quantization — floor, never round: DuckDB CAST
#: of a double ROUNDS while Spark TRUNCATES, so the only engine-safe
#: path is floor (exact for these magnitudes) then cast.
_E6_SQL = "CAST(floor({c} * 1000000.0) AS BIGINT)"


def _fences_union_sql() -> str:
    from hfp_loader_spark.operators.geo import fence_cond_sql

    parts = []
    for fid, poly in sorted(_FENCES.items()):
        cond = fence_cond_sql(poly, "x_e6", "y_e6")
        parts.append(
            f"SELECT {fid} AS fence_id, vehicle_id, spd FROM pts_e6 "
            f"WHERE {cond}"
        )
    return " UNION ALL ".join(parts)


@defquery(
    "geo_geofence_counts",
    f"""
    WITH {_traj_cte()},
    pts_e6 AS (
      SELECT vehicle_id, spd,
             {_E6_SQL.format(c="lng")} AS x_e6,
             {_E6_SQL.format(c="lat")} AS y_e6
      FROM traj
    ),
    hits AS ({_fences_union_sql()})
    SELECT fence_id,
           CAST(count(*) AS BIGINT)                   AS n_points,
           CAST(count(DISTINCT vehicle_id) AS BIGINT) AS n_vehicles,
           {_AVG_SPD_SQL} AS avg_spd
    FROM hits GROUP BY fence_id ORDER BY fence_id
    """,
    doc="Geofence containment: exact int64 cross-product "
    "point-in-convex-polygon (operators.geo.point_in_convex_polygon — "
    "no floats, no epsilon, so containment SIGNS are bit-identical "
    "across engines where float geometry flips near boundaries) over "
    "integer-microdegree coordinates (floor-quantized: DuckDB double→"
    "int CAST rounds, Spark truncates — floor is the only shared "
    "semantics). One scan, fences unrolled in-row; at 100 TB the "
    "predicate is a row-local filter pushable next to the cell prune.",
)
def geo_geofence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.geo import point_in_convex_polygon

    tr = _traj(spark, sf_dir)
    x = F.expr(_E6_SQL.format(c="lng"))
    y = F.expr(_E6_SQL.format(c="lat"))
    pts = tr.select(
        "vehicle_id", "spd", x.alias("x_e6"), y.alias("y_e6")
    )
    hit_structs = F.array(
        *[
            F.struct(
                F.lit(fid).alias("fence_id"),
                point_in_convex_polygon(
                    F.col("x_e6"), F.col("y_e6"), poly
                ).alias("inside"),
            )
            for fid, poly in sorted(_FENCES.items())
        ]
    )
    hits = (
        pts.select("vehicle_id", "spd", F.explode(hit_structs).alias("f"))
        .where(F.col("f.inside"))
        .select(F.col("f.fence_id").alias("fence_id"), "vehicle_id", "spd")
    )
    return (
        hits.groupBy("fence_id")
        .agg(
            F.count("*").alias("n_points"),
            F.count_distinct("vehicle_id").alias("n_vehicles"),
            _avg_spd_col().alias("avg_spd"),
        )
        .orderBy("fence_id")
    )


#: rn-free position synth for the STREAMING entry: row_number over the
#: whole stream is not a streaming-expressible op, so the live-state
#: view uses base + per-event jitter only (same hash arithmetic, no
#: sequence-drift term).  Shared verbatim by both engines.
_SLAT_T = (
    "60.0 + CAST((vehicle_id * 7919) % 200 AS DOUBLE) / 1000.0"
    " + CAST(((event_id % 1000003) * 2654435761) % 41 - 20 AS DOUBLE) / 1000000.0"
)
_SLNG_T = (
    "24.5 + CAST((vehicle_id * 104729) % 300 AS DOUBLE) / 1000.0"
    " + CAST(((event_id % 1000003) * 1099087573) % 41 - 20 AS DOUBLE) / 1000000.0"
)


@defquery(
    "streaming_geo_latest_positions",
    f"""
    WITH pos AS (
      SELECT user_id AS vehicle_id, event_id, epoch_us(ts) AS t_us,
             {_SLAT_T} AS lat,
             {_SLNG_T} AS lng
      FROM events
    ),
    ranked AS (
      SELECT vehicle_id, t_us, lat, lng,
             row_number() OVER (PARTITION BY vehicle_id
                                ORDER BY t_us DESC, event_id DESC) AS rk
      FROM pos
    )
    SELECT vehicle_id,
           t_us AS last_t_us,
           lat  AS last_lat,
           lng  AS last_lng
    FROM ranked WHERE rk = 1
    """,
    doc="GENUINE streaming execution of the live fleet-state view: "
    "readStream(events) → position projection → complete-mode "
    "max(struct(t_us, event_id, lat, lng)) per vehicle → availableNow. "
    "The canonical 'where is every vehicle right now' dashboard query; "
    "state is exactly ONE row per vehicle (bounded by fleet size, not "
    "stream length — the 100 TB-ingest memory bound), and the final "
    "state must equal the batch argmax, which the oracle states as a "
    "row_number window.",
)
def streaming_geo_latest_positions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hfp_loader_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, sf_dir)
    pos = stream.select(
        F.col("user_id").alias("vehicle_id"),
        "event_id",
        F.unix_micros("ts").alias("t_us"),
    ).select(
        "vehicle_id",
        "event_id",
        "t_us",
        F.expr(_SLAT_T).alias("lat"),
        F.expr(_SLNG_T).alias("lng"),
    )
    latest = pos.groupBy("vehicle_id").agg(
        F.max(
            F.struct(
                F.col("t_us").alias("t_us"),
                F.col("event_id").alias("event_id"),
                F.col("lat").alias("lat"),
                F.col("lng").alias("lng"),
            )
        ).alias("_m")
    )
    out = run_available_now(latest, output_mode="complete")
    return out.select(
        "vehicle_id",
        F.col("_m.t_us").alias("last_t_us"),
        F.col("_m.lat").alias("last_lat"),
        F.col("_m.lng").alias("last_lng"),
    )


@defquery(
    "geo_close_contacts",
    f"""
    WITH {_traj_cte()},
    tb AS (
      SELECT vehicle_id, t_us, lat, lng,
             t_us // 86400000000 AS bucket
      FROM traj
    ),
    contacts AS (
      SELECT a.vehicle_id AS vehicle_a, b.vehicle_id AS vehicle_b,
             {_dist_sql("a.lat", "a.lng", "b.lat", "b.lng")} AS dist_m
      FROM tb a JOIN tb b
        ON a.bucket = b.bucket AND a.vehicle_id < b.vehicle_id
      WHERE {_dist_sql("a.lat", "a.lng", "b.lat", "b.lng")} < 1000.0
    )
    SELECT vehicle_a, vehicle_b,
           CAST(count(*) AS BIGINT) AS n_contacts,
           round(min(dist_m), 1)    AS min_dist_m
    FROM contacts GROUP BY vehicle_a, vehicle_b
    ORDER BY n_contacts DESC, vehicle_a, vehicle_b LIMIT 20
    """,
    doc="Close-contact detection: all vehicle pairs with points < 1 km "
    "apart in the same day bucket, found by the NEIGHBOR-CELL BLOCKED "
    "spatial self-join (operators.geo.proximity_pairs — bin to (bucket, "
    "cell), explode one side to its 3x3 neighbors, equi-join, exact "
    "refine; recall-exact because the cell is validated >= radius in "
    "both axes). The oracle states the O(n^2) all-pairs definition the "
    "blocking provably equals — at 100 TB the engine runs ONE "
    "density-bounded equi-join where the oracle's cross product is "
    "impossible.",
)
def geo_close_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.geo import proximity_pairs

    contacts = proximity_pairs(
        _traj(spark, sf_dir),
        radius_m=1000.0,
        bucket_us=86_400_000_000,
        cells_per_deg=50,
    )
    return (
        contacts.groupBy("vehicle_a", "vehicle_b")
        .agg(
            F.count("*").alias("n_contacts"),
            F.round(F.min("dist_m"), 1).alias("min_dist_m"),
        )
        .orderBy(F.desc("n_contacts"), "vehicle_a", "vehicle_b")
        .limit(20)
    )


@defquery(
    "geo_trip_summaries",
    f"""
    WITH {_traj_cte()},
    lagged AS (
      SELECT vehicle_id, rn, t_us, lat, lng, spd,
             lag(t_us) OVER (PARTITION BY vehicle_id ORDER BY rn) AS pt
      FROM traj
    ),
    tr AS (
      SELECT vehicle_id, rn, t_us, lat, lng, spd,
             CAST(sum(CASE WHEN pt IS NULL OR t_us - pt > 43200000000
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY vehicle_id ORDER BY rn) AS BIGINT)
               AS trip_id
      FROM lagged
    ),
    legs AS (
      SELECT vehicle_id, trip_id, rn, t_us, spd,
             {_cell_sql("lat", "lng")} AS cell,
             {_dist_sql("lat", "lng",
                        "lag(lat) OVER wt", "lag(lng) OVER wt")} AS leg_m
      FROM tr
      WINDOW wt AS (PARTITION BY vehicle_id, trip_id ORDER BY rn)
    )
    SELECT vehicle_id, trip_id,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(max(t_us) - min(t_us) AS DOUBLE) / 1000000.0
                                    AS duration_s,
           -- integer-µm sum: total_m is the ORDER BY key (see
           -- geo_leg_speed_profile's comment)
           round(CAST(coalesce(sum(CAST(floor(leg_m * 1000000.0)
                                        AS BIGINT)), 0)
                      AS DOUBLE) / 1000000.0, 1) AS total_m,
           min_by(cell, rn)         AS origin_cell,
           max_by(cell, rn)         AS dest_cell,
           {_AVG_SPD_SQL} AS avg_spd
    FROM legs GROUP BY vehicle_id, trip_id
    ORDER BY total_m DESC, vehicle_id, trip_id LIMIT 20
    """,
    doc="The trip-summary gold table — the tier's capstone composition: "
    "gap segmentation (operators.geo.trips_by_gap) → within-trip legs "
    "(leg_metrics with the composite (vehicle, trip) key, so legs never "
    "span a trip boundary) → per-trip distance, duration, O-D cells "
    "(min_by/max_by), mean speed. The trip key is vehicle-local, so the "
    "gap window, the leg window, and the final aggregate all share ONE "
    "vehicle-key exchange.",
)
def geo_trip_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = trips_by_gap(_traj(spark, sf_dir), gap_seconds=43200)
    legs = leg_metrics(tr, vehicle_col=["vehicle_id", "trip_id"])
    legs = legs.withColumn(
        "cell", grid_cell(F.col("lat"), F.col("lng"))
    )
    return (
        legs.groupBy("vehicle_id", "trip_id")
        .agg(
            F.count("*").alias("n_points"),
            (
                (F.max("t_us") - F.min("t_us")).cast("double")
                / F.lit(1000000.0)
            ).alias("duration_s"),
            # exact integer-µm sum — see geo_leg_speed_profile
            F.round(
                F.coalesce(
                    F.sum(
                        F.floor(F.col("leg_m") * 1000000.0).cast("long")
                    ),
                    F.lit(0).cast("long"),
                ).cast("double")
                / 1000000.0,
                1,
            ).alias("total_m"),
            F.min_by("cell", "rn").alias("origin_cell"),
            F.max_by("cell", "rn").alias("dest_cell"),
            _avg_spd_col().alias("avg_spd"),
        )
        .orderBy(F.desc("total_m"), "vehicle_id", "trip_id")
        .limit(20)
    )


_CELL_PR_ITER = 5
_CELL_PR_DAMP = 0.85


def _cell_pagerank_oracle() -> str:
    """Power iteration unrolled into chained CTEs over the cell-
    transition graph — the same oracle pattern as
    graph_pagerank_cust_supp (incremental_queries._pagerank_oracle),
    with the trajectory-derived edge list in front."""
    cell20 = (
        "CAST(floor(lat * 20.0) AS BIGINT) * 100000"
        " + CAST(floor(lng * 20.0) AS BIGINT)"
    )
    parts = [
        f"WITH {_traj_cte()},",
        f"cells AS (SELECT vehicle_id, rn, {cell20} AS cell FROM traj),",
        "trans AS (SELECT cell, lag(cell) OVER (PARTITION BY vehicle_id"
        " ORDER BY rn) AS prev FROM cells),",
        "edges AS (SELECT DISTINCT prev AS src, cell AS dst FROM trans"
        " WHERE prev IS NOT NULL AND prev <> cell),",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        "meta AS (SELECT count(*) AS n FROM nodes),",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),",
        "pr0 AS (SELECT node, 1.0 / (SELECT n FROM meta) AS rank FROM nodes)",
    ]
    for i in range(1, _CELL_PR_ITER + 1):
        parts.append(
            f""", pr{i} AS (
  SELECT n.node,
         (1 - {_CELL_PR_DAMP}) / (SELECT n FROM meta)
           + {_CELL_PR_DAMP} * coalesce(s.c, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank / o.deg) AS c
    FROM edges e
      JOIN pr{i - 1} p ON e.src = p.node
      JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst) s ON n.node = s.node)"""
        )
    parts.append(
        f"SELECT node, round(rank, 9) AS rank FROM pr{_CELL_PR_ITER}"
    )
    return "\n".join(parts)


@defquery(
    "geo_cell_pagerank",
    _cell_pagerank_oracle(),
    doc="Road-segment importance: 5-iteration PageRank (operators.graph."
    "pagerank) over the CELL-TRANSITION graph mined from trajectories "
    "(distinct consecutive coarse-cell pairs per vehicle — one lag "
    "window on the shared vehicle-key exchange, then DISTINCT). The "
    "cross-tier composition: trajectory operators feed the iterative "
    "graph tier, which gathers the edges into one row of array state "
    "(operators.graph.pagerank_state) so each of the 5 rounds is a "
    "projection of that row. Oracle: the power iteration unrolled into "
    "5 chained CTEs behind the trajectory/edge derivation.",
)
def geo_cell_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.graph import pagerank, pagerank_state

    tr = _traj(spark, sf_dir)
    w = Window.partitionBy("vehicle_id").orderBy("rn")
    cells = tr.select(
        "vehicle_id",
        "rn",
        grid_cell(F.col("lat"), F.col("lng"), cells_per_deg=20).alias(
            "cell"
        ),
    )
    trans = cells.select(
        F.col("cell"), F.lag("cell").over(w).alias("prev")
    )
    edges = (
        trans.where(
            F.col("prev").isNotNull() & (F.col("prev") != F.col("cell"))
        )
        .select(F.col("prev").alias("src"), F.col("cell").alias("dst"))
        .distinct()
    )
    ranks = pagerank(
        pagerank_state(edges), n_iter=_CELL_PR_ITER, damping=_CELL_PR_DAMP
    )
    return ranks.select(
        F.col("id").alias("node"), F.round("rank", 9).alias("rank")
    )


@defquery(
    "geo_geofence_crossings",
    f"""
    WITH {_traj_cte()},
    pts_e6 AS (
      SELECT vehicle_id, rn,
             {_E6_SQL.format(c="lng")} AS x_e6,
             {_E6_SQL.format(c="lat")} AS y_e6
      FROM traj
    ),
    flagged AS (
      SELECT vehicle_id, rn,
             {_fence_cond_sql(_FENCES[2], 'x_e6', 'y_e6')} AS inside
      FROM pts_e6
    ),
    trans AS (
      SELECT vehicle_id, inside,
             lag(inside) OVER (PARTITION BY vehicle_id ORDER BY rn)
               AS prev
      FROM flagged
    )
    SELECT vehicle_id,
           CAST(count(*) FILTER (WHERE prev IS NOT NULL
                AND NOT prev AND inside) AS BIGINT) AS n_enters,
           CAST(count(*) FILTER (WHERE prev IS NOT NULL
                AND prev AND NOT inside) AS BIGINT) AS n_exits
    FROM trans GROUP BY vehicle_id
    HAVING count(*) FILTER (WHERE prev IS NOT NULL
                AND prev <> inside) > 0
    ORDER BY n_enters + n_exits DESC, vehicle_id LIMIT 20
    """,
    doc="Geofence ENTER/EXIT event detection: the exact int64 "
    "containment predicate (operators.geo.point_in_convex_polygon) "
    "lagged per vehicle — a crossing is a flag transition, so the "
    "whole detector is the containment scan filter + one lag on the "
    "shared vehicle-key exchange. The event-detection half of "
    "geo_geofence_counts (which counts residency).",
)
def geo_geofence_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.geo import point_in_convex_polygon

    tr = _traj(spark, sf_dir)
    pts = tr.select(
        "vehicle_id",
        "rn",
        F.expr(_E6_SQL.format(c="lng")).alias("x_e6"),
        F.expr(_E6_SQL.format(c="lat")).alias("y_e6"),
    )
    flagged = pts.select(
        "vehicle_id",
        "rn",
        point_in_convex_polygon(
            F.col("x_e6"), F.col("y_e6"), _FENCES[2]
        ).alias("inside"),
    )
    w = Window.partitionBy("vehicle_id").orderBy("rn")
    trans = flagged.select(
        "vehicle_id", "inside", F.lag("inside").over(w).alias("prev")
    )
    enter = (
        F.col("prev").isNotNull() & ~F.col("prev") & F.col("inside")
    ).cast("long")
    exit_ = (
        F.col("prev").isNotNull() & F.col("prev") & ~F.col("inside")
    ).cast("long")
    out = (
        trans.groupBy("vehicle_id")
        .agg(
            F.sum(enter).alias("n_enters"),
            F.sum(exit_).alias("n_exits"),
        )
        .where((F.col("n_enters") + F.col("n_exits")) > 0)
    )
    return out.orderBy(
        F.desc(F.col("n_enters") + F.col("n_exits")), "vehicle_id"
    ).limit(20)


@defquery(
    "geo_heading_octants",
    f"""
    WITH {_traj_cte()},
    legs AS (
      SELECT vehicle_id,
             lat - lag(lat) OVER w AS dlat,
             0.5 * (lng - lag(lng) OVER w) AS dlng
      FROM traj
      WINDOW w AS (PARTITION BY vehicle_id ORDER BY rn)
    )
    SELECT CASE
             WHEN abs(dlat) > 2.0 * abs(dlng)
               THEN CASE WHEN dlat >= 0.0 THEN 'N' ELSE 'S' END
             WHEN abs(dlng) > 2.0 * abs(dlat)
               THEN CASE WHEN dlng >= 0.0 THEN 'E' ELSE 'W' END
             ELSE CASE WHEN dlat >= 0.0 THEN 'N' ELSE 'S' END
                  || CASE WHEN dlng >= 0.0 THEN 'E' ELSE 'W' END
           END AS octant,
           CAST(count(*) AS BIGINT)                   AS n_legs,
           CAST(count(DISTINCT vehicle_id) AS BIGINT) AS n_vehicles
    FROM legs WHERE dlat IS NOT NULL AND NOT (dlat = 0.0 AND dlng = 0.0)
    GROUP BY octant ORDER BY octant
    """,
    doc="Travel-direction distribution as an 8-way compass WITHOUT "
    "atan2 (libm trig is not correctly rounded, so a bearing angle "
    "could flip octants between engines): the octant is decided by "
    "exact sign tests and |dlat| vs 2·|dlng| magnitude comparisons on "
    "bit-identical metric deltas — cardinal when one axis dominates "
    "2:1, intercardinal otherwise. One lag window on the shared "
    "vehicle-key exchange, then an 8-group aggregate.",
)
def geo_heading_octants(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = _traj(spark, sf_dir)
    w = Window.partitionBy("vehicle_id").orderBy("rn")
    legs = tr.select(
        "vehicle_id",
        (F.col("lat") - F.lag("lat").over(w)).alias("dlat"),
        (F.lit(0.5) * (F.col("lng") - F.lag("lng").over(w))).alias(
            "dlng"
        ),
    )
    ns = F.when(F.col("dlat") >= 0.0, "N").otherwise("S")
    ew = F.when(F.col("dlng") >= 0.0, "E").otherwise("W")
    octant = (
        F.when(F.abs("dlat") > 2.0 * F.abs("dlng"), ns)
        .when(F.abs("dlng") > 2.0 * F.abs("dlat"), ew)
        .otherwise(F.concat(ns, ew))
    )
    return (
        legs.where(
            F.col("dlat").isNotNull()
            & ~((F.col("dlat") == 0.0) & (F.col("dlng") == 0.0))
        )
        .groupBy(octant.alias("octant"))
        .agg(
            F.count("*").alias("n_legs"),
            F.count_distinct("vehicle_id").alias("n_vehicles"),
        )
        .orderBy("octant")
    )


_SIMPLIFY_EPS = 25.0
_WALK_D = _dist_sql("t.lat", "t.lng", "w.last_lat", "w.last_lng")


@defquery(
    "geo_simplify_radial",
    f"""
    WITH RECURSIVE {_traj_cte()},
    walk AS (
      SELECT vehicle_id, rn, lat AS last_lat, lng AS last_lng,
             TRUE AS kept
      FROM traj WHERE rn = 1
      UNION ALL
      SELECT t.vehicle_id, t.rn,
             CASE WHEN {_WALK_D} >= {_SIMPLIFY_EPS}
                  THEN t.lat ELSE w.last_lat END,
             CASE WHEN {_WALK_D} >= {_SIMPLIFY_EPS}
                  THEN t.lng ELSE w.last_lng END,
             {_WALK_D} >= {_SIMPLIFY_EPS}
      FROM walk w JOIN traj t
        ON t.vehicle_id = w.vehicle_id AND t.rn = w.rn + 1
    )
    SELECT vehicle_id,
           CAST(count(*) AS BIGINT)               AS n_raw,
           CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
           round(CAST(count(*) FILTER (kept) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 4)   AS kept_frac
    FROM walk GROUP BY vehicle_id ORDER BY vehicle_id
    """,
    doc="Radial-distance trajectory simplification (operators.geo."
    "simplify_radial_flags): keep a point iff it lies ≥ 25 m from the "
    "LAST KEPT point — a data-dependent-reset recurrence no window "
    "expresses, run as ONE Arrow-batched applyInPandas pass per "
    "vehicle (the pack_greedy_bins execution class; Python doubles are "
    "IEEE like the JVM's, formula matches planar_distance_m term for "
    "term). Oracle: a RECURSIVE CTE stepping one point per vehicle per "
    "iteration replays the exact walk — the archive-thinning stats per "
    "vehicle are value-checked end to end.",
)
def geo_simplify_radial(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.geo import simplify_radial_flags

    flags = simplify_radial_flags(
        _traj(spark, sf_dir), epsilon_m=_SIMPLIFY_EPS
    )
    kept = F.col("kept").cast("long")
    return (
        flags.groupBy("vehicle_id")
        .agg(
            F.count("*").alias("n_raw"),
            F.sum(kept).alias("n_kept"),
            F.round(
                F.sum(kept).cast("double")
                / F.count("*").cast("double"),
                4,
            ).alias("kept_frac"),
        )
        .orderBy("vehicle_id")
    )


@defquery(
    "streaming_geo_cell_counts",
    f"""
    WITH wm AS (
      SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '10 minutes'
               AS w
      FROM events
    ),
    pos AS (
      SELECT user_id AS vehicle_id, event_id, ts,
             {_SLAT_T} AS lat,
             {_SLNG_T} AS lng
      FROM events
    )
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(floor(lat * 20.0) AS BIGINT) * 100000
             + CAST(floor(lng * 20.0) AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_points
    FROM pos, wm
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= wm.w
    GROUP BY window_start, cell
    """,
    doc="GENUINE streaming execution of the live density map: "
    "readStream(events) → rn-free position synth → coarse cell → "
    "watermark 10 min → tumbling 1 h counts per (window, cell) → "
    "availableNow, append mode. State is bounded by open-windows × "
    "occupied-cells (never stream length); append emits exactly the "
    "windows the final watermark closed, which the oracle states as "
    "window_end ≤ max(ts) − 10 min (the streaming_tumbling_availablenow "
    "truncation, per-cell).",
)
def streaming_geo_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, sf_dir)
    pos = stream.select(
        F.col("user_id").alias("vehicle_id"), "event_id", "ts"
    ).select(
        "ts",
        grid_cell(
            F.expr(_SLAT_T), F.expr(_SLNG_T), cells_per_deg=20
        ).alias("cell"),
    )
    agg = (
        pos.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "cell")
        .agg(F.count("*").alias("n_points"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "cell",
            "n_points",
        )
    )
    return run_available_now(agg)


_STOPS_SQL = """
    stops AS (
      SELECT cell AS stop_id,
             round((CAST(sum(CAST(floor(lat * 1000000.0) AS BIGINT))
                    AS DOUBLE) / CAST(count(*) AS DOUBLE))
                   / 1000000.0, 5) AS stop_lat,
             round((CAST(sum(CAST(floor(lng * 1000000.0) AS BIGINT))
                    AS DOUBLE) / CAST(count(*) AS DOUBLE))
                   / 1000000.0, 5) AS stop_lng,
             count(*) AS n
      FROM cells GROUP BY cell
      ORDER BY n DESC, cell LIMIT 10
    )"""


@defquery(
    "geo_dwell_at_stops",
    f"""
    WITH {_traj_cte()},
    cells AS (
      SELECT {_cell_sql("lat", "lng")} AS cell, lat, lng FROM traj
    ),
    {_STOPS_SQL},
    flagged AS (
      SELECT vehicle_id, rn, t_us,
             row_number() OVER (PARTITION BY vehicle_id ORDER BY rn) AS k
      FROM traj WHERE spd < 2.0
    ),
    epi AS (
      SELECT vehicle_id, min(rn) AS start_rn,
             max(t_us) - min(t_us) AS dwell_us
      FROM flagged
      GROUP BY vehicle_id, rn - k
      HAVING count(*) >= 3
    ),
    located AS (
      SELECT e.vehicle_id, e.start_rn, e.dwell_us, t.lat, t.lng
      FROM epi e JOIN traj t
        ON t.vehicle_id = e.vehicle_id AND t.rn = e.start_rn
    ),
    scored AS (
      SELECT l.vehicle_id, l.start_rn, l.dwell_us, s.stop_id,
             {_dist_sql("l.lat", "l.lng", "s.stop_lat", "s.stop_lng")}
               AS dist_m
      FROM located l CROSS JOIN stops s
    ),
    ranked AS (
      SELECT vehicle_id, start_rn, dwell_us, stop_id,
             row_number() OVER (PARTITION BY vehicle_id, start_rn
                                ORDER BY dist_m, stop_id) AS rk
      FROM scored
    )
    SELECT stop_id,
           CAST(count(*) AS BIGINT) AS n_episodes,
           round(CAST(sum(dwell_us) AS DOUBLE) / 1000000.0, 1)
                                    AS total_dwell_s,
           round(CAST(max(dwell_us) AS DOUBLE) / 1000000.0, 1)
                                    AS max_dwell_s
    FROM ranked WHERE rk = 1
    GROUP BY stop_id ORDER BY stop_id
    """,
    doc="Dwell accounting per stop — the tier's operators CHAINED: "
    "gaps-and-islands stop episodes (located at their start point) → "
    "in-row literal-argmin assignment to the 10 densest cells' "
    "centroids (operators.geo.nearest_assign — no join over the "
    "episode frame) → per-stop episode counts and dwell totals summed "
    "as exact integer µs. The bus-stop dwell-time report every transit "
    "agency derives from an HFP feed.",
)
def geo_dwell_at_stops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.geo import nearest_assign

    tr = _traj(spark, sf_dir)
    stops = (
        tr.groupBy(grid_cell(F.col("lat"), F.col("lng")).alias("cell"))
        .agg(
            F.round(
                (
                    F.sum(
                        F.floor(F.col("lat") * 1000000.0).cast("long")
                    ).cast("double")
                    / F.count("*").cast("double")
                )
                / 1000000.0,
                5,
            ).alias("stop_lat"),
            F.round(
                (
                    F.sum(
                        F.floor(F.col("lng") * 1000000.0).cast("long")
                    ).cast("double")
                    / F.count("*").cast("double")
                )
                / 1000000.0,
                5,
            ).alias("stop_lng"),
            F.count("*").alias("n"),
        )
        .orderBy(F.desc("n"), "cell")
        .limit(10)
        .select(F.col("cell").alias("stop_id"), "stop_lat", "stop_lng")
    )
    epi = stop_episodes(tr, F.col("spd") < 2.0, min_points=3)
    located = epi.join(
        tr.select("vehicle_id", "rn", "lat", "lng"),
        (F.col("episode_start_rn") == F.col("rn"))
        & (epi["vehicle_id"] == tr["vehicle_id"]),
    ).select(
        epi["vehicle_id"],
        "episode_start_rn",
        "dwell_us",
        "lat",
        "lng",
    )
    # composite (vehicle_id, episode_start_rn) key threaded through the
    # argmin — a packed vehicle_id*1e6+rn id silently collides once a
    # vehicle exceeds 1e6 points (≈12 days of 1 Hz data)
    assigned = nearest_assign(
        located, stops, point_id_col=["vehicle_id", "episode_start_rn"]
    )
    back = assigned.join(
        located.select("vehicle_id", "episode_start_rn", "dwell_us"),
        ["vehicle_id", "episode_start_rn"],
    )
    return (
        back.groupBy("stop_id")
        .agg(
            F.count("*").alias("n_episodes"),
            F.round(
                F.sum("dwell_us").cast("double") / 1000000.0, 1
            ).alias("total_dwell_s"),
            F.round(
                F.max("dwell_us").cast("double") / 1000000.0, 1
            ).alias("max_dwell_s"),
        )
        .orderBy("stop_id")
    )
