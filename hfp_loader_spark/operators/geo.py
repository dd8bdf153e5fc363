"""Trajectory / geospatial operators for vehicle-position streams.

The reference's payload IS a vehicle-position feed (HFP v2 — schema in
SURVEY §2.1: ``lat``, ``long``, ``spd``, ``hdg``, ``odo``, ``drst`` per
vehicle per second; transformHfpItem.ts:54-107 coerces them, the engine
loads them).  These operators are the queries a loaded HFP table exists
to answer — leg distances and implied speeds, stop/dwell detection,
spatial density, origin-destination flows, headways, nearest-stop
assignment — expressed as shuffle-minimal DataFrame plans.

Cross-engine float determinism (the catalog's value-hash gate compares
against DuckDB bit-for-bit before rounding):

- Distances use a FIXED-latitude equirectangular planar metric
  (:func:`planar_distance_m`) instead of haversine: ``sin``/``cos``/
  ``atan2`` are not correctly-rounded in IEEE 754, so libm results can
  differ between the JVM and DuckDB in the last ulp — while ``+ - * /
  sqrt`` ARE correctly rounded, making the planar formula bit-identical
  across engines.  At Helsinki's latitude (60°N, where ``cos = 0.5``
  EXACTLY in the formula) the approximation error vs great-circle is
  <0.3% for sub-10-km legs — far below GPS noise, and a documented
  trade for a value-checkable metric.
- Grid cells quantize by multiply+floor (exact integer results in
  doubles), never by dividing epoch/degree values where cast semantics
  diverge (DuckDB CAST(double AS BIGINT) ROUNDS, Spark TRUNCATES — all
  bucketing here floors positives via integer division or ``floor``).

Scale shapes (100 TB = a year of nationwide fleet positions):

- per-vehicle windows (legs, stops) shuffle ONCE on the vehicle key and
  reuse that exchange for every downstream window over the same key;
- density / resampling are map-side-combinable aggregates (min/max/count
  by struct), never row_number-then-filter;
- nearest-stop assignment folds the bounded stop dimension (O(10^4)
  rows for a national network) into ONE plan literal and picks the
  argmin in-row — zero joins and zero exchanges over the point stream;
- geofence containment is an exact int64 cross-product predicate —
  a row-local scan filter, pushable next to the cell-id prune.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Metres per degree of latitude (WGS-84 mean): the single scale constant
#: of the planar metric.  Longitude degrees are scaled by ``LAT_FACTOR``.
M_PER_DEG = 111320.0

#: cos(60°) — EXACT in binary floating point (0.5), chosen because the
#: reference's fleet operates at ~60°N (Helsinki).  A deployment at a
#: different latitude passes its own factor.
LAT_FACTOR = 0.5


def planar_distance_m(
    lat1: Column,
    lng1: Column,
    lat2: Column,
    lng2: Column,
    lat_factor: float = LAT_FACTOR,
) -> Column:
    """Equirectangular planar distance in metres — the cross-engine-
    deterministic trajectory metric (module docstring).  Formula (kept
    textually in lockstep with the oracle SQL in plans/geo_queries.py):

    ``M_PER_DEG * sqrt((lat1-lat2)^2 + (lat_factor*(lng1-lng2))^2)``

    Every operation is IEEE-correctly-rounded, so identical inputs give
    bit-identical doubles on the JVM and in DuckDB."""
    dlat = lat1 - lat2
    dlng = F.lit(lat_factor) * (lng1 - lng2)
    return F.lit(M_PER_DEG) * F.sqrt(dlat * dlat + dlng * dlng)


def grid_cell(
    lat: Column, lng: Column, cells_per_deg: int = 200
) -> Column:
    """Integer spatial grid cell id: ``floor(lat*cpd) * 100000 +
    floor(lng*cpd)`` (row-major; 200 cells/deg ≈ 550 m × 280 m at 60°N).

    Multiply-then-floor keeps the quantization exact and engine-agnostic.
    The 100000 stride keeps lng cells (±36 000 at cpd=200 — lng spans
    ±180°, so ``|floor(lng*cpd)|`` ≤ 180*cpd) from colliding across lat
    rows while staying far inside int64 — but ONLY while 180*cpd <
    100000/2, i.e. cpd ≤ 277; beyond that, adjacent lat rows' lng ranges
    overlap and distinct cells silently alias, so the bound is enforced
    with a ValueError rather than documented-and-hoped.  For
    space-filling locality (file clustering) compose with the z-order
    interleave (plans/analytics_queries.py layout_zorder_events) — for
    grouping/joins the row-major id is equivalent and cheaper."""
    if not 0 < cells_per_deg <= 277:
        raise ValueError(
            f"cells_per_deg={cells_per_deg} out of range (1..277): the"
            " 100000 row stride aliases distinct cells once"
            " 180*cells_per_deg reaches half the stride"
        )
    clat = F.floor(lat * F.lit(float(cells_per_deg)))
    clng = F.floor(lng * F.lit(float(cells_per_deg)))
    return (clat * F.lit(100000) + clng).cast("long")


def leg_metrics(
    traj: DataFrame,
    vehicle_col: str | list[str] = "vehicle_id",
    order_col: str = "rn",
    lat_col: str = "lat",
    lng_col: str = "lng",
    t_us_col: str = "t_us",
    lat_factor: float = LAT_FACTOR,
) -> DataFrame:
    """Per-point leg metrics vs the previous point of the same vehicle:
    ``leg_m`` (planar metres), ``dt_s`` (seconds, double), ``speed_ms``
    (NULL when ``dt_s`` ≤ 0 — co-timestamped duplicates must not divide
    by zero).  First point of each vehicle has NULL legs.
    ``vehicle_col`` may be a composite key (e.g. ``["vehicle_id",
    "trip_id"]`` so legs never span a trip boundary).

    One window exchange on the vehicle key; every lag shares the same
    window spec so Catalyst plans a single sort+window pass.  At 100 TB
    the input should be bucketed/partitioned by vehicle so the exchange
    is a local sort."""
    keys = (
        [vehicle_col] if isinstance(vehicle_col, str) else list(vehicle_col)
    )
    w = Window.partitionBy(*keys).orderBy(order_col)
    plat = F.lag(lat_col).over(w)
    plng = F.lag(lng_col).over(w)
    pt = F.lag(t_us_col).over(w)
    leg = planar_distance_m(
        F.col(lat_col), F.col(lng_col), plat, plng, lat_factor
    )
    dt = (F.col(t_us_col) - pt).cast("double") / F.lit(1000000.0)
    return traj.select(
        "*",
        leg.alias("leg_m"),
        dt.alias("dt_s"),
        F.when(dt > 0, leg / dt).alias("speed_ms"),
    )


def stop_episodes(
    traj: DataFrame,
    stopped: Column,
    vehicle_col: str = "vehicle_id",
    order_col: str = "rn",
    t_us_col: str = "t_us",
    min_points: int = 3,
) -> DataFrame:
    """Gaps-and-islands stop detection: maximal runs of consecutive
    points where ``stopped`` holds, per vehicle, with at least
    ``min_points`` points.  Returns one row per episode:
    ``(vehicle, episode_start_rn, n_points, dwell_s)`` where dwell is
    last-minus-first point time in seconds.

    The island key is the classic ``order - rank_among_flagged``
    difference — consecutive flagged points share it, any gap breaks it.
    Both window passes and the final aggregate share ONE exchange on the
    vehicle key (the island key is vehicle-local), so the whole operator
    is a single shuffle at any scale."""
    w = Window.partitionBy(vehicle_col).orderBy(order_col)
    flagged = traj.where(stopped)
    isl = flagged.select(
        vehicle_col,
        order_col,
        t_us_col,
        (F.col(order_col) - F.row_number().over(w)).alias("_isl"),
    )
    return (
        isl.groupBy(vehicle_col, "_isl")
        .agg(
            F.min(order_col).alias("episode_start_rn"),
            F.count("*").alias("n_points"),
            # dwell in integer µs too: downstream SUMs over episodes stay
            # exact integers (a float-seconds sum is summation-order-
            # dependent across engines; the µs integer sum is not)
            (F.max(t_us_col) - F.min(t_us_col)).alias("dwell_us"),
            (
                (F.max(t_us_col) - F.min(t_us_col)).cast("double")
                / F.lit(1000000.0)
            ).alias("dwell_s"),
        )
        .where(F.col("n_points") >= min_points)
        .drop("_isl")
    )


def trips_by_gap(
    traj: DataFrame,
    gap_seconds: int,
    vehicle_col: str = "vehicle_id",
    order_col: str = "rn",
    t_us_col: str = "t_us",
) -> DataFrame:
    """Segment each vehicle's point stream into trips at time gaps >
    ``gap_seconds`` (lag + cumulative-sum islands — the trajectory twin
    of relational.sessionize, shared exchange on the vehicle key).
    Adds a vehicle-local bigint ``trip_id``."""
    w = Window.partitionBy(vehicle_col).orderBy(order_col)
    gap_us = gap_seconds * 1_000_000
    new_trip = F.when(
        F.lag(t_us_col).over(w).isNull()
        | ((F.col(t_us_col) - F.lag(t_us_col).over(w)) > gap_us),
        1,
    ).otherwise(0)
    return traj.select(
        "*",
        F.sum(new_trip)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("trip_id"),
    )


def od_flows(
    traj: DataFrame,
    cell: Column,
    vehicle_col: str = "vehicle_id",
    trip_col: str = "trip_id",
    order_col: str = "rn",
) -> DataFrame:
    """Origin-destination flow counts: per (vehicle, trip) take the
    grid cell of the FIRST and LAST point (min_by/max_by on the order
    key — map-side-combinable aggregates, no window), then count trips
    per (origin_cell, dest_cell).  Two aggregates, both partial-agg
    friendly; the first reuses a vehicle-key exchange if the input is
    already partitioned by vehicle."""
    ends = (
        traj.select(
            vehicle_col, trip_col, F.col(order_col).alias("_o"), cell.alias("_c")
        )
        .groupBy(vehicle_col, trip_col)
        .agg(
            F.min_by("_c", "_o").alias("origin_cell"),
            F.max_by("_c", "_o").alias("dest_cell"),
        )
    )
    return ends.groupBy("origin_cell", "dest_cell").agg(
        F.count("*").alias("n_trips")
    )


def resample_first_per_bucket(
    traj: DataFrame,
    bucket_us: int,
    vehicle_col: str = "vehicle_id",
    t_us_col: str = "t_us",
    order_col: str = "rn",
    point_cols: tuple[str, ...] = ("lat", "lng", "spd"),
) -> DataFrame:
    """Downsample to the FIRST point per (vehicle, time bucket) — the
    trajectory thinning every telemetry pipeline runs before expensive
    downstream work.  Bucket = ``t_us div bucket_us`` (integer division:
    DuckDB ``//`` floors, Spark ``div`` truncates — identical on the
    positive epoch domain; never a double divide, whose BIGINT cast
    ROUNDS in DuckDB but TRUNCATES in Spark).

    Implemented as ``min_by(struct(point), order)`` under groupBy — a
    map-side-combinable aggregate that thins each partition BEFORE the
    shuffle, vs the row_number-then-filter formulation which shuffles
    every raw point.  At 1 Hz feeds and 1-min buckets that is a 60×
    reduction in shuffled bytes."""
    bucket = F.expr(f"{t_us_col} div {int(bucket_us)}")
    payload = F.struct(
        F.col(t_us_col).alias(t_us_col),
        *[F.col(c).alias(c) for c in point_cols],
    )
    out = (
        traj.groupBy(
            F.col(vehicle_col).alias(vehicle_col),
            bucket.alias("bucket"),
        )
        .agg(
            F.min_by(payload, F.col(order_col)).alias("_p"),
            F.count("*").alias("n_raw"),
        )
    )
    return out.select(
        vehicle_col,
        "bucket",
        F.col(f"_p.{t_us_col}").alias(t_us_col),
        *[F.col(f"_p.{c}").alias(c) for c in point_cols],
        "n_raw",
    )


def headways_at_cells(
    traj: DataFrame,
    cell: Column,
    vehicle_col: str = "vehicle_id",
    t_us_col: str = "t_us",
) -> DataFrame:
    """Service headways: first arrival time per (cell, vehicle), then
    the gap between consecutive DISTINCT-vehicle arrivals at each cell
    — one row per successor arrival with ``headway_s``.

    First stage is a map-side-combinable min aggregate; the window runs
    over the (much smaller) arrival frame keyed by cell.  Cells are the
    natural partition key at scale — arrivals per cell are bounded by
    fleet size, so no skew beyond hub stops (salt those if a single hub
    exceeds a partition)."""
    arrivals = (
        traj.select(cell.alias("cell"), vehicle_col, t_us_col)
        .groupBy("cell", vehicle_col)
        .agg(F.min(t_us_col).alias("arr_us"))
    )
    w = Window.partitionBy("cell").orderBy("arr_us", vehicle_col)
    prev = F.lag("arr_us").over(w)
    return arrivals.select(
        "cell",
        vehicle_col,
        "arr_us",
        # integer µs headway alongside float seconds: aggregates over
        # many headways should sum the exact integers (see stop_episodes)
        (F.col("arr_us") - prev).alias("headway_us"),
        ((F.col("arr_us") - prev).cast("double") / F.lit(1000000.0)).alias(
            "headway_s"
        ),
    ).where(F.col("headway_s").isNotNull())


def nearest_assign(
    points: DataFrame,
    stops: DataFrame,
    point_id_col: str | list[str] = "event_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    stop_id_col: str = "stop_id",
    stop_lat_col: str = "stop_lat",
    stop_lng_col: str = "stop_lng",
    lat_factor: float = LAT_FACTOR,
    max_stops: int = 100_000,
) -> DataFrame:
    """Assign every point to its nearest stop (planar metric, ties to
    the lowest stop id) as a NARROW in-row argmin: the stop dimension
    is bounded (a national transit network is O(10^4) stops), so it is
    collected once and folded into a single array<struct> literal, and
    each point picks ``array_min(transform(stops, s → (dist, id)))``
    in-row — ZERO joins and ZERO exchanges over the point stream, the
    same literal-argmin shape as the ANN cell assignment
    (similarity._int_argmin_cluster).  A crossJoin + re-group
    formulation would shuffle every point once for no reason.

    ``max_stops`` is the bounded-dimension contract: exceeding it (or
    an empty stop frame) raises instead of silently building a
    megabyte-scale plan literal.  The distance is computed from
    identical double inputs with correctly-rounded ops only, so the
    argmin is deterministic across engines without rounding (module
    docstring); ``struct`` ordering breaks exact-distance ties on the
    lowest stop id.

    ``point_id_col`` may be a LIST of columns (a composite point key,
    e.g. ``["vehicle_id", "episode_start_rn"]``): all id columns are
    carried through to the output.  Callers must never pack a composite
    key into one synthesized integer — a ``vehicle_id*1e6 + rn`` pack
    silently collides once any vehicle exceeds 1e6 points (a year of
    1 Hz data is ~31.5M rows/vehicle)."""
    ids = (
        [point_id_col]
        if isinstance(point_id_col, str)
        else list(point_id_col)
    )
    rows = (
        stops.select(stop_id_col, stop_lat_col, stop_lng_col)
        .limit(max_stops + 1)
        .collect()
    )
    if not rows:
        raise ValueError("nearest_assign: empty stop frame")
    if len(rows) > max_stops:
        raise ValueError(
            f"nearest_assign: stop frame exceeds max_stops={max_stops} — "
            "a literal argmin needs a bounded dimension; pre-filter the "
            "stops or raise the cap deliberately"
        )
    items = ",".join(
        f"named_struct('slat',{float(r[stop_lat_col])!r}D,"
        f"'slng',{float(r[stop_lng_col])!r}D,"
        f"'sid',{int(r[stop_id_col])}L)"
        for r in rows
    )
    stops_lit = F.expr(f"array({items})")
    scored = F.transform(
        stops_lit,
        lambda s: F.struct(
            planar_distance_m(
                F.col(lat_col),
                F.col(lng_col),
                s["slat"],
                s["slng"],
                lat_factor,
            ).alias("dist_m"),
            s["sid"].alias("sid"),
        ),
    )
    picked = points.select(
        *ids, lat_col, lng_col, F.array_min(scored).alias("_b")
    )
    return picked.select(
        *ids,
        lat_col,
        lng_col,
        F.col("_b.sid").alias(stop_id_col),
        F.col("_b.dist_m").alias("dist_m"),
    )


def point_in_convex_polygon(
    lng_e6: Column, lat_e6: Column, poly: list[tuple[int, int]]
) -> Column:
    """True iff the integer-microdegree point lies inside or ON the
    boundary of the CONVEX polygon ``poly`` (counter-clockwise
    ``(lng_e6, lat_e6)`` vertices): the point is left-of-or-on every
    directed edge, tested with exact int64 cross products — NO floats,
    no epsilon, bit-identical on any engine (the geometric primitive
    the planar metric cannot give: containment is a sign question, and
    float signs flip near boundaries).

    Magnitudes: microdegree coordinates are ≤ 1.8e8, edge deltas and
    point offsets ≤ 3.6e8, so each product is ≤ ~1.3e17 — inside int64
    with 70× headroom.  Convexity and CCW order are the CALLER's
    contract (validated eagerly: a clockwise or degenerate ring raises;
    non-convex rings need a triangulation layer this engine does not
    ship).  Evaluation is a pure row-local conjunction — at 100 TB a
    geofence filter is a narrow scan predicate, pushable next to the
    cell-id partition prune."""
    if len(poly) < 3:
        raise ValueError("polygon needs >= 3 vertices")
    n = len(poly)
    for i in range(n):
        ax, ay = poly[i]
        bx, by = poly[(i + 1) % n]
        cx, cy = poly[(i + 2) % n]
        turn = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        if turn <= 0:
            raise ValueError(
                f"polygon is not strictly convex CCW at vertex {i} "
                f"(cross={turn}); reorder/clean the ring"
            )
    cond = F.lit(True)
    for i in range(n):
        ax, ay = poly[i]
        bx, by = poly[(i + 1) % n]
        edge = (
            F.lit(int(bx - ax)) * (lat_e6 - F.lit(int(ay)))
            - F.lit(int(by - ay)) * (lng_e6 - F.lit(int(ax)))
        ) >= 0
        cond = cond & edge
    return cond


def fence_cond_sql(poly: list[tuple[int, int]], x: str, y: str) -> str:
    """The SQL rendering of :func:`point_in_convex_polygon`'s predicate
    for an external oracle — same edges, same exact integer arithmetic,
    so both engines evaluate the identical condition."""
    terms = []
    n = len(poly)
    for i in range(n):
        ax, ay = poly[i]
        bx, by = poly[(i + 1) % n]
        terms.append(
            f"(({bx - ax}) * ({y} - ({ay})) - ({by - ay}) * ({x} - ({ax}))) >= 0"
        )
    return "(" + " AND ".join(terms) + ")"


def proximity_pairs(
    traj: DataFrame,
    radius_m: float,
    bucket_us: int,
    cells_per_deg: int,
    vehicle_col: str = "vehicle_id",
    t_us_col: str = "t_us",
    lat_col: str = "lat",
    lng_col: str = "lng",
    lat_factor: float = LAT_FACTOR,
) -> DataFrame:
    """Distributed proximity self-join (close-contact detection): all
    pairs of DIFFERENT vehicles with points in the same time bucket
    closer than ``radius_m`` — via neighbor-cell blocking, the classic
    bin-and-refine spatial join that replaces the O(n²) cross product:

    - bin every point to (time bucket, grid cell);
    - explode ONE side to the HALF-PLANE neighbor set — self plus the 4
      "forward" offsets {(0,1),(1,−1),(1,0),(1,1)} — and equi-join on
      (bucket, cell).  Any pair within ``radius_m`` is in the same or
      an adjacent cell PROVIDED the cell is at least ``radius_m`` wide
      in BOTH axes (validated eagerly: too-fine cells silently LOSE
      pairs, the one bug class a recall-exact blocker must refuse);
    - refine candidates with the exact planar distance.

    Each qualifying unordered pair matches exactly ONCE: the 4 forward
    offsets and their negations partition the 8 nonzero neighbor
    directions, so a cross-cell pair is found in exactly one
    orientation (whichever side's cell delta is forward), and same-cell
    pairs go through the self offset with a strict ``<`` vehicle guard;
    the output then normalizes to ``vehicle_a < vehicle_b``.  The
    half-plane set shuffles 5× the points instead of the textbook 3×3's
    9× — 44% less exploded I/O for the identical result (oracle-locked
    against the all-pairs definition).  Scale shape: ONE equi-join
    shuffle keyed on (bucket, cell); candidates are bounded by local
    density × 5, never |points|²; hub cells are the skew to salt if a
    terminal exceeds a partition.  Returns one row per contact event:
    ``(vehicle_a, vehicle_b, bucket, t_us_a, t_us_b, dist_m)``."""
    lat_cell_m = M_PER_DEG / cells_per_deg
    lng_cell_m = M_PER_DEG * lat_factor / cells_per_deg
    if lat_cell_m < radius_m or lng_cell_m < radius_m:
        raise ValueError(
            f"cells_per_deg={cells_per_deg} gives cells of "
            f"{lat_cell_m:.0f} m × {lng_cell_m:.0f} m — smaller than "
            f"radius_m={radius_m}; neighbor blocking would MISS pairs. "
            f"Use cells_per_deg <= "
            f"{int(M_PER_DEG * lat_factor / radius_m)}"
        )
    cpd = F.lit(float(cells_per_deg))
    binned = traj.select(
        F.col(vehicle_col),
        F.col(t_us_col),
        F.col(lat_col),
        F.col(lng_col),
        F.expr(f"{t_us_col} div {int(bucket_us)}").alias("bucket"),
        F.floor(F.col(lat_col) * cpd).alias("clat"),
        F.floor(F.col(lng_col) * cpd).alias("clng"),
    )
    a = binned.select(
        F.col(vehicle_col).alias("_va"),
        F.col(t_us_col).alias("_ta"),
        F.col(lat_col).alias("_lat_a"),
        F.col(lng_col).alias("_lng_a"),
        "bucket",
        F.col("clat").alias("_jlat"),
        F.col("clng").alias("_jlng"),
    )
    # self + half-plane forward offsets (their negations are covered by
    # the swapped orientation of the same pair)
    offsets = F.expr(
        "array(named_struct('dlat', 0L, 'dlng', 0L),"
        " named_struct('dlat', 0L, 'dlng', 1L),"
        " named_struct('dlat', 1L, 'dlng', -1L),"
        " named_struct('dlat', 1L, 'dlng', 0L),"
        " named_struct('dlat', 1L, 'dlng', 1L))"
    )
    b = (
        binned.select(
            F.col(vehicle_col).alias("_vb"),
            F.col(t_us_col).alias("_tb"),
            F.col(lat_col).alias("_lat_b"),
            F.col(lng_col).alias("_lng_b"),
            "bucket",
            "clat",
            "clng",
        )
        .withColumn("_o", F.explode(offsets))
        .select(
            "_vb",
            "_tb",
            "_lat_b",
            "_lng_b",
            "bucket",
            (F.col("clat") + F.col("_o.dlat")).alias("_jlat"),
            (F.col("clng") + F.col("_o.dlng")).alias("_jlng"),
            ((F.col("_o.dlat") == 0) & (F.col("_o.dlng") == 0)).alias(
                "_self"
            ),
        )
    )
    cand = a.join(b, ["bucket", "_jlat", "_jlng"]).where(
        F.when(F.col("_self"), F.col("_va") < F.col("_vb")).otherwise(
            F.col("_va") != F.col("_vb")
        )
    )
    d = planar_distance_m(
        F.col("_lat_a"),
        F.col("_lng_a"),
        F.col("_lat_b"),
        F.col("_lng_b"),
        lat_factor,
    )
    swap = F.col("_va") > F.col("_vb")
    return cand.select(
        F.when(swap, F.col("_vb")).otherwise(F.col("_va")).alias(
            "vehicle_a"
        ),
        F.when(swap, F.col("_va")).otherwise(F.col("_vb")).alias(
            "vehicle_b"
        ),
        "bucket",
        F.when(swap, F.col("_tb")).otherwise(F.col("_ta")).alias("t_us_a"),
        F.when(swap, F.col("_ta")).otherwise(F.col("_tb")).alias("t_us_b"),
        d.alias("dist_m"),
    ).where(F.col("dist_m") < radius_m)


def materialize_position_lake(
    spark,
    traj: DataFrame,
    root: str,
    cells_per_deg: int = 20,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> dict:
    """Publish a trajectory frame as the SERVE layout of a position
    lake: parquet **partitioned by coarse grid cell**, so any
    cell-scoped query (geofence, stop, headway, density over a region)
    prunes whole partition directories at planning time instead of
    scanning the fleet's full history — the geo twin of the IVF serve
    layout (similarity.materialize_cell_index), reusing its
    temp-dir-and-rename publish so readers never see a half-written
    lake.  The manifest stamps ``cells_per_deg``: a reader expecting a
    different grid resolution must refuse, exactly like a quantization-
    scale mismatch (cell ids are only comparable within one grid).

    At 100 TB this is the difference between "query the Kamppi box" =
    read a handful of directories vs read a year of nationwide
    positions.  Compose with a date partition above the cell for
    time-scoped pruning.

    This is the ONE-SHOT build (full frame in hand).  A daily HFP load
    should NOT call this per day — that rewrites the whole lake; land
    each day through the O(delta) versioned log
    (:func:`append_positions`) and compact the log into this layout on
    the maintenance cadence (:func:`materialize_position_lake_from_log`),
    exactly like the IVF tag-log → cell-index lifecycle."""
    from hfp_loader_spark.operators.similarity import (
        _publish_partitioned_index,
    )

    rows = _stamp_cells(traj, cells_per_deg, lat_col, lng_col)
    doc = {
        "kind": "geo_position_lake",
        "cells_per_deg": int(cells_per_deg),
        "lat_col": lat_col,
        "lng_col": lng_col,
    }
    return _publish_partitioned_index(spark, rows, root, doc)


def _stamp_cells(
    traj: DataFrame, cells_per_deg: int, lat_col: str, lng_col: str
) -> DataFrame:
    """The ONE definition of a lake row: the input columns plus the
    coarse grid ``cell``.  Shared by the one-shot build, the O(delta)
    log append, and the log rebuild so the cell semantics can never
    fork (the geo twin of similarity._assign_cells)."""
    return traj.withColumn(
        "cell", grid_cell(F.col(lat_col), F.col(lng_col), cells_per_deg)
    )


def _log_meta(cells_per_deg: int, lat_col: str, lng_col: str) -> dict:
    """The ONE definition of the position log's generation pin.  Every
    site that stamps or validates the pin (append, rebuild, the catalog
    ensure) uses this dict, so a future field can never be added to one
    writer's stamp and silently skipped by another's subset check."""
    return {
        "kind": "geo_position_log",
        "cells_per_deg": int(cells_per_deg),
        "lat_col": lat_col,
        "lng_col": lng_col,
    }


def append_positions(
    spark,
    delta: DataFrame,
    log_root: str,
    cells_per_deg: int = 20,
    lat_col: str = "lat",
    lng_col: str = "lng",
    extra_meta: dict | None = None,
) -> int:
    """O(delta) append to a versioned position log: stamp ONLY the new
    batch's rows with their grid cell and commit them as one versioned
    append (``versioned.commit_snapshot``) — the ingest-time half of
    the position lake, mirroring ``similarity.append_cell_tags``.  The
    daily HFP load lands here; the serve layout is re-published from
    the log head on the maintenance cadence
    (:func:`materialize_position_lake_from_log`), so a day's ingest
    writes O(day), never O(lake).

    Every commit is manifest-stamped with the grid generation
    (``cells_per_deg`` + lat/lng column names); an append against a
    DIFFERENT grid RAISES — cell ids are only comparable within one
    grid resolution, and silently mixing grids corrupts every
    cell-scoped prune.  Valid because cell stamping is per-row
    deterministic: delta-appends equal the full recompute row-for-row.
    ``extra_meta`` rides along in the commit manifest (audit fields
    like the streaming batch id) WITHOUT joining the generation pin —
    the pin comparison is over the base keys only.  Returns the
    committed version."""
    from hfp_loader_spark.versioned import (
        _read_manifest,
        commit_snapshot,
        latest_version,
    )

    meta = _log_meta(cells_per_deg, lat_col, lng_col)
    head = latest_version(spark, log_root)
    if head is not None:
        stamped = _read_manifest(spark, log_root, head).meta
        if {k: stamped.get(k) for k in meta} != meta:
            raise ValueError(
                f"position log at {log_root} is stamped {stamped}; this "
                f"append uses {meta} — rebuild the log "
                "(rebuild_positions) instead of mixing grid generations"
            )
    collide = set(extra_meta or {}) & set(meta)
    if collide:
        raise ValueError(
            f"extra_meta may not shadow the generation pin keys {collide}"
        )
    rows = _stamp_cells(delta, cells_per_deg, lat_col, lng_col)
    return commit_snapshot(
        spark,
        rows,
        log_root,
        mode="append",
        meta={**(extra_meta or {}), **meta},
    )


def rebuild_positions(
    spark,
    traj: DataFrame,
    log_root: str,
    cells_per_deg: int = 20,
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> int:
    """The DELIBERATE re-grid: stamp the FULL history under a (new)
    grid resolution and ``overwrite``-commit the log, re-stamping the
    manifest — the only sanctioned way to change a position log's grid
    (:func:`append_positions` refuses mixed generations by design).
    Old versions stay time-travelable until vacuumed."""
    from hfp_loader_spark.versioned import commit_snapshot

    rows = _stamp_cells(traj, cells_per_deg, lat_col, lng_col)
    return commit_snapshot(
        spark,
        rows,
        log_root,
        mode="overwrite",
        meta=_log_meta(cells_per_deg, lat_col, lng_col),
    )


def load_positions(spark, log_root: str, version: int | None = None):
    """All committed cell-stamped position rows as of ``version``
    (latest by default) — the union of every O(delta) append, equal
    row-for-row to a full re-stamp under the pinned grid."""
    from hfp_loader_spark.versioned import read_snapshot

    return read_snapshot(spark, log_root, version)


def materialize_position_lake_from_log(
    spark, log_root: str, lake_root: str
) -> dict:
    """Compact the committed position log into the SERVE layout: the
    latest :func:`load_positions` snapshot re-published as the
    cell-partitioned lake (same layout, manifest, and readers as the
    one-shot :func:`materialize_position_lake`) — the maintenance-
    cadence half of the lake lifecycle, the geo twin of
    ``similarity.materialize_cell_index``.

    The lake manifest additionally stamps ``log_root`` and
    ``log_version``, so a reader can tell STALENESS (log head advanced
    past the layout — re-materialize when the delta warrants) from
    CORRUPTION (grid mismatch — :func:`read_position_lake` raises).
    Rows are already cell-stamped at append time; this is a pure
    re-layout (read log → repartition(cell) → publish), no recompute.
    Concurrent materializers must be fenced by the caller; the layout
    is temp-dir-and-rename published, so readers never see a
    half-written lake."""
    from hfp_loader_spark.operators.similarity import (
        _publish_partitioned_index,
    )
    from hfp_loader_spark.versioned import _read_manifest, latest_version

    head = latest_version(spark, log_root)
    if head is None:
        raise ValueError(f"no positions committed at {log_root}")
    meta = _read_manifest(spark, log_root, head).meta
    if meta.get("kind") != "geo_position_log":
        raise ValueError(
            f"{log_root} holds kind={meta.get('kind')!r}, not a "
            "geo_position_log"
        )
    doc = {
        "kind": "geo_position_lake",
        "cells_per_deg": meta.get("cells_per_deg"),
        "lat_col": meta.get("lat_col"),
        "lng_col": meta.get("lng_col"),
        "log_root": log_root,
        "log_version": head,
    }
    rows = load_positions(spark, log_root, head)
    return _publish_partitioned_index(spark, rows, lake_root, doc)


def read_position_lake(
    spark, root: str, expect_cells_per_deg: int
) -> DataFrame:
    """Open a lake written by :func:`materialize_position_lake` with
    ``cell`` as the partition column — ``where(cell.isin(…))`` (or a
    cell range) on the result prunes directories at planning time.
    Fail-loud: a missing lake, a foreign table kind, or a grid-
    resolution mismatch raises (cell ids from a different
    ``cells_per_deg`` silently select the wrong region)."""
    from hfp_loader_spark.operators.similarity import read_index_manifest

    doc = read_index_manifest(spark, root)
    if doc is None:
        raise ValueError(f"no position lake materialized at {root}")
    if doc.get("kind") != "geo_position_lake":
        raise ValueError(
            f"{root} holds kind={doc.get('kind')!r}, not a "
            "geo_position_lake"
        )
    if doc.get("cells_per_deg") != int(expect_cells_per_deg):
        raise ValueError(
            f"position lake at {root} is gridded at "
            f"cells_per_deg={doc.get('cells_per_deg')}; caller expects "
            f"{expect_cells_per_deg} — re-materialize instead of mixing "
            "grids"
        )
    return spark.read.parquet(f"{root.rstrip('/')}/data")


def simplify_radial_flags(
    traj: DataFrame,
    epsilon_m: float,
    vehicle_col: str = "vehicle_id",
    order_col: str = "rn",
    lat_col: str = "lat",
    lng_col: str = "lng",
    lat_factor: float = LAT_FACTOR,
) -> DataFrame:
    """Radial-distance trajectory simplification: walk each vehicle's
    points in order and KEEP a point iff it lies ≥ ``epsilon_m`` (planar
    metres) from the LAST KEPT point (first point always kept) — the
    streaming-friendly thinning every telemetry archive runs before
    long-term storage (Douglas-Peucker's cheap cousin: one forward
    pass, no recursion over the whole trip).

    The keep decision depends on the last KEPT point, not the previous
    point — a data-dependent-reset recurrence no window function
    expresses (same class as packing.pack_greedy_bins) — so each
    vehicle runs as ONE ``applyInPandas`` pass (Arrow batch, plain
    Python doubles: IEEE ops identical to the JVM's, and the distance
    formula matches :func:`planar_distance_m` term for term, so a SQL
    engine replicates the walk with a recursive CTE stepping one point
    per iteration).  Returns the input rows PLUS a ``kept`` boolean —
    flags, not a subset, so one pass yields both the thinned stream and
    the reduction stats.

    Scale shape: one exchange on the vehicle key (reused if upstream
    windows already partitioned by it), then embarrassingly parallel
    per-vehicle scans; state per group is two doubles."""
    import math

    if epsilon_m <= 0:
        raise ValueError("epsilon_m must be > 0")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in traj.schema.fields
    ) + ", kept boolean"

    def walk(pdf):
        pdf = pdf.sort_values(order_col)
        lats = pdf[lat_col].to_numpy()
        lngs = pdf[lng_col].to_numpy()
        kept = []
        last_lat = last_lng = None
        for la, ln in zip(lats, lngs):
            if last_lat is None:
                k = True
            else:
                dlat = float(la) - last_lat
                dlng = lat_factor * (float(ln) - last_lng)
                d = M_PER_DEG * math.sqrt(dlat * dlat + dlng * dlng)
                k = d >= epsilon_m
            if k:
                last_lat, last_lng = float(la), float(ln)
            kept.append(k)
        return pdf.assign(kept=kept)

    return traj.groupBy(vehicle_col).applyInPandas(walk, schema=out_schema)
