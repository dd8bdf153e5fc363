"""operators.geo — trajectory/geospatial operators.

Unit semantics on hand-built frames (distance identities, island
episodes, O-D ends, resampling, nearest-stop argmin) plus plan-shape
assertions: the per-vehicle window family must share ONE exchange, the
resampler must partial-aggregate map-side, and the nearest-stop literal
argmin must add no join and no exchange over the point stream — the
properties the module docstring promises at 100 TB.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hfp_loader_spark.operators.geo import (
    LAT_FACTOR,
    M_PER_DEG,
    grid_cell,
    headways_at_cells,
    leg_metrics,
    nearest_assign,
    od_flows,
    planar_distance_m,
    resample_first_per_bucket,
    stop_episodes,
    trips_by_gap,
)


def _traj_df(spark):
    # vehicle 1: 6 points, 10 s apart, moving 0.001° north per step
    # except points 3-5 which repeat the same location (a stop run).
    rows = []
    for i in range(6):
        lat = 60.0 + (0.001 * min(i, 2))
        rows.append((1, i + 1, i + 1, (i + 1) * 10_000_000, lat, 24.5, 1.0 if 3 <= i + 1 <= 5 else 10.0))
    # vehicle 2: 2 points with a 2-hour gap (two trips at gap=3600 s)
    rows.append((2, 101, 1, 10_000_000, 61.0, 25.0, 5.0))
    rows.append((2, 102, 2, 7_210_000_000, 61.5, 25.5, 5.0))
    return spark.createDataFrame(
        rows,
        "vehicle_id int, event_id int, rn int, t_us long, lat double, "
        "lng double, spd double",
    )


def test_planar_distance_identities(spark):
    df = spark.range(1).select(
        planar_distance_m(
            F.lit(60.0), F.lit(24.5), F.lit(60.0), F.lit(24.5)
        ).alias("zero"),
        planar_distance_m(
            F.lit(60.001), F.lit(24.5), F.lit(60.0), F.lit(24.5)
        ).alias("lat_leg"),
        planar_distance_m(
            F.lit(60.0), F.lit(24.502), F.lit(60.0), F.lit(24.5)
        ).alias("lng_leg"),
        # symmetry
        (
            planar_distance_m(F.lit(60.1), F.lit(24.7), F.lit(60.0), F.lit(24.5))
            - planar_distance_m(F.lit(60.0), F.lit(24.5), F.lit(60.1), F.lit(24.7))
        ).alias("asym"),
    ).collect()[0]
    assert df["zero"] == 0.0
    # 0.001° of latitude ≈ 111.32 m; 0.002° of longitude at factor 0.5
    # is the same planar length.
    assert df["lat_leg"] == pytest.approx(M_PER_DEG * 0.001, rel=1e-9)
    assert df["lng_leg"] == pytest.approx(
        M_PER_DEG * LAT_FACTOR * 0.002, rel=1e-9
    )
    assert df["asym"] == 0.0


def test_grid_cell_is_exact_and_stride_safe(spark):
    row = spark.range(1).select(
        grid_cell(F.lit(60.0), F.lit(24.5)).alias("c1"),
        grid_cell(F.lit(60.0049), F.lit(24.5049)).alias("same"),
        grid_cell(F.lit(60.005), F.lit(24.5)).alias("next_lat"),
        grid_cell(F.lit(-1.0), F.lit(-1.0)).alias("neg"),
    ).collect()[0]
    assert row["c1"] == 12000 * 100000 + 4900
    assert row["same"] == row["c1"]  # same 0.005° cell
    assert row["next_lat"] == row["c1"] + 100000
    # floor (not truncate) on negatives: -1.0*200 = -200 exactly
    assert row["neg"] == -200 * 100000 - 200


def test_leg_metrics_values_and_nulls(spark):
    out = (
        leg_metrics(_traj_df(spark))
        .where(F.col("vehicle_id") == 1)
        .orderBy("rn")
        .collect()
    )
    assert out[0]["leg_m"] is None and out[0]["dt_s"] is None
    # step 1→2 moves 0.001° lat in 10 s
    assert out[1]["leg_m"] == pytest.approx(111.32, rel=1e-9)
    assert out[1]["dt_s"] == 10.0
    assert out[1]["speed_ms"] == pytest.approx(11.132, rel=1e-9)
    # stationary repeat: zero leg, speed 0
    assert out[3]["leg_m"] == 0.0 and out[3]["speed_ms"] == 0.0


def test_leg_metrics_null_speed_on_zero_dt(spark):
    df = spark.createDataFrame(
        [(1, 1, 1000, 60.0, 24.5), (1, 2, 1000, 60.001, 24.5)],
        "vehicle_id int, rn int, t_us long, lat double, lng double",
    )
    out = leg_metrics(df).orderBy("rn").collect()
    assert out[1]["dt_s"] == 0.0 and out[1]["speed_ms"] is None


def test_stop_episodes_islands(spark):
    epi = stop_episodes(
        _traj_df(spark), F.col("spd") < 2.0, min_points=3
    ).collect()
    assert len(epi) == 1
    e = epi[0]
    # vehicle 1's rn 3..5 run: dwell = (50-30) s
    assert e["vehicle_id"] == 1
    assert e["episode_start_rn"] == 3
    assert e["n_points"] == 3
    assert e["dwell_s"] == 20.0
    # min_points respected: a 3-point run vanishes at min_points=4
    assert (
        stop_episodes(_traj_df(spark), F.col("spd") < 2.0, min_points=4).count()
        == 0
    )


def test_trips_and_od_flows(spark):
    tr = trips_by_gap(_traj_df(spark), gap_seconds=3600)
    per_trip = {
        (r["vehicle_id"], r["trip_id"]): r["n"]
        for r in tr.groupBy("vehicle_id", "trip_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_trip[(1, 1)] == 6  # no gap > 1 h for vehicle 1
    assert per_trip[(2, 1)] == 1 and per_trip[(2, 2)] == 1
    flows = od_flows(
        tr, grid_cell(F.col("lat"), F.col("lng"))
    ).collect()
    # vehicle 1: origin cell at 60.0, dest at 60.002 (same 0.005° cell)
    by_pair = {(r["origin_cell"], r["dest_cell"]): r["n_trips"] for r in flows}
    c60 = 12000 * 100000 + 4900
    assert by_pair[(c60, c60)] == 1
    # vehicle 2's single-point trips: origin == dest
    assert sum(by_pair.values()) == 3


def test_resample_first_per_bucket(spark):
    rs = resample_first_per_bucket(
        _traj_df(spark), bucket_us=25_000_000
    )
    v1 = {r["bucket"]: r for r in rs.where(F.col("vehicle_id") == 1).collect()}
    # t_us 10,20 s → bucket 0; 30,40 s → 1; 50,60 s → 2
    assert sorted(v1) == [0, 1, 2]
    assert v1[0]["t_us"] == 10_000_000 and v1[0]["n_raw"] == 2
    assert v1[1]["t_us"] == 30_000_000
    # carries the FIRST point's payload, not the min of each column
    assert v1[1]["lat"] == 60.002


def test_headways_at_cells(spark):
    # two vehicles arriving at one shared coarse cell 30 s apart
    df = spark.createDataFrame(
        [
            (1, 1, 10_000_000, 60.0, 24.5, 1.0),
            (1, 2, 90_000_000, 60.0, 24.5, 1.0),  # later point, ignored (min)
            (2, 1, 40_000_000, 60.0001, 24.5001, 1.0),
        ],
        "vehicle_id int, rn int, t_us long, lat double, lng double, spd double",
    )
    hw = headways_at_cells(df, grid_cell(F.col("lat"), F.col("lng"))).collect()
    assert len(hw) == 1
    assert hw[0]["vehicle_id"] == 2 and hw[0]["headway_s"] == 30.0


def test_nearest_assign_argmin_and_ties(spark):
    points = spark.createDataFrame(
        [(1, 60.0, 24.5), (2, 60.1, 24.5), (3, 60.05, 24.5)],
        "event_id int, lat double, lng double",
    )
    stops = spark.createDataFrame(
        [(10, 60.0, 24.5), (20, 60.1, 24.5)],
        "stop_id int, stop_lat double, stop_lng double",
    )
    out = {r["event_id"]: r for r in nearest_assign(points, stops).collect()}
    assert out[1]["stop_id"] == 10 and out[1]["dist_m"] == 0.0
    assert out[2]["stop_id"] == 20
    # exact midpoint: tie broken to the LOWEST stop id
    assert out[3]["stop_id"] == 10
    assert out[3]["dist_m"] == pytest.approx(M_PER_DEG * 0.05, rel=1e-12)


def test_nearest_assign_is_a_narrow_map_side_pass(spark):
    """The literal argmin must add NO join and NO exchange over the
    point stream — the property that makes assignment free at 100 TB."""
    points = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.lit(60.0) + F.col("id") / 1000.0).alias("lat"),
        F.lit(24.5).alias("lng"),
    )
    stops = spark.createDataFrame(
        [(1, 60.0, 24.5), (2, 60.05, 24.5)],
        "stop_id int, stop_lat double, stop_lng double",
    )
    plan = nearest_assign(points, stops)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_nearest_assign_bounded_dimension_contract(spark):
    points = spark.createDataFrame(
        [(1, 60.0, 24.5)], "event_id int, lat double, lng double"
    )
    empty = spark.createDataFrame(
        [], "stop_id int, stop_lat double, stop_lng double"
    )
    with pytest.raises(ValueError, match="empty stop frame"):
        nearest_assign(points, empty)
    many = spark.range(5).select(
        F.col("id").alias("stop_id"),
        (F.lit(60.0) + F.col("id")).alias("stop_lat"),
        F.lit(24.5).alias("stop_lng"),
    )
    with pytest.raises(ValueError, match="max_stops"):
        nearest_assign(points, many, max_stops=4)


def test_leg_window_family_shares_one_exchange(spark):
    """legs + speed over the same vehicle window must plan exactly ONE
    exchange — the property that makes the whole per-vehicle family a
    single shuffle at 100 TB."""
    df = _traj_df(spark)
    plan = (
        leg_metrics(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_resample_partial_aggregates_map_side(spark):
    rs = resample_first_per_bucket(_traj_df(spark), bucket_us=25_000_000)
    plan = rs._jdf.queryExecution().executedPlan().toString()
    # ObjectHashAggregate/SortAggregate with a partial pass before the
    # exchange — min_by(struct) combines map-side, row_number cannot.
    before_exchange = plan.split("Exchange")[-1]
    assert "partial" in before_exchange.lower()


def test_geo_catalog_entries_rowcounts(spark, sf_dir):
    """Every batch entry of the geo tier runs end-to-end at test SF and
    returns its documented shape (oracle equality is the driver's/check
    tool's job; this pins runnable-ness — a registration typo fails
    in-suite, not in a lost round).  The set is derived from the live
    registry so a new geo entry is covered from the day it is defined;
    the two ``streaming_geo_*`` entries are exempt (each spins up an
    availableNow run — exercised by test_streaming/the oracle replay)."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    geo_entries = {
        n
        for n, s in REGISTRY.items()
        if s.module == "geo_queries" and not n.startswith("streaming_")
    }
    assert len(geo_entries) == 19, sorted(geo_entries)
    # entries whose bounded/filtered shapes can legitimately be empty at
    # the smallest SF (close contacts need co-located pairs; crossing /
    # geofence events need tracks through the fence boxes)
    may_be_empty = {
        "geo_headway_per_cell",
        "geo_close_contacts",
        "geo_geofence_counts",
        "geo_geofence_crossings",
    }
    for name in sorted(geo_entries):
        df = REGISTRY[name].builder(spark, sf_dir)
        n = df.count()
        if name not in may_be_empty:
            assert n > 0, name
        # narrowest entry is geo_cell_pagerank (cell, rank)
        assert len(df.columns) >= 2, name


def test_point_in_convex_polygon_exact_signs(spark):
    from hfp_loader_spark.operators.geo import (
        fence_cond_sql,
        point_in_convex_polygon,
    )

    tri = [(0, 0), (10, 0), (0, 10)]  # CCW right triangle
    df = spark.createDataFrame(
        [
            (1, 2, 2, True),    # strictly inside
            (2, 5, 0, True),    # on an edge
            (3, 0, 0, True),    # on a vertex
            (4, 10, 10, False), # outside (beyond hypotenuse)
            (5, -1, 5, False),  # outside (left of first edge)
            (6, 5, 5, True),    # exactly on the hypotenuse
        ],
        "pid int, x long, y long, want boolean",
    )
    got = df.select(
        "pid",
        "want",
        point_in_convex_polygon(F.col("x"), F.col("y"), tri).alias("got"),
        F.expr(fence_cond_sql(tri, "x", "y")).alias("sql_twin"),
    ).collect()
    for r in got:
        assert r["got"] == r["want"], r["pid"]
        # the rendered SQL predicate is the SAME condition
        assert r["sql_twin"] == r["want"], r["pid"]


def test_point_in_convex_polygon_validates_ring(spark):
    from hfp_loader_spark.operators.geo import point_in_convex_polygon

    with pytest.raises(ValueError, match=">= 3"):
        point_in_convex_polygon(F.lit(0), F.lit(0), [(0, 0), (1, 1)])
    # clockwise ring → rejected (caller must supply CCW)
    with pytest.raises(ValueError, match="not strictly convex CCW"):
        point_in_convex_polygon(
            F.lit(0), F.lit(0), [(0, 0), (0, 10), (10, 0)]
        )
    # collinear (degenerate) ring → rejected
    with pytest.raises(ValueError, match="not strictly convex CCW"):
        point_in_convex_polygon(
            F.lit(0), F.lit(0), [(0, 0), (5, 5), (10, 10)]
        )


def test_proximity_pairs_blocked_join_semantics(spark):
    from hfp_loader_spark.operators.geo import proximity_pairs

    # radius 1000 m, cpd=50 → lat cells 2226 m, lng cells 1113 m.
    # v1/v2: ~556 m apart but in ADJACENT lng cells (24.4999 vs 24.5099
    # straddle the 24.50 boundary at cpd=50? 24.4999*50=1224.995 →
    # cell 1224; 24.5099*50=1225.495 → cell 1225) → only the neighbor
    # expansion finds them.  v3: same cell as v1 but ~2.8 km away →
    # candidate, refined OUT.  v4: same location as v1 but a different
    # day bucket → never a candidate.
    df = spark.createDataFrame(
        [
            (1, 1_000_000, 60.0001, 24.4999),
            (2, 2_000_000, 60.0001, 24.5099),
            (3, 3_000_000, 60.0251, 24.4999),
            (4, 86_400_000_000 + 1, 60.0001, 24.4999),
        ],
        "vehicle_id int, t_us long, lat double, lng double",
    )
    out = proximity_pairs(
        df, radius_m=1000.0, bucket_us=86_400_000_000, cells_per_deg=50
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["vehicle_a"], r["vehicle_b"]) == (1, 2)
    # the swap-normalization must carry the timestamps WITH the ids:
    # this pair is discovered in the (v2, v1) orientation (v1's cell is
    # forward of v2's), then normalized
    assert (r["t_us_a"], r["t_us_b"]) == (1_000_000, 2_000_000)
    assert r["dist_m"] == pytest.approx(111320.0 * 0.5 * 0.01, rel=1e-6)


def test_proximity_pairs_refuses_lossy_cells(spark):
    from hfp_loader_spark.operators.geo import proximity_pairs

    df = spark.createDataFrame(
        [(1, 0, 60.0, 24.5)], "vehicle_id int, t_us long, lat double, lng double"
    )
    with pytest.raises(ValueError, match="MISS pairs"):
        proximity_pairs(
            df, radius_m=1000.0, bucket_us=86_400_000_000, cells_per_deg=200
        )


def test_proximity_pairs_no_duplicate_matches(spark):
    """A qualifying pair must appear exactly ONCE (the offset-cell match
    is unique) — duplicates would double-count n_contacts downstream."""
    from hfp_loader_spark.operators.geo import proximity_pairs

    # two vehicles in the SAME cell, well within radius
    df = spark.createDataFrame(
        [(1, 1_000_000, 60.001, 24.501), (2, 2_000_000, 60.002, 24.502)],
        "vehicle_id int, t_us long, lat double, lng double",
    )
    out = proximity_pairs(
        df, radius_m=1000.0, bucket_us=86_400_000_000, cells_per_deg=50
    ).collect()
    assert len(out) == 1


def test_position_lake_partition_pruning_is_physical(spark, sf_dir, tmp_path):
    """materialize_position_lake → cell-scoped reads prune partition
    DIRECTORIES: corrupting an unqueried cell's parquet files does not
    touch the query (while reading that partition directly fails), and
    grid-resolution/kind pins are enforced — the geo twin of the IVF
    serve-layout lifecycle test."""
    import glob

    from hfp_loader_spark.operators.geo import (
        materialize_position_lake,
        read_position_lake,
    )
    from hfp_loader_spark.plans.geo_queries import _traj

    root = str(tmp_path / "lake")
    tr = _traj(spark, sf_dir)
    doc = materialize_position_lake(spark, tr, root, cells_per_deg=20)
    assert doc["kind"] == "geo_position_lake"

    lake = read_position_lake(spark, root, expect_cells_per_deg=20)
    cells = sorted(r["cell"] for r in lake.select("cell").distinct().collect())
    assert len(cells) >= 2, "need >= 2 cells to prove pruning"
    target, victim = cells[0], cells[-1]

    q = lake.where(F.col("cell") == target)
    baseline = sorted(r["event_id"] for r in q.collect())
    assert baseline
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    victim_files = glob.glob(f"{root}/data/cell={victim}/*.parquet")
    assert victim_files
    for f in victim_files:
        with open(f, "wb") as fh:
            fh.write(b"garbage")
    again = read_position_lake(spark, root, expect_cells_per_deg=20).where(
        F.col("cell") == target
    )
    assert sorted(r["event_id"] for r in again.collect()) == baseline
    with pytest.raises(Exception):
        spark.read.parquet(f"{root}/data/cell={victim}").collect()

    with pytest.raises(ValueError, match="mixing grids"):
        read_position_lake(spark, root, expect_cells_per_deg=200)
    with pytest.raises(ValueError, match="no position lake"):
        read_position_lake(spark, str(tmp_path / "nope"), 20)


def test_position_log_lifecycle_append_compact_rematerialize(
    spark, sf_dir, tmp_path
):
    """The full position-lake lifecycle (VERDICT r12 #6): N O(delta)
    appends → lake published from the log ≡ one-shot build of the full
    frame, row-for-row; compact_snapshot collapses the append chain
    CARRYING the grid pin; truncate_history bounds the manifest chain;
    the re-materialized lake's cell-scoped serve output is unchanged
    through every maintenance step; mixed-grid appends raise."""
    from hfp_loader_spark.maintenance import compact_snapshot
    from hfp_loader_spark.operators.geo import (
        append_positions,
        load_positions,
        materialize_position_lake,
        materialize_position_lake_from_log,
        read_position_lake,
    )
    from hfp_loader_spark.plans.geo_queries import _traj
    from hfp_loader_spark.versioned import (
        _read_manifest,
        latest_version,
        table_history,
        truncate_history,
    )

    log = str(tmp_path / "poslog")
    lake = str(tmp_path / "lake")
    oneshot = str(tmp_path / "oneshot")
    tr = _traj(spark, sf_dir)

    # ingest in 3 disjoint daily-style slices, O(delta) each
    vmax = tr.agg(F.max("vehicle_id")).collect()[0][0]
    cuts = [0, vmax // 3, 2 * vmax // 3, vmax + 1]
    for lo, hi in zip(cuts, cuts[1:]):
        v = append_positions(
            spark,
            tr.where((F.col("vehicle_id") >= lo) & (F.col("vehicle_id") < hi)),
            log,
            cells_per_deg=20,
        )
    assert v == 3

    # append ≡ recompute: the log union equals a full one-shot stamp
    doc = materialize_position_lake_from_log(spark, log, lake)
    assert doc["log_version"] == 3 and doc["cells_per_deg"] == 20
    materialize_position_lake(spark, tr, oneshot, cells_per_deg=20)
    key = ["event_id", "cell"]
    got = sorted(
        map(tuple, read_position_lake(spark, lake, 20).select(*key).collect())
    )
    want = sorted(
        map(
            tuple,
            read_position_lake(spark, oneshot, 20).select(*key).collect(),
        )
    )
    assert got and got == want

    # a cell-scoped serve read, pinned across every maintenance step
    cell0 = got[0][1]
    def serve():
        return sorted(
            r["event_id"]
            for r in read_position_lake(spark, lake, 20)
            .where(F.col("cell") == cell0)
            .collect()
        )

    baseline = serve()
    assert baseline

    # grid-generation pin: a different grid (or renamed columns) raises
    with pytest.raises(ValueError, match="mixing grid generations"):
        append_positions(spark, tr.limit(1), log, cells_per_deg=50)

    # compact the 3-dir append chain; the grid pin must survive
    compacted = compact_snapshot(spark, log, min_dirs=3)
    assert compacted == 4
    meta = _read_manifest(spark, log, compacted).meta
    assert meta["cells_per_deg"] == 20
    assert meta["kind"] == "geo_position_log"
    assert meta["compacted_from"] == 3
    n_total = len(got)
    assert load_positions(spark, log).count() == n_total

    # appends continue against the compacted head; truncate the history
    v5 = append_positions(spark, tr.limit(0), log, cells_per_deg=20)
    assert v5 == 5
    truncate_history(spark, log, keep_last=1)
    assert [s.version for s in table_history(spark, log)] == [5]
    assert latest_version(spark, log) == 5

    # re-materialize from the compacted+truncated log: serve unchanged
    doc2 = materialize_position_lake_from_log(spark, log, lake)
    assert doc2["log_version"] == 5
    assert serve() == baseline


#: Tier-wide physical plan caps, measured at sf0.001 (AQE-final plans;
#: the plan string double-prints, so values are 2× the real exchange
#: count) with a +2 margin for AQE variation.  The caps pin the scale
#: claims each entry's docstring makes: one vehicle-key exchange for
#: the window family, literal-argmin (not join) for nearest-stop (was
#: 10 before the rewrite, now 4), blocked equi-join (never cartesian)
#: for close contacts, one-row state for pagerank.
GEO_PLAN_CAPS = {
    "geo_leg_speed_profile": dict(max_exchanges=4, bnlj=0),
    "geo_grid_density": dict(max_exchanges=6, bnlj=0),
    "geo_stop_dwell": dict(max_exchanges=4, bnlj=0),
    "geo_od_matrix": dict(max_exchanges=6, bnlj=0),
    "geo_resample_6h": dict(max_exchanges=4, bnlj=0),
    "geo_headway_per_cell": dict(max_exchanges=6, bnlj=0),
    "geo_nearest_stop_assign": dict(max_exchanges=6, bnlj=0),
    "geo_dq_speed_violations": dict(max_exchanges=4, bnlj=0),
    "geo_grid_rollup_multires": dict(max_exchanges=6, bnlj=0),
    "geo_speed_by_hour": dict(max_exchanges=6, bnlj=0),
    "geo_geofence_counts": dict(max_exchanges=6, bnlj=0),
    "geo_close_contacts": dict(max_exchanges=5, bnlj=0),
    "geo_trip_summaries": dict(max_exchanges=4, bnlj=0),
    # the trajectory edges and the one-row state build (degree, dense
    # index, in-edge lists, one global aggregate) carry every exchange;
    # the 5 rounds are projections of that row and add none (measured
    # 19)
    "geo_cell_pagerank": dict(max_exchanges=21, bnlj=0),
    "geo_geofence_crossings": dict(max_exchanges=4, bnlj=0),
    "geo_heading_octants": dict(max_exchanges=6, bnlj=0),
    # Arrow applyInPandas walk (FlatMapGroupsInPandas counts under
    # arrow_evals, NOT python_row_evals — the sanctioned batch path)
    "geo_simplify_radial": dict(max_exchanges=6, bnlj=0),
    # composition: episodes + located-start join + argmin + final agg
    "geo_dwell_at_stops": dict(max_exchanges=16, bnlj=0),
    # served from the persisted lake: one agg exchange over 6 cells
    "geo_lake_cells_served": dict(max_exchanges=4, bnlj=0),
}


def test_geo_lake_serve_prunes_partitions(spark, sf_dir):
    """The served lake entry's measured plan prunes at the PARTITION
    level: static ``cell IN (…)`` PartitionFilters on the lake scan —
    the same physicality contract as the IVF serve layout
    (tests/test_plan_audit.py)."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    df = REGISTRY["geo_lake_cells_served"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:400]


def test_geo_tier_plan_caps(spark, sf_dir):
    """Every geo entry's AQE-final plan stays inside its measured
    exchange/BNLJ caps, with zero cartesian products and zero
    row-at-a-time Python evals — a shuffle regression anywhere in the
    tier fails here, not in a slow round."""
    from hfp_loader_spark.audit import physical_profile
    from hfp_loader_spark.plans.catalog import REGISTRY

    failures = []
    for name, cap in GEO_PLAN_CAPS.items():
        df = REGISTRY[name].builder(spark, sf_dir)
        df.collect()
        p = physical_profile(df)
        if p["cartesian_products"]:
            failures.append(f"{name}: CartesianProduct")
        if p["python_row_evals"]:
            failures.append(f"{name}: BatchEvalPython")
        if p["exchanges"] > cap["max_exchanges"]:
            failures.append(
                f"{name}: {p['exchanges']} exchanges > {cap['max_exchanges']}"
            )
        if p["broadcast_nested_loop_joins"] > cap["bnlj"]:
            failures.append(
                f"{name}: {p['broadcast_nested_loop_joins']} BNLJ"
            )
    assert not failures, "\n".join(failures)


def test_simplify_radial_flags_walk_semantics(spark):
    """First point always kept; each kept point resets the anchor; a
    point < epsilon from the LAST KEPT point is dropped even when far
    from its immediate predecessor's dropped position."""
    from hfp_loader_spark.operators.geo import simplify_radial_flags

    # lat steps of 0.0001° = 11.132 m each; epsilon 25 m:
    # p1 keep (first), p2 +11m drop, p3 +22m drop, p4 +33m keep (reset),
    # p5 +11m from p4 drop
    rows = [
        (1, i, i, i * 1_000_000, 60.0 + 0.0001 * i, 24.5, 1.0)
        for i in range(5)
    ]
    df = spark.createDataFrame(
        rows,
        "vehicle_id int, event_id int, rn int, t_us long, lat double,"
        " lng double, spd double",
    )
    out = {
        r["rn"]: r["kept"]
        for r in simplify_radial_flags(df, epsilon_m=25.0).collect()
    }
    assert out == {0: True, 1: False, 2: False, 3: True, 4: False}
    with pytest.raises(ValueError, match="epsilon_m"):
        simplify_radial_flags(df, epsilon_m=0.0)


def test_proximity_pairs_equals_brute_force_on_random_data(spark):
    """Recall-exactness property: on random point clouds the half-plane
    blocked join returns EXACTLY the brute-force all-pairs set — the
    blocking (cell width validation + forward-offset uniqueness) can
    neither lose nor duplicate a pair."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from hfp_loader_spark.operators.geo import proximity_pairs

    RADIUS, BUCKET, CPD = 1000.0, 3_600_000_000, 50

    point = st.tuples(
        st.integers(1, 6),                      # vehicle
        st.integers(0, 3),                      # hour bucket index
        st.integers(0, 400),                    # lat offset in ~11 m steps
        st.integers(0, 800),                    # lng offset in ~11 m steps
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(pts=st.lists(point, min_size=2, max_size=24))
    def run(pts):
        rows = [
            (
                v,
                i,
                b * BUCKET + i * 1_000,
                60.0 + dlat * 0.0001,
                24.5 + dlng * 0.0002,
            )
            for i, (v, b, dlat, dlng) in enumerate(pts)
        ]
        df = spark.createDataFrame(
            rows,
            "vehicle_id int, pid int, t_us long, lat double, lng double",
        )
        got = sorted(
            (r["vehicle_a"], r["vehicle_b"], r["bucket"], r["t_us_a"], r["t_us_b"])
            for r in proximity_pairs(
                df, radius_m=RADIUS, bucket_us=BUCKET, cells_per_deg=CPD
            ).collect()
        )
        import math

        want = []
        for i, a in enumerate(rows):
            for b in rows[i + 1:]:
                if a[2] // BUCKET != b[2] // BUCKET or a[0] == b[0]:
                    continue
                dlat = a[3] - b[3]
                dlng = 0.5 * (a[4] - b[4])
                if 111320.0 * math.sqrt(dlat * dlat + dlng * dlng) < RADIUS:
                    lo, hi = (a, b) if a[0] < b[0] else (b, a)
                    want.append(
                        (lo[0], hi[0], a[2] // BUCKET, lo[2], hi[2])
                    )
        assert got == sorted(want)

    run()
