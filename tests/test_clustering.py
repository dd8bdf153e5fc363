"""operators.clustering — fixed-point Lloyd's k-means.

Hand-traced recurrences on 2-D points: with scale=1e6 every distance and
centroid below is exact, so assertions are equalities, not tolerances.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hfp_loader_spark.operators.clustering import kmeans_fixed_point

S = 1_000_000


@pytest.fixture()
def two_blobs(spark):
    return spark.createDataFrame(
        [
            (1, [0.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.0]),
            (4, [10.0, 10.0]),
            (5, [10.0, 11.0]),
            (6, [11.0, 10.0]),
        ],
        "vec_id long, embedding array<double>",
    )


def test_kmeans_two_blobs_hand_traced(spark, two_blobs):
    """Seeds are ids 1, 2 ([0,0], [0,1]).  Iter-1 assignment puts
    {1,3} with seed 0 and {2,4,5,6} with seed 1; the update pulls
    centroid 1 to the far blob's side, and from iter 2 on the
    clustering is the natural {1,2,3} / {4,5,6} split.  The reported
    dist_q is against the centroids entering the FINAL iteration:
    c0 = [⌊10⁶/3⌉, ⌊10⁶/3⌉] = [333333, 333333]."""
    out = {
        r["vec_id"]: r
        for r in kmeans_fixed_point(two_blobs, k=2, iters=3).collect()
    }
    assert {i: out[i]["cluster"] for i in out} == {
        1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1
    }
    assert out[1]["dist_q"] == 2 * 333333 * 333333
    # id 4 = [10,10] vs c1 = [10333333, 10333333]
    assert out[4]["dist_q"] == 2 * 333333 * 333333

    sizes = {
        r["cluster"]: r["n_members"]
        for r in kmeans_fixed_point(two_blobs, k=2, iters=3)
        .groupBy("cluster")
        .agg(F.count("*").alias("n_members"))
        .collect()
    }
    assert sizes == {0: 3, 1: 3}


def test_kmeans_tie_break_and_empty_cluster(spark):
    """Identical seeds: every point ties and takes the LOWEST cluster
    id, leaving cluster 1 empty — which must then RETAIN its previous
    centroid (here the origin), win the origin points back next round,
    and converge with zero inertia."""
    pts = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [9.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r for r in kmeans_fixed_point(pts, k=2, iters=3).collect()
    }
    assert out[1]["cluster"] == 1 and out[2]["cluster"] == 1
    assert out[3]["cluster"] == 0
    assert all(r["dist_q"] == 0 for r in out.values())


def test_kmeans_deterministic_across_runs(spark, two_blobs):
    a = sorted(map(tuple, kmeans_fixed_point(two_blobs, 2, 2).collect()))
    b = sorted(map(tuple, kmeans_fixed_point(two_blobs, 2, 2).collect()))
    assert a == b


def test_kmeans_broadcast_assignment_plan(spark, two_blobs):
    """Assignment must broadcast the k-row centroid frame — the corpus
    side never shuffles for it."""
    plan = (
        kmeans_fixed_point(two_blobs, 2, 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_kmeans_inertia_non_increasing(spark, sf_dir):
    """Lloyd's invariant on real embeddings: total inertia measured at
    iteration i is ≥ the one at i+1 (both measured against each run's
    final-iteration centroids)."""
    from hfp_loader_spark.plans.catalog import _t

    emb = _t(spark, sf_dir, "embeddings").limit(200)
    inertias = []
    for iters in (1, 2, 3):
        prof = (
            kmeans_fixed_point(emb, k=4, iters=iters)
            .groupBy("cluster")
            .agg(F.sum("dist_q").alias("inertia_q"))
            .collect()
        )
        inertias.append(sum(r["inertia_q"] for r in prof))
    assert inertias[0] >= inertias[1] >= inertias[2]


def test_cell_migration_matrix_accounts_for_every_shared_vector(spark, sf_dir):
    """The drift audit must conserve mass (Σ n_vectors = |shared
    universe|), stay within the k² domain, and agree with a hand-built
    transition count on a planted example."""
    from pyspark.sql import functions as F

    from hfp_loader_spark.operators.clustering import (
        cell_migration_matrix,
        kmeans_fixed_point,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = kmeans_fixed_point(emb, 8, 2)
    new = kmeans_fixed_point(emb, 8, 3)
    m = cell_migration_matrix(old, new).collect()
    n_universe = emb.where(F.size("embedding") > 0).count()
    assert sum(r["n_vectors"] for r in m) == n_universe
    assert len(m) <= 64
    # planted: ids 1..4 move deterministically
    a = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], "vec_id long, cluster int"
    )
    b = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 1), (5, 0)], "vec_id long, cluster int"
    )
    got = {
        (r["cell_from"], r["cell_to"]): r["n_vectors"]
        for r in cell_migration_matrix(a, b).collect()
    }
    assert got == {(0, 0): 1, (0, 1): 1, (1, 1): 1}  # id 4/5 not shared


def test_trajectory_returns_both_lag_frames_from_one_run(spark, sf_dir):
    """VERDICT r11 #2: kmeans_fixed_point_trajectory's (cent_prev, cent)
    must equal the two frames two INDEPENDENT trainings produce — and
    the grouped sibling likewise — so the serve-model build can collect
    both generations from a single Lloyd trajectory."""
    from pyspark.sql import functions as F

    from hfp_loader_spark.operators.clustering import (
        kmeans_fixed_point_grouped,
        kmeans_fixed_point_grouped_trajectory,
        kmeans_fixed_point_model,
        kmeans_fixed_point_trajectory,
        quantize_vec,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign_t, prev_t, cent_t = kmeans_fixed_point_trajectory(emb, 8, 3)
    _, prev_ref = kmeans_fixed_point_model(emb, 8, 2)
    assign_ref, cent_ref = kmeans_fixed_point_model(emb, 8, 3)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(prev_t) == rows(prev_ref)
    assert rows(cent_t) == rows(cent_ref)
    assert rows(assign_t) == rows(assign_ref)

    sliced = emb.where(F.size("embedding") == 64).select(
        "vec_id",
        quantize_vec(F.col("embedding"), 1_000_000).alias("_q"),
    ).select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("_q", j * 32 + 1, 32) for j in range(2)])
        ).alias("grp", "q"),
    )
    ga, gp, gc = kmeans_fixed_point_grouped_trajectory(
        sliced, 4, 3, group_col="grp", qvec_col="q"
    )
    _, gp_ref = kmeans_fixed_point_grouped(
        sliced, 4, 2, group_col="grp", qvec_col="q"
    )
    ga_ref, gc_ref = kmeans_fixed_point_grouped(
        sliced, 4, 3, group_col="grp", qvec_col="q"
    )
    assert rows(gp) == rows(gp_ref)
    assert rows(gc) == rows(gc_ref)
    assert rows(ga) == rows(ga_ref)


def test_apply_update_array_algebra(spark):
    """Optimization r17: the per-round centroid update runs as array
    expressions over the collapsed state frame (``_apply_update``), not
    a k-row join — pin its algebra: updated clusters take the new
    pos-ascending coordinates, clusters absent from the update (or a
    NULL update list, the left-join-miss case) keep their previous
    centroid."""
    from pyspark.sql import functions as F

    from hfp_loader_spark.operators.clustering import _apply_update

    cents = [
        {"cluster": 0, "cq": [1, 2]},
        {"cluster": 1, "cq": [3, 4]},
        {"cluster": 2, "cq": [5, 6]},
    ]
    rows = [
        # full update for 0, partial none for 1, update for 2
        (
            cents,
            [
                {"cluster": 0, "pos": 0, "v": 10},
                {"cluster": 0, "pos": 1, "v": 11},
                {"cluster": 2, "pos": 0, "v": 20},
                {"cluster": 2, "pos": 1, "v": 21},
            ],
        ),
        # empty update list: everything keeps its centroid
        (cents, []),
        # NULL update list (left-join miss): everything keeps its centroid
        (cents, None),
    ]
    df = spark.createDataFrame(
        rows,
        "cents array<struct<cluster:int,cq:array<long>>>, "
        "upd array<struct<cluster:int,pos:int,v:long>>",
    )
    out = df.select(
        _apply_update(F.col("cents"), F.col("upd")).alias("r")
    ).collect()
    as_pairs = lambda r: [(c["cluster"], c["cq"]) for c in r["r"]]
    assert as_pairs(out[0]) == [(0, [10, 11]), (1, [3, 4]), (2, [20, 21])]
    assert as_pairs(out[1]) == [(0, [1, 2]), (1, [3, 4]), (2, [5, 6])]
    assert as_pairs(out[2]) == [(0, [1, 2]), (1, [3, 4]), (2, [5, 6])]


def test_kmeans_round_exchange_shape(spark, two_blobs, monkeypatch):
    """Optimization r17: with the collapsed-array state, one Lloyd
    round's centroid plan carries exactly TWO corpus-fed exchanges —
    the (cluster, pos) update aggregate (map-side partials) and the
    k·dim-row collapse into the update list.  The r16 shape paid a
    third (the k-row frame re-collapse) plus an update join per round.
    The per-round pin is patched out so the whole round stays one
    inspectable plan."""
    from hfp_loader_spark.operators.clustering import (
        kmeans_fixed_point_model,
    )

    monkeypatch.setattr(
        type(two_blobs), "localCheckpoint", lambda self, eager=True: self
    )
    _, cent = kmeans_fixed_point_model(two_blobs, 2, 1)
    plan = cent._jdf.queryExecution().executedPlan().toString()
    import re

    hashes = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    # the only hash exchange over corpus-derived rows is the update agg
    assert len(hashes) == 1 and hashes[0].startswith("cluster"), hashes
    # the collapse of its bounded output is the only other shuffle
    assert plan.count("Exchange SinglePartition") <= 2, plan
