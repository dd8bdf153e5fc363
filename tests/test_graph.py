"""connected_components: transitive closure semantics + convergence guard."""

from __future__ import annotations

import pytest

from hfp_loader_spark.operators.graph import (
    connected_components,
    pagerank,
    pagerank_state,
)
from plan_text import call_bodies, optimized_plan


def _components(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = connected_components(df, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_chain_is_one_component(spark):
    # 1-2, 2-3, 3-4: no direct 1-4 edge — only transitivity links them
    got = _components(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_two_components_and_star(spark):
    got = _components(spark, [(10, 11), (10, 12), (10, 13), (20, 21)])
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_min_id_wins_regardless_of_edge_direction(spark):
    # min vertex appears only as dst; label must still flow to everyone
    got = _components(spark, [(5, 1), (6, 5), (7, 6)])
    assert set(got.values()) == {1}


def test_unconverged_diameter_raises(spark):
    # a 5-chain needs ~4 rounds; max_iter=1 must fail loudly, not return
    # a partial clustering
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="no fixed point"):
        connected_components(df, max_iter=1)


def test_triangle_count_hand_checked(spark):
    from hfp_loader_spark.operators.graph import triangle_count

    # K4 minus one edge = 2 triangles; edge directions/duplicates ignored
    edges = [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert triangle_count(df).collect()[0]["n_triangles"] == 2


def test_triangle_count_none(spark):
    from hfp_loader_spark.operators.graph import triangle_count

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    assert triangle_count(df).collect()[0]["n_triangles"] == 0


def test_alternating_cc_matches_propagation(spark):
    """Large-star/small-star must produce byte-identical labels to
    min-label propagation on random graphs."""
    import random

    from hfp_loader_spark.operators.graph import (
        connected_components,
        connected_components_alternating,
    )

    random.seed(11)
    edges = [
        (random.randrange(120), random.randrange(120)) for _ in range(90)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    b = {
        (r["id"], r["component"])
        for r in connected_components_alternating(df).collect()
    }
    assert a == b


def test_alternating_cc_handles_long_chain(spark):
    """A chain of diameter 80 converges in O(log n) rounds — min-label
    propagation would need 80 rounds (> its max_iter) for the same graph."""
    from hfp_loader_spark.operators.graph import (
        connected_components_alternating,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], ["src", "dst"]
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components_alternating(chain, max_iter=15).collect()
    }
    assert got == {(i, 0) for i in range(81)}


def test_alternating_cc_keeps_self_loop_only_vertices(spark):
    """A vertex whose only edge is a self-loop must appear as its own
    singleton component — identical to connected_components' endpoint-
    derived vertex set (code-review finding, round 4)."""
    from hfp_loader_spark.operators.graph import (
        connected_components,
        connected_components_alternating,
    )

    df = spark.createDataFrame([(1, 2), (5, 5), (2, 2)], ["src", "dst"])
    a = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    b = {
        (r["id"], r["component"])
        for r in connected_components_alternating(df).collect()
    }
    assert a == b == {(1, 1), (2, 1), (5, 5)}


def test_cluster_keepers_by_score_argmax_and_ties(spark):
    """Per component: highest score wins, ties break to the LOWEST id,
    and member counts are exact."""
    from hfp_loader_spark.operators.graph import cluster_keepers_by_score

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "id long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.5)],
        "id long, score double",
    )
    out = {
        r["component"]: (r["keeper_id"], r["n_members"], r["keeper_score"])
        for r in cluster_keepers_by_score(comp, scores).collect()
    }
    assert out == {
        1: (2, 3, 0.9),    # 2 beats 3 on the id tiebreak, beats 1 on score
        10: (10, 2, 0.5),  # pure tie → min id
    }


def test_cluster_keepers_excludes_null_scores(spark):
    """A NULL-score member must never win the keeper fold (struct min is
    NULLS-FIRST, so an unfiltered NULL would beat every real score —
    ADVICE r8) and is excluded from n_members; an all-NULL component
    yields no row."""
    from hfp_loader_spark.operators.graph import cluster_keepers_by_score

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (20, 20), (21, 20)],
        "id long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 0.3), (2, None), (3, 0.7), (20, None), (21, None)],
        "id long, score double",
    )
    out = {
        r["component"]: (r["keeper_id"], r["n_members"], r["keeper_score"])
        for r in cluster_keepers_by_score(comp, scores).collect()
    }
    # component 1: NULL member 2 neither wins nor counts
    # component 20: all members unscored → no keeper row at all
    assert out == {1: (3, 2, 0.7)}


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (2, 3)],  # incl. dup edge
        "src long, dst long",
    )


def _ranks(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_pagerank_parquet_state_is_byte_identical(spark, tmp_path):
    """The served contract: a ``pagerank_state`` row committed to
    parquet and read back gives bit-identical ranks to the inline state
    — the warm-serve path can never drift the arithmetic."""
    state = pagerank_state(_edges(spark))
    path = str(tmp_path / "state")
    state.write.parquet(path)
    served = pagerank(spark.read.parquet(path), n_iter=5)
    assert _ranks(served) == _ranks(pagerank(state, n_iter=5))


def test_pagerank_unpinned_collects_are_bit_identical(spark):
    """No pin holds the ranks: every in-edge sum runs in array order,
    so two actions over one frame see the same doubles."""
    ranks = pagerank(pagerank_state(_edges(spark)), n_iter=5)
    assert "LocalCheckpoint" not in optimized_plan(ranks)
    assert _ranks(ranks) == _ranks(ranks)


def test_pagerank_empty_graph_has_no_rows(spark):
    """The DuckDB oracles return no rows for an empty edge list."""
    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(pagerank_state(edges), n_iter=5).collect() == []


def test_pagerank_iterate_is_bound_once_per_step(spark):
    """Each step binds the previous ranks outside its per-vertex
    lambda, so no step's vertex loop recomputes the step before it."""
    plan = optimized_plan(pagerank(pagerank_state(_edges(spark)), n_iter=5))
    steps = call_bodies(plan, "transform(G#")
    assert len(steps) >= 5
    assert not [b for b in steps if b.count("transform(G#") > 1]
