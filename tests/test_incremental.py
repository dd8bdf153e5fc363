"""merge_upsert / scd2_intervals / pagerank: hand-checked semantics."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from hfp_loader_spark.operators.graph import pagerank, pagerank_state
from hfp_loader_spark.operators.relational import merge_upsert, scd2_intervals


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    source = spark.createDataFrame(
        [(2, "B"), (4, "D")], ["k", "v"]  # update k=2, insert k=4
    )
    got = {r["k"]: r["v"] for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_merge_upsert_rejects_schema_mismatch(spark):
    t = spark.createDataFrame([(1, "a")], ["k", "v"])
    s = spark.createDataFrame([(1,)], ["k"])
    with pytest.raises(AssertionError, match="schema mismatch"):
        merge_upsert(t, s, ["k"])


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_scd2_compresses_and_closes_intervals(spark):
    df = spark.createDataFrame(
        [
            (1, "free", _ts("2024-01-01T00:00:00")),
            (1, "free", _ts("2024-01-02T00:00:00")),  # repeat → compressed
            (1, "paid", _ts("2024-01-05T00:00:00")),
            (1, "free", _ts("2024-01-09T00:00:00")),  # back again → new row
            (2, "paid", _ts("2024-03-01T00:00:00")),
        ],
        ["user_id", "state", "ts"],
    )
    rows = sorted(
        scd2_intervals(df, "user_id", "state", "ts").collect(),
        key=lambda r: (r["user_id"], r["valid_from"]),
    )
    assert [(r["user_id"], r["state"]) for r in rows] == [
        (1, "free"), (1, "paid"), (1, "free"), (2, "paid"),
    ]
    # intervals chain: each valid_to equals the next valid_from
    assert rows[0]["valid_to"] == rows[1]["valid_from"]
    assert rows[1]["valid_to"] == rows[2]["valid_from"]
    # open (current) states have NULL valid_to
    assert rows[2]["valid_to"] is None and rows[3]["valid_to"] is None


def _py_pagerank(edges, n_iter=5, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += rank[s] / out[s]
        rank = {v: (1 - d) / n + d * contrib[v] for v in nodes}
    return rank


@pytest.mark.parametrize(
    "edges",
    [
        [("a", "b"), ("b", "a")],          # symmetric 2-cycle: stays uniform
        [("a", "b")],                       # sink accumulates, source decays
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")],
    ],
)
def test_pagerank_matches_reference_power_iteration(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = pagerank(pagerank_state(df), n_iter=5)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    want = _py_pagerank(edges, n_iter=5)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_duplicate_edges_collapse(spark):
    # the same edge listed twice must not double its contribution
    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a")], ["src", "dst"]
    )
    ranks = pagerank(pagerank_state(df), n_iter=3)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    want = _py_pagerank([("a", "b"), ("b", "a")], n_iter=3)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
