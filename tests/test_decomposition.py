"""Fixed-point decomposition operators vs an exact Python-int replica."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hfp_loader_spark.operators.decomposition import (
    _floor_div,
    centered_scatter,
    deflate_scatter,
    power_iterate,
    power_iteration_pc1,
    project_pc1,
    scatter_stats,
)
from plan_text import call_bodies, optimized_plan

VECS = [
    (1, [0.5, -0.25, 0.125]),
    (2, [-0.3, 0.4, 0.2]),
    (3, [0.1, 0.1, -0.5]),
    (4, [0.25, -0.4, 0.3]),
    (5, []),  # excluded: empty
    (6, None),  # excluded: NULL
]
SCALE = 1_000_000
VSCALE = 1_000_000


def _replica(iters: int):
    """The identical integer recurrence in arbitrary-precision Python
    ints — if Spark's DECIMAL path diverges anywhere, this catches it."""
    import math

    rows = [v for _, v in VECS if v]
    q = [[math.floor(x * SCALE) for x in r] for r in rows]
    n, d = len(q), len(q[0])
    sums = [sum(r[c] for r in q) for c in range(d)]
    s_mat = [
        [
            (n * sum(r[i] * r[j] for r in q) - sums[i] * sums[j]) // (n * n)
            for j in range(d)
        ]
        for i in range(d)
    ]
    v = [VSCALE] * d
    for _ in range(iters):
        w = [sum(s_mat[i][j] * v[j] for j in range(d)) for i in range(d)]
        m = max(max(abs(x) for x in w), 1)
        v = [(x * VSCALE) // m for x in w]
    num = sum(
        s_mat[i][j] * v[i] * v[j] for i in range(d) for j in range(d)
    )
    den = sum(x * x for x in v)
    return q, s_mat, v, round(num / (den * 1e12), 8)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        VECS, "vec_id int, embedding array<double>"
    )


def test_centered_scatter_matches_replica(emb):
    _, s_mat, _, _ = _replica(1)
    (row,) = centered_scatter(scatter_stats(emb, scale=SCALE)).collect()
    got = {
        (i + 1, j + 1): int(s)
        for i, r in enumerate(row["A"])
        for j, s in enumerate(r)
    }
    d = len(s_mat)
    assert len(got) == d * d
    for i in range(d):
        for j in range(d):
            assert got[(i + 1, j + 1)] == s_mat[i][j]


def test_power_iteration_matches_replica(emb):
    _, _, v_exp, eig_exp = _replica(3)
    rows = power_iteration_pc1(
        centered_scatter(scatter_stats(emb, scale=SCALE)),
        iters=3,
        vscale=VSCALE,
    ).collect()
    got = {r["pos"]: r["v_q"] for r in rows}
    assert got == {p + 1: v_exp[p] for p in range(len(v_exp))}
    assert rows[0]["eigenvalue"] == pytest.approx(eig_exp, abs=0)


def test_power_steps_normalize_once_per_step(emb):
    """The optimizer folds each step's normalization into the next
    step's matvec projection.  The matvec binds the vector outside its
    per-row lambda over ``A``, so the normalization (the only user of
    ``_m``) runs once per step, not once per matrix row."""
    st = power_iterate(
        centered_scatter(scatter_stats(emb, scale=SCALE)), 3, VSCALE
    )
    plan = optimized_plan(st)
    rows = call_bodies(plan, "transform(A#")
    assert rows and "_m#" in plan
    assert not [r for r in rows if "_m#" in r]


def test_projection_matches_replica(emb):
    q, _, v_exp, _ = _replica(3)
    pc1 = power_iteration_pc1(
        centered_scatter(scatter_stats(emb, scale=SCALE)),
        iters=3,
        vscale=VSCALE,
    )
    got = {
        r["vec_id"]: int(r["t"])
        for r in project_pc1(emb, pc1, scale=SCALE, vscale=VSCALE).collect()
    }
    ids = [i for i, v in VECS if v]
    exp = {
        ids[r]: sum(q[r][c] * v_exp[c] for c in range(len(v_exp)))
        for r in range(len(q))
    }
    assert got == exp  # NULL/empty vectors produce no row


def test_floor_div_negative_operands(spark):
    rows = spark.createDataFrame(
        [(-7, 2), (7, 2), (-8, 2), (0, 3)], "a long, b long"
    ).selectExpr(
        "CAST("
        + _floor_div("CAST(a AS decimal(38,0))", "CAST(b AS decimal(38,0))")
        + " AS BIGINT) AS fd",
        "a",
        "b",
    )
    got = {(r["a"], r["b"]): r["fd"] for r in rows.collect()}
    assert got == {(-7, 2): -4, (7, 2): 3, (-8, 2): -4, (0, 3): 0}


def test_merge_scatter_stats_equals_full_recompute(spark):
    from hfp_loader_spark.operators.decomposition import (
        merge_scatter_stats,
    )

    full = spark.createDataFrame(VECS, "vec_id int, embedding array<double>")
    a = full.where(F.col("vec_id") <= 2)
    b = full.where(F.col("vec_id") > 2)
    merged = merge_scatter_stats(
        scatter_stats(a, scale=SCALE),
        scatter_stats(b, scale=SCALE),
    )
    exp = {
        (r["kind"], r["i"], r["j"]): int(r["val"])
        for r in scatter_stats(full, scale=SCALE).collect()
    }
    got = {
        (r["kind"], r["i"], r["j"]): int(r["val"]) for r in merged.collect()
    }
    assert got == exp


def test_scatter_stats_ragged_dimensions_do_not_crash(spark):
    """Mixed embedding widths (corpus spanning embedding-model versions)
    fold per-length instead of crashing np.stack; each vector contributes
    to exactly its own positions, like the oracle's generate_series."""
    ragged = spark.createDataFrame(
        [(1, [0.5, -0.25]), (2, [0.1, 0.2, 0.3]), (3, [-0.4, 0.6])],
        "vec_id int, embedding array<double>",
    )
    got = {
        (r["kind"], r["i"], r["j"]): int(r["val"])
        for r in scatter_stats(ragged, scale=SCALE).collect()
    }
    assert got[(0, 0, 0)] == 3  # all three vectors counted
    # dim-3 position exists only via vec 2
    assert got[(1, 3, 0)] == 300000
    assert got[(2, 3, 3)] == 300000 * 300000
    # dim-1 sum spans all vectors
    assert got[(1, 1, 0)] == 500000 - 400000 + 100000


def test_deflation_matches_replica(spark):
    emb = spark.createDataFrame(VECS, "vec_id int, embedding array<double>")
    _, s_mat, v1, _ = _replica(3)
    d = len(s_mat)
    # python-int Hotelling deflation, floors in the operator's order
    w = [sum(s_mat[i][j] * v1[j] for j in range(d)) for i in range(d)]
    num = sum(w[i] * v1[i] for i in range(d))
    den = sum(x * x for x in v1)
    lam = num // den
    s2 = [
        [s_mat[i][j] - (lam * v1[i] * v1[j]) // den for j in range(d)]
        for i in range(d)
    ]
    # second power iteration on the deflated matrix
    u = [VSCALE] * d
    for _ in range(3):
        wu = [sum(s2[i][j] * u[j] for j in range(d)) for i in range(d)]
        m = max(max(abs(x) for x in wu), 1)
        u = [(x * VSCALE) // m for x in wu]
    scat = centered_scatter(scatter_stats(emb, scale=SCALE))
    pc2 = power_iteration_pc1(
        deflate_scatter(power_iterate(scat, iters=3, vscale=VSCALE)),
        iters=3,
        vscale=VSCALE,
    )
    got = {r["pos"]: r["v_q"] for r in pc2.collect()}
    assert got == {p + 1: u[p] for p in range(d)}


def test_streaming_incremental_scatter_equals_batch(spark, tmp_path):
    """Incremental PCA maintenance over a stream: each micro-batch folds
    into scatter stats (foreachBatch) and merges with the running stats
    via the mergeable-aggregate algebra; after the stream drains, the
    accumulated stats equal a batch recompute over everything — so the
    covariance/PC1 of a growing corpus never needs a history rescan."""
    from hfp_loader_spark.operators.decomposition import (
        merge_scatter_stats,
    )

    src = tmp_path / "src"
    batches = [VECS[:2], VECS[2:4], VECS[4:]]
    for k, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "vec_id int, embedding array<double>"
        ).write.parquet(str(src / f"b{k}"))

    acc: dict[tuple, int] = {}

    def fold_batch(bdf, _bid):
        part = {
            (r["kind"], r["i"], r["j"]): int(r["val"])
            for r in scatter_stats(bdf, scale=SCALE).collect()
        }
        for key, val in part.items():
            acc[key] = acc.get(key, 0) + val

    stream = (
        spark.readStream.schema("vec_id int, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    full = spark.createDataFrame(VECS, "vec_id int, embedding array<double>")
    exp = {
        (r["kind"], r["i"], r["j"]): int(r["val"])
        for r in scatter_stats(full, scale=SCALE).collect()
    }
    assert acc == exp

    # and the DataFrame-level merge agrees with the python fold
    parts = [
        scatter_stats(
            spark.createDataFrame(
                rows, "vec_id int, embedding array<double>"
            ),
            scale=SCALE,
        )
        for rows in batches[:2]
    ]
    merged = {
        (r["kind"], r["i"], r["j"]): int(r["val"])
        for r in merge_scatter_stats(*parts).collect()
    }
    exp2 = {
        (r["kind"], r["i"], r["j"]): int(r["val"])
        for r in scatter_stats(
            spark.createDataFrame(
                VECS[:4], "vec_id int, embedding array<double>"
            ),
            scale=SCALE,
        ).collect()
    }
    assert merged == exp2


def test_top_p_components_compose_iterate_and_deflate(spark):
    from hfp_loader_spark.operators.decomposition import top_p_components

    emb = spark.createDataFrame(VECS, "vec_id int, embedding array<double>")
    scat = centered_scatter(scatter_stats(emb, scale=SCALE))
    c1, c2 = top_p_components(scat, p=2, iters=3, vscale=VSCALE)
    pc1 = power_iteration_pc1(scat, iters=3, vscale=VSCALE)
    pc2 = power_iteration_pc1(
        deflate_scatter(power_iterate(scat, iters=3, vscale=VSCALE)),
        iters=3,
        vscale=VSCALE,
    )
    assert {r["pos"]: r["v_q"] for r in c1.collect()} == {
        r["pos"]: r["v_q"] for r in pc1.collect()
    }
    assert {r["pos"]: r["v_q"] for r in c2.collect()} == {
        r["pos"]: r["v_q"] for r in pc2.collect()
    }


def test_scatter_stats_persist_and_incremental_refresh(spark, tmp_path):
    from hfp_loader_spark.operators.decomposition import (
        load_scatter_stats,
        save_scatter_stats,
    )

    root = str(tmp_path / "scatter")
    full = spark.createDataFrame(VECS, "vec_id int, embedding array<double>")
    a = full.where(F.col("vec_id") <= 2)
    b = full.where(F.col("vec_id") > 2)
    v1 = save_scatter_stats(
        spark, scatter_stats(a, scale=SCALE), root,
        scale=SCALE,
    )
    v2 = save_scatter_stats(
        spark, scatter_stats(b, scale=SCALE), root,
        scale=SCALE,
    )
    assert v2 > v1
    got = {
        (r["kind"], r["i"], r["j"]): int(r["val"])
        for r in load_scatter_stats(spark, root, scale=SCALE).collect()
    }
    exp = {
        (r["kind"], r["i"], r["j"]): int(r["val"])
        for r in scatter_stats(full, scale=SCALE).collect()
    }
    assert got == exp
    # time travel: version 1 sees only delta a
    got1 = {
        (r["kind"], r["i"], r["j"]): int(r["val"])
        for r in load_scatter_stats(
            spark, root, scale=SCALE, version=v1
        ).collect()
    }
    exp1 = {
        (r["kind"], r["i"], r["j"]): int(r["val"])
        for r in scatter_stats(a, scale=SCALE).collect()
    }
    assert got1 == exp1
    # quantization-grid mismatch refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="scale"):
        load_scatter_stats(spark, root, scale=10_000)


def test_pca_entries_on_an_all_null_or_empty_corpus(spark, tmp_path):
    """A corpus whose vectors are all NULL or empty: pc1 and pc2 return
    no row and the explained-variance summary one row of NULLs — the
    results of the earlier per-step join plans, recorded before the
    one-row state replaced them.  A one-vector corpus has a zero
    scatter, so the iterate is all zeros: every eigenvalue, the pc2
    iterate and its cosine are NULL, the rows the DuckDB oracles give,
    not a division-by-zero error."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    def run(corpus, name):
        return sorted(tuple(r) for r in REGISTRY[name].builder(
            spark, str(corpus)
        ).collect())

    empty = tmp_path / "empty"
    spark.createDataFrame(
        [(1, None, 0), (2, [], 1), (3, None, 0)],
        "vec_id bigint, embedding array<double>, label int",
    ).write.parquet(str(empty / "embeddings.parquet"))
    assert run(empty, "emb_power_iteration_pc1") == []
    assert run(empty, "emb_power_iteration_pc2") == []
    assert run(empty, "emb_explained_variance") == [(None, None, None)]

    one = tmp_path / "one"
    spark.createDataFrame(
        [(1, [0.5, -0.25, 0.125, 0.0], 0)],
        "vec_id bigint, embedding array<double>, label int",
    ).write.parquet(str(one / "embeddings.parquet"))
    assert run(one, "emb_power_iteration_pc1") == [
        (pos, 0, None) for pos in range(1, 5)
    ]
    assert run(one, "emb_power_iteration_pc2") == [
        (pos, None, None, None) for pos in range(1, 5)
    ]
    assert run(one, "emb_explained_variance") == [(0.0, None, None)]
