"""Vector similarity operator properties: exactness and ANN recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hfp_loader_spark.operators.similarity import (
    brute_force_top_k,
    cosine,
    signlsh_top_k,
)
from hfp_loader_spark.plans.catalog import load_table

K = 5
N_QUERIES = 5
DIM = 64


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_cosine_expression_matches_python(emb):
    rows = emb.limit(2).collect()
    a, b = rows[0]["embedding"], rows[1]["embedding"]
    dot = sum(x * y for x, y in zip(a, b))
    expect = dot / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    )
    two = emb.limit(2).agg(
        F.collect_list("embedding").alias("vs")
    ).select(
        cosine(
            F.element_at("vs", 1).cast("array<double>"),
            F.element_at("vs", 2).cast("array<double>"),
        ).alias("cos")
    )
    got = two.collect()[0]["cos"]
    assert abs(got - expect) < 1e-9


def test_brute_force_topk_is_exact(emb, queries):
    """Window top-k agrees with a collect-and-sort reference."""
    got = brute_force_top_k(emb, queries, K).collect()
    corpus = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    qs = {r["query_id"]: r["embedding"] for r in queries.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return round(d / (na * nb), 4)

    for qid, qv in qs.items():
        expect = sorted(
            ((cos(qv, v), vid) for vid, v in corpus.items()),
            key=lambda t: (-t[0], t[1]),
        )[:K]
        mine = sorted(
            [
                (r["cos"], r["vec_id"])
                for r in got
                if r["query_id"] == qid
            ],
            key=lambda t: (-t[0], t[1]),
        )
        assert mine == expect


def test_signlsh_recall(emb, queries):
    """ANN top-k with multi-probe must recover most of the exact top-k.

    Planes are sized to the (tiny) test corpus per the IVF-style rule in
    signlsh_top_k's docstring; ≥ 0.5 recall is a loose-but-meaningful
    floor (random bucketing would give ~(1+probes)/2^planes ≈ 0.3)."""
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_top_k(emb, queries, K).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in signlsh_top_k(
            emb, queries, K, dim=DIM, n_planes=4, n_probes=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5


def test_quantize_roundtrip_error_bounded(emb):
    from hfp_loader_spark.operators.similarity import (
        as_double_array,
        dequantize_embedding,
        quantize_embedding,
    )

    v = as_double_array(F.col("embedding"))
    q = emb.select("vec_id", v.alias("x"), quantize_embedding(v).alias("qt"))
    rows = q.select(
        "vec_id",
        "x",
        "qt.scale",
        dequantize_embedding(F.col("qt")).alias("dq"),
        F.array_max(F.col("qt.q")).alias("qmax"),
        F.array_min(F.col("qt.q")).alias("qmin"),
    ).collect()
    assert rows
    for r in rows:
        assert -127 <= r["qmin"] <= r["qmax"] <= 127
        if r["scale"] and r["scale"] > 0:
            for orig, rec in zip(r["x"], r["dq"]):
                # symmetric rounding → per-dim error ≤ scale/2 (+ float slop)
                assert abs(orig - rec) <= r["scale"] / 2 + 1e-9


def test_arrow_top_k_query_cap_raises(spark, emb):
    """VERDICT r3 #8: the driver-side collect of the query matrix must be
    guarded — an oversized query side raises a clear error instead of
    silently OOMing the driver."""
    import pytest

    from hfp_loader_spark.operators.similarity import arrow_top_k

    queries = emb.select(
        emb.vec_id.alias("query_id"), "embedding"
    ).limit(10)
    with pytest.raises(ValueError, match="max_queries"):
        arrow_top_k(emb, queries, k=3, max_queries=5)
    # at/below the cap the operator runs normally
    out = arrow_top_k(emb, queries, k=3, max_queries=10)
    assert out.count() == 30


# --- Product quantization -------------------------------------------------


@pytest.fixture(scope="module")
def pq_books(spark, sf_dir):
    """The served fixed-point codebooks c_{iters-1}: sorted
    (grp, cluster, quantized sub-centroid) triples."""
    from hfp_loader_spark.plans.model_queries import _pq_serve_model

    books_assign, _ = _pq_serve_model(spark, sf_dir)
    return books_assign


def test_pq_encode_matches_numpy_argmin(emb, pq_books):
    """The in-plan integer encode (Σc²−2qc argmin over literal
    codebooks) must agree with a straightforward numpy nearest-code-word
    assignment of the quantized vector, ties to the lowest code."""
    import numpy as np

    from hfp_loader_spark.operators.similarity import _pq_encode

    rows = _pq_encode(
        emb.limit(20), pq_books, 8, DIM, "vec_id", "embedding", 1_000_000
    ).collect()
    assert rows
    books = np.zeros((8, 16, DIM // 8), dtype=np.int64)
    for g, cl, cq in pq_books:
        books[g, cl] = cq
    for r in rows:
        q = np.array(r["_q"], dtype=np.int64)
        for j in range(8):
            sub = q[j * (DIM // 8) : (j + 1) * (DIM // 8)]
            want = int(np.argmin(((books[j] - sub) ** 2).sum(axis=1)))
            assert r["_codes"][j] == want, (r["vec_id"], j)


def test_pq_distortion_is_bounded(emb, pq_books):
    from hfp_loader_spark.operators.similarity import pq_reconstruction_mse

    row = (
        pq_reconstruction_mse(emb, pq_books)
        .agg(F.avg("mse").alias("avg"), F.max("mse").alias("mx"))
        .collect()[0]
    )
    # unit-norm vectors have per-dim energy 1/dim ≈ 0.0156; the decode
    # of the fixed-point codebooks must capture most of it
    assert row["avg"] < 0.02
    assert row["mx"] < 0.05


def test_semantic_dedup_prunes_planted_duplicate(spark):
    """A true duplicate (identical vector) must be pruned in favor of the
    smaller id; dissimilar vectors must all be kept.  Both cell sources
    of the one SemDeDup function — the inline assignment frame and the
    served c_{iters-1} literals of the same training run — must give
    the same keep-list."""
    import random

    from hfp_loader_spark.operators.clustering import (
        kmeans_fixed_point_trajectory,
    )
    from hfp_loader_spark.operators.similarity import semantic_dedup_cells

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(40)]
    rows.append((100, list(rows[3][1])))  # exact duplicate of vec 3
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    assign, cent_prev, _ = kmeans_fixed_point_trajectory(df, 2, 3)
    out = {
        r["vec_id"]: r
        for r in semantic_dedup_cells(df, 0.95, assign).collect()
    }
    assert len(out) == 41  # one row per input vector
    assert out[100]["kept"] is False  # duplicate pruned...
    assert out[3]["kept"] is True  # ...in favor of the smaller id
    assert out[100]["cell"] == out[3]["cell"]  # identical vectors co-cluster
    kept = [v for v in out.values() if v["kept"]]
    assert len(kept) == 40  # nothing else is near-identical at 0.95

    cents = sorted((r["cluster"], list(r["cq"])) for r in cent_prev.collect())
    served = semantic_dedup_cells(df, 0.95, cents).collect()
    assert sorted(map(tuple, served)) == sorted(
        (r["vec_id"], r["cell"], r["kept"]) for r in out.values()
    )


def test_rp_matrix_matches_hashlib_and_projection_is_linear(emb):
    """The md5 sign matrix is reproducible; the projection of a vector
    equals the hand-computed matrix product; JL distortion over real
    sf-data pairs stays inside the k=16 envelope."""
    import hashlib

    from hfp_loader_spark.operators.similarity import (
        random_projection,
        rp_sign_matrix,
    )

    m = rp_sign_matrix(64, 16)
    assert len(m) == 16 and all(len(r) == 64 for r in m)
    assert m[3][7] == (
        1.0
        if int(hashlib.md5(b"rp3d7").hexdigest()[1], 16) % 2 == 0
        else -1.0
    )

    row = emb.where(F.col("vec_id") == 0).collect()[0]
    got = (
        random_projection(emb.where(F.col("vec_id") == 0), 64, 16)
        .collect()[0]["rp"]
    )
    want = [
        round(
            sum(float(x) * s for x, s in zip(row["embedding"], m[j])) * 0.25,
            4,
        )
        for j in range(16)
    ]
    assert got == want


def test_rp_distortion_within_jl_envelope(emb):
    """Pairwise cosine distortion under the 64→16 ±1 projection: for
    near-orthogonal vectors the error std is ≈ 1/√k = 0.25, so the mean
    |Δcos| over real-data pairs lands near E|N(0, 0.25)| ≈ 0.2
    (measured: 0.194 at sf0.001, 0.228 at sf0.01) and the max of ~300
    samples stays under ~3.5σ.  A mis-scaled projection (wrong 1/√k, a
    dropped dimension) shifts the mean far outside these bands."""
    from hfp_loader_spark.operators.similarity import random_projection

    sub = emb.where(F.col("vec_id") < 25)
    rp = random_projection(sub, 64, 16)
    orig = sub.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    j = rp.join(orig, "vec_id")
    a = j.select(
        F.col("vec_id").alias("ia"),
        F.col("rp").alias("ra"),
        F.col("v").alias("va"),
    )
    b = j.select(
        F.col("vec_id").alias("ib"),
        F.col("rp").alias("rb"),
        F.col("v").alias("vb"),
    )
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        F.abs(
            cosine(F.col("va"), F.col("vb"))
            - cosine(F.col("ra"), F.col("rb"))
        ).alias("err")
    )
    stats = pairs.agg(
        F.avg("err").alias("avg"), F.max("err").alias("mx")
    ).collect()[0]
    assert 0.1 < stats["avg"] < 0.3
    assert stats["mx"] < 0.9


def test_mmr_diversifies_and_keeps_pure_argmax_first(emb, queries):
    """Rank 1 is the plain relevance argmax; the MMR set's internal
    max pairwise similarity never exceeds the plain top-k's (that IS
    the operator's contract); every rank's set is a strict prefix
    growth with no repeats."""
    from hfp_loader_spark.operators.similarity import mmr_diversify

    plain = brute_force_top_k(emb, queries, K).collect()
    got = mmr_diversify(emb, queries, k_select=K, n_candidates=20).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], {})[r["mmr_rank"]] = (
            r["vec_id"], r["score"],
        )
    top1 = {
        r["query_id"]: r["vec_id"] for r in plain if r["rn"] == 1
    }
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }

    def cos(a, b):
        import math

        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(
            sum(y * y for y in b)
        )
        return num / den if den > 0 else None

    def max_pair_sim(ids):
        return max(
            cos(vecs[i], vecs[j])
            for i in ids
            for j in ids
            if i < j
        )

    plain_ids = {}
    for r in plain:
        plain_ids.setdefault(r["query_id"], []).append(r["vec_id"])
    for qid, ranks in by_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5]
        assert ranks[1][0] == top1[qid]
        ids = [ranks[t][0] for t in sorted(ranks)]
        assert len(set(ids)) == K  # no repeats
        assert max_pair_sim(ids) <= max_pair_sim(plain_ids[qid]) + 1e-9


def test_kcenter_coverage_curve_and_exclusions(emb):
    """The seed is the lowest id; min_dist is non-increasing (greedy
    maxmin); selected ids are unique; NULL/empty vectors never get
    picked; and the selection matches a hand-rolled greedy replica."""
    from hfp_loader_spark.operators.similarity import kcenter_coreset

    sub = emb.where(F.col("vec_id") < 60)
    got = sorted(
        kcenter_coreset(sub, 5).collect(), key=lambda r: r["sel_rank"]
    )
    ids = [r["vec_id"] for r in got]
    assert len(set(ids)) == 5
    assert ids[0] == sub.agg(F.min("vec_id")).collect()[0][0]
    dists = [r["min_dist"] for r in got[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))

    # greedy replica on collected vectors
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in sub.collect()
        if r["embedding"]
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return num / (na * nb) if na * nb > 0 else None

    sel = [min(vecs)]
    for _ in range(4):
        best = None
        for c in sorted(vecs):
            if c in sel:
                continue
            md = min(
                round(1.0 - cos(vecs[c], vecs[s]), 4) for s in sel
            )
            if best is None or md > best[1]:
                best = (c, md)
        sel.append(best[0])
    assert ids == sel


def test_pq_exact_codes_recall_vs_exact_topk(spark, sf_dir):
    """The value-checked PQ variant must also be a GOOD index: recall@5
    vs the exact cosine top-5 stays above a 0.6 floor (the
    100-candidate shortlist dominates the error)."""
    from pyspark.sql import functions as F

    from hfp_loader_spark.operators.similarity import (
        brute_force_top_k,
        pq_exact_codes_top_k,
    )
    from hfp_loader_spark.plans.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_top_k(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in pq_exact_codes_top_k(emb, queries, k=5).collect()
    }
    assert len(exact) == 25
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall {recall}"


def test_ivf_exact_cells_recall_vs_exact_topk(spark, sf_dir):
    """The value-checked IVF variant must also be a GOOD index: with
    nprobe=4 of 8 cells probed, recall@5 vs the exact cosine top-5
    stays at or above a 0.6 floor."""
    from pyspark.sql import functions as F

    from hfp_loader_spark.operators.similarity import (
        brute_force_top_k,
        ivf_exact_cells_top_k,
    )
    from hfp_loader_spark.plans.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_top_k(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_exact_cells_top_k(
            emb, queries, k=5, nlist=8, nprobe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall {recall}"


def test_ivf_pretrained_serve_equals_inline_training_twin(spark, sf_dir):
    """The r11 full-oracle upgrade of sim_ann_ivf rests on this
    identity: the serve-only plan over memoized integer centroid
    literals (c_{iters-1} for assignment, c_iters for probes) must
    reproduce the inline-training twin's neighbor list bit-for-bit —
    same assignment argmin, same probe ranking, same rounded-cosine
    rerank.  A drift in either trajectory breaks this before the
    driver gate sees it."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    serve = sorted(
        map(tuple, REGISTRY["sim_ann_ivf"].builder(spark, sf_dir).collect())
    )
    twin = sorted(
        map(
            tuple,
            REGISTRY["sim_ann_ivf_exact_cells"].builder(spark, sf_dir).collect(),
        )
    )
    assert serve == twin and len(serve) == 25


def test_pq_pretrained_serve_equals_inline_training_twin(spark, sf_dir):
    """Same identity lock as the IVF sibling: the PQ serve-only plan
    over memoized integer codebook literals (books_{iters-1} for
    encoding, books_iters for the ADC LUT) must reproduce the
    inline-training twin's neighbor list bit-for-bit."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    serve = sorted(
        map(tuple, REGISTRY["sim_ann_pq"].builder(spark, sf_dir).collect())
    )
    twin = sorted(
        map(
            tuple,
            REGISTRY["sim_ann_pq_exact_codes"].builder(spark, sf_dir).collect(),
        )
    )
    assert serve == twin and len(serve) == 25


def test_semdedup_pretrained_blas_equals_expression_twin(spark, sf_dir):
    """Lock for the full oracle of semdedup_keep_list: serve-style cells
    from memoized c_{iters-1} literals must reproduce the inline-training
    twin (semdedup_keep_list_exact) bit-for-bit — cells, keep flags,
    and universe."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    serve = sorted(
        map(
            tuple,
            REGISTRY["semdedup_keep_list"].builder(spark, sf_dir).collect(),
        )
    )
    twin = sorted(
        map(
            tuple,
            REGISTRY["semdedup_keep_list_exact"]
            .builder(spark, sf_dir)
            .collect(),
        )
    )
    assert serve == twin and len(serve) == 500


def test_cell_tag_appends_equal_full_recompute_and_pin_the_model(
    spark, sf_dir, tmp_path
):
    """O(delta) tag appends: two disjoint batches committed separately
    must load back equal to one full assignment of the union (the
    per-row-deterministic merge argument), and an append against a
    DIFFERENT model generation must raise instead of mixing tag
    geometries."""
    import pytest

    from hfp_loader_spark.operators.similarity import (
        append_cell_tags,
        load_cell_tags,
    )
    from hfp_loader_spark.plans.model_queries import _ivf_serve_model

    cent_assign, _ = _ivf_serve_model(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    root = str(tmp_path / "tags")

    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    assert append_cell_tags(spark, b1, root, cent_assign, 1_000_000) == 1
    assert append_cell_tags(spark, b2, root, cent_assign, 1_000_000) == 2

    got = sorted(map(tuple, load_cell_tags(spark, root).collect()))
    full_root = str(tmp_path / "tags_full")
    append_cell_tags(spark, emb, full_root, cent_assign, 1_000_000)
    full = sorted(map(tuple, load_cell_tags(spark, full_root).collect()))
    assert got == full and len(got) == 500

    # model-generation pin: a perturbed model must be refused
    wrong = [(cl, [v + 1 for v in cq]) for cl, cq in cent_assign]
    with pytest.raises(ValueError, match="mixing generations"):
        append_cell_tags(spark, emb, root, wrong, 1_000_000)
    # and a scale change is refused even with the same centroids
    with pytest.raises(ValueError, match="mixing generations"):
        append_cell_tags(spark, emb, root, cent_assign, 1_000)


def test_cell_index_lifecycle_serves_equal_and_prunes_files(
    spark, sf_dir, tmp_path
):
    """The r12 persisted-index serve path (VERDICT r11 #1), end to end
    on private roots: tag log → materialize_cell_index (cell-partitioned
    layout) → ivf_served_top_k must equal the inline-training twin
    (ivf_exact_cells_top_k) bit-for-bit; the probed-cell pruning must
    be PHYSICAL (corrupting an unprobed cell's parquet file does not
    touch the query — the scan never opens it); and a layout stamped
    under a different model generation must be refused."""
    import glob
    import os

    from hfp_loader_spark.operators.similarity import (
        _model_fingerprint,
        ivf_exact_cells_top_k,
        ivf_served_top_k,
        materialize_cell_index,
        rebuild_cell_tags,
        read_cell_index,
    )
    from hfp_loader_spark.plans.model_queries import _ivf_serve_model

    cent_assign, cent_probe = _ivf_serve_model(spark, sf_dir)
    fp = _model_fingerprint(cent_assign)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tag_root = str(tmp_path / "tags")
    index_root = str(tmp_path / "cells")
    rebuild_cell_tags(spark, emb, tag_root, cent_assign, 1_000_000)
    doc = materialize_cell_index(spark, tag_root, emb, index_root)
    assert doc["model_fingerprint"] == fp and doc["tag_version"] == 1

    # single query, nprobe=2 of nlist=8 → most cells UNPROBED
    queries = emb.where(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = ivf_served_top_k(
        spark, queries, index_root, cent_probe, k=5, nprobe=2,
        expect_fingerprint=fp,
    )
    twin = ivf_exact_cells_top_k(
        emb, queries, k=5, nlist=8, nprobe=2, iters=3
    )
    got = sorted(map(tuple, served.collect()))
    assert got == sorted(map(tuple, twin.collect())) and len(got) == 5

    # physical pruning: trash every parquet file of a cell the probe set
    # does not contain; the served query must not notice
    from hfp_loader_spark.operators.similarity import _ivf_probe_frame

    probed = {
        r["cluster"]
        for r in _ivf_probe_frame(
            queries, cent_probe, 2, "query_id", "embedding", 1_000_000
        ).collect()
    }
    all_cells = {cl for cl, _ in cent_assign}
    victim = sorted(all_cells - probed)[0]
    victim_files = glob.glob(f"{index_root}/data/cell={victim}/*.parquet")
    assert victim_files, "victim cell has no files — layout broken"
    for f in victim_files:
        with open(f, "wb") as fh:
            fh.write(b"not parquet at all")
    again = ivf_served_top_k(
        spark, queries, index_root, cent_probe, k=5, nprobe=2,
        expect_fingerprint=fp,
    )
    assert sorted(map(tuple, again.collect())) == got
    # ... while actually reading the trashed partition fails, proving
    # the corruption was real and the scan genuinely skipped it
    with pytest.raises(Exception):
        spark.read.parquet(f"{index_root}/data/cell={victim}").collect()

    # generation pin: a different fingerprint is refused
    with pytest.raises(ValueError, match="mixing"):
        read_cell_index(spark, index_root, "deadbeef", 1_000_000)
    with pytest.raises(ValueError, match="no cell index"):
        read_cell_index(spark, str(tmp_path / "nope"), fp, 1_000_000)


def test_code_table_appends_equal_recompute_pin_and_serve(
    spark, sf_dir, tmp_path
):
    """The r12 persisted PQ code table (VERDICT r11 #2): load_codes
    enforces the expected generation, and pq_served_top_k over the
    loaded table equals the inline-training twin
    (pq_exact_codes_top_k) bit-for-bit."""
    from hfp_loader_spark.operators.similarity import (
        _books_fingerprint,
        load_codes,
        pq_exact_codes_top_k,
        pq_served_top_k,
        rebuild_codes,
    )
    from hfp_loader_spark.plans.model_queries import _pq_serve_model

    books_assign, books_probe = _pq_serve_model(spark, sf_dir)
    fp = _books_fingerprint(books_assign)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    root = str(tmp_path / "codes")
    assert rebuild_codes(spark, emb, root, books_assign, 1_000_000) == 1

    wrong = [(g, cl, [v + 1 for v in cq]) for g, cl, cq in books_assign]
    with pytest.raises(ValueError, match="mixing generations"):
        load_codes(spark, root, _books_fingerprint(wrong), 1_000_000)
    with pytest.raises(ValueError, match="no PQ codes"):
        load_codes(spark, str(tmp_path / "nope"))

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    codes = load_codes(spark, root, fp, 1_000_000)
    served = pq_served_top_k(
        spark, emb, queries, codes, books_probe, k=5,
    )
    twin = pq_exact_codes_top_k(
        emb, queries, k=5, m=8, ksub=16, iters=3, shortlist=100, dim=64
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, twin.collect())
    )


def test_parsed_array_lit_roundtrips_and_rejects_gapped_models(spark):
    """_parsed_array_lit (the py4j-free literal constructor the serve
    paths build their centroid/codebook constants with) must round-trip
    int64 extremes and shortest-repr doubles bit-for-bit vs F.lit; and
    _int_cents_lit must refuse non-contiguous cluster ids (ADVICE r11
    #1 — a gapped model would silently shift every downstream cell)."""
    import struct

    from hfp_loader_spark.operators.similarity import (
        _int_cents_lit,
        _parsed_array_lit,
    )

    ints = [[2**63 - 1, -(2**63), 0, -1], [7, -7, 123456789012345, 1]]
    doubles = [1e-308, -0.0, 0.1 + 0.2, 2.5, -1.7976931348623157e308]
    row = (
        spark.range(1)
        .select(
            _parsed_array_lit(ints, lambda v: f"{v}L").alias("i"),
            F.lit(ints).cast("array<array<bigint>>").alias("i0"),
            _parsed_array_lit(doubles, lambda v: f"{v!r}D").alias("d"),
            F.lit(doubles).alias("d0"),
        )
        .collect()[0]
    )
    assert [list(x) for x in row["i"]] == [list(x) for x in row["i0"]]
    assert [struct.pack(">d", v) for v in row["d"]] == [
        struct.pack(">d", v) for v in row["d0"]
    ]
    with pytest.raises(ValueError, match="empty literal"):
        _parsed_array_lit([], lambda v: f"{v}L")

    gapped = [(0, [1, 2]), (2, [3, 4])]  # cluster 1 missing
    with pytest.raises(ValueError, match="contiguous"):
        _int_cents_lit(gapped)


def test_ivfpq_index_pins_both_generations_and_refuses_mixed_scales(
    spark, sf_dir, tmp_path
):
    """The fused IVF-PQ layout (r12): materialization must refuse to
    fuse a tag log and a code table quantized at different scales;
    the reader must refuse a layout stamped under EITHER wrong
    generation; and the fused rows must equal tags ⋈ codes ⋈ vectors
    exactly (inner-join universe: len == dim only)."""
    from hfp_loader_spark.operators.similarity import (
        _books_fingerprint,
        _model_fingerprint,
        load_cell_tags,
        load_codes,
        materialize_ivfpq_index,
        read_ivfpq_index,
        rebuild_cell_tags,
        rebuild_codes,
    )
    from hfp_loader_spark.plans.model_queries import (
        _ivf_serve_model,
        _pq_serve_model,
    )

    cent_assign, _ = _ivf_serve_model(spark, sf_dir)
    books_assign, _ = _pq_serve_model(spark, sf_dir)
    model_fp = _model_fingerprint(cent_assign)
    books_fp = _books_fingerprint(books_assign)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    tag_root = str(tmp_path / "tags")
    code_root = str(tmp_path / "codes")
    index_root = str(tmp_path / "ivfpq")
    rebuild_cell_tags(spark, emb, tag_root, cent_assign, 1_000_000)
    rebuild_codes(spark, emb, code_root, books_assign, 1_000_000)
    doc = materialize_ivfpq_index(
        spark, tag_root, code_root, emb, index_root
    )
    assert doc["model_fingerprint"] == model_fp
    assert doc["books_fingerprint"] == books_fp

    idx = read_ivfpq_index(spark, index_root, model_fp, books_fp, 1_000_000)
    got = sorted(
        (r["vec_id"], r["cell"], tuple(r["_codes"]))
        for r in idx.collect()
    )
    want = sorted(
        (r["vec_id"], r["cell"], tuple(r["_codes"]))
        for r in load_cell_tags(spark, tag_root)
        .join(load_codes(spark, code_root), "vec_id")
        .collect()
    )
    assert got == want and len(got) > 0

    # either wrong generation is refused
    with pytest.raises(ValueError, match="mixing"):
        read_ivfpq_index(spark, index_root, "deadbeef", books_fp, 1_000_000)
    with pytest.raises(ValueError, match="mixing"):
        read_ivfpq_index(spark, index_root, model_fp, "deadbeef", 1_000_000)
    with pytest.raises(ValueError, match="no ivfpq"):
        read_ivfpq_index(
            spark, str(tmp_path / "nope"), model_fp, books_fp, 1_000_000
        )

    # mixed quantization scales must refuse to fuse
    code_root2 = str(tmp_path / "codes_s2")
    from hfp_loader_spark.operators.clustering import quantize_vec  # noqa: F401

    rebuild_codes(spark, emb, code_root2, books_assign, 1_000)
    with pytest.raises(ValueError, match="different quantizations"):
        materialize_ivfpq_index(
            spark, tag_root, code_root2, emb, str(tmp_path / "ivfpq2")
        )


def test_stream_ingest_compact_materialize_serve_chain(
    spark, sf_dir, tmp_path
):
    """The whole persisted-index LIFECYCLE in one chain (r12 glue for
    VERDICT r11 #1/#6): embeddings arrive as a file STREAM →
    stream_ingest_cell_tags commits one O(delta) versioned append per
    micro-batch → compact_snapshot collapses the append chain (meta
    pins survive) → materialize_cell_index lays out the serve
    partitions → ivf_served_top_k answers bit-identically to the
    inline-training twin (ivf_exact_cells_top_k) over the same corpus."""
    from hfp_loader_spark.maintenance import compact_snapshot
    from hfp_loader_spark.operators.similarity import (
        _model_fingerprint,
        ivf_exact_cells_top_k,
        ivf_served_top_k,
        load_cell_tags,
        materialize_cell_index,
    )
    from hfp_loader_spark.plans.model_queries import _ivf_serve_model
    from hfp_loader_spark.streaming.jobs import stream_ingest_cell_tags
    from hfp_loader_spark.versioned import _read_manifest, latest_version

    cent_assign, cent_probe = _ivf_serve_model(spark, sf_dir)
    fp = _model_fingerprint(cent_assign)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    src = tmp_path / "arrivals"
    for i in range(3):
        emb.where(F.col("vec_id") % 3 == i).write.mode(
            "append"
        ).parquet(str(src))
    tag_root = str(tmp_path / "tags")
    versions = stream_ingest_cell_tags(
        spark, str(src), tag_root, cent_assign, 1_000_000
    )
    assert len(versions) >= 3  # one commit per micro-batch (1 file each)
    before = sorted(map(tuple, load_cell_tags(spark, tag_root).collect()))

    v = compact_snapshot(spark, tag_root, min_dirs=2)
    info = _read_manifest(spark, tag_root, v)
    assert len(info.data_dirs) == 1
    assert info.meta["model_fingerprint"] == fp  # pin survives compaction
    assert sorted(map(tuple, load_cell_tags(spark, tag_root).collect())) == before

    index_root = str(tmp_path / "cells")
    doc = materialize_cell_index(spark, tag_root, emb, index_root)
    assert doc["tag_version"] == v

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    served = sorted(
        map(
            tuple,
            ivf_served_top_k(
                spark, queries, index_root, cent_probe, k=5, nprobe=4,
                expect_fingerprint=fp,
            ).collect(),
        )
    )
    twin = sorted(
        map(
            tuple,
            ivf_exact_cells_top_k(
                emb, queries, k=5, nlist=8, nprobe=4, iters=3
            ).collect(),
        )
    )
    assert served == twin and len(served) == 25

    # --- storage-reclaim leg (VERDICT r12 #5): truncate the pre-
    # compaction history, re-materialize from the surviving head, and
    # serve again — outputs unchanged through the WHOLE lifecycle.
    from hfp_loader_spark.versioned import truncate_history

    dropped = truncate_history(spark, tag_root, keep_last=1)
    assert dropped == list(range(1, v))  # every pre-compaction version
    assert latest_version(spark, tag_root) == v
    assert (
        sorted(map(tuple, load_cell_tags(spark, tag_root).collect()))
        == before
    )
    index_root2 = str(tmp_path / "cells2")
    doc2 = materialize_cell_index(spark, tag_root, emb, index_root2)
    assert doc2["tag_version"] == v
    served2 = sorted(
        map(
            tuple,
            ivf_served_top_k(
                spark, queries, index_root2, cent_probe, k=5, nprobe=4,
                expect_fingerprint=fp,
            ).collect(),
        )
    )
    assert served2 == served


def test_model_store_serves_retrains_and_truncates(
    spark, sf_dir, tmp_path, monkeypatch
):
    """_model_store (r16, VERDICT r15 #2): first call trains and
    commits; a second call in the same (or a fresh) process serves the
    persisted model WITHOUT invoking train; a touched corpus file
    (changed content stamp) retrains; superseded generations truncate
    to two (cache semantics).  Covers both the IVF (cluster, cq) and
    grouped-PQ (grp, cluster, cq) frame shapes through the grp=-1
    normalization."""
    import shutil
    import os

    from hfp_loader_spark import memo
    from hfp_loader_spark.plans import model_queries as mq
    from hfp_loader_spark.versioned import table_history

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    src = f"{sf_dir}/embeddings.parquet"
    shutil.copyfile(src, corpus / "embeddings.parquet")
    monkeypatch.setattr(memo, "_INDEX_BASE", str(tmp_path / "idx"))

    calls = []

    def train_ivf():
        calls.append("ivf")
        return ([(0, [1, 2]), (1, [3, 4])], [(0, [5, 6]), (1, [7, 8])])

    got = mq._model_store(spark, str(corpus), "tivf", train_ivf, defn="d1")
    assert calls == ["ivf"]
    assert got == ([(0, [1, 2]), (1, [3, 4])], [(0, [5, 6]), (1, [7, 8])])
    served = mq._model_store(
        spark, str(corpus), "tivf", train_ivf, defn="d1"
    )
    assert calls == ["ivf"]  # served, not retrained
    assert served == ([(0, [1, 2]), (1, [3, 4])], [(0, [5, 6]), (1, [7, 8])])

    # grouped-PQ shape round-trips through the grp=-1 normalization
    def train_pq():
        calls.append("pq")
        return (
            [(0, 0, [1]), (0, 1, [2]), (1, 0, [3])],
            [(0, 0, [4]), (0, 1, [5]), (1, 0, [6])],
        )

    mq._model_store(spark, str(corpus), "tpq", train_pq, defn="d1")
    pq_served = mq._model_store(
        spark, str(corpus), "tpq", train_pq, defn="d1"
    )
    assert calls == ["ivf", "pq"]
    assert pq_served == (
        [(0, 0, [1]), (0, 1, [2]), (1, 0, [3])],
        [(0, 0, [4]), (0, 1, [5]), (1, 0, [6])],
    )

    # a changed training definition (hyperparameter bump) retrains
    mq._model_store(spark, str(corpus), "tivf", train_ivf, defn="d2-k16")
    assert calls == ["ivf", "pq", "ivf"]

    # a regenerated corpus (different content stamp) retrains
    p = corpus / "embeddings.parquet"
    st = p.stat()
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    mq._model_store(spark, str(corpus), "tivf", train_ivf, defn="d2-k16")
    assert calls == ["ivf", "pq", "ivf", "ivf"]

    # cache semantics: history truncates to the head + one predecessor
    root = f"{memo._INDEX_BASE}/tivf_model_{memo._corpus_key(str(corpus))}"
    assert {s.version for s in table_history(spark, root)} == {2, 3}

    # a committed model without probe rows is refused, not served
    def train_no_probe():
        calls.append("half")
        return ([(0, [1, 2]), (1, [3, 4])], [])

    with pytest.raises(ValueError, match="missing a frame"):
        mq._model_store(
            spark, str(corpus), "thalf", train_no_probe, defn="d1"
        )
    assert calls[-1] == "half"


def test_ann_serve_follows_a_corpus_regenerated_in_place(
    spark, sf_dir, tmp_path
):
    """A corpus rewritten in place under a live process (same path, same
    ids, new vectors) must retrain and re-index: the served neighbor
    lists match the DuckDB oracle over the NEW files, not the model
    trained on the old ones.  ``sim_ann_ivfpq`` serves from the same two
    models, so the IVF and PQ entries cover it."""
    import os
    import shutil
    import sys

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hfp_loader_spark.plans.catalog import REGISTRY, TABLES

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from check_correctness import _norm_rows as _norm

    corpus = tmp_path / "sf"
    shutil.copytree(sf_dir, corpus)
    path = corpus / "embeddings.parquet"
    os.chmod(path, 0o644)

    def assert_oracle_equal(name: str) -> None:
        sdf = REGISTRY[name].builder(spark, str(corpus))
        got = _norm(sdf.columns, [tuple(r) for r in sdf.collect()])
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'"
                )
            cur = con.execute(REGISTRY[name].oracle)
            want = _norm([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
        assert got == want, name

    for name in ("sim_ann_ivf", "sim_ann_pq"):
        assert_oracle_equal(name)

    # new vectors under the same ids: each id takes the next row's vector
    t = pq.read_table(path)
    vecs = t.column("embedding").to_pylist()
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        t.schema.field("embedding"),
        pa.array(vecs[1:] + vecs[:1], type=t.schema.field("embedding").type),
    )
    pq.write_table(t, path)

    for name in ("sim_ann_ivf", "sim_ann_pq"):
        assert_oracle_equal(name)


def test_index_base_defaults_to_fresh_per_process_dir():
    """Measurement-isolation contract (optimization r16): without an
    explicit ``SPARK_GRAFT_INDEX_DIR``, the serve-artifact root is a
    FRESH per-process temp dir — two processes can never share trained
    models/mined indexes by accident, so every bench/oracle invocation
    derives its artifacts from the parquet inputs.  Cross-process
    persistence is opt-in via the env var only."""
    import os
    import re

    from hfp_loader_spark import memo as mq

    if os.environ.get("SPARK_GRAFT_INDEX_DIR"):
        assert mq._INDEX_BASE == os.environ["SPARK_GRAFT_INDEX_DIR"]
        return
    # default: a mkdtemp-created dir unique to this process...
    assert re.search(r"spark_graft_serve_index_", mq._INDEX_BASE)
    assert os.path.isdir(mq._INDEX_BASE)
    # ...and a second resolution never aliases the first (no fixed path
    # a later process would silently inherit)
    assert mq._default_index_base() != mq._INDEX_BASE
