"""Similarity-search query catalog over ``embeddings`` (SURVEY §2.11).

Brute-force cosine top-k and embedding near-dup pairs are oracle-checked
against DuckDB's ``list_cosine_similarity``; the sign-LSH ANN variant is
rows-only (bucketing hash has no DuckDB twin) with recall asserted in
tests/test_similarity.py.  Vector math is `zip_with`/`aggregate` fold —
JVM expressions, no UDFs, accumulation pinned to float64 on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hfp_loader_spark.operators.similarity import (
    as_double_array,
    brute_force_top_k,
    cosine_neardup_pairs,
    norm,
    signlsh_top_k,
)
from hfp_loader_spark.plans.catalog import _t, defquery

_DIM = 64  # embedding dimensionality of the driver's embeddings table
_N_QUERIES = 5  # vec_id < 5 are the query vectors


@defquery(
    "sim_cosine_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    scored AS (
      -- CASE mirrors Spark's NULL-safe cosine: NULL/empty/zero-norm
      -- vectors score NULL and rank after every real score (DuckDB and
      -- Spark both place NULLs last under DESC); bare
      -- list_cosine_similarity ERRORS on NULL or length-mismatched
      -- arguments instead
      SELECT q.query_id, c.vec_id,
             round(CASE WHEN len(q.qv) > 0 AND len(c.embedding) > 0
                        THEN list_cosine_similarity(q.qv,
                                                    c.embedding::DOUBLE[])
                   END, 4) AS cos
      FROM embeddings c CROSS JOIN q
    )
    SELECT query_id, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="Exact cosine top-5 per query vector: broadcast query set × one "
    "corpus pass, per-partition heaps (window row_number on rounded cos "
    "with vec_id tiebreak). The ANN baseline.",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_top_k(emb, queries, k=5).select(
        "query_id", "vec_id", "cos", F.col("rn").cast("long").alias("rn")
    )


@defquery(
    "sim_embedding_norm_stats",
    """
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) ** 0.5), 4)
             AS avg_norm,
           round(avg(embedding[1]::DOUBLE), 4) AS avg_dim0
    FROM embeddings
    GROUP BY label
    """,
    doc="Typed vector-column aggregate: per-label L2-norm and first-"
    "component means. Exercises array<float> as a first-class multimodal "
    "column (norm folds fused into the scan; one tiny shuffle). "
    "NULL/empty vectors contribute NULL to both averages (DuckDB's "
    "list_sum over an empty list is NULL, and try_element_at mirrors "
    "its out-of-bounds NULL) while still counting in n_vectors.",
)
def sim_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = as_double_array(F.col("embedding"))
    return (
        emb.select(
            "label",
            # size>0 guard: Spark's fold gives norm([]) = 0.0 where the
            # oracle's list_sum([]) is NULL; and ANSI element_at ERRORS
            # on the empty array where DuckDB indexing returns NULL
            F.when(F.size("embedding") > 0, norm(v)).alias("_norm"),
            F.try_element_at("embedding", F.lit(1)).cast("double").alias(
                "_d0"
            ),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("_norm"), 4).alias("avg_norm"),
            F.round(F.avg("_d0"), 4).alias("avg_dim0"),
        )
    )


# Bounded-instrument cap for the deliberately-quadratic verification
# queries (sim_cosine_neardup_pairs, semdedup_contract's global side):
# all-pairs cost is |V|²/2 interpreted dot products, which dominated
# full-catalog sf0.1 sweeps (~39 s + ~33 s of a ~3 min sweep).  The cap
# is a NO-OP at gate scale (sf0.01 has 500 vectors) and bounds larger
# SFs to a deterministic id-prefix sample with the SAME restated oracle
# — the instruments certify construction correctness, not coverage; the
# scale-path discovery queries (sign-LSH / IVF / PQ / SemDeDup cells)
# remain uncapped.
_ALLPAIRS_CAP = 800


@defquery(
    "sim_cosine_neardup_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < {_ALLPAIRS_CAP} AND b.vec_id < {_ALLPAIRS_CAP}
      -- lazy CASE guard: NULL/empty vectors drop out like Spark's
      -- NULL-safe cosine; a bare call ERRORS on length mismatch
      AND round(CASE WHEN len(a.embedding) > 0 AND len(b.embedding) > 0
                     THEN list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[])
                END, 4) >= 0.45
    """,
    doc="Embedding-cosine near-dup pairs (cos ≥ 0.45). Brute all-pairs "
    "over a deterministic id-prefix sample (cap 800 — a no-op at gate "
    "scale, a bounded instrument at sf0.1+); the scale path buckets both "
    "sides with signlsh_bucket first so only same-bucket pairs are "
    "scored.",
)
def sim_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_neardup_pairs(
        _t(spark, sf_dir, "embeddings").where(
            F.col("vec_id") < _ALLPAIRS_CAP
        ),
        threshold=0.45,
    )


def _signlsh_oracle(n_planes: int, n_probes: int, dim: int, k: int) -> str:
    """DuckDB twin of the FULL sign-LSH search (r10: upgraded from
    rows-only) — possible because the hyperplanes are md5-derived
    (operators.similarity._hyperplane), not engine-random: the same ±1
    sign arrays are regenerated here and embedded as SQL literals, so
    DuckDB computes the identical buckets, the identical probe set, and
    the identical candidate-restricted exact-cosine top-k."""
    import hashlib

    def plane_lit(p: int) -> str:
        signs = (
            "1.0"
            if hashlib.md5(f"p{p}d{d}".encode()).digest()[0] % 2 == 0
            else "-1.0"
            for d in range(dim)
        )
        return "[" + ",".join(signs) + "]"

    # Spark's fold pads length-mismatched zips with NULL → every bit's
    # dot goes NULL → bucket 0 for NULL/empty/ragged vectors.  DuckDB's
    # list_dot_product ERRORS on empty/mismatched lists — and CASE does
    # NOT lazily protect vectorized list functions — so bad vectors are
    # nullified FIRST (``vv``): list_dot_product(NULL) is NULL, the
    # NULL ≥ 0 comparison falls to ELSE 0, bucket 0, same as Spark.
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(vv, {plane_lit(p)}) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    probes = ", ".join(
        ["CAST(qb AS BIGINT)"]
        + [
            f"xor(CAST(qb AS BIGINT), {1 << p})"
            for p in range(min(n_probes, n_planes))
        ]
    )
    return f"""
    WITH cb AS (
      -- ``vv`` nullifies NULL/empty/ragged vectors BEFORE any list
      -- function touches them: DuckDB list kernels error on empty or
      -- mismatched lists and vectorized CASE does not protect them,
      -- while a NULL list flows through as NULL — matching Spark's
      -- NULL-padded fold (cos NULL, bucket 0) on the same rows.
      SELECT vec_id, ({bucket}) AS qb, vv
      FROM (SELECT vec_id,
                   CASE WHEN len(embedding) = {dim}
                        THEN embedding::DOUBLE[] END AS vv
            FROM embeddings)
    ),
    probes AS (
      SELECT vec_id AS query_id, vv AS qv,
             unnest([{probes}]) AS bucket
      FROM cb WHERE vec_id < {_N_QUERIES}
    ),
    scored AS (
      SELECT p.query_id, c.vec_id,
             round(list_cosine_similarity(p.qv, c.vv), 4) AS cos
      FROM probes p JOIN cb c ON CAST(c.qb AS BIGINT) = p.bucket
    )
    SELECT query_id, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


@defquery(
    "sim_ann_signlsh",
    _signlsh_oracle(n_planes=5, n_probes=5, dim=_DIM, k=5),
    doc="Approximate top-5 via sign-LSH (deterministic hyperplanes, 1-bit "
    "multi-probe): corpus bucketed in one narrow pass, candidates joined "
    "on bucket equality — (1+probes)/2^planes of the corpus scored per "
    "query. Planes sized IVF-style to the corpus (~log2(N/bucket)); "
    "the 100 TB ANN path. FULL oracle (r10): the md5-derived hyperplane "
    "signs are re-embedded as DuckDB literals, so the approximate "
    "neighbor list itself is value-checked, not just its recall floor.",
)
def sim_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return signlsh_top_k(emb, queries, k=5, dim=_DIM, n_planes=5, n_probes=5)


# sim_ann_ivf moved to plans/model_queries.py (r11, VERDICT r10 #5):
# the catalog entry now serves the PRE-TRAINED exact fixed-point index
# (memoized integer centroid literals; full oracle = the twin's
# training CTEs), living next to its oracle generator.


# sim_ann_pq moved to plans/model_queries.py (r11, VERDICT r10 #5):
# the catalog entry now serves PRE-TRAINED exact grouped-k-means
# codebooks (memoized integer literals; full oracle = the twin's
# grouped training CTEs).  sim_pq_distortion measures those same
# served codebooks.


_ANN_ORACLE = f"""
    SELECT CAST(c * q AS BIGINT) AS n_exact_hits,
           TRUE AS recall_ge_{{floor_pct}}
    FROM (SELECT least(5, count(*)) AS c,
                 count(*) FILTER (vec_id < {_N_QUERIES}) AS q
          FROM embeddings)
"""


def _ann_recall_contract(
    exact: DataFrame, approx: DataFrame, floor: float, flag: str
) -> DataFrame:
    """Recall@k of an ANN result vs the exact top-k, as an oracle-matchable
    single row: the exact hit count (SQL-restatable) + a recall-floor
    boolean — the tolerance-band pattern applied to ANN search."""
    keys = ["query_id", "vec_id"]
    # the exact top-k feeds both the hit semi-join and its own count —
    # lazily pinned so the brute-force pass runs once per computation
    # (optimization r17; bounded |queries|·k rows, value neutral)
    exact = exact.localCheckpoint(eager=False)
    hits = exact.select(*keys).join(approx.select(*keys), keys, "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact_hits"))
        .crossJoin(hits.agg(F.count("*").alias("_n_hit")))
        .select(
            "n_exact_hits",
            (F.col("_n_hit") >= F.col("n_exact_hits") * floor).alias(flag),
        )
    )


@defquery(
    "sim_ann_ivf_recall",
    _ANN_ORACLE.format(floor_pct=60),
    doc="Oracle-checked recall CONTRACT for the IVF index: recall@5 of "
    "sim_ann_ivf (r11: the pre-trained exact-cell serve path) vs the "
    "exact top-5, asserted ≥ 0.6 — the candidate budget is "
    "nprobe/nlist = 1/2 of the corpus, so beating 0.6 shows the cells "
    "adapt to the data (random pruning would land at ≈0.5). "
    "Deterministic: fixed-point training, fixed tiebreaks.",
)
def sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.plans.catalog import REGISTRY

    return _ann_recall_contract(
        sim_cosine_topk(spark, sf_dir),
        REGISTRY["sim_ann_ivf"].builder(spark, sf_dir),
        floor=0.6,
        flag="recall_ge_60",
    )


@defquery(
    "sim_ann_signlsh_recall",
    _ANN_ORACLE.format(floor_pct=40),
    doc="Oracle-checked recall CONTRACT for sign-LSH ANN: recall@5 of "
    "sim_ann_signlsh (5 planes, 5 probes) vs the exact top-5, asserted "
    "≥ 0.4 — meaningfully above the (1+probes)/2^planes ≈ 0.19 budget a "
    "random bucketing would recover. Deterministic hyperplanes → stable "
    "across runs.",
)
def sim_ann_signlsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_contract(
        sim_cosine_topk(spark, sf_dir),
        sim_ann_signlsh(spark, sf_dir),
        floor=0.4,
        flag="recall_ge_40",
    )


@defquery(
    "sim_ann_pq_recall",
    _ANN_ORACLE.format(floor_pct=60),
    doc="Oracle-checked recall CONTRACT for PQ+rerank: recall@5 of "
    "sim_ann_pq (r11: the pre-trained exact-code serve path) vs the "
    "exact top-5, asserted ≥ 0.6 with m=8 × ksub=16 and a "
    "100-candidate shortlist (raw ADC without rerank measures ~0.48). "
    "Deterministic: fixed-point per-subspace k-means, fixed tiebreaks.",
)
def sim_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.plans.catalog import REGISTRY

    return _ann_recall_contract(
        sim_cosine_topk(spark, sf_dir),
        REGISTRY["sim_ann_pq"].builder(spark, sf_dir),
        floor=0.6,
        flag="recall_ge_60",
    )


@defquery(
    "sim_pq_distortion",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(32 AS INTEGER)      AS compression_x,
           TRUE AS avg_mse_lt_0_02,
           TRUE AS max_mse_lt_0_05
    FROM embeddings
    """,
    doc="Oracle-checked distortion CONTRACT for the PQ index: per-vector "
    "reconstruction MSE of each embedding vs its decode cq/scale under "
    "the SERVED fixed-point codebooks (the c_{iters-1} books sim_ann_pq's "
    "code table is encoded with, through the one integer encoder), "
    "asserted avg < 0.02 and max < 0.05 (measured avg 0.0090 / 0.0090 / "
    "0.0095, max 0.0118 / 0.0114 / 0.0128 at sf0.001 / 0.01 / 0.1) — the "
    "quality bound that justifies serving from the 32×-compressed codes "
    "(256 raw bytes → 8 code bytes per vector). The distortion pass is "
    "one narrow corpus scan; the oracle pins corpus size (every row, "
    "NULL and empty vectors included), compression factor, and the "
    "bands.",
)
def sim_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import pq_reconstruction_mse
    from hfp_loader_spark.plans.model_queries import (
        _KM_SCALE,
        _pq_serve_model,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books_assign, _ = _pq_serve_model(spark, sf_dir)
    mse = pq_reconstruction_mse(emb, books_assign, scale=_KM_SCALE)
    # n_vectors counts every row, NULL and empty vectors included; the
    # bands cover the vectors the encoder accepts
    return emb.agg(
        F.count("*").alias("n_vectors"),
        F.lit(32).cast("int").alias("compression_x"),
    ).crossJoin(
        mse.agg(
            (F.avg("mse") < 0.02).alias("avg_mse_lt_0_02"),
            (F.max("mse") < 0.05).alias("max_mse_lt_0_05"),
        )
    )


@defquery(
    "sim_quantize_int8",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS x,
             list_max(list_transform(embedding::DOUBLE[], a -> abs(a))) / 127.0
               AS scale
      FROM embeddings
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           CAST(list_max(list_transform(x, a -> round(a / scale))) AS INTEGER)
             AS max_q,
           CAST(list_min(list_transform(x, a -> round(a / scale))) AS INTEGER)
             AS min_q,
           round(sqrt(list_avg(list_transform(
                 x, a -> (a - round(a / scale) * scale) ** 2))), 4) AS rmse
    FROM v WHERE scale > 0
    """,
    doc="Symmetric int8 quantization of the embedding column (scale = "
    "max|x|/127, q = round(x/scale) as smallint): 4× smaller storage / "
    "shuffle payload for vector corpora, rerank-time dequantize. Oracle "
    "recomputes scale, q-range, and reconstruction RMSE per vector — "
    "both engines run the identical double arithmetic.",
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import (
        dequantize_embedding,
        quantize_embedding,
    )

    emb = _t(spark, sf_dir, "embeddings")
    v = as_double_array(F.col("embedding"))
    q = emb.select("vec_id", v.alias("x"), quantize_embedding(v).alias("qt"))
    dq = dequantize_embedding(F.col("qt"))
    sq_err = F.zip_with(F.col("x"), dq, lambda a, b: (a - b) * (a - b))
    rmse = F.sqrt(
        F.aggregate(sq_err, F.lit(0.0), lambda acc, e: acc + e)
        / F.size("x")
    )
    return q.where(F.col("qt.scale") > 0).select(
        "vec_id",
        F.round(F.col("qt.scale"), 6).alias("scale_r"),
        F.array_max("qt.q").cast("int").alias("max_q"),
        F.array_min("qt.q").cast("int").alias("min_q"),
        F.round(rmse, 4).alias("rmse"),
    )


@defquery(
    "sim_cosine_topk_arrow",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    scored AS (
      -- CASE mirrors Spark's NULL-safe cosine: NULL/empty/zero-norm
      -- vectors score NULL and rank after every real score (DuckDB and
      -- Spark both place NULLs last under DESC); bare
      -- list_cosine_similarity ERRORS on NULL or length-mismatched
      -- arguments instead
      SELECT q.query_id, c.vec_id,
             round(CASE WHEN len(q.qv) > 0 AND len(c.embedding) > 0
                        THEN list_cosine_similarity(q.qv,
                                                    c.embedding::DOUBLE[])
                   END, 4) AS cos
      FROM embeddings c CROSS JOIN q
    )
    SELECT query_id, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
    doc="Arrow-vectorized exact top-5 (mapInPandas + numpy matmul): one "
    "BLAS multiply per Arrow batch scores every query at once, local "
    "top-k bounds the shuffle. Same oracle as the expression-fold "
    "baseline — identical results, vectorized execution.",
)
def sim_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import arrow_top_k

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return arrow_top_k(emb, queries, k=5).select(
        "query_id", "vec_id", "cos", F.col("rn").cast("long").alias("rn")
    )


@defquery(
    "sim_label_centroids",
    """
    SELECT label,
           CAST(dim AS INT) AS dim,
           round(avg(val), 6) AS centroid_val,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM (SELECT label, unnest(embedding) AS val,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings)
    GROUP BY label, dim
    """,
    doc="Per-label centroid, one row per (label, dimension): posexplode "
    "the vector once, two-phase avg per (label, dim). The class-"
    "prototype primitive (nearest-centroid classification, cluster "
    "drift monitoring); the explode's dim× row blowup collapses in "
    "map-side partial aggregation before the one shuffle. 1-based dim "
    "to match SQL generate_subscripts.",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("_pos", "val")
        )
        .groupBy("label", (F.col("_pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(F.avg("val"), 6).alias("centroid_val"),
            F.count("*").alias("n_vectors"),
        )
    )


#: The one SemDeDup threshold of the catalog (semdedup_contract here,
#: semdedup_keep_list and semdedup_keep_list_exact in model_queries).
#: Tuned to the synthetic corpus's cosine range (max ≈ 0.51 pairwise —
#: there are no true duplicate vectors, so the classic 0.95 would prune
#: nothing); the operator semantics are threshold-independent.
_SEMDEDUP_T = 0.35
_SEMDEDUP_NLIST = 4


# semdedup_keep_list moved to plans/model_queries.py (r11, VERDICT r10
# #5 — the LAST rows-only entry): the catalog entry runs the BLAS
# per-cell prune over the served 8-cell fixed-point model (full oracle
# = the twin's training CTEs).  semdedup_contract below runs the same
# operator over a served 4-cell model and checks it against the global
# all-pairs removal set.


@defquery(
    "semdedup_contract",
    f"""
    WITH removed AS (
      -- lazy CASE guard: NULL/empty vectors drop out like Spark's
      -- NULL-safe cosine (and semantic_dedup_cells's size>0 universe)
      SELECT DISTINCT b.vec_id
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < {_ALLPAIRS_CAP} AND b.vec_id < {_ALLPAIRS_CAP}
        AND round(CASE WHEN len(a.embedding) > 0 AND len(b.embedding) > 0
                       THEN list_cosine_similarity(a.embedding::DOUBLE[],
                                                   b.embedding::DOUBLE[])
                  END, 4)
            >= {_SEMDEDUP_T}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_global_removed,
           TRUE AS precision_eq_1,
           TRUE AS recall_ge_40
    FROM removed
    """,
    doc="Oracle-checked CONTRACT for SemDeDup over the bounded instrument "
    "sample (id < 800 — a no-op at gate scale): the exact global greedy "
    "removal count (any smaller-id neighbor ≥ 0.35, SQL-restated "
    "all-pairs), plus (a) precision ≡ 1 — every in-cell removal must "
    "also qualify globally, an exact invariant of the construction — "
    "and (b) removal recall ≥ 0.4 vs the global set (measured 0.59 / "
    "0.52 / 0.56 at sf0.001 / 0.01 / 0.1; true duplicates at cos→1 "
    "co-cluster far more reliably than these deliberately-weak 0.35 "
    "pairs). Cells come from a served 4-cell fixed-point model (the same "
    "trainer-and-store path as the 8-cell IVF model) through the one "
    "SemDeDup operator, semantic_dedup_cells. The semdedup side runs on "
    "the SAME capped corpus so both invariants stay exact. "
    "Deterministic: fixed-point k-means, fixed tiebreaks.",
)
def semdedup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _ALLPAIRS_CAP
    )
    v = as_double_array(F.col("embedding"))
    scored = emb.select("vec_id", v.alias("_v"), norm(v).alias("_n"))
    a = scored.alias("a")
    b = scored.alias("b")
    from hfp_loader_spark.operators.similarity import cosine_prenormed

    global_removed = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .where(
            F.round(
                cosine_prenormed(
                    F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
                ),
                4,
            )
            >= _SEMDEDUP_T
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        # removed-id list feeds both its own count and the hit semi-join
        # — lazily pinned so the capped all-pairs join runs once
        # (optimization r17; value neutral)
        .localCheckpoint(eager=False)
    )
    # run the semdedup side on the SAME capped corpus (cells from the
    # served 4-cell model) — keep/prune decisions must not be influenced
    # by out-of-sample neighbors or precision_eq_1 would be unfalsifiable
    from hfp_loader_spark.operators.similarity import semantic_dedup_cells
    from hfp_loader_spark.plans.model_queries import (
        _KM_SCALE,
        _ivf_serve_model,
    )

    cent_assign, _ = _ivf_serve_model(spark, sf_dir, _SEMDEDUP_NLIST)
    sem_removed = (
        semantic_dedup_cells(
            emb, _SEMDEDUP_T, cent_assign, scale=_KM_SCALE
        )
        .where(~F.col("kept"))
        .select("vec_id")
        # same rationale: consumed by the hit semi-join and its own count
        .localCheckpoint(eager=False)
    )
    g = global_removed.agg(F.count("*").alias("n_global_removed"))
    hits = sem_removed.join(global_removed, "vec_id", "left_semi").agg(
        F.count("*").alias("_n_hit")
    )
    semn = sem_removed.agg(F.count("*").alias("_n_sem"))
    return (
        g.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(semn))
        .select(
            "n_global_removed",
            (F.col("_n_hit") == F.col("_n_sem")).alias("precision_eq_1"),
            (F.col("_n_hit") >= F.col("n_global_removed") * 0.4).alias(
                "recall_ge_40"
            ),
        )
    )


@defquery(
    "sim_semantic_clusters",
    f"""
    WITH RECURSIVE
    e0 AS (
      -- the CASE guard mirrors Spark's NULL-safe cosine (zero-norm or
      -- NULL/empty vectors score NULL and drop out of the edge list);
      -- bare list_cosine_similarity ERRORS on an empty-vs-64 length
      -- mismatch, and a WHERE conjunct is not guaranteed to
      -- short-circuit before it
      SELECT a.vec_id AS da, b.vec_id AS db
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < {_ALLPAIRS_CAP} AND b.vec_id < {_ALLPAIRS_CAP}
        AND round(CASE WHEN len(a.embedding) > 0 AND len(b.embedding) > 0
                       THEN list_cosine_similarity(a.embedding::DOUBLE[],
                                                   b.embedding::DOUBLE[])
                  END, 4) >= 0.45
    ),
    edges AS (
      SELECT da AS s, db AS d FROM e0
      UNION ALL
      SELECT db AS s, da AS d FROM e0
    ),
    walk(id, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.s, w.label FROM edges e JOIN walk w ON e.d = w.id
    )
    SELECT id AS vec_id, CAST(min(label) AS BIGINT) AS cluster_id
    FROM walk GROUP BY id
    """,
    doc="Semantic clusters: the cos≥0.45 similarity graph's transitive "
    "closure via alternating large-star/small-star CC — embedding-space "
    "duplicate GROUPS rather than pairs (the view a curation UI shows), "
    "composing the similarity tier with the iterative graph tier. Over "
    "the bounded instrument sample (id < 800, no-op at gate scale); the "
    "scale path feeds the same CC from IVF-celled or LSH-bucketed edge "
    "discovery instead of brute pairs. Oracle: DuckDB recursive-CTE "
    "reachability with min-id labels.",
)
def sim_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.graph import (
        connected_components_alternating,
    )

    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _ALLPAIRS_CAP
    )
    edges = cosine_neardup_pairs(emb, threshold=0.45)
    comp = connected_components_alternating(edges, src="id_a", dst="id_b")
    return comp.select(
        F.col("id").alias("vec_id"),
        F.col("component").cast("long").alias("cluster_id"),
    )


_RP_DIM_OUT = 16  # 64→16: 4× smaller vectors; 1/sqrt(16) scales exactly
_RP_SIGN_SQL = (
    "CASE WHEN substr(md5('rp' || j || 'd' || i), 2, 1) IN "
    "('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END"
)
# CASE guard: NULL/empty vectors project to NULL, matching the Spark
# side's size()>0 gate (an unguarded comprehension yields a list of
# NULLs for a NULL vector — a different value than NULL itself)
_RP_VEC_SQL = f"""CASE WHEN len(embedding) > 0 THEN
      [ round(list_sum([ embedding[i+1]::DOUBLE * ({_RP_SIGN_SQL})
         FOR i IN range(0, {_DIM}) ]) * 0.25, 4)
      FOR j IN range(0, {_RP_DIM_OUT}) ] END"""


@defquery(
    "sim_random_projection",
    f"""
    SELECT vec_id, j AS dim_idx,
           round(list_sum([ embedding[i+1]::DOUBLE * ({_RP_SIGN_SQL})
             FOR i IN range(0, {_DIM}) ]) * 0.25, 4) + 0.0 AS rp_val
    FROM embeddings, range(0, {_RP_DIM_OUT}) t(j)
    WHERE len(embedding) > 0
    """,
    doc="±1 Johnson–Lindenstrauss random projection 64→16 (operators."
    "similarity.random_projection): per vector, 16 sequential "
    "zip_with·aggregate folds against a constant-folded sign matrix "
    "derived from md5 — no model artifact, any engine rebuilds the "
    "matrix bit-identically (the oracle re-derives it from DuckDB's "
    "md5). The 100 TB storage/shuffle lever: 4× smaller vectors for "
    "every downstream broadcast, ANN index, and near-dup pass, with "
    "distortion MEASURED by sim_rp_distortion rather than assumed. "
    "Narrow one-pass projection — no shuffle at all.  Output is "
    "EXPLODED to scalar (vec_id, dim_idx, rp_val) rows: the driver's "
    "canonicalizer sorts a pandas frame over all columns and cannot "
    "factorize list cells (r12 err: unhashable type 'list'), so no "
    "catalog entry may return a top-level array column.  NULL/empty "
    "vectors contribute no rows (the array form projected them to "
    "NULL; the exploded form drops them — same information).  The "
    "``+ 0.0`` collapses IEEE -0.0 to +0.0 on both engines: DuckDB "
    "round() preserves the sign of a tiny negative, Spark's doesn't, "
    "and the driver's value hash distinguishes them.",
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import random_projection

    rp = random_projection(
        _t(spark, sf_dir, "embeddings"), _DIM, _RP_DIM_OUT
    )
    return (
        rp.where(F.col("rp").isNotNull())
        .select("vec_id", F.posexplode("rp").alias("dim_idx", "rp_val"))
        .select(
            "vec_id",
            F.col("dim_idx").cast("long").alias("dim_idx"),
            (F.col("rp_val") + F.lit(0.0)).alias("rp_val"),
        )
    )


_RP_PAIR_CAP = 30  # 435 pairs — bounded instrument, same idea as _ALLPAIRS_CAP


@defquery(
    "sim_rp_distortion",
    f"""
    WITH rp AS (
      SELECT vec_id, {_RP_VEC_SQL} AS rp
      FROM embeddings WHERE vec_id < {_RP_PAIR_CAP}
    ),
    orig AS (
      SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {_RP_PAIR_CAP}
    )
    -- lazy CASE guards: NULL/empty vectors yield NULL cosines on both
    -- engines; a bare list_cosine_similarity ERRORS on NULL arguments.
    -- Every round() is followed by + 0.0: DuckDB's round preserves the
    -- sign of a tiny negative (-0.0) where Spark returns +0.0, and the
    -- driver's value hash distinguishes the two (r12 hash-fail on
    -- exactly 3 cells of cos_orig); IEEE -0.0 + 0.0 = +0.0 normalizes
    -- both engines to the same bit pattern.
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(CASE WHEN len(oa.v) > 0 AND len(ob.v) > 0
                      THEN list_cosine_similarity(oa.v, ob.v) END, 3) + 0.0
             AS cos_orig,
           round(CASE WHEN a.rp IS NOT NULL AND b.rp IS NOT NULL
                      THEN list_cosine_similarity(a.rp, b.rp) END, 3) + 0.0
             AS cos_rp,
           round(abs((round(CASE WHEN len(oa.v) > 0 AND len(ob.v) > 0
                                THEN list_cosine_similarity(oa.v, ob.v)
                           END, 3) + 0.0)
                     - (round(CASE WHEN a.rp IS NOT NULL
                                   AND b.rp IS NOT NULL
                                  THEN list_cosine_similarity(a.rp, b.rp)
                             END, 3) + 0.0)), 3) + 0.0
             AS abs_err
    FROM rp a JOIN rp b ON a.vec_id < b.vec_id
    JOIN orig oa ON oa.vec_id = a.vec_id
    JOIN orig ob ON ob.vec_id = b.vec_id
    """,
    doc="The JL tradeoff made measurable: over a bounded pair sample "
    "(vec_id < 30, 435 pairs), original-space cosine vs projected-space "
    "cosine and their absolute gap, both engines computing the "
    "projection from the same md5-derived matrix. k=16 has error std "
    "≈ 1/√k = 0.25 on near-orthogonal vectors (measured mean |Δcos| "
    "≈ 0.2 here), so 16 dims suit coarse candidate generation followed "
    "by exact rerank — this entry is what tells an operator whether a "
    "given k is tight enough BEFORE committing the 4× smaller index. "
    "Bounded instrument: capped pair count, no all-pairs at scale.",
)
def sim_rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _RP_PAIR_CAP
    )
    rp = random_projection(emb, _DIM, _RP_DIM_OUT)
    orig = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    a = rp.join(orig, "vec_id").select(
        F.col("vec_id").alias("id_a"),
        F.col("rp").alias("rpa"),
        F.col("v").alias("va"),
    )
    b = rp.join(orig, "vec_id").select(
        F.col("vec_id").alias("id_b"),
        F.col("rp").alias("rpb"),
        F.col("v").alias("vb"),
    )
    from hfp_loader_spark.operators.similarity import cosine

    # + 0.0 after every round(): collapses IEEE -0.0 to +0.0 so the
    # driver's bit-level value hash matches DuckDB (whose round()
    # preserves the sign of a tiny negative) — see the oracle comment.
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        (F.round(cosine(F.col("va"), F.col("vb")), 3) + F.lit(0.0)).alias(
            "cos_orig"
        ),
        (F.round(cosine(F.col("rpa"), F.col("rpb")), 3) + F.lit(0.0)).alias(
            "cos_rp"
        ),
    )
    return pairs.select(
        "id_a",
        "id_b",
        "cos_orig",
        "cos_rp",
        (
            F.round(F.abs(F.col("cos_orig") - F.col("cos_rp")), 3)
            + F.lit(0.0)
        ).alias("abs_err"),
    )


_MMR_K, _MMR_CAND, _MMR_LAM = 5, 20, 0.7
_MMR_N_Q = 4


def _mmr_oracle() -> str:
    """The greedy MMR selection unrolled into one CTE per step — the
    same k fixed steps the Spark plan unrolls, so both engines walk the
    identical argmax sequence.  λ and (1−λ) are emitted via repr() so
    the SQL multiplies by the SAME doubles Spark's F.lit carries
    (1.0 − 0.7 is 0.30000000000000004, not the SQL literal 0.3)."""
    lam, one_m_lam = repr(_MMR_LAM), repr(1.0 - _MMR_LAM)
    parts = [
        f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_MMR_N_Q}
    ),
    allcos AS (
      SELECT q.query_id, c.vec_id,
             round(CASE WHEN len(q.qv) > 0 AND len(c.embedding) > 0
                        THEN list_cosine_similarity(q.qv,
                                                    c.embedding::DOUBLE[])
                   END, 4) AS rel
      FROM embeddings c CROSS JOIN q
    ),
    cand AS (
      SELECT query_id, vec_id, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, vec_id) AS rn
        FROM allcos
      ) WHERE rn <= {_MMR_CAND}
    ),
    cv AS (
      SELECT cand.query_id, cand.vec_id, e.embedding::DOUBLE[] AS v
      FROM cand JOIN embeddings e USING (vec_id)
    ),
    sims AS (
      -- guarded like allcos: NULL-embedding candidates (possible when a
      -- query's whole rel column is NULL and ranking falls back to the
      -- id tiebreak) yield NULL sims instead of erroring
      SELECT a.query_id, a.vec_id AS ida, b.vec_id AS idb,
             round(CASE WHEN len(a.v) > 0 AND len(b.v) > 0
                        THEN list_cosine_similarity(a.v, b.v) END, 4)
               AS sim
      FROM cv a JOIN cv b
        ON a.query_id = b.query_id AND a.vec_id != b.vec_id
    ),
    all1 AS (
      SELECT query_id, vec_id, rel AS score, 1 AS mmr_rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, vec_id) AS r
        FROM cand
      ) WHERE r = 1
    )"""
    ]
    for t in range(2, _MMR_K + 1):
        parts.append(f""",
    sc{t} AS (
      SELECT c.query_id, c.vec_id,
             round({lam} * c.rel - {one_m_lam} * max(s.sim), 4) AS score
      FROM cand c
      JOIN all{t - 1} p ON p.query_id = c.query_id
      JOIN sims s ON s.query_id = c.query_id AND s.ida = c.vec_id
                 AND s.idb = p.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM all{t - 1} x
                        WHERE x.query_id = c.query_id
                          AND x.vec_id = c.vec_id)
      GROUP BY c.query_id, c.vec_id, c.rel
    ),
    all{t} AS (
      SELECT * FROM all{t - 1}
      UNION ALL
      SELECT query_id, vec_id, score, {t} AS mmr_rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS r
        FROM sc{t}
      ) WHERE r = 1
    )""")
    parts.append(f"""
    SELECT query_id, vec_id, score, CAST(mmr_rank AS INT) AS mmr_rank
    FROM all{_MMR_K}
    """)
    return "".join(parts)


@defquery(
    "sim_mmr_rerank",
    _mmr_oracle(),
    doc="Maximal Marginal Relevance re-ranking (operators.similarity."
    "mmr_diversify; Carbonell & Goldstein 1998): per query, greedily "
    "pick 5 of the exact cosine top-20 maximizing λ·relevance − (1−λ)·"
    "max-similarity-to-already-picked (λ=0.7) — the diversification "
    "step that turns a near-duplicate-heavy top-k into a coverage set. "
    "The k selection steps are inherently sequential, so BOTH engines "
    "unroll them statically: Spark as k fixed DataFrame stages (join + "
    "hash-agg + per-query top-1 window, candidate-pair sims computed "
    "once and lazily checkpointed for reuse — no driver loop, no UDF), "
    "the oracle as one CTE per step. Pair state is bounded per query "
    "(20 candidates, 380 sims); work is embarrassingly parallel across "
    "queries at scale.",
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import mmr_diversify

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _MMR_N_Q).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return mmr_diversify(
        emb, queries, k_select=_MMR_K, n_candidates=_MMR_CAND, lam=_MMR_LAM
    )
