"""Model-based scoring catalog: BM25 retrieval and a hashed linear
quality classifier over ``documents`` (SURVEY §2.11 retrieval/model tier;
the reference has no search or model surface — extension tier).

Scale shape (shared by every entry): the model side — query strings,
idf tables, weight vectors — is bounded and broadcast; the corpus side
does explode → map-side-combined aggregate exactly once; no corpus-sized
shuffle carries anything wider than (id, small ints/doubles).

Cross-engine exactness: every float constant is injected into BOTH plans
from the same Python value (``repr`` into the SQL, ``F.lit`` into the
DataFrame), so ``k1 + 1`` is the identical double on both engines rather
than two independently-parsed decimal literals; hash buckets use md5 hex
prefixes (both engines have md5); scores round exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hfp_loader_spark import memo
from hfp_loader_spark.operators.ranking import (
    bm25_topk,
    hashed_linear_score,
    pseudo_weights,
)
from hfp_loader_spark.plans.catalog import TOKS_SQL, _t, defquery
from hfp_loader_spark.plans.similarity_queries import _SEMDEDUP_T

_BM25_QUERIES = [
    (1, "hash join strategy"),
    (2, "window agg stream"),
    (3, "fast table scan"),
    (4, "customer merge sort"),
]
_K1, _B = 1.2, 0.75
_TOPK = 10


def _bm25_core_sql(q_cte: str) -> str:
    """The shared Okapi-BM25 CTE chain (everything through the rounded
    per-(query, doc) score ``sc``) over an arbitrary ``q(query_id,
    query_text)`` source — one SQL definition for every BM25-consuming
    oracle, same single-definition rationale as ``TOKS_SQL``."""
    # the SAME Python-computed doubles the Spark plan puts in F.lit()
    k1, one_minus_b, b, k1p1 = (
        repr(_K1),
        repr(1.0 - _B),
        repr(_B),
        repr(_K1 + 1.0),
    )
    qtoks = TOKS_SQL.replace("lower(text)", "lower(query_text)")
    return f"""
    WITH q AS ({q_cte}),
    qt AS (SELECT query_id, unnest(list_distinct({qtoks})) AS term FROM q),
    dl AS (SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT) AS dl
           FROM documents),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
    toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
            WHERE term IN (SELECT term FROM qt) GROUP BY 1),
    idf AS (SELECT term,
                   ln(1 + (st.n - df + CAST(0.5 AS DOUBLE))
                          / (df + CAST(0.5 AS DOUBLE))) AS idf
            FROM dfq CROSS JOIN st),
    sc AS (
      SELECT qt.query_id, tf.doc_id,
             round(sum(idf.idf * (tf.tf * CAST({k1p1} AS DOUBLE))
                       / (tf.tf + CAST({k1} AS DOUBLE)
                          * (CAST({one_minus_b} AS DOUBLE)
                             + CAST({b} AS DOUBLE)
                               * ((dl.dl * st.n)
                                  / CAST(st.sumdl AS DOUBLE))))),
                   4) AS score
      FROM qt JOIN tf USING (term)
      JOIN idf ON idf.term = qt.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN st
      GROUP BY 1, 2
    )"""


def _bm25_oracle() -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    core = _bm25_core_sql(
        f"SELECT * FROM (VALUES {vals}) v(query_id, query_text)"
    )
    return f"""{core}
    SELECT query_id, doc_id, score, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS rn
      FROM sc
    ) WHERE rn <= {_TOPK}
    """


@defquery(
    "rank_bm25_topk",
    _bm25_oracle(),
    doc="Okapi BM25 top-10 per query (operators.ranking.bm25_topk): "
    "Lucene-style positive idf, set-semantics query terms, dl/avgdl as "
    "the exact dl·N/Σdl rational, score rounded once and ranked with a "
    "doc-id tiebreak. Scale shape: one corpus tf shuffle with map-side "
    "combine; query terms, idf and the (N, Σdl) stats row are broadcast; "
    "df aggregates only the query vocabulary (broadcast semi-join "
    "before the df count); the rank window partitions by query.",
)
def rank_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id long, query_text string"
    )
    return bm25_topk(docs, queries, _TOPK, k1=_K1, b=_B).select(
        "query_id", "doc_id", "score", F.col("rn").cast("long").alias("rn")
    )


_CLS_DIM, _CLS_SEED, _CLS_SCALE, _CLS_BIAS, _CLS_THRESH = 256, "w", 1.0, 0.1, 0.5


def _classifier_oracle() -> str:
    scale, bias, thresh = repr(_CLS_SCALE), repr(_CLS_BIAS), repr(_CLS_THRESH)
    return f"""
    WITH w AS (
      SELECT j AS bucket,
             CAST({scale} AS DOUBLE)
             * ((('0x' || substr(md5('{_CLS_SEED}:' || j), 1, 8))::BIGINT
                 % 2001 - 1000) / CAST(1000.0 AS DOUBLE)) AS weight
      FROM generate_series(0, {_CLS_DIM - 1}) AS t(j)
    ),
    toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
    f AS (SELECT doc_id,
                 ('0x' || substr(md5(term), 1, 8))::BIGINT % {_CLS_DIM}
                   AS bucket
          FROM toks),
    s AS (SELECT doc_id, sum(weight) AS sw,
                 CAST(count(*) AS BIGINT) AS n_tokens
          FROM f JOIN w USING (bucket) GROUP BY 1),
    scored AS (
      SELECT d.doc_id,
             coalesce(s.n_tokens, 0) AS n_tokens,
             round(1 / (1 + exp(-(CAST({bias} AS DOUBLE)
                                  + coalesce(s.sw / s.n_tokens,
                                             CAST(0.0 AS DOUBLE))))),
                   4) AS p
      FROM documents d LEFT JOIN s USING (doc_id)
    )
    SELECT doc_id, n_tokens, p, p >= CAST({thresh} AS DOUBLE) AS keep
    FROM scored
    """


@defquery(
    "quality_hashed_classifier",
    _classifier_oracle(),
    doc="fastText-shaped hashed linear quality classifier (operators."
    "ranking.hashed_linear_score): mean-pooled hashing-trick bag of "
    "words (md5-prefix buckets mod 256) · a deterministic pseudo-weight "
    "vector (pseudo_weights — a trained vector drops into the same "
    "(bucket, weight) shape), sigmoid with bias 0.1, keep = p ≥ 0.5. "
    "Scale shape: the 256-row weight table is broadcast onto the "
    "exploded tokens; the only shuffle is the one-row-per-doc sum; "
    "empty documents keep a row at the model prior σ(bias).",
)
def quality_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = pseudo_weights(spark, _CLS_DIM, seed=_CLS_SEED, scale=_CLS_SCALE)
    return hashed_linear_score(
        docs, w, dim=_CLS_DIM, bias=_CLS_BIAS, threshold=_CLS_THRESH
    )


_HN_ANCHORS = (0, 1, 2, 3)
_HN_K, _HN_MAX_JAC = 5, 0.6


def _hard_negatives_oracle() -> str:
    ids = ", ".join(str(i) for i in _HN_ANCHORS)
    core = _bm25_core_sql(
        "SELECT doc_id AS query_id, text AS query_text FROM documents "
        f"WHERE doc_id IN ({ids})"
    )
    return f"""{core},
    asz AS (SELECT query_id, CAST(count(*) AS BIGINT) AS na
            FROM qt GROUP BY 1),
    dt AS (SELECT doc_id, unnest(list_distinct({TOKS_SQL})) AS term
           FROM documents),
    dsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd
            FROM dt GROUP BY 1),
    inx AS (SELECT qt.query_id, dt.doc_id, CAST(count(*) AS BIGINT) AS ni
            FROM dt JOIN qt USING (term) GROUP BY 1, 2),
    jac AS (SELECT query_id, doc_id,
                   round(ni / CAST(na + nd - ni AS DOUBLE), 6) AS jaccard
            FROM inx JOIN asz USING (query_id) JOIN dsz USING (doc_id))
    SELECT query_id, doc_id, score, jaccard, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT sc.query_id, sc.doc_id, sc.score, j.jaccard,
             row_number() OVER (PARTITION BY sc.query_id
                                ORDER BY sc.score DESC, sc.doc_id) AS rn
      FROM sc JOIN jac j ON j.query_id = sc.query_id
                        AND j.doc_id = sc.doc_id
      WHERE sc.query_id != sc.doc_id
        AND j.jaccard < CAST({_HN_MAX_JAC!r} AS DOUBLE)
    ) WHERE rn <= {_HN_K}
    """


@defquery(
    "rank_hard_negatives",
    _hard_negatives_oracle(),
    doc="DPR-style hard-negative mining (operators.ranking."
    "hard_negatives): per anchor document, the top-5 BM25-most-similar "
    "documents that are NOT near-duplicates — a distinct-token Jaccard "
    "cap (< 0.6, exact rational, the corpus median is ≈0.57) strips the "
    "probable-positives, the anchor excludes itself, and no-overlap "
    "documents never surface (easy negatives belong to random "
    "sampling). Scale shape: the BM25 chain's one corpus tf shuffle "
    "plus one broadcast of the distinct anchor-token set onto the "
    "corpus tokens; intersection counts exist only for candidate "
    "pairs — never all-pairs.",
)
def rank_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.ranking import hard_negatives

    docs = _t(spark, sf_dir, "documents")
    anchors = docs.where(
        F.col("doc_id").isin(list(_HN_ANCHORS))
    ).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"),
    )
    return hard_negatives(
        docs, anchors, _HN_K, max_jaccard=_HN_MAX_JAC, k1=_K1, b=_B
    ).select(
        "query_id",
        "doc_id",
        "score",
        "jaccard",
        F.col("rn").cast("long").alias("rn"),
    )


_KM_K, _KM_ITERS, _KM_SCALE = 8, 3, 1_000_000


def _kmeans_ctes(final_centroids: bool = False) -> str:
    """Unrolled Lloyd's recurrence (``_KM_ITERS`` assignment/update CTE
    pairs) — expressible in plain SQL precisely BECAUSE the operator is
    fixed-point: every distance is an exact BIGINT and every centroid
    update an exact integer-rational round, so engine summation order
    cannot perturb the trajectory.  Returns the WITH-body through
    ``a{_KM_ITERS}`` (and ``c{_KM_ITERS}`` when ``final_centroids`` —
    the post-final-update model frame an IVF probe serves from); both
    the k-means entry and the exact-cell IVF compose it, so the two
    oracles share ONE definition of the trajectory."""
    dist = (
        "CAST(list_sum(list_transform(list_zip(e.q, c.cq), "
        "s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)"
    )
    parts = [
        f"""
    WITH e AS (
      -- len > 0 mirrors the operator's size() gate: NULL/empty vectors
      -- are unclusterable and excluded from seeds and assignments alike
      SELECT vec_id,
             list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE)
                                 * CAST({float(_KM_SCALE)!r} AS DOUBLE))
                           AS BIGINT)) AS q
      FROM embeddings WHERE len(embedding) > 0
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cluster, q AS cq
      FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT {_KM_K})
    )"""
    ]
    for i in range(1, _KM_ITERS + 1):
        parts.append(f""",
    p{i} AS (
      SELECT e.vec_id, c.cluster, {dist} AS d
      FROM e CROSS JOIN c{i - 1} c
    ),
    a{i} AS (
      SELECT vec_id,
             (min(struct_pack(d := d, c := cluster))).c AS cluster,
             (min(struct_pack(d := d, c := cluster))).d AS dist_q
      FROM p{i} GROUP BY vec_id
    )""")
        if i < _KM_ITERS or final_centroids:
            parts.append(f""",
    u{i} AS (
      SELECT cluster, pos,
             CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS v
      FROM (SELECT a.cluster,
                   unnest(generate_series(1, len(e.q))) AS pos,
                   unnest(e.q) AS v
            FROM a{i} a JOIN e USING (vec_id))
      GROUP BY 1, 2
    ),
    n{i} AS (SELECT cluster, list(v ORDER BY pos) AS nq
             FROM u{i} GROUP BY cluster),
    c{i} AS (
      SELECT c.cluster, coalesce(n.nq, c.cq) AS cq
      FROM c{i - 1} c LEFT JOIN n{i} n USING (cluster)
    )""")
    return "".join(parts)


def _kmeans_oracle() -> str:
    return (
        _kmeans_ctes()
        + f"""
    SELECT vec_id, cluster, dist_q FROM a{_KM_ITERS}
    """
    )


@defquery(
    "emb_kmeans_clusters",
    _kmeans_oracle(),
    doc="Distributed Lloyd's k-means, 3 exact fixed-point iterations "
    "(operators.clustering.kmeans_fixed_point, k=8): embeddings "
    "quantized once to int64 (floor(x·1e6)) so distances are exact "
    "integer sums and centroid means exact rationals — an ITERATIVE "
    "algorithm with a bit-exact SQL oracle (unrolled recurrence), where "
    "float k-means would diverge across engines on summation order. "
    "Deterministic throughout: k lowest-id seeds, min(struct(dist, "
    "cluster)) argmin, half-away-from-zero mean rounding, empty "
    "clusters keep their centroid, NULL/empty vectors excluded on both "
    "engines (unclusterable — and engines disagree on empty-list "
    "folds). Scale shape per iteration: k-row "
    "centroid frame broadcast onto the corpus (assignment never "
    "shuffles the corpus), one (cluster, dim)-key update aggregate with "
    "map-side partials.",
)
def emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.clustering import kmeans_fixed_point

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_fixed_point(emb, _KM_K, _KM_ITERS, scale=_KM_SCALE)


def _calibration_oracle() -> str:
    """Composes the classifier and Gopher-rules oracles as subqueries —
    ONE definition of each scoring chain feeds both its own entry and
    this calibration view, so they cannot drift apart."""
    from hfp_loader_spark.plans import money as _mny
    from hfp_loader_spark.plans.catalog import REGISTRY

    cls = REGISTRY["quality_hashed_classifier"].oracle
    gop = REGISTRY["text_gopher_rules"].oracle
    _pos_rate_sql = _mny._sql_int_avg(
        "sum(CASE WHEN gopher_keep THEN 1 ELSE 0 END)", 4, 1
    )
    return f"""
    -- pos_rate is an INTEGER count quotient: exact rationals land ON
    -- 4dp rounding ties (where the engines' round() can disagree), so
    -- it rounds via tie-free integer half-up (plans.money._int_avg
    -- twin); avg(p) is continuous (tie measure-zero) and stays round()
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(p), 4) + 0.0 AS avg_p,
           {_pos_rate_sql} AS pos_rate,
           round(abs((round(avg(p), 4) + 0.0) - {_pos_rate_sql}), 4) + 0.0
             AS abs_gap
    FROM (
      SELECT least(CAST(floor(c.p * 10) AS INT), 9) AS bin,
             c.p, g.gopher_keep
      FROM ({cls}) c JOIN ({gop}) g USING (doc_id)
    )
    GROUP BY bin
    """


@defquery(
    "quality_calibration_bins",
    _calibration_oracle(),
    doc="Reliability diagram for the hashed quality classifier: decile "
    "bins of predicted p vs the observed Gopher-rules keep rate in each "
    "bin, plus the per-bin |gap| (the summand of expected calibration "
    "error). The eval that decides whether a quality score can be used "
    "as a sampling WEIGHT (needs calibration) or only as a threshold "
    "GATE (needs ranking) — run before wiring any classifier into "
    "temperature or mixture sampling. Both scoring chains are the "
    "single definitions their own entries use (operators.ranking."
    "hashed_linear_score, operators.text.gopher_quality_flags), joined "
    "per doc and hash-aggregated into ≤ 10 rows; adds one broadcast "
    "join and no new shuffle class.",
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.text import gopher_quality_flags
    from hfp_loader_spark.plans.text_queries import _GOPHER_STOPS

    docs = _t(spark, sf_dir, "documents")
    w = pseudo_weights(spark, _CLS_DIM, seed=_CLS_SEED, scale=_CLS_SCALE)
    cls = hashed_linear_score(
        docs, w, dim=_CLS_DIM, bias=_CLS_BIAS, threshold=_CLS_THRESH
    ).select("doc_id", "p")
    # same stopword list / thresholds as the text_gopher_rules entry —
    # the composed oracle reuses that entry's SQL verbatim
    flags = gopher_quality_flags(
        F.coalesce(F.col("text"), F.lit("")),
        stopwords=_GOPHER_STOPS,
        min_stopwords=2,
    )
    gop = docs.select(
        "doc_id", flags["gopher_keep"].alias("gopher_keep")
    )
    binned = cls.join(gop, "doc_id").select(
        F.least(
            F.floor(F.col("p") * 10).cast("int"), F.lit(9)
        ).alias("bin"),
        "p",
        "gopher_keep",
    )
    from hfp_loader_spark.plans import money as _mny

    avg_p = F.round(F.avg("p"), 4) + F.lit(0.0)
    # tie-free integer half-up for the count quotient (see the oracle)
    pos = _mny._int_avg(
        F.sum(
            F.when(F.col("gopher_keep"), 1).otherwise(0).cast("long")
        ).cast("decimal(38,0)"),
        F.count("*"),
        4,
        1,
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        avg_p.alias("avg_p"),
        pos.alias("pos_rate"),
        (F.round(F.abs(avg_p - pos), 4) + F.lit(0.0)).alias("abs_gap"),
    )


_RRF_QIDS, _RRF_CAND, _RRF_K, _RRF_C = (0, 1, 2, 3), 20, 10, 60


def _rrf_oracle() -> str:
    ids = ", ".join(str(i) for i in _RRF_QIDS)
    bm25 = _bm25_core_sql(
        "SELECT doc_id AS query_id, text AS query_text FROM documents "
        f"WHERE doc_id IN ({ids})"
    )
    return f"""{bm25},
    lex AS (
      SELECT query_id, doc_id, rn FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rn
        FROM sc
      ) WHERE rn <= {_RRF_CAND}
    ),
    qv AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id IN ({ids})
    ),
    dcos AS (
      SELECT qv.query_id, c.vec_id AS doc_id,
             round(CASE WHEN len(qv.v) > 0 AND len(c.embedding) > 0
                        THEN list_cosine_similarity(qv.v,
                                                    c.embedding::DOUBLE[])
                   END, 4) AS cos
      FROM embeddings c CROSS JOIN qv
    ),
    dense AS (
      SELECT query_id, doc_id, rn FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, doc_id) AS rn
        FROM dcos
      ) WHERE rn <= {_RRF_CAND}
    ),
    fused AS (
      SELECT query_id, doc_id,
             round(coalesce(1.0 / ({_RRF_C} + l.rn), 0.0)
                   + coalesce(1.0 / ({_RRF_C} + d.rn), 0.0), 6) AS rrf
      FROM lex l FULL JOIN dense d USING (query_id, doc_id)
    )
    SELECT query_id, doc_id, rrf, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, doc_id) AS rn
      FROM fused
    ) WHERE rn <= {_RRF_K}
    """


@defquery(
    "rank_rrf_fusion",
    _rrf_oracle(),
    doc="Hybrid retrieval via Reciprocal Rank Fusion (operators.ranking."
    "rrf_fuse; Cormack et al. 2009): per anchor document, the lexical "
    "BM25 top-20 and the dense cosine top-20 (anchor's embedding, same "
    "id) merged by Σ 1/(60+rank) — rank-only fusion, so the two "
    "incomparable score scales need no calibration. The canonical "
    "first-stage retriever for RAG-style data pipelines, composed "
    "entirely from this catalog's own BM25 and cosine chains. Scale "
    "shape: each side is already a bounded per-query top-k; fusion is "
    "one full-outer join over queries × 20 rows plus a per-query "
    "window — corpus-size independent beyond the input rankings.",
)
def rank_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.ranking import bm25_topk, rrf_fuse
    from hfp_loader_spark.operators.similarity import brute_force_top_k

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qids = list(_RRF_QIDS)
    tq = docs.where(F.col("doc_id").isin(qids)).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    vq = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lex = bm25_topk(docs, tq, _RRF_CAND, k1=_K1, b=_B)
    dense = brute_force_top_k(emb, vq, _RRF_CAND).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rn"
    )
    return rrf_fuse(
        [lex, dense], topk=_RRF_K, k_rrf=_RRF_C
    ).select(
        "query_id", "doc_id", "rrf", F.col("rn").cast("long").alias("rn")
    )


def _auc_oracle() -> str:
    """Composes the classifier and Gopher oracles (single definitions,
    same as the calibration entry) into the Mann–Whitney rank form with
    average-rank ties — the oracle states the identical histogram
    algebra over DuckDB windows."""
    from hfp_loader_spark.plans import money as _mny
    from hfp_loader_spark.plans.catalog import REGISTRY

    cls = REGISTRY["quality_hashed_classifier"].oracle
    gop = REGISTRY["text_gopher_rules"].oracle
    _pos_rate_sql = _mny._sql_int_avg(
        "sum(CASE WHEN gopher_keep THEN 1 ELSE 0 END)", 4, 1
    )
    return f"""
    WITH j AS (
      SELECT c.p, g.gopher_keep
      FROM ({cls}) c JOIN ({gop}) g USING (doc_id)
    ),
    g AS (
      SELECT p,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (gopher_keep) AS DOUBLE) AS npos
      FROM j GROUP BY p
    ),
    r AS (
      SELECT npos, n,
             coalesce(sum(n) OVER (ORDER BY p
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0)
             + (n + 1.0) / 2.0 AS avgrank
      FROM g
    ),
    a AS (
      SELECT sum(npos) AS np, sum(n) - sum(npos) AS nn,
             sum(npos * avgrank) AS rsum
      FROM r
    )
    SELECT CAST(np AS BIGINT) AS n_pos,
           CAST(nn AS BIGINT) AS n_neg,
           CASE WHEN np > 0 AND nn > 0
                THEN round((rsum - np * (np + 1.0) / 2.0) / (np * nn), 6)
           END AS auc,
           CASE WHEN np > 0 AND nn > 0
                THEN round(CASE WHEN np > 0 AND nn > 0
                           THEN round((rsum - np * (np + 1.0) / 2.0)
                                      / (np * nn), 6) END * 2.0 - 1.0, 6)
           END AS gini
    FROM a
    """


@defquery(
    "quality_classifier_auc",
    _auc_oracle(),
    doc="Exact ROC-AUC of the hashed quality classifier against the "
    "Gopher-rules labels (operators.ranking.roc_auc): Mann–Whitney "
    "rank statistic with average-rank ties, computed from the SCORE "
    "HISTOGRAM — one groupBy(p) corpus aggregate, then the rank "
    "algebra runs on the bounded distinct-score frame (≤ 10⁴+1 rows "
    "at 4-decimal scores), never a corpus sort. The ranking-quality "
    "companion to quality_calibration_bins: calibration says whether "
    "p can be a sampling WEIGHT, AUC says whether it can be a "
    "threshold GATE at all. Both scoring chains are the single "
    "definitions their own entries use.",
)
def quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.ranking import roc_auc
    from hfp_loader_spark.operators.text import gopher_quality_flags
    from hfp_loader_spark.plans.text_queries import _GOPHER_STOPS

    docs = _t(spark, sf_dir, "documents")
    w = pseudo_weights(spark, _CLS_DIM, seed=_CLS_SEED, scale=_CLS_SCALE)
    cls = hashed_linear_score(
        docs, w, dim=_CLS_DIM, bias=_CLS_BIAS, threshold=_CLS_THRESH
    ).select("doc_id", "p")
    flags = gopher_quality_flags(
        F.coalesce(F.col("text"), F.lit("")),
        stopwords=_GOPHER_STOPS,
        min_stopwords=2,
    )
    gop = docs.select("doc_id", flags["gopher_keep"].alias("gopher_keep"))
    return roc_auc(cls.join(gop, "doc_id"), "p", "gopher_keep")


_IVF_EX_NQ, _IVF_EX_NPROBE, _IVF_EX_K = 5, 4, 5


def _ivf_exact_oracle() -> str:
    """Exact-cell IVF search composed onto the shared k-means CTEs:
    probe the post-final-update centroids (c3), take nprobe nearest
    cells per query by exact integer distance (cluster-asc tiebreak),
    candidates = final assignment rows in probed cells, exact cosine
    rerank — every stage value-identical to the Spark operator."""
    dist = (
        "CAST(list_sum(list_transform(list_zip(e.q, c.cq), "
        "s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)"
    )
    return (
        _kmeans_ctes(final_centroids=True)
        + f""",
    qd AS (
      SELECT e.vec_id AS query_id, c.cluster, {dist} AS d
      FROM e CROSS JOIN c{_KM_ITERS} c
      WHERE e.vec_id < {_IVF_EX_NQ}
    ),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT query_id, cluster,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d, cluster) AS rn
        FROM qd
      ) WHERE rn <= {_IVF_EX_NPROBE}
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS vv
      FROM embeddings WHERE len(embedding) > 0
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             round(list_cosine_similarity(qv.vv, cv.vv), 4) AS cos
      FROM probes p
      JOIN a{_KM_ITERS} a ON a.cluster = p.cluster
      JOIN v qv ON qv.vec_id = p.query_id
      JOIN v cv ON cv.vec_id = a.vec_id
    )
    SELECT query_id, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {_IVF_EX_K}
    """
    )


@defquery(
    "sim_ann_ivf_exact_cells",
    _ivf_exact_oracle(),
    doc="IVF approximate top-5 whose ENTIRE index is value-checked "
    "(operators.similarity.ivf_exact_cells_top_k): cells from the "
    "fixed-point integer k-means (the emb_kmeans_clusters trajectory — "
    "the two oracles compose ONE shared CTE definition), nprobe=4 of 8 "
    "cells probed per query against the post-final-update centroids, "
    "exact cosine rerank of cell-equal candidates only. Every stage — "
    "assignment, probe set, candidate list, neighbor list — "
    "hash-matches the SQL oracle: the cross-engine-reproducible index "
    "for provenance-audited dedup, at the cost of corpus-scale "
    "training rounds INSIDE this plan. sim_ann_ivf (r11) is the "
    "offline-trained SERVE split of the same index — identical "
    "output, training memoized out of the measured plan. Both share "
    "the serve-time shape (~nprobe/nlist of the corpus scored per "
    "query; cell column → partition pruning at 100 TB).",
)
def sim_ann_ivf_exact_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import ivf_exact_cells_top_k

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _IVF_EX_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_exact_cells_top_k(
        emb,
        queries,
        k=_IVF_EX_K,
        nlist=_KM_K,
        nprobe=_IVF_EX_NPROBE,
        iters=_KM_ITERS,
        scale=_KM_SCALE,
    )


def _model_store(
    spark: SparkSession, sf_dir: str, name: str, train, defn: str
) -> tuple[list, list]:
    """Train-once for the serve models, across sessions AND processes
    (VERDICT r15 #2): the full Lloyd trajectory (4-6 s of
    localCheckpoint rounds) was the single largest first-call plan-build
    cost in BENCH_DETAIL.  A trained model is a bounded integer table
    (≤ nlist·2 or m·ksub·2 rows), so it persists as ONE stamped
    snapshot next to the other serve artifacts (``memo.artifact``); a
    warm process loads it in ~0.2 s, a regenerated corpus mismatches
    the stamp and retrains.  The decoded lists are memoized
    process-wide (``memo.memo``, keyed on the embeddings' content
    stamp), so a corpus rewritten in place retrains here too instead of
    serving the old model.

    ``train`` returns ``(assign_frame, probe_frame)`` where each frame
    is a sorted list of ``(cluster, cq)`` (IVF) or ``(grp, cluster,
    cq)`` (grouped PQ) tuples; the store normalizes IVF rows onto
    ``grp = -1`` and strips it back off on load.

    ``defn`` is the TRAINING DEFINITION (every hyperparameter the
    trained frames depend on — k, iteration count, PQ geometry), so
    changing a hyperparameter retrains instead of serving the
    old-geometry model.  This function only owns the frame↔row codec.
    Both branches decode from the committed snapshot (not the in-memory
    trained lists), so a codec asymmetry would fail the train-time
    caller immediately instead of surfacing one process later.  A
    committed model missing either frame raises; silently retraining
    over a half-written artifact would mask whatever produced it.
    """

    def build():
        rows = []
        for role, fr in zip(("assign", "probe"), train()):
            for t in fr:
                g, cl, cq = (-1, *t) if len(t) == 2 else t
                rows.append((role, int(g), int(cl), [int(v) for v in cq]))
        return spark.createDataFrame(
            rows, "role string, grp int, cluster int, cq array<long>"
        )

    def load() -> tuple[list, list]:
        snap = memo.artifact(
            f"{name}_model",
            spark,
            sf_dir,
            ["embeddings"],
            f"scale={_KM_SCALE}|{defn}",
            build,
        )
        frames: dict[str, list] = {"assign": [], "probe": []}
        for r in snap.collect():
            frames[r["role"]].append((r["grp"], r["cluster"], list(r["cq"])))
        if not frames["assign"] or not frames["probe"]:
            raise ValueError(
                f"{name} serve model at "
                f"{memo.index_root(f'{name}_model', sf_dir)} is missing a "
                f"frame (assign={len(frames['assign'])}, "
                f"probe={len(frames['probe'])} rows) — refusing to serve "
                "an incomplete model"
            )

        def frame(role: str) -> list:
            rows = sorted(frames[role])
            if rows[0][0] == -1:  # IVF rows ride grp = -1
                return [(cl, cq) for _, cl, cq in rows]
            return rows

        return frame("assign"), frame("probe")

    return memo.memo(
        f"{name}_serve_model",
        None,
        memo.table_paths(sf_dir, "embeddings"),
        defn,
        load,
    )


def _ensure_ivf_tags(spark: SparkSession, sf_dir: str) -> tuple[str, int, str]:
    """Ensure the versioned O(delta) cell-tag log for this corpus exists
    under the CURRENT model generation; returns
    ``(tag_root, head_version, fingerprint)``.  Shared by the IVF serve
    layout and the fused IVF-PQ layout."""
    from hfp_loader_spark.operators.similarity import (
        _model_fingerprint,
        rebuild_cell_tags,
    )
    from hfp_loader_spark.versioned import _read_manifest, latest_version

    cent_assign, _ = _ivf_serve_model(spark, sf_dir)
    fp = _model_fingerprint(cent_assign)
    tag_root = memo.index_root("ivf_tags", sf_dir)
    head = latest_version(spark, tag_root)
    tags_ok = False
    if head is not None:
        meta = _read_manifest(spark, tag_root, head).meta
        tags_ok = (
            meta.get("model_fingerprint") == fp
            and meta.get("scale") == _KM_SCALE
        )
    if not tags_ok:
        head = rebuild_cell_tags(
            spark,
            _t(spark, sf_dir, "embeddings"),
            tag_root,
            cent_assign,
            _KM_SCALE,
        )
    return tag_root, head, fp


def _ivf_serve_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ensure the PERSISTED IVF serve lifecycle for this corpus —
    tag log (versioned, O(delta)-appendable) + cell-partitioned vector
    layout — exists and is stamped with the CURRENT model generation;
    returns ``(index_root, fingerprint)``.  Memoized per embeddings
    generation; a miss costs two manifest reads when the layout is
    already materialized and rebuilds it from scratch when absent or
    when the corpus changed (the model's fingerprint is corpus-derived,
    so regenerated testdata mismatches and re-tags automatically — the
    fail-loud alternative would serve stale cells)."""
    index_root = memo.index_root("ivf_cells", sf_dir)

    def build() -> tuple[str, str]:
        from hfp_loader_spark.operators.similarity import (
            materialize_cell_index,
            read_index_manifest,
        )

        tag_root, head, fp = _ensure_ivf_tags(spark, sf_dir)
        doc = read_index_manifest(spark, index_root)
        if (
            doc is None
            or doc.get("model_fingerprint") != fp
            or doc.get("scale") != _KM_SCALE
            or doc.get("tag_version") != head
        ):
            materialize_cell_index(
                spark,
                tag_root,
                _t(spark, sf_dir, "embeddings"),
                index_root,
            )
        return index_root, fp

    return memo.memo(
        "ivf_cells",
        None,
        memo.table_paths(sf_dir, "embeddings"),
        index_root,
        build,
    )


def _ivf_serve_model(
    spark: SparkSession, sf_dir: str, nlist: int = _KM_K
) -> tuple[list, list]:
    """The pre-trained ``nlist``-cell fixed-point model: (c_{iters-1},
    c_iters) as sorted (cluster, quantized-centroid) lists — 2×nlist
    bounded rows.  The IVF index serves the 8-cell model; the SemDeDup
    contract assigns cells with a 4-cell one."""
    from hfp_loader_spark.operators.clustering import (
        kmeans_fixed_point_trajectory,
    )

    def train() -> tuple[list, list]:
        emb = _t(spark, sf_dir, "embeddings")
        # ONE training run yields both lag frames (VERDICT r11 #2):
        # collecting cent_prev materializes the checkpointed rounds
        # 1..iters−1; the final round reuses them.
        _, cent_prev, cent = kmeans_fixed_point_trajectory(
            emb, nlist, _KM_ITERS, scale=_KM_SCALE
        )

        def rows(c) -> list[tuple[int, list[int]]]:
            return sorted((r["cluster"], list(r["cq"])) for r in c.collect())

        return (rows(cent_prev), rows(cent))

    return _model_store(
        spark, sf_dir, f"ivf_k{nlist}", train,
        defn=f"k={nlist}|iters={_KM_ITERS}",
    )


@defquery(
    "sim_ann_ivf",
    _ivf_exact_oracle(),
    doc="Approximate top-5 SERVED FROM THE PERSISTED IVF INDEX "
    "(operators.similarity.ivf_served_top_k; r12 — closes VERDICT r11 "
    "#1): the exact fixed-point model is trained once per corpus (ONE "
    "Lloyd trajectory, both lag frames — r11 trained twice), its cell "
    "tags committed to the versioned O(delta) tag log "
    "(rebuild_cell_tags/append_cell_tags) and compacted into the "
    "cell-PARTITIONED vector layout (materialize_cell_index) — the "
    "inverted lists of a production IVF index. The measured plan never "
    "touches the corpus: probes are ranked in-row against nlist "
    "literal centroids, the probed cell set (≤ nq·nprobe ids) prunes "
    "the layout scan STATICALLY (cell IN (…) partition filters — "
    "asserted in tests/test_plan_audit.py), and only those cells' "
    "vectors are cosine-reranked. FULL oracle: all serve math is the "
    "inline-training twin sim_ann_ivf_exact_cells', so the twin's "
    "training CTEs + probe SQL value-check the served neighbor list "
    "itself (twin-lock test). Fail-loud: the layout's stamped model "
    "fingerprint must match the served model.",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import ivf_served_top_k

    _, cent_probe = _ivf_serve_model(spark, sf_dir)
    index_root, fp = _ivf_serve_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _IVF_EX_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_served_top_k(
        spark,
        queries,
        index_root,
        cent_probe=cent_probe,
        k=_IVF_EX_K,
        nprobe=_IVF_EX_NPROBE,
        expect_fingerprint=fp,
        scale=_KM_SCALE,
    )


_PQ_EX_M, _PQ_EX_KSUB, _PQ_EX_SHORT, _PQ_EX_DIM = 8, 16, 100, 64


_GK_DIST = (
    "CAST(list_sum(list_transform(list_zip(e.q, c.cq), "
    "s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)"
)


def _grouped_kmeans_iter_ctes() -> str:
    """The grouped Lloyd recurrence blocks (p/a/u/n/c per iteration)
    over ANY ``e(vec_id, grp, q)`` + ``c0(grp, cluster, cq)`` prefix —
    ``grp`` rides every key of the same trajectory the scalar k-means /
    IVF oracles unroll.  Shared by the exact-code PQ (grp = subspace)
    and the per-label clustering entry (grp = label): one definition of
    the grouped recurrence for every consumer."""
    parts = []
    for i in range(1, _KM_ITERS + 1):
        parts.append(f""",
    p{i} AS (
      SELECT e.vec_id, e.grp, c.cluster, {_GK_DIST} AS d
      FROM e JOIN c{i - 1} c USING (grp)
    ),
    a{i} AS (
      SELECT vec_id, grp,
             (min(struct_pack(d := d, c := cluster))).c AS cluster,
             (min(struct_pack(d := d, c := cluster))).d AS dist_q
      FROM p{i} GROUP BY vec_id, grp
    ),
    u{i} AS (
      SELECT grp, cluster, pos,
             CAST(round(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS v
      FROM (SELECT a.grp, a.cluster,
                   unnest(generate_series(1, len(e.q))) AS pos,
                   unnest(e.q) AS v
            FROM a{i} a JOIN e ON e.vec_id = a.vec_id AND e.grp = a.grp)
      GROUP BY 1, 2, 3
    ),
    n{i} AS (SELECT grp, cluster, list(v ORDER BY pos) AS nq
             FROM u{i} GROUP BY grp, cluster),
    c{i} AS (
      SELECT c.grp, c.cluster, coalesce(n.nq, c.cq) AS cq
      FROM c{i - 1} c LEFT JOIN n{i} n USING (grp, cluster)
    )""")
    return "".join(parts)


def _pq_exact_oracle() -> str:
    """Grouped (per-subspace) fixed-point k-means unrolled once for all
    m subspaces, then integer ADC, deterministic shortlist, exact
    cosine rerank.  Every stage value-identical to
    ``similarity.pq_exact_codes_top_k``."""
    sub = _PQ_EX_DIM // _PQ_EX_M
    quant = (
        "x -> CAST(floor(CAST(x AS DOUBLE) "
        f"* CAST({float(_KM_SCALE)!r} AS DOUBLE)) AS BIGINT)"
    )
    dist = _GK_DIST
    parts = [
        f"""
    WITH e AS (
      SELECT vec_id, g.grp,
             list_transform(
                 embedding[g.grp * {sub} + 1 : g.grp * {sub} + {sub}],
                 {quant}) AS q
      FROM embeddings,
           (SELECT unnest(generate_series(0, {_PQ_EX_M - 1})) AS grp) g
      WHERE len(embedding) = {_PQ_EX_DIM}
    ),
    c0 AS (
      SELECT grp, CAST(rn - 1 AS INTEGER) AS cluster, q AS cq
      FROM (SELECT grp, q,
                   row_number() OVER (PARTITION BY grp
                                      ORDER BY vec_id) AS rn
            FROM e)
      WHERE rn <= {_PQ_EX_KSUB}
    )""",
        _grouped_kmeans_iter_ctes(),
    ]
    parts.append(f""",
    lut AS (
      SELECT e.vec_id AS query_id, e.grp, c.cluster, {dist} AS d
      FROM e JOIN c{_KM_ITERS} c USING (grp)
      WHERE e.vec_id < {_IVF_EX_NQ}
    ),
    adc AS (
      SELECT l.query_id, a.vec_id, sum(l.d) AS adc_d
      FROM a{_KM_ITERS} a
      JOIN lut l ON l.grp = a.grp AND l.cluster = a.cluster
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_d, vec_id) AS srn
        FROM adc
      ) WHERE srn <= {_PQ_EX_SHORT}
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS vv
      FROM embeddings WHERE len(embedding) = {_PQ_EX_DIM}
    ),
    scored AS (
      SELECT s.query_id, s.vec_id,
             round(list_cosine_similarity(qv.vv, cv.vv), 4) AS cos
      FROM short s
      JOIN v qv ON qv.vec_id = s.query_id
      JOIN v cv ON cv.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {_IVF_EX_K}
    """)
    return "".join(parts)


@defquery(
    "sim_ann_pq_exact_codes",
    _pq_exact_oracle(),
    doc="Product-quantization top-5 whose ENTIRE index is value-checked "
    "(operators.similarity.pq_exact_codes_top_k): per-subspace "
    "codebooks from the grouped fixed-point k-means "
    "(clustering.kmeans_fixed_point_grouped — ONE plan trains all 8 "
    "subspaces; grp rides every key of the same Lloyd recurrence the "
    "k-means and exact-cell IVF oracles unroll), integer ADC over "
    "exact quantized distances, deterministic 100-candidate shortlist "
    "(adc asc, vec_id tiebreak), exact cosine rerank: codes, LUTs, ADC "
    "distances, shortlist, and neighbor list all reproduce bit-for-bit "
    "on any engine — the provenance-grade PQ. sim_ann_pq (r11) is the "
    "offline-trained SERVE split of the same index — identical output, "
    "training memoized out of the measured plan; here training pays "
    "iters corpus-scale rounds INSIDE the plan.",
)
def sim_ann_pq_exact_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import pq_exact_codes_top_k

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _IVF_EX_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_exact_codes_top_k(
        emb,
        queries,
        k=_IVF_EX_K,
        m=_PQ_EX_M,
        ksub=_PQ_EX_KSUB,
        iters=_KM_ITERS,
        shortlist=_PQ_EX_SHORT,
        dim=_PQ_EX_DIM,
        scale=_KM_SCALE,
    )


def _pq_serve_model(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """The pre-trained PQ codebooks: (books_{iters-1}, books_iters) as
    sorted (grp, cluster, quantized-subcentroid) triples — 2×m·ksub
    bounded rows."""
    from hfp_loader_spark.operators.clustering import (
        kmeans_fixed_point_grouped_trajectory,
        quantize_vec,
    )

    def train() -> tuple[list, list]:
        sub = _PQ_EX_DIM // _PQ_EX_M
        sliced = (
            _t(spark, sf_dir, "embeddings")
            .where(F.size("embedding") == _PQ_EX_DIM)
            .select(
                "vec_id",
                quantize_vec(F.col("embedding"), _KM_SCALE).alias("_q"),
            )
            .select(
                "vec_id",
                F.posexplode(
                    F.array(
                        *[
                            F.slice("_q", j * sub + 1, sub)
                            for j in range(_PQ_EX_M)
                        ]
                    )
                ).alias("grp", "q"),
            )
        )

        # ONE grouped training run yields both codebook generations
        # (VERDICT r11 #2) — cent_prev is checkpointed at the
        # final-round boundary, so both collects share the
        # rounds-1..iters−1 work.
        _, books_prev, books_last = kmeans_fixed_point_grouped_trajectory(
            sliced,
            _PQ_EX_KSUB,
            _KM_ITERS,
            group_col="grp",
            qvec_col="q",
        )

        def rows(b) -> list[tuple[int, int, list[int]]]:
            return sorted(
                (r["grp"], r["cluster"], list(r["cq"])) for r in b.collect()
            )

        return (rows(books_prev), rows(books_last))

    return _model_store(
        spark,
        sf_dir,
        "pq",
        train,
        defn=(
            f"m={_PQ_EX_M}|ksub={_PQ_EX_KSUB}|dim={_PQ_EX_DIM}"
            f"|iters={_KM_ITERS}"
        ),
    )


def _pq_serve_codes(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ensure the persisted PQ code table for this corpus exists and is
    stamped with the CURRENT codebook generation; returns
    ``(code_root, fingerprint)``.  Same lifecycle as
    :func:`_ivf_serve_index`: cheap manifest check when hydrated,
    full re-encode (``rebuild_codes``) when absent or stale."""
    code_root = memo.index_root("pq_codes", sf_dir)

    def build() -> tuple[str, str]:
        from hfp_loader_spark.operators.similarity import (
            _books_fingerprint,
            rebuild_codes,
        )
        from hfp_loader_spark.versioned import _read_manifest, latest_version

        books_assign, _ = _pq_serve_model(spark, sf_dir)
        fp = _books_fingerprint(books_assign)
        head = latest_version(spark, code_root)
        ok = False
        if head is not None:
            meta = _read_manifest(spark, code_root, head).meta
            ok = (
                meta.get("model_fingerprint") == fp
                and meta.get("scale") == _KM_SCALE
                and meta.get("m") == _PQ_EX_M
                and meta.get("dim") == _PQ_EX_DIM
            )
        if not ok:
            rebuild_codes(
                spark,
                _t(spark, sf_dir, "embeddings"),
                code_root,
                books_assign,
                _KM_SCALE,
                m=_PQ_EX_M,
                dim=_PQ_EX_DIM,
            )
        return code_root, fp

    return memo.memo(
        "pq_codes",
        None,
        memo.table_paths(sf_dir, "embeddings"),
        code_root,
        build,
    )


@defquery(
    "sim_ann_pq",
    _pq_exact_oracle(),
    doc="Approximate top-5 SERVED FROM THE PERSISTED PQ CODE TABLE "
    "(operators.similarity.pq_served_top_k; r12 — closes VERDICT r11 "
    "#1/#2): grouped fixed-point codebooks trained once per corpus "
    "(ONE grouped Lloyd trajectory, both generations — r11 trained "
    "twice), the corpus encoded ONCE into the versioned "
    "fingerprint-pinned code table (rebuild_codes — the "
    "8-byte-per-vector structure that IS product quantization's point "
    "at 10^9 vectors), never re-encoded per plan. The measured plan: "
    "ADC = m in-row LUT lookups over the CODE TABLE scan (compressed "
    "linear scan), deterministic 100-candidate shortlist collected "
    "(bounded), full-width vectors fetched by In(vec_id,…)-pushed "
    "point read for the exact cosine rerank — the route-then-fetch "
    "split of a production vector store. FULL oracle: all math is the "
    "inline-training twin sim_ann_pq_exact_codes', so the twin's "
    "grouped training CTEs value-check the served neighbor list "
    "(twin-lock test). Fail-loud: the code table's stamped codebook "
    "fingerprint must match the served model.",
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import (
        load_codes,
        pq_served_top_k,
    )

    _, books_probe = _pq_serve_model(spark, sf_dir)
    code_root, fp = _pq_serve_codes(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _IVF_EX_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    codes = load_codes(
        spark, code_root, expect_fingerprint=fp, expect_scale=_KM_SCALE
    )
    return pq_served_top_k(
        spark,
        emb,
        queries,
        codes,
        books_probe=books_probe,
        k=_IVF_EX_K,
        m=_PQ_EX_M,
        ksub=_PQ_EX_KSUB,
        shortlist=_PQ_EX_SHORT,
        dim=_PQ_EX_DIM,
        scale=_KM_SCALE,
    )


def _ivfpq_oracle() -> str:
    """The fused IVF-PQ pipeline as ONE SQL plan: the full-vector cell
    clustering rides ``grp = −1`` BESIDE the m per-subspace codebook
    clusterings in a single grouped Lloyd recurrence (the same
    shared-trajectory CTEs every k-means oracle unrolls; ``c0`` seeds
    nlist centroids for grp −1 and ksub per subspace), then: probes =
    nprobe nearest final full-vector centroids per query (d, cluster
    ties), candidates = coded vectors whose TRAINED cell is probed, ADC
    = summed per-subspace integer distances from the per-query LUT,
    deterministic shortlist, exact rounded-cosine rerank.  Every stage
    value-identical to ``similarity.ivfpq_served_top_k`` over the fused
    persisted index."""
    sub = _PQ_EX_DIM // _PQ_EX_M
    quant = (
        "x -> CAST(floor(CAST(x AS DOUBLE) "
        f"* CAST({float(_KM_SCALE)!r} AS DOUBLE)) AS BIGINT)"
    )
    return (
        f"""
    WITH e AS (
      SELECT vec_id, -1 AS grp, list_transform(embedding, {quant}) AS q
      FROM embeddings WHERE len(embedding) > 0
      UNION ALL
      SELECT vec_id, g.grp,
             list_transform(
                 embedding[g.grp * {sub} + 1 : g.grp * {sub} + {sub}],
                 {quant}) AS q
      FROM embeddings,
           (SELECT unnest(generate_series(0, {_PQ_EX_M - 1})) AS grp) g
      WHERE len(embedding) = {_PQ_EX_DIM}
    ),
    c0 AS (
      SELECT grp, CAST(rn - 1 AS INTEGER) AS cluster, q AS cq
      FROM (SELECT grp, q,
                   row_number() OVER (PARTITION BY grp
                                      ORDER BY vec_id) AS rn
            FROM e)
      WHERE rn <= CASE WHEN grp = -1 THEN {_KM_K} ELSE {_PQ_EX_KSUB} END
    )"""
        + _grouped_kmeans_iter_ctes()
        + f""",
    cells AS (
      SELECT vec_id, cluster AS cell FROM a{_KM_ITERS} WHERE grp = -1
    ),
    qd AS (
      SELECT e.vec_id AS query_id, c.cluster, {_GK_DIST} AS d
      FROM e JOIN c{_KM_ITERS} c USING (grp)
      WHERE e.grp = -1 AND e.vec_id < {_IVF_EX_NQ}
        AND len(e.q) = {_PQ_EX_DIM}
    ),
    probes AS (
      SELECT query_id, cluster FROM (
        SELECT query_id, cluster,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d, cluster) AS rn
        FROM qd
      ) WHERE rn <= {_IVF_EX_NPROBE}
    ),
    lut AS (
      SELECT e.vec_id AS query_id, e.grp, c.cluster, {_GK_DIST} AS d
      FROM e JOIN c{_KM_ITERS} c USING (grp)
      WHERE e.grp >= 0 AND e.vec_id < {_IVF_EX_NQ}
    ),
    adc AS (
      SELECT p.query_id, a.vec_id, sum(l.d) AS adc_d
      FROM probes p
      JOIN cells cl ON cl.cell = p.cluster
      JOIN a{_KM_ITERS} a ON a.vec_id = cl.vec_id AND a.grp >= 0
      JOIN lut l ON l.query_id = p.query_id
                AND l.grp = a.grp AND l.cluster = a.cluster
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_d, vec_id) AS srn
        FROM adc
      ) WHERE srn <= {_PQ_EX_SHORT}
    ),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS vv
      FROM embeddings WHERE len(embedding) = {_PQ_EX_DIM}
    ),
    scored AS (
      SELECT s.query_id, s.vec_id,
             round(list_cosine_similarity(qv.vv, cv.vv), 4) AS cos
      FROM short s
      JOIN v qv ON qv.vec_id = s.query_id
      JOIN v cv ON cv.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, cos, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {_IVF_EX_K}
    """
    )


def _ivfpq_serve_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """Ensure the FUSED IVF-PQ serve layout (cell-partitioned codes +
    vectors) exists under the current model AND codebook generations;
    returns ``(index_root, model_fp, books_fp)``.  Builds on the two
    structures the single-path entries maintain — the versioned tag log
    and the versioned code table — so all three serve entries share one
    training and one tagging/encoding per corpus."""
    index_root = memo.index_root("ivfpq", sf_dir)

    def build() -> tuple[str, str, str]:
        from hfp_loader_spark.operators.similarity import (
            materialize_ivfpq_index,
            read_index_manifest,
        )
        from hfp_loader_spark.versioned import latest_version

        tag_root, t_head, model_fp = _ensure_ivf_tags(spark, sf_dir)
        code_root, books_fp = _pq_serve_codes(spark, sf_dir)
        c_head = latest_version(spark, code_root)
        doc = read_index_manifest(spark, index_root)
        if (
            doc is None
            or doc.get("model_fingerprint") != model_fp
            or doc.get("books_fingerprint") != books_fp
            or doc.get("scale") != _KM_SCALE
            or doc.get("tag_version") != t_head
            or doc.get("code_version") != c_head
        ):
            materialize_ivfpq_index(
                spark,
                tag_root,
                code_root,
                _t(spark, sf_dir, "embeddings"),
                index_root,
            )
        return index_root, model_fp, books_fp

    return memo.memo(
        "ivfpq",
        None,
        memo.table_paths(sf_dir, "embeddings"),
        index_root,
        build,
    )


@defquery(
    "sim_ann_ivfpq",
    _ivfpq_oracle(),
    doc="Approximate top-5 via the FUSED IVF-PQ persisted index "
    "(operators.similarity.ivfpq_served_top_k; r12) — the composition "
    "that serves 10^9 vectors: IVF partition pruning (the scan reads "
    "ONLY the probed cells' files — cell IN (…) partition filters) "
    "MULTIPLIED by PQ compression (within those files ADC reads only "
    "the m-byte code column; vectors are fetched only for the "
    "collected 100-candidate shortlist via In(vec_id,…) pushdown). "
    "The layout is materialize_ivfpq_index: the versioned tag log and "
    "the versioned code table — the same structures sim_ann_ivf and "
    "sim_ann_pq maintain — fused into cell-partitioned parquet "
    "inverted lists (FAISS IVFPQ as a lake table), manifest-pinned to "
    "BOTH generations. FULL oracle: cells and codebooks replay as ONE "
    "grouped Lloyd recurrence (full-vector clustering rides grp=-1 "
    "beside the m subspaces), so the SQL twin value-checks probes, "
    "cell-restricted ADC, shortlist, and the served neighbor list end "
    "to end.",
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import ivfpq_served_top_k

    _, cent_probe = _ivf_serve_model(spark, sf_dir)
    _, books_probe = _pq_serve_model(spark, sf_dir)
    index_root, model_fp, books_fp = _ivfpq_serve_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _IVF_EX_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_served_top_k(
        spark,
        queries,
        index_root,
        cent_probe=cent_probe,
        books_probe=books_probe,
        k=_IVF_EX_K,
        nprobe=_IVF_EX_NPROBE,
        expect_model_fp=model_fp,
        expect_books_fp=books_fp,
        m=_PQ_EX_M,
        ksub=_PQ_EX_KSUB,
        shortlist=_PQ_EX_SHORT,
        dim=_PQ_EX_DIM,
        scale=_KM_SCALE,
    )


@defquery(
    "emb_cell_drift_retrain",
    _kmeans_ctes()
    + f"""
    SELECT a{_KM_ITERS - 1}.cluster AS cell_from,
           a{_KM_ITERS}.cluster AS cell_to,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM a{_KM_ITERS - 1} JOIN a{_KM_ITERS} USING (vec_id)
    GROUP BY 1, 2
    """,
    doc="Index-rebuild drift audit "
    "(operators.clustering.cell_migration_matrix): the (cell_from, "
    "cell_to, n_vectors) transition matrix between two consecutive "
    "training states of the exact fixed-point index (Lloyd round "
    f"{_KM_ITERS - 1} vs {_KM_ITERS} — the same shared trajectory CTEs "
    "every k-means/IVF oracle unrolls). THE operational question for a "
    "persisted serve model (model_queries._model_store): how many of the "
    "stored cell tags would a retrained model actually move? A "
    "diagonal-heavy matrix says keep serving + O(delta) appends; a "
    "smeared one justifies re-tagging the corpus. One id-equi join + "
    "one k²-bounded aggregate — the matrix is ≤64 rows at any SF.",
)
def emb_cell_drift_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.clustering import (
        cell_migration_matrix,
        kmeans_fixed_point,
    )

    emb = _t(spark, sf_dir, "embeddings")
    old = kmeans_fixed_point(emb, _KM_K, _KM_ITERS - 1, scale=_KM_SCALE)
    new = kmeans_fixed_point(emb, _KM_K, _KM_ITERS, scale=_KM_SCALE)
    return cell_migration_matrix(old, new)


_LBL_K = 4  # sub-clusters per label


def _label_kmeans_oracle() -> str:
    """Per-label grouped k-means profile: the shared grouped recurrence
    with grp = label, rolled up to (label, cluster) sizes and exact
    integer inertia."""
    quant = (
        "x -> CAST(floor(CAST(x AS DOUBLE) "
        f"* CAST({float(_KM_SCALE)!r} AS DOUBLE)) AS BIGINT)"
    )
    return (
        f"""
    WITH e AS (
      SELECT vec_id, CAST(label AS BIGINT) AS grp,
             list_transform(embedding, {quant}) AS q
      FROM embeddings
      WHERE len(embedding) > 0 AND label IS NOT NULL
    ),
    c0 AS (
      SELECT grp, CAST(rn - 1 AS INTEGER) AS cluster, q AS cq
      FROM (SELECT grp, q,
                   row_number() OVER (PARTITION BY grp
                                      ORDER BY vec_id) AS rn
            FROM e)
      WHERE rn <= {_LBL_K}
    )"""
        + _grouped_kmeans_iter_ctes()
        + f"""
    SELECT grp AS label, cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(dist_q) AS BIGINT) AS inertia_q
    FROM a{_KM_ITERS}
    GROUP BY 1, 2
    """
    )


@defquery(
    "emb_kmeans_by_label",
    _label_kmeans_oracle(),
    doc="Per-label sub-clustering in ONE plan "
    "(clustering.kmeans_fixed_point_grouped, grp = label, k=4): ten "
    "independent exact Lloyd clusterings — the per-corpus-partition "
    "structure pass (per language / per source / per topic) that finds "
    "sub-modes inside each partition without launching a job per "
    "group. Same bit-exact fixed-point trajectory as "
    "emb_kmeans_clusters; the oracle composes the SAME grouped "
    "recurrence CTEs as the exact-code PQ (one shared definition). "
    "Output: (label, cluster) sizes + exact integer inertia — the "
    "within-partition dispersion a curriculum or mixture designer "
    "reads. Scale: all groups share every shuffle; per iteration one "
    "broadcast of the G·k centroid frame + one (group, cluster, pos) "
    "update aggregate.",
)
def emb_kmeans_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.clustering import (
        kmeans_fixed_point_grouped,
        quantize_vec,
    )

    emb = _t(spark, sf_dir, "embeddings").where(
        (F.size("embedding") > 0) & F.col("label").isNotNull()
    )
    vecs = emb.select(
        F.col("label").cast("long").alias("grp"),
        "vec_id",
        quantize_vec(F.col("embedding"), _KM_SCALE).alias("q"),
    )
    assign, _ = kmeans_fixed_point_grouped(
        vecs, _LBL_K, _KM_ITERS, group_col="grp", id_col="vec_id",
        qvec_col="q",
    )
    return assign.groupBy(
        F.col("grp").alias("label"), "cluster"
    ).agg(
        F.count("*").alias("n_members"),
        F.sum("dist_q").alias("inertia_q"),
    )


def _semdedup_exact_oracle() -> str:
    """Exact-cell SemDeDup on the shared k-means CTEs: within-cell
    smaller-id pruning at round(cos,4) ≥ t, every stage value-identical
    to ``similarity.semantic_dedup_cells``."""
    return (
        _kmeans_ctes()
        + f""",
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS vv
      FROM embeddings WHERE len(embedding) > 0
    ),
    rem AS (
      SELECT b.vec_id AS vid
      FROM a{_KM_ITERS} a
      JOIN a{_KM_ITERS} b ON a.cluster = b.cluster
                         AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      WHERE round(list_cosine_similarity(va.vv, vb.vv), 4)
            >= {_SEMDEDUP_T!r}
      GROUP BY b.vec_id
    )
    SELECT a.vec_id, a.cluster AS cell, r.vid IS NULL AS kept
    FROM a{_KM_ITERS} a LEFT JOIN rem r ON r.vid = a.vec_id
    """
    )


@defquery(
    "semdedup_keep_list_exact",
    _semdedup_exact_oracle(),
    doc="SemDeDup keep-list with its cells trained INSIDE the plan "
    "(operators.similarity.semantic_dedup_cells over the inline "
    "clustering.kmeans_fixed_point assignment — the same shared "
    "trajectory CTEs as emb_kmeans_clusters / the exact-cell IVF), "
    "within-cell smaller-id pruning at round(cos,4) ≥ 0.35 by the "
    "per-cell Arrow/BLAS matmul. Cells, pair set, and keep/prune flags "
    "all hash-match the oracle. The in-plan training twin of "
    "semdedup_keep_list: identical output, training rounds inside the "
    "measured plan. Σ|cell|²-bounded pair work; never all-pairs.",
)
def semdedup_keep_list_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.clustering import kmeans_fixed_point
    from hfp_loader_spark.operators.similarity import semantic_dedup_cells

    emb = _t(spark, sf_dir, "embeddings")
    assign = kmeans_fixed_point(emb, _KM_K, _KM_ITERS, scale=_KM_SCALE)
    return semantic_dedup_cells(emb, _SEMDEDUP_T, assign, scale=_KM_SCALE)


@defquery(
    "semdedup_keep_list",
    _semdedup_exact_oracle(),
    doc="SemDeDup keep-list on the PRODUCTION hot path "
    "(operators.similarity.semantic_dedup_cells over the served model): "
    "exact fixed-point cells trained ONCE per corpus (memoized "
    "c_{iters-1} literals — the frame the trained assignment argmins "
    "against), cell assignment as one narrow no-join expression pass, "
    "within-cell pruning as ONE per-cell Arrow/BLAS matmul "
    "(applyInPandas, row-blocked Xn·Xnᵀ — measured ~10× an "
    "expression self-join at 500k in-cell pairs), pruned when a "
    "smaller-id same-cell vector scores round(cos,4) ≥ 0.35. FULL "
    "oracle: cells are bit-identical to the inline-training twin's "
    "(semdedup_keep_list_exact, locked by test), so the twin's "
    "training CTEs value-check every cell and flag. Σ|cell|² pair "
    "work, never all-pairs.",
)
def semdedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.similarity import semantic_dedup_cells

    cent_assign, _ = _ivf_serve_model(spark, sf_dir)
    return semantic_dedup_cells(
        _t(spark, sf_dir, "embeddings"),
        _SEMDEDUP_T,
        cent_assign,
        scale=_KM_SCALE,
    )
