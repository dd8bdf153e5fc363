"""Decomposition catalog: exact fixed-point covariance / PCA over the
``embeddings`` table (SURVEY §2.11 similarity tier; the reference has no
vector surface — extension tier).

Every entry rides ``operators.decomposition``'s integer arithmetic —
quantize once, aggregate exactly, floor-normalize — so even the
ITERATIVE eigensolver has a bit-exact unrolled SQL oracle (the
``emb_kmeans_clusters`` recipe applied to linear algebra).  DuckDB runs
the same recurrence in HUGEINT; Spark in DECIMAL(38,0); the module
docstring in ``operators/decomposition.py`` carries the overflow audit
(ten orders of margin at the corpus' |x| ≤ 0.6, d = 64).

Float discipline: each output column is produced by ONE double division
(exact-integer numerator / exact-integer denominator) + ONE round, the
same expression shape on both engines, so IEEE correct rounding
guarantees identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hfp_loader_spark.plans.catalog import _t, defquery

_SCALE = 1_000_000
_VSCALE = 1_000_000
_ITERS = 3


def _fd(a: str, b: str) -> str:
    """DuckDB floor division of integer-valued HUGEINTs, b > 0 — the SQL
    twin of ``operators.decomposition._floor_div`` (subtract canonical
    remainder, then exact division; ``//`` alone truncates toward zero,
    which differs on negatives)."""
    return f"((({a}) - ((({a}) % ({b})) + ({b})) % ({b})) // ({b}))"


def _scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row centered scatter of the embeddings corpus."""
    from hfp_loader_spark.operators.decomposition import (
        centered_scatter,
        scatter_stats,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return centered_scatter(scatter_stats(emb, scale=_SCALE))


# Shared CTE chain: quantized vectors → sufficient statistics → centered
# numerator.  One definition feeds all three oracles (the TOKS_SQL
# single-source rule).
_STATS_CTES = f"""
    e AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE)
                                 * CAST({float(_SCALE)!r} AS DOUBLE))
                           AS BIGINT)) AS q
      FROM embeddings WHERE len(embedding) > 0
    ),
    x AS MATERIALIZED (
      SELECT vec_id,
             CAST(unnest(generate_series(1, len(q))) AS INT) AS pos,
             CAST(unnest(q) AS HUGEINT) AS v
      FROM e
    ),
    st AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e),
    sm AS (SELECT pos, CAST(sum(v) AS HUGEINT) AS s FROM x GROUP BY pos),
    mom AS MATERIALIZED (
      SELECT a.pos AS i, b.pos AS j,
             CAST(sum(a.v * b.v) AS HUGEINT) AS sxy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.pos >= a.pos
      GROUP BY 1, 2
    ),
    cen AS MATERIALIZED (
      SELECT i, j, (st.n * mom.sxy - si.s * sj.s) AS nn, st.n AS n
      FROM mom
      CROSS JOIN st
      JOIN sm si ON si.pos = mom.i
      JOIN sm sj ON sj.pos = mom.j
    )
"""


def _power_ctes() -> str:
    """The unrolled power-iteration recurrence on the floor-divided
    centered scatter — ``_ITERS`` matvec/normalize CTE pairs, mirroring
    ``operators.decomposition.power_iteration_pc1`` step for step."""
    parts = [
        f""",
    scat AS MATERIALIZED (
      SELECT i, j, {_fd("nn", "n * n")} AS s FROM cen
      UNION ALL
      SELECT j AS i, i AS j, {_fd("nn", "n * n")} AS s
      FROM cen WHERE i <> j
    ),
    v0 AS MATERIALIZED (
      SELECT pos, CAST({_VSCALE} AS HUGEINT) AS v
      FROM (SELECT DISTINCT i AS pos FROM scat)
    )"""
    ]
    for t in range(1, _ITERS + 1):
        parts.append(f""",
    w{t} AS (
      SELECT i AS pos, CAST(sum(s * v) AS HUGEINT) AS w
      FROM scat JOIN v{t - 1} ON scat.j = v{t - 1}.pos
      GROUP BY i
    ),
    m{t} AS (
      SELECT greatest(max(abs(w)), CAST(1 AS HUGEINT)) AS m FROM w{t}
    ),
    v{t} AS MATERIALIZED (
      SELECT pos,
             {_fd(f"w * CAST({_VSCALE} AS HUGEINT)", "m")} AS v
      FROM w{t} CROSS JOIN m{t}
    )""")
    return "".join(parts)


@defquery(
    "emb_scatter_covariance",
    f"""
    WITH {_STATS_CTES}
    SELECT i, j,
           round(CAST(nn AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 10)
             AS cov
    FROM cen
    """,
    doc="Exact distributed covariance matrix of the embedding corpus "
    "(operators.decomposition.scatter_stats → centered_numerator): "
    "vectors quantized once to int64, each Arrow batch folded by numpy "
    "into a d(d+1)/2-entry partial Gram (XᵀX — the corpus never "
    "shuffles; only #batches·d² partial rows reach one map-side-combined "
    "aggregate), centering via the exact integer identity n·Σxy − Σx·Σy. "
    "Upper triangle, one IEEE division + round per entry — bit-identical "
    "on any engine. At 100 TB this is THE way to get a covariance: one "
    "pass, no per-row Python, shuffle volume independent of corpus size.",
)
def emb_scatter_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.decomposition import (
        centered_numerator,
        scatter_stats,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cen = centered_numerator(scatter_stats(emb, scale=_SCALE))
    nd = F.col("n").cast("double")
    return cen.select(
        "i",
        "j",
        F.round(
            F.col("nn").cast("double") / (nd * nd * F.lit(1e12)), 10
        ).alias("cov"),
    )


@defquery(
    "emb_power_iteration_pc1",
    f"""
    WITH {_STATS_CTES}{_power_ctes()},
    num AS (
      SELECT CAST(sum(s * vi.v * vj.v) AS HUGEINT) AS num
      FROM scat
      JOIN v{_ITERS} vi ON scat.i = vi.pos
      JOIN v{_ITERS} vj ON scat.j = vj.pos
    ),
    den AS (SELECT CAST(sum(v * v) AS HUGEINT) AS den FROM v{_ITERS})
    SELECT pos, CAST(v AS BIGINT) AS v_q,
           round(CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * 1e12), 8)
             AS eigenvalue
    FROM v{_ITERS} CROSS JOIN num CROSS JOIN den
    """,
    doc="Dominant-direction power iteration in fixed point "
    "(operators.decomposition.power_iteration_pc1, 3 unrolled steps; "
    "convergence to the true PC1 is governed by the spectral gap — "
    "near-flat here, so this is the exact 3-step iterate, identically "
    "on both engines): "
    "matvec on the integer centered scatter (pre-divided by n²), "
    "re-normalized each step by flooring against max|component| — no "
    "square root, so the ITERATIVE eigensolver trajectory stays in ℤ "
    "and the SQL oracle replays it bit-for-bit (the kmeans recipe for "
    "linear algebra). Rayleigh-quotient eigenvalue of the covariance, "
    "one division + round. Scale shape: after the single corpus pass "
    "(scatter_stats), one aggregate gathers the stats into ONE row and "
    "the centered matrix, every matvec/floor step and the Rayleigh "
    "quotient are projections of that row's d×d array — no join, no "
    "further exchange; iteration cost independent of corpus size.",
)
def emb_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.decomposition import (
        power_iteration_pc1,
    )

    return power_iteration_pc1(
        _scatter(spark, sf_dir),
        iters=_ITERS,
        vscale=_VSCALE,
        scale=_SCALE,
    )


def _deflation_ctes() -> str:
    """Integer Hotelling deflation + a second unrolled power iteration —
    the SQL twin of ``operators.decomposition.deflate_scatter`` composed
    with a fresh ``power_iteration_pc1`` run on the deflated matrix."""
    T = _ITERS
    parts = [f""",
    wd AS (
      SELECT i AS pos, CAST(sum(s * v) AS HUGEINT) AS w
      FROM scat JOIN v{T} ON scat.j = v{T}.pos GROUP BY i
    ),
    nd AS (
      SELECT CAST(sum(wd.w * v{T}.v) AS HUGEINT) AS num
      FROM wd JOIN v{T} ON wd.pos = v{T}.pos
    ),
    dd AS (SELECT CAST(sum(v * v) AS HUGEINT) AS den FROM v{T}),
    ld AS (SELECT {_fd("num", "den")} AS lam, den
           FROM nd CROSS JOIN dd),
    scat2 AS MATERIALIZED (
      SELECT scat.i, scat.j,
             scat.s - {_fd("lam * vi.v * vj.v", "den")} AS s
      FROM scat
      JOIN v{T} vi ON scat.i = vi.pos
      JOIN v{T} vj ON scat.j = vj.pos
      CROSS JOIN ld
    ),
    u0 AS MATERIALIZED (
      SELECT pos, CAST({_VSCALE} AS HUGEINT) AS v
      FROM (SELECT DISTINCT i AS pos FROM scat2)
    )"""]
    for t in range(1, T + 1):
        parts.append(f""",
    uw{t} AS (
      SELECT i AS pos, CAST(sum(s * v) AS HUGEINT) AS w
      FROM scat2 JOIN u{t - 1} ON scat2.j = u{t - 1}.pos
      GROUP BY i
    ),
    um{t} AS (
      SELECT greatest(max(abs(w)), CAST(1 AS HUGEINT)) AS m FROM uw{t}
    ),
    u{t} AS MATERIALIZED (
      SELECT pos,
             {_fd(f"w * CAST({_VSCALE} AS HUGEINT)", "m")} AS v
      FROM uw{t} CROSS JOIN um{t}
    )""")
    return "".join(parts)


@defquery(
    "emb_power_iteration_pc2",
    f"""
    WITH {_STATS_CTES}{_power_ctes()}{_deflation_ctes()},
    num2 AS (
      SELECT CAST(sum(s * vi.v * vj.v) AS HUGEINT) AS num
      FROM scat2
      JOIN u{_ITERS} vi ON scat2.i = vi.pos
      JOIN u{_ITERS} vj ON scat2.j = vj.pos
    ),
    den2 AS (SELECT CAST(sum(v * v) AS HUGEINT) AS den FROM u{_ITERS}),
    dot AS (
      SELECT CAST(sum(a.v * b.v) AS HUGEINT) AS dot
      FROM v{_ITERS} a JOIN u{_ITERS} b ON a.pos = b.pos
    )
    SELECT pos, CAST(v AS BIGINT) AS v_q,
           round(CAST(num2.num AS DOUBLE)
                 / (CAST(den2.den AS DOUBLE) * 1e12), 8) AS eigenvalue,
           round(CAST(dot.dot AS DOUBLE)
                 / (sqrt(CAST(dd.den AS DOUBLE))
                    * sqrt(CAST(den2.den AS DOUBLE))), 6) AS cos_pc1
    FROM u{_ITERS}
    CROSS JOIN num2 CROSS JOIN den2 CROSS JOIN dot CROSS JOIN dd
    """,
    doc="Second spectral direction via integer Hotelling deflation "
    "(operators.decomposition.deflate_scatter): S′ = S − ⌊λ̂·vvᵀ/vᵀv⌋ "
    "with λ̂ floored FIRST (keeps the rank-1 term inside 38 digits — "
    "the naive (vᵀSv)·vᵢvⱼ form needs 10³⁹), then the same unrolled "
    "fixed-point power iteration on the deflated matrix. The cos_pc1 "
    "column reports residual non-orthogonality (exact integer dot, "
    "IEEE sqrt — identical doubles on both engines): deflation "
    "arithmetic contributes ≤1 fixed-point ulp, but on THIS corpus "
    "the spectrum is near-flat (λ₁/λ₂ ≈ 1.01), so the 3-step iterates "
    "are variance-seeking directions rather than converged "
    "eigenvectors and cos_pc1 ~ 0.2 — identically on both engines; "
    "with a real spectral gap the same recurrence converges "
    "geometrically. Scale shape: both iterations and the deflation are "
    "projections of the same one-row d×d array state as pc1's — one "
    "corpus pass, no join. Composable: deflate → iterate → deflate "
    "extracts the top-p spectrum with no additional corpus passes.",
)
def emb_power_iteration_pc2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.decomposition import (
        iterate_cosine,
        deflate_scatter,
        pc_rows,
        power_iterate,
    )

    pc1 = power_iterate(_scatter(spark, sf_dir), _ITERS, _VSCALE)
    pc2 = power_iterate(
        deflate_scatter(pc1).withColumnRenamed("v", "v1"), _ITERS, _VSCALE
    )
    cos = f"round({iterate_cosine('v1', 'v')}, 6)"
    return pc_rows(pc2, _SCALE, cos_pc1=cos)


@defquery(
    "emb_class_separability",
    f"""
    WITH e AS MATERIALIZED (
      SELECT label,
             list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE)
                                 * CAST({float(_SCALE)!r} AS DOUBLE))
                           AS BIGINT)) AS q
      FROM embeddings WHERE len(embedding) > 0
    ),
    x AS (
      SELECT label,
             CAST(unnest(generate_series(1, len(q))) AS INT) AS pos,
             CAST(unnest(q) AS HUGEINT) AS v
      FROM e
    ),
    nl AS (SELECT label, CAST(count(*) AS HUGEINT) AS n_l
           FROM e GROUP BY label),
    st AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e),
    per AS (
      SELECT label, pos, CAST(sum(v) AS HUGEINT) AS s,
             CAST(sum(v * v) AS HUGEINT) AS s2
      FROM x GROUP BY 1, 2
    ),
    gl AS (SELECT pos, CAST(sum(s) AS HUGEINT) AS sg FROM per GROUP BY pos),
    agg AS (
      SELECT p.label,
             CAST(sum(nl.n_l * p.s2 - p.s * p.s) AS HUGEINT) AS wn,
             CAST(sum((p.s * st.n - gl.sg * nl.n_l)
                      * (p.s * st.n - gl.sg * nl.n_l)) AS HUGEINT) AS bn
      FROM per p
      JOIN nl ON nl.label = p.label
      JOIN gl ON gl.pos = p.pos
      CROSS JOIN st
      GROUP BY p.label
    )
    SELECT agg.label, CAST(nl.n_l AS BIGINT) AS n_vecs,
           round(CAST(wn AS DOUBLE)
                 / (CAST(nl.n_l AS DOUBLE) * CAST(nl.n_l AS DOUBLE)
                    * 1e12), 8) AS within_var,
           round(CAST(bn AS DOUBLE)
                 / (CAST(nl.n_l AS DOUBLE) * CAST(nl.n_l AS DOUBLE)
                    * CAST(st.n AS DOUBLE) * CAST(st.n AS DOUBLE)
                    * 1e12), 8) AS between_sq
    FROM agg JOIN nl ON nl.label = agg.label CROSS JOIN st
    """,
    doc="Fisher-style class separability of the embedding space: per "
    "label, the within-class scatter (Σ_dims of the exact variance "
    "identity n_ℓ·Σq² − (Σq)²) and the squared distance of the class "
    "mean from the global mean (exact rational numerator (s_ℓ·n − "
    "s_g·n_ℓ)², one division + round). High within / low between "
    "flags labels whose embeddings don't separate — the cluster-"
    "quality audit run before trusting label-conditioned sampling. "
    "Scale shape: ONE (label, pos)-keyed aggregate with map-side "
    "partials (key space = labels × d); everything after operates on "
    "that bounded frame.",
)
def emb_class_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.clustering import quantize_vec

    emb = _t(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    e = emb.where(F.size("embedding") > 0).select(
        "label", quantize_vec(F.col("embedding"), _SCALE).alias("q")
    )
    x = e.select("label", F.posexplode("q").alias("pos0", "v"))
    # bounded (label, pos) moment table, lazily pinned (optimization
    # r17): both the global-sum side and the final aggregate reference
    # it, and each unpinned reference replayed the corpus explode+sum.
    # The label-only count frames (nl, st) stay unpinned — they are
    # column-pruned narrow scans.  Value neutral.
    per = x.groupBy("label", "pos0").agg(
        F.sum(F.col("v").cast(dec)).alias("s"),
        F.sum(F.col("v").cast(dec) * F.col("v").cast(dec)).alias("s2"),
    ).localCheckpoint(eager=False)
    nl = e.groupBy("label").agg(F.count("*").cast(dec).alias("n_l"))
    st = e.agg(F.count("*").cast(dec).alias("n"))
    gl = per.groupBy("pos0").agg(F.sum("s").alias("sg"))
    bterm = F.col("s") * F.col("n") - F.col("sg") * F.col("n_l")
    agg = (
        per.join(F.broadcast(nl), "label")
        .join(F.broadcast(gl), "pos0")
        .crossJoin(F.broadcast(st))
        .groupBy("label")
        .agg(
            F.sum(
                F.col("n_l") * F.col("s2") - F.col("s") * F.col("s")
            ).alias("wn"),
            F.sum(bterm * bterm).alias("bn"),
        )
    )
    nld = F.col("n_l").cast("double")
    nd = F.col("n").cast("double")
    return (
        agg.join(F.broadcast(nl), "label")
        .crossJoin(F.broadcast(st))
        .select(
            "label",
            F.col("n_l").cast("long").alias("n_vecs"),
            F.round(
                F.col("wn").cast("double") / (nld * nld * F.lit(1e12)), 8
            ).alias("within_var"),
            F.round(
                F.col("bn").cast("double")
                / (nld * nld * nd * nd * F.lit(1e12)),
                8,
            ).alias("between_sq"),
        )
    )


@defquery(
    "emb_pc1_projection_by_label",
    f"""
    WITH {_STATS_CTES}{_power_ctes()},
    pc AS (SELECT list(v ORDER BY pos) AS vec FROM v{_ITERS}),
    proj AS (
      SELECT e.label,
             CAST(list_sum(list_transform(
                 list_zip(e.q, pc.vec),
                 p -> CAST(p[1] AS HUGEINT) * p[2])) AS HUGEINT) AS t
      FROM e CROSS JOIN pc
    ),
    ag AS (
      SELECT label, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(t) AS HUGEINT) AS s1,
             CAST(sum(t * t) AS HUGEINT) AS s2
      FROM proj GROUP BY label
    )
    SELECT label, CAST(n AS BIGINT) AS n_vecs,
           round(CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12), 8)
             AS avg_proj,
           round(CAST(n * s2 - s1 * s1 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e24), 8)
             AS var_proj
    FROM ag
    """,
    doc="Per-label mean/variance of the exact integer projection onto "
    "the fixed-point PC1 (operators.decomposition.project_pc1): the "
    "d-row eigenvector broadcasts onto the corpus as one zip_with fold "
    "(corpus touched once, never shuffled wider than (label, t)), "
    "moments via the exact identity n·Σt² − (Σt)². The LLM-pipeline "
    "use: a 1-D corpus map for embedding-drift / cluster-balance "
    "audits — e.g. a label whose projection variance collapses is a "
    "mode-collapsed source.",
)
def emb_pc1_projection_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.decomposition import (
        power_iteration_pc1,
        project_pc1,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pc1 = power_iteration_pc1(
        _scatter(spark, sf_dir),
        iters=_ITERS, vscale=_VSCALE, scale=_SCALE,
    )
    proj = project_pc1(
        emb, pc1, scale=_SCALE, vscale=_VSCALE
    ).join(_t(spark, sf_dir, "embeddings").select("vec_id", "label"), "vec_id")
    t20 = F.col("t").cast("decimal(20,0)")
    ag = proj.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum("t").alias("s1"),
        F.sum(t20 * t20).alias("s2"),
    )
    nd = F.col("n").cast("double")
    return ag.select(
        "label",
        F.col("n").cast("long").alias("n_vecs"),
        F.round(F.col("s1").cast("double") / (nd * F.lit(1e12)), 8).alias(
            "avg_proj"
        ),
        F.round(
            (F.col("n").cast("decimal(38,0)") * F.col("s2")
             - F.col("s1") * F.col("s1")).cast("double")
            / (nd * nd * F.lit(1e24)),
            8,
        ).alias("var_proj"),
    )


@defquery(
    "emb_projection_outliers",
    f"""
    WITH {_STATS_CTES}{_power_ctes()},
    pc AS (SELECT list(v ORDER BY pos) AS vec FROM v{_ITERS}),
    proj AS (
      SELECT e.vec_id, e.label,
             CAST(list_sum(list_transform(
                 list_zip(e.q, pc.vec),
                 p -> CAST(p[1] AS HUGEINT) * p[2])) AS HUGEINT) AS t
      FROM e CROSS JOIN pc
    ),
    ag AS (
      SELECT label, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(t) AS HUGEINT) AS s1,
             CAST(sum(t * t) AS HUGEINT) AS s2
      FROM proj GROUP BY label
    )
    SELECT p.vec_id, p.label,
           round(CAST(p.t AS DOUBLE) / 1e12, 6) AS proj
    FROM proj p JOIN ag ON ag.label = p.label
    WHERE (p.t * ag.n - ag.s1) * (p.t * ag.n - ag.s1)
          > 4 * (ag.n * ag.s2 - ag.s1 * ag.s1)
    """,
    doc="Per-label outliers on the PC1 projection with a ZERO-float "
    "decision: (t−μ)² > k²σ² rewritten over exact integers as "
    "(t·n − Σt)² > k²·(n·Σt² − (Σt)²) — no division, no sqrt, no "
    "rounding anywhere in the flag (k=2), so both engines select the "
    "identical rows by construction. The embedding-space anomaly gate: "
    "a vector far from its label's projection band is a mislabeled or "
    "corrupted example. Scale shape: the projection is the broadcast "
    "zip_with fold; the moments are one label-keyed aggregate; the "
    "flag joins the bounded per-label moment row back — corpus touched "
    "twice, shuffled never wider than (label, t).",
)
def emb_projection_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.decomposition import (
        power_iteration_pc1,
        project_pc1,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pc1 = power_iteration_pc1(
        _scatter(spark, sf_dir),
        iters=_ITERS, vscale=_VSCALE, scale=_SCALE,
    )
    proj = project_pc1(emb, pc1, scale=_SCALE, vscale=_VSCALE).join(
        emb.select("vec_id", "label"), "vec_id"
        # narrow (id, t, label) projection, lazily pinned: both the
        # per-label moment aggregate and the outlier filter reference
        # it, and each unpinned reference replayed the corpus projection
        # pass (optimization r17; value neutral)
    ).localCheckpoint(eager=False)
    dec = "decimal(38,0)"
    t20 = F.col("t").cast("decimal(20,0)")
    ag = proj.groupBy("label").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("t").alias("s1"),
        F.sum(t20 * t20).alias("s2"),
    )
    dev = F.col("t") * F.col("n") - F.col("s1")
    spread = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    return (
        proj.join(F.broadcast(ag), "label")
        .where(dev * dev > F.lit(4).cast(dec) * spread)
        .select(
            "vec_id",
            "label",
            F.round(F.col("t").cast("double") / F.lit(1e12), 6).alias(
                "proj"
            ),
        )
    )


@defquery(
    "emb_explained_variance",
    f"""
    WITH {_STATS_CTES}{_power_ctes()},
    num AS (
      SELECT CAST(sum(s * vi.v * vj.v) AS HUGEINT) AS num
      FROM scat
      JOIN v{_ITERS} vi ON scat.i = vi.pos
      JOIN v{_ITERS} vj ON scat.j = vj.pos
    ),
    den AS (SELECT CAST(sum(v * v) AS HUGEINT) AS den FROM v{_ITERS}),
    tr AS (
      SELECT CAST(sum(s) AS HUGEINT) AS trace_q FROM scat WHERE i = j
    )
    SELECT round(CAST(trace_q AS DOUBLE) / 1e12, 8) AS total_variance,
           round(CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * 1e12), 8)
             AS pc1_eigenvalue,
           round((CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * 1e12))
                 / (CAST(trace_q AS DOUBLE) / 1e12), 6)
             AS explained_ratio
    FROM num CROSS JOIN den CROSS JOIN tr
    """,
    doc="Explained-variance summary of the embedding spectrum: the "
    "total variance (exact integer trace of the centered scatter), the "
    "PC1 Rayleigh eigenvalue, and their ratio — the one-number answer "
    "to 'is this embedding space effectively low-dimensional?' (a "
    "near-zero ratio, as here on a near-flat synthetic spectrum, means "
    "rank reduction would lose signal; a high one licenses aggressive "
    "PCA compression before ANN indexing). One row; every input an "
    "exact integer aggregate; divisions orchestrated identically on "
    "both engines.",
)
def emb_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.decomposition import (
        power_iterate,
        rayleigh,
        total_variance,
    )

    pc1 = power_iterate(_scatter(spark, sf_dir), _ITERS, _VSCALE)
    return pc1.selectExpr(
        f"{rayleigh(_SCALE)} AS eig", f"{total_variance(_SCALE)} AS tv"
    ).selectExpr(
        "round(tv, 8) AS total_variance",
        "round(eig, 8) AS pc1_eigenvalue",
        "round(eig / tv, 6) AS explained_ratio",
    )
