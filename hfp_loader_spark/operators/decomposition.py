"""Exact fixed-point linear algebra over embedding columns: scatter
(co-moment) matrix, dominant principal component by power iteration, and
projections onto it — every step a DataFrame plan whose arithmetic is
integer-exact, so an independent SQL oracle reproduces the results
bit-for-bit (the ``kmeans_fixed_point`` recipe applied to PCA).

Extension tier (the reference has no vector surface; SURVEY §2.11
similarity tier).  ``operators.similarity`` already reduces dimensions
with a *random* projection; this module is the data-DERIVED projection:
the covariance structure of the corpus itself, computed distributedly.

Why fixed-point: float covariance is not reproducible across engines
(partition-order summation), and eigensolvers are iterative float
recurrences — hopeless for a cross-engine hash gate.  Quantizing the
input once to int64 (``floor(x·scale)``) makes the scatter matrix an
exact integer aggregate, and normalizing each power-iteration step by
*flooring* an integer ratio (max-norm, not L2 — no square root) keeps
the whole eigenvector trajectory in exact integers.  Any engine
replaying the recurrence lands on the identical vector.

Scale shape: the only corpus-sized work is ONE pass that folds each
Arrow batch into a d(d+1)/2-entry partial Gram matrix with numpy
(`X.T @ X` — vectorized, no Python per-row work) plus per-dimension
sums and a count; what shuffles is (#batches × d²/2) partial rows into
a single (i, j)-keyed aggregate.  One global aggregate then collapses
those stats into a single row, and everything after that — centering,
power iteration, Rayleigh quotient, Hotelling deflation — is a
projection of that row over an ``array<array<decimal(38,0)>>`` matrix
(d=64 → 4 096 entries): no join, no further exchange, no pin, so a
whole PCA entry stays one lazy plan whose first action runs it.  This
assumes a modest d: the matrix is one row on one task, reached through
one single-partition aggregate (the covariance's ``centered_numerator``
too).  At d=768 (590k entries), n=2000, ``local[2]`` with a 3 GB heap,
pc1 takes 15–24 s, 9–13 s of it the stats aggregate, with a JVM peak
RSS of 2.0–3.2 GB; much wider vectors need a blocked layout.  The
array expressions are SQL text (``selectExpr`` / ``F.expr``): one py4j
call each, where nested ``F.transform`` lambdas cost round trips per
node at every plan build.

Overflow audit (|q| ≤ scale·|x|, d dims, n rows, chunk ≤ _CHUNK):
per-chunk int64 partials need chunk·q² < 2^63 (6e5² · 8192 ≈ 3e15 ✓);
the centered numerator N = n·Σxy − Σx·Σy ≤ 2·n²·q² rides in
DECIMAL(38,0) / HUGEINT (3e18 at n=2000 ✓); the matrix is pre-divided
by n² before iterating, so a matvec entry is ≤ d·(N/n²)·vscale ≈ 5e19
and the Rayleigh numerator ≤ d²·(N/n²)·vscale² ≈ 3e27 — both inside 38
digits with ten orders of margin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hfp_loader_spark.operators.clustering import quantize_vec

_DEC = "decimal(38,0)"
# numpy partial-Gram chunk rows: keeps int64 partials exact for
# |q| ≤ ~1e6 per the module-docstring audit
_CHUNK = 8192


def _floor_div(a: str, b: str) -> str:
    """SQL text: exact floor division of integer-valued decimals, b > 0 —
    spelled out as subtract-canonical-remainder-then-divide because
    engines disagree on native integer division (Spark decimal ``/``
    rounds, DuckDB ``//`` truncates toward zero): ``(a − ((a%b)+b)%b) / b``
    is exactly divisible, so every engine's division agrees."""
    r = f"(((({a}) % ({b})) + ({b})) % ({b}))"
    return f"CAST((({a}) - {r}) / ({b}) AS {_DEC})"


def _sum(arr: str) -> str:
    """SQL text: exact sum of a decimal array, NULL when it is empty —
    the semantics of SUM over no rows, so an empty corpus yields the
    same NULLs the row-at-a-time aggregates did."""
    return (
        f"aggregate({arr}, CAST(NULL AS {_DEC}), "
        f"(acc, x) -> coalesce(acc, 0) + x)"
    )


def _dot(a: str, b: str) -> str:
    return _sum(f"zip_with({a}, {b}, (x, y) -> x * y)")


# SQL text: the matrix-vector product A·v of a state row, ``v`` bound
# once outside the per-row lambda — the optimizer inlines the projection
# that made ``v`` (it counts references, not lambda calls), which per
# row would recompute the previous step's normalization d times
_AV = f"transform(array(v), w -> transform(A, r -> {_dot('r', 'w')}))[0]"


def scatter_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """One corpus pass → the sufficient statistics of the scatter matrix
    as a ``(kind, i, j, val)`` frame (``val`` DECIMAL(38,0); positions
    1-based):

    - ``kind=0, (0,0)``: row count n (vectors with ``size > 0``; NULL /
      empty vectors are excluded exactly as in ``kmeans_fixed_point``)
    - ``kind=1, (i,0)``: per-dimension sum  Σ qᵢ
    - ``kind=2, (i,j) i≤j``: upper-triangle co-moment  Σ qᵢ·qⱼ

    Each Arrow batch is folded by numpy into ONE partial-stat row set
    (chunked at ``_CHUNK`` rows for int64 headroom) — the corpus never
    shuffles; only (#chunks × (d²/2 + d + 1)) partial rows reach the
    single (kind, i, j) hash aggregate, which map-side-combines.  Its
    consumers read it once, through one global aggregate (``_gather``),
    so it needs no pin."""
    q = emb.where(F.size(F.col(vec_col)) > 0).select(
        quantize_vec(F.col(vec_col), scale).alias("q")
    )

    def fold(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # group by vector length before stacking: a ragged corpus
            # (mixed embedding versions) must not crash the fold, and
            # per-length processing makes the Spark semantics equal the
            # SQL oracle's (each vector contributes to exactly its own
            # positions — generate_series does the same per row)
            by_len = pdf.groupby(pdf["q"].apply(len), sort=False)
            for _, grp in by_len:
                yield from _fold_group(grp["q"], np, pd)

    def _fold_group(series, np, pd):
        for lo in range(0, len(series), _CHUNK):
            chunk = series.iloc[lo : lo + _CHUNK]
            X = np.stack(chunk.to_numpy()).astype(np.int64)
            d = X.shape[1]
            G = X.T @ X
            iu, ju = np.triu_indices(d)
            s = X.sum(axis=0)
            kind = np.concatenate(
                ([0], np.ones(d, np.int32), np.full(len(iu), 2, np.int32))
            )
            ii = np.concatenate(([0], np.arange(1, d + 1), iu + 1))
            jj = np.concatenate(([0], np.zeros(d, np.int32), ju + 1))
            vv = np.concatenate(([X.shape[0]], s, G[iu, ju]))
            yield pd.DataFrame(
                {"kind": kind, "i": ii, "j": jj, "val": vv}
            )

    return (
        q.mapInPandas(fold, "kind int, i int, j int, val long")
        .groupBy("kind", "i", "j")
        .agg(F.sum(F.col("val").cast(_DEC)).alias("val"))
    )


def merge_scatter_stats(*parts: DataFrame) -> DataFrame:
    """Mergeable-aggregate algebra for ``scatter_stats`` output: count,
    per-dim sums, and co-moments are all plain sums, so stats computed
    over disjoint corpus deltas merge by union + re-aggregate — the
    covariance/PCA of a growing corpus is maintained incrementally
    (O(delta) per refresh, the ``incremental.py`` recipe applied to
    linear algebra) instead of rescanning history.  Inputs must share
    the quantization scale; the result is exactly ``scatter_stats`` of
    the concatenated corpus, so every downstream consumer (centering,
    power iteration) is oblivious to how the stats were produced."""
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy("kind", "i", "j").agg(
        F.sum("val").alias("val")
    )


def _gather(stats: DataFrame) -> DataFrame:
    """``scatter_stats`` output as ONE row: ``n``, the per-position sums
    ``s`` (sorted by position) and the upper-triangle co-moments ``u``
    as ``(i, j, val)`` structs sorted by (i, j).  The triangle holds
    every (i, j), i ≤ j ≤ d: ``scatter_stats`` always emits the full
    triangle of the widest vector, and merges keep it."""
    return stats.selectExpr(
        "max(IF(kind = 0, val, NULL)) AS n",
        "transform(array_sort(collect_list(IF(kind = 1, struct(i, val), "
        "NULL))), e -> e.val) AS s",
        "array_sort(collect_list(IF(kind = 2, struct(i, j, val), NULL)))"
        " AS u",
    )


def centered_numerator(stats: DataFrame) -> DataFrame:
    """Centered scatter NUMERATOR from ``scatter_stats`` output:
    ``(i, j, nn, n)`` upper-triangle rows with nn = n·Σqᵢqⱼ − Σqᵢ·Σqⱼ
    (exact; = n²·covᵢⱼ·scale²) — a projection of the gathered row."""
    return _gather(stats).selectExpr(
        "inline(transform(u, e -> struct(e.i AS i, e.j AS j, "
        "n * e.val - s[e.i - 1] * s[e.j - 1] AS nn, n AS n)))"
    )


def centered_scatter(stats: DataFrame) -> DataFrame:
    """Centered scatter matrix from ``scatter_stats`` output as ONE row
    with column ``A`` (``array<array<decimal(38,0)>>``, row i = position
    i+1), pre-divided by n²:  Aᵢⱼ = ⌊(n·Σqᵢqⱼ − Σqᵢ·Σqⱼ) / n²⌋ ≈
    covᵢⱼ·scale² as an exact integer — projections of the gathered row,
    reading the triangle by its row-major index."""
    # upper-triangle offset of (lo, hi), 0-based: lo·d − lo(lo−1)/2 + hi−lo
    lo = "least(a, b)"
    tri = f"CAST({lo} * size(s) - {lo} * ({lo} - 1) div 2 + abs(a - b) AS INT)"
    nn = (
        f"transform(s, (si, a) -> transform(s, (sj, b) -> "
        f"n * u[{tri}].val - si * sj))"
    )
    return _gather(stats).selectExpr("n", f"{nn} AS nn").selectExpr(
        f"transform(nn, r -> transform(r, x -> {_floor_div('x', 'n * n')}))"
        " AS A"
    )


def power_iterate(
    scatter: DataFrame, iters: int = 3, vscale: int = 1_000_000
) -> DataFrame:
    """Add column ``v`` to the one-row ``centered_scatter`` frame: the
    dominant-eigenvector iterate after ``iters`` power-iteration steps,
    entirely in exact integers.  Start from the all-ones vector
    (quantized to ``vscale``), multiply by the matrix, and re-normalize
    each step by max-|component| — ``v′ = ⌊w·vscale / max|w|⌋`` —
    instead of the (irrational) L2 norm, so the trajectory never leaves
    ℤ and every engine lands on the identical vector.  Convergence is
    the standard power-method ratio |λ₂/λ₁| per step; the all-ones start
    is deterministic and non-orthogonal to PC1 for any corpus without
    exact symmetry (a pathological orthogonal start would converge to
    PC2 — on BOTH engines, so parity still holds).  Each step projects
    the row (matvec, max floor, normalize); no corpus access."""
    vs = f"CAST({vscale} AS {_DEC})"
    peak = f"aggregate(v, CAST(1 AS {_DEC}), (a, x) -> greatest(a, abs(x)))"
    norm = f"transform(v, x -> {_floor_div(f'x * {vs}', '_m')})"
    st = scatter.withColumn("v", F.expr(f"array_repeat({vs}, size(A))"))
    for _ in range(iters):
        st = st.withColumn("v", F.expr(_AV))
        st = st.withColumn("_m", F.expr(peak)).withColumn("v", F.expr(norm))
    return st.drop("_m")


def rayleigh(scale: int = 1_000_000) -> str:
    """SQL text over a ``power_iterate`` row: the Rayleigh quotient
    vᵀAv / (vᵀv·scale²), unrounded — exact integer numerator and
    denominator, one IEEE division and one multiply, the same on every
    engine.  NULL when the iterate is all zeros (the zero scatter of a
    one-vector or constant corpus), as in the DuckDB oracle."""
    num = _dot(_AV, "v")
    den = f"nullif({_dot('v', 'v')}, 0)"
    return (
        f"CAST({num} AS DOUBLE) / "
        f"(CAST({den} AS DOUBLE) * {float(scale) ** 2!r}D)"
    )


def total_variance(scale: int = 1_000_000) -> str:
    """SQL text over a ``centered_scatter`` row: the total variance, the
    exact integer trace of ``A`` over scale² (NULL when ``A`` is
    empty)."""
    diag = _sum("transform(A, (r, k) -> r[k])")
    return f"CAST({diag} AS DOUBLE) / {float(scale) ** 2!r}D"


def iterate_cosine(a: str, b: str) -> str:
    """SQL text: the cosine of two iterate columns — exact integer dot
    products, IEEE square roots, the same double on every engine."""
    return (
        f"CAST({_dot(a, b)} AS DOUBLE) / (sqrt(CAST({_dot(a, a)} AS DOUBLE))"
        f" * sqrt(CAST({_dot(b, b)} AS DOUBLE)))"
    )


def pc_rows(
    state: DataFrame, scale: int = 1_000_000, **extra: str
) -> DataFrame:
    """``(pos, v_q, eigenvalue, *extra)`` rows of a ``power_iterate``
    row: one row per position (``inline``), ``eigenvalue`` the Rayleigh
    quotient rounded once to 8 decimals, and each ``extra`` a per-row
    SQL expression evaluated once on the state row."""
    cols = {"eigenvalue": f"round({rayleigh(scale)}, 8)", **extra}
    fields = "".join(f", {c} AS {c}" for c in cols)
    return state.selectExpr(
        "v", *(f"{e} AS {c}" for c, e in cols.items())
    ).selectExpr(
        "inline(transform(v, (x, k) -> "
        f"struct(k + 1 AS pos, CAST(x AS BIGINT) AS v_q{fields})))"
    )


def power_iteration_pc1(
    scatter: DataFrame,
    iters: int = 3,
    vscale: int = 1_000_000,
    scale: int = 1_000_000,
) -> DataFrame:
    """Dominant eigenvector of the one-row ``centered_scatter`` by
    ``iters`` fixed-point power-iteration steps (``power_iterate``).

    Output ``(pos, v_q, eigenvalue)`` — d rows; ``v_q/vscale`` is the
    max-normalized component, ``eigenvalue`` the Rayleigh quotient
    vᵀSv / (vᵀv·scale²) rounded once to 8 decimals.  ``scale`` MUST
    equal the quantization scale the scatter was built with
    (``scatter_stats(scale=…)``) — the Rayleigh denominator de-quantizes
    by scale²; a mismatch keeps ``v_q`` valid but reports the eigenvalue
    off by (scale_built/scale)² (ADVICE r9).  The plan is the stats
    aggregate plus projections of one row: building it runs no job."""
    return pc_rows(power_iterate(scatter, iters, vscale), scale)


def deflate_scatter(scatter: DataFrame) -> DataFrame:
    """Integer Hotelling deflation of a ``power_iterate`` row: subtract
    the rank-1 component of its eigenvector ``v`` from ``A`` so the next
    power iteration converges to the NEXT eigenpair —
    S′ᵢⱼ = Sᵢⱼ − ⌊λ̂·vᵢ·vⱼ / vᵀv⌋ with λ̂ = ⌊vᵀSv / vᵀv⌋.  The two
    floors make S′ deterministic integers (bit-exact on any engine) at
    the cost of a residual leakage ≤ 1 ulp of the fixed-point grid per
    entry — orders below the λ₁→λ₂ spectral gap, and identical on both
    engines either way.

    Magnitude audit (continues the module docstring's): λ̂ ≈ λ₁·scale²
    ≤ ~1e12; λ̂·vᵢ·vⱼ ≤ 1e12·vscale² = 1e24 — inside both DECIMAL(38,0)
    and HUGEINT without the naive (vᵀSv)·vᵢ·vⱼ form's 1e39 blow-up
    (which is WHY λ̂ is floored first).

    An all-zero iterate (the zero scatter of a one-vector or constant
    corpus) has no direction to deflate: vᵀv = 0 reads as NULL, so λ̂
    and every entry of S′ are NULL, as in the DuckDB oracle.

    The result keeps every column, with ``A`` replaced, so the
    extraction composes: iterate → deflate → iterate → …"""
    lam_vv = "_lam * v[a] * v[b]"
    return (
        scatter.withColumn("_num", F.expr(_dot(_AV, "v")))
        .withColumn("_den", F.expr(f"nullif({_dot('v', 'v')}, 0)"))
        .withColumn("_lam", F.expr(_floor_div("_num", "_den")))
        .withColumn(
            "A",
            F.expr(
                f"transform(A, (r, a) -> transform(r, (x, b) -> "
                f"x - {_floor_div(lam_vv, '_den')}))"
            ),
        )
        .drop("_num", "_den", "_lam")
    )


def project_pc1(
    emb: DataFrame,
    pc1: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    vscale: int = 1_000_000,
) -> DataFrame:
    """Exact integer projection of every vector onto the fixed-point PC1:
    ``t = Σ qᵢ·v_qᵢ`` (DECIMAL — |t| ≤ d·q·vscale ≈ 4e13 at d=64).
    Output ``(id_col, t)``; ``t/(scale·vscale)`` is the float-space
    projection.  Shape: the d-row eigenvector folds in as ONE broadcast
    array literal-equivalent (a broadcast join + zip_with fold), so the
    corpus is touched exactly once and never shuffled."""
    vec = pc1.selectExpr(
        "transform(array_sort(collect_list(struct(pos, v_q))), e -> e.v_q)"
        " AS _pc"
    )
    q = emb.where(F.size(F.col(vec_col)) > 0).select(
        F.col(id_col), quantize_vec(F.col(vec_col), scale).alias("q")
    )
    return q.crossJoin(F.broadcast(vec)).selectExpr(
        id_col,
        f"aggregate(zip_with(q, _pc, (a, b) -> CAST(a AS {_DEC}) * "
        f"CAST(b AS {_DEC})), CAST(0 AS {_DEC}), (acc, x) -> acc + x) AS t",
    )


def top_p_components(
    scatter: DataFrame,
    p: int,
    iters: int = 3,
    vscale: int = 1_000_000,
    scale: int = 1_000_000,
) -> list[DataFrame]:
    """The top-``p`` spectral directions by the iterate → deflate loop:
    component i is the power iteration on the scatter with components
    0..i−1 Hotelling-deflated out (``deflate_scatter``).  Returns ``p``
    frames of ``(pos, v_q, eigenvalue)`` — the PCA projection basis for
    rank reduction before ANN indexing.  Everything stays exact
    integers in one row; no additional corpus passes beyond the one
    that built the scatter."""
    out: list[DataFrame] = []
    cur = scatter
    for _ in range(p):
        cur = power_iterate(cur, iters, vscale)
        out.append(pc_rows(cur, scale))
        cur = deflate_scatter(cur)
    return out


def save_scatter_stats(
    spark,
    stats: DataFrame,
    root: str,
    scale: int = 1_000_000,
    meta: dict | None = None,
) -> int:
    """Persist scatter stats as a versioned-table snapshot — the
    train-once/refresh-forever contract of the IVF/PQ codebooks applied
    to the PCA sufficient statistics.  The quantization ``scale`` is
    stamped into the snapshot meta (stats built at different scales
    must never merge — the same class of silent corruption the
    signature-index ``signature_params`` stamp guards against).

    ``mode='append'`` on refresh: a delta's stats commit as a NEW dir
    and readers re-aggregate on load (``load_scatter_stats``) — O(delta)
    maintenance, O(1) commit, time-travel for free."""
    from hfp_loader_spark.versioned import commit_snapshot

    out = stats.select(
        "kind", "i", "j", F.col("val").cast("string").alias("val")
    )
    return commit_snapshot(
        spark, out, root, mode="append",
        meta={"scale": scale, **(meta or {})},
    )


def load_scatter_stats(
    spark, root: str, scale: int = 1_000_000, version: int | None = None
) -> DataFrame:
    """Load (and merge) every committed scatter delta: the versioned
    dirs union and re-aggregate by (kind, i, j) — exactly
    ``merge_scatter_stats`` over the commit history, so downstream
    centering/iteration sees the stats of the full corpus-so-far.
    Refuses a scale mismatch (see ``save_scatter_stats``)."""
    from hfp_loader_spark.versioned import (
        _read_manifest,
        latest_version,
        read_snapshot,
    )

    v = latest_version(spark, root) if version is None else version
    meta = _read_manifest(spark, root, v).meta if v is not None else {}
    stored = meta.get("scale")
    if stored is not None and int(stored) != int(scale):
        raise ValueError(
            f"scatter stats at {root!r} were built with scale={stored}, "
            f"requested {scale} — rebuild, don't mix quantization grids"
        )
    df = read_snapshot(spark, root, version)
    return (
        df.select(
            "kind", "i", "j", F.col("val").cast(_DEC).alias("val")
        )
        .groupBy("kind", "i", "j")
        .agg(F.sum("val").alias("val"))
    )
