"""Distributed Lloyd's k-means over embedding columns — exact
fixed-point arithmetic so an iterative algorithm can still be checked
against an independent SQL oracle bit-for-bit.

Extension tier (the reference has no vector surface; SURVEY §2.11
similarity tier).  This module is the similarity tier's one quantizer:
the IVF cells, the PQ codebooks and the SemDeDup cells of
``operators.similarity`` all come from it.  Every step — assignment,
centroid update, convergence — is a DataFrame plan, and the only
driver-bounded object is the k×dim centroid set itself.

Why fixed-point: float k-means is not reproducible across engines (the
per-cluster mean sums doubles in partition order, and after one
iteration a last-ulp difference can flip an assignment and cascade).
Quantizing the input once to int64 (``floor(x·scale)``) makes distances
exact integer sums and centroid updates exact integer-rational rounds,
so ANY engine replaying the same recurrence lands on the identical
clustering.  The quantization error is bounded by 1/scale per
coordinate — 1e-6 at the default, far below embedding noise.

Scale shape per iteration (optimization r16): the k-row centroid frame
collapses to a single broadcast ARRAY row and assignment is a map-side
fold over it — the corpus neither fans out k-fold nor shuffles for
assignment, and because the scored projection still carries the vector,
the centroid update aggregates it directly (no assign→corpus re-join).
The only per-round exchange over corpus-derived data is the
(cluster, dim) update aggregate, whose map-side partial output is
≤ k·dim rows per task.  Overflow headroom: |q| ≤ scale·|x|; with scale 1e6 and
|x| ≤ 10 a squared diff is ≤ 4e14, so dims ≤ ~20k fit int64; the
centroid sum stays exact while cluster mass × scale·|x| < 2^53.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def quantize_vec(vec: Column, scale: int) -> Column:
    """``floor(x·scale)`` per coordinate as ``array<long>`` — floor, not
    round, because floor is unambiguous on every engine (round-half
    conventions differ)."""
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast(
            "long"
        ),
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two quantized vectors
    (an ordered fold, though order is moot for integer addition)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


#: init distance for the argmin fold — any real squared distance is
#: strictly below it (|d| ≤ 4e14·dim ≪ 2⁶³−1 per the overflow headroom)
_MAX_LONG = 9223372036854775807


def _centroid_array(cent: DataFrame, *group_cols: str) -> DataFrame:
    """Collapse the (bounded) centroid frame to ONE row per group
    carrying the full centroid list as ``_cents`` —
    ``array<struct<cluster,cq>>`` sorted ascending by cluster id
    (cluster is unique, so the sort is deterministic).  This is what
    lets assignment run as a map-side fold instead of a corpus
    explode+shuffle."""
    return cent.groupBy(*group_cols).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cluster"), F.col("cq")))
        ).alias("_cents")
    )


def _argmin_centroid(qcol: Column, cents: Column) -> Column:
    """``struct(d, cluster)`` of the nearest centroid in ``cents`` (the
    cluster-ascending array from :func:`_centroid_array`): a transform
    computes each exact distance once, then a fold keeps the first
    strict minimum.  Identical semantics to
    ``min(struct(d, cluster))`` over exploded (row × centroid) pairs —
    lowest distance, ties to the lowest cluster id (ascending iteration
    + strict ``<`` keeps the earliest) — but evaluated entirely
    map-side: the corpus never fans out k-fold and never shuffles for
    assignment (optimization r16, guide §2.3/§2.4)."""
    dists = F.transform(
        cents,
        lambda c: F.struct(
            _sq_dist(qcol, c.getField("cq")).alias("d"),
            c.getField("cluster").alias("cluster"),
        ),
    )
    init = F.struct(
        F.lit(_MAX_LONG).alias("d"), F.lit(-1).alias("cluster")
    )
    return F.aggregate(
        dists,
        init,
        lambda acc, x: F.when(
            x.getField("d") < acc.getField("d"), x
        ).otherwise(acc),
    )


def kmeans_fixed_point(
    emb: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Lloyd's k-means, ``iters`` assignment/update rounds, deterministic
    end to end: centroids initialize from the ``k`` lowest-id vectors
    (cluster ids 0..k−1 in id order), assignment breaks distance ties by
    lowest cluster id, and the centroid update rounds the exact integer
    mean (``round(Σq/n)``, half away from zero on both Spark and DuckDB
    for the positive and negative case alike).  A cluster that loses all
    members keeps its previous centroid.

    Output: ``(id_col, cluster, dist_q)`` — final assignment and the
    exact quantized squared distance.  ``dist_q / scale²`` recovers the
    float-space squared distance to quantization error.

    Precondition (ADVICE r16): ``id_col`` must be unique.  The map-side
    argmin emits one assignment row per INPUT row; with duplicate ids
    (especially carrying different vectors) both the output cardinality
    and the centroid update differ from a groupBy(id)-deduplicating
    formulation — the bit-identical cross-engine contract is stated for
    unique ids only.  Deduplicate upstream if the corpus can repeat ids.

    Each round's centroid state is pinned with a lazy
    ``localCheckpoint(eager=False)`` (optimization r16).  ``eager=False``
    does NOT keep plan construction job-free: under AQE the pin runs
    every exchange stage of the pinned subtree when it is called, so
    each round's aggregate runs inside the builder.  The pin changes NO
    value — round i+1 references round i's centroids instead of
    replaying rounds 1..i: unpinned, the unrolled recurrence re-executes
    earlier rounds' corpus aggregates inside every later round's
    broadcast (70 parquet scans of the corpus at iters=3 in the
    sim_ann_ivf_exact_cells plan; 2.2 s → 0.49 s measured on the
    training subtree at sf0.1).  ``localCheckpoint`` stores unreplicated
    executor-local blocks, so under executor loss the job fails instead
    of recomputing (ADVICE r16); fault tolerance of the pins is
    ROADMAP direction 2."""
    assign, _ = kmeans_fixed_point_model(emb, k, iters, id_col, vec_col, scale)
    return assign


def kmeans_fixed_point_model(
    emb: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """:func:`kmeans_fixed_point` returning the MODEL too:
    ``(assign, centroids)`` where ``centroids`` is the k-row
    ``(cluster, cq)`` frame AFTER the final update (one update past the
    returned assignment — the centroids a subsequent probe or an
    incremental re-assignment would use).  Same exact fixed-point
    trajectory, so both frames have bit-exact SQL twins."""
    assign, _, cent = _kmeans_fp_run(
        emb, k, iters, id_col, vec_col, scale, keep_prev=False
    )
    return assign, cent


def kmeans_fixed_point_trajectory(
    emb: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One training run returning BOTH frames of the serve-time one-step
    lag: ``(assign, cent_prev, cent)`` = (a_iters, c_{iters−1}, c_iters).
    A trained-then-served index needs c_{iters−1} (what the stored cell
    tags argmin against) AND c_iters (what probes rank) — collecting them
    as two independent trainings doubles index-build cost at corpus
    scale (VERDICT r11 #2).  Here ``cent_prev`` is lazily
    localCheckpointed at the final-round boundary, so materializing both
    frames replays the Lloyd recurrence exactly ONCE: the first collect
    computes rounds 1..iters−1 and pins the k-row frame; the final
    round (and the assignment) reuse it.  Values are bit-identical to
    two separate runs — same trajectory, same SQL twins."""
    return _kmeans_fp_run(
        emb, k, iters, id_col, vec_col, scale, keep_prev=True
    )


def _apply_update(carr_cents: Column, upd: Column) -> Column:
    """Next round's ``_cents`` array from the current one and the
    per-round update list ``upd`` = array<struct<cluster,pos,v>> sorted
    ascending by (cluster, pos): each centroid's new coordinates are the
    update entries filtered to its cluster id (pos-ascending because the
    list is sorted), and a cluster with NO update entries (lost all
    members — or the update side is NULL entirely) keeps its previous
    coordinates.  Pure array expressions over model-sized data: the
    k-row update join + re-collapse the r16 shape paid one exchange per
    round for is gone (optimization r17)."""
    def one(c: Column) -> Column:
        mine = F.filter(
            upd,
            lambda s: s.getField("cluster") == c.getField("cluster"),
        )
        nq = F.transform(mine, lambda s: s.getField("v"))
        return F.struct(
            c.getField("cluster").alias("cluster"),
            F.when(F.size(nq) > 0, nq)
            .otherwise(c.getField("cq"))
            .alias("cq"),
        )

    return F.transform(carr_cents, one)


def _kmeans_fp_run(
    emb: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    scale: int,
    keep_prev: bool,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    # NULL/empty vectors are unclusterable and EXCLUDED (no output row):
    # kept in, a NULL vector poisons any centroid seeded from it and an
    # empty one folds to distance 0 against every centroid (while SQL
    # engines sum an empty list to NULL) — exclusion is the only
    # semantics every engine reproduces
    q = emb.where(F.size(F.col(vec_col)) > 0).select(
        F.col(id_col), quantize_vec(F.col(vec_col), scale).alias("q")
    )
    w = Window.orderBy(id_col)
    cent = (
        q.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).alias("cluster"),
            F.col("q").alias("cq"),
        )
    )

    # The loop STATE is the collapsed one-row centroid-array frame
    # (optimization r17), not the k-row (cluster, cq) frame: the r16
    # shape re-collapsed the k rows into the broadcast array EVERY
    # round (a SinglePartition exchange) and rebuilt the k rows from
    # the update via a join (another exchange + a broadcast).  Keeping
    # the array form as the recurrence state leaves exactly TWO
    # exchanges per round — the (cluster, pos) update aggregate
    # (map-side partial ≤ k·dim rows per task) and the k·dim-row
    # collapse of its output — and shrinks what each per-round
    # localCheckpoint pins to ONE array row.  Values are bit-identical:
    # the update algebra (round(Σv/n) per occupied position,
    # pos-ascending assembly, empty clusters keep their centroid) is
    # unchanged, it just runs inside array expressions
    # (:func:`_apply_update`) instead of a join.
    carr = _centroid_array(cent)
    assign = None
    carr_prev = carr
    for it in range(iters):
        if keep_prev and it == iters - 1:
            # pin c_{iters-1} so the final round AND a later collect of
            # the prev frame share one computation of rounds 1..iters-1
            carr = carr.localCheckpoint(eager=False)
            carr_prev = carr
        # assignment as a map-side fold over the broadcast one-row
        # centroid ARRAY (optimization r16): ``scored`` carries
        # (id, q, argmin) in one projection — the corpus never fans out
        # k-fold and never shuffles for assignment.  Values are
        # bit-identical: the fold replicates min(struct(d, cluster)).
        scored = q.crossJoin(F.broadcast(carr)).select(
            id_col,
            "q",
            _argmin_centroid(F.col("q"), F.col("_cents")).alias("_m"),
        )
        assign = scored.select(
            id_col,
            F.col("_m.cluster").alias("cluster"),
            F.col("_m.d").alias("dist_q"),
        )
        upd = (
            scored.select(
                F.col("_m.cluster").alias("cluster"),
                F.posexplode("q").alias("pos", "v"),
            )
            .groupBy("cluster", "pos")
            .agg(
                F.round(F.sum("v") / F.count("*"))
                .cast("long")
                .alias("v")
            )
            .groupBy()
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("cluster"), F.col("pos"), F.col("v"))
                    )
                ).alias("_upd")
            )
        )
        carr = carr.crossJoin(F.broadcast(upd)).select(
            _apply_update(F.col("_cents"), F.col("_upd")).alias("_cents")
        ).localCheckpoint(eager=False)

    def explode_carr(c: DataFrame) -> DataFrame:
        e = c.select(F.explode("_cents").alias("_c"))
        return e.select(
            F.col("_c.cluster").alias("cluster"), F.col("_c.cq").alias("cq")
        )

    return assign, explode_carr(carr_prev), explode_carr(carr)


def kmeans_fixed_point_grouped(
    vecs: DataFrame,
    k: int,
    iters: int,
    group_col: str = "grp",
    id_col: str = "vec_id",
    qvec_col: str = "q",
) -> tuple[DataFrame, DataFrame]:
    """Fixed-point Lloyd's k-means run INDEPENDENTLY per group in ONE
    plan — G parallel clusterings (one per ``group_col`` value) whose
    trajectories are each bit-exact across engines, exactly like
    :func:`kmeans_fixed_point` (same seeds-by-lowest-id, min-struct
    argmin, exact integer-rational centroid rounds, empty clusters
    keep their centroid).

    ``vecs`` carries ALREADY-QUANTIZED vectors (``qvec_col``
    array<long> — quantize upstream with :func:`quantize_vec`; callers
    like product quantization slice before quantizing).  Rows with
    empty/NULL ``qvec_col`` are excluded.

    Returns ``(assign, centroids)``: ``(group, id, cluster, dist_q)``
    and the post-final-update ``(group, cluster, cq)``.

    Per-group clustering is the PQ training step (one group per
    subspace) and the per-language/per-source corpus-partition
    clustering; a single plan trains all groups, so the G clusterings
    share every shuffle.  Scale shape per iteration: broadcast of the
    G·k centroid frame joined on the group key, then one
    (group, cluster, pos) update aggregate.  Each round's G-row
    centroid state is lazily pinned, the same no-value-change lineage
    truncation as :func:`kmeans_fixed_point`."""
    assign, _, cent = _kmeans_fp_grouped_run(
        vecs, k, iters, group_col, id_col, qvec_col, keep_prev=False
    )
    return assign, cent


def kmeans_fixed_point_grouped_trajectory(
    vecs: DataFrame,
    k: int,
    iters: int,
    group_col: str = "grp",
    id_col: str = "vec_id",
    qvec_col: str = "q",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Grouped sibling of :func:`kmeans_fixed_point_trajectory`:
    ``(assign, cent_prev, cent)`` from ONE grouped training run —
    ``cent_prev`` (c_{iters−1}, the codebooks stored PQ codes argmin
    against) is lazily localCheckpointed at the final-round boundary so
    materializing both codebook generations replays the G-group Lloyd
    recurrence once, not twice (VERDICT r11 #2).  Bit-identical to two
    separate runs."""
    return _kmeans_fp_grouped_run(
        vecs, k, iters, group_col, id_col, qvec_col, keep_prev=True
    )


def _kmeans_fp_grouped_run(
    vecs: DataFrame,
    k: int,
    iters: int,
    group_col: str,
    id_col: str,
    qvec_col: str,
    keep_prev: bool,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    q = vecs.where(F.size(F.col(qvec_col)) > 0).select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.col(qvec_col).alias("_q"),
    )
    w = Window.partitionBy("_g").orderBy("_id")
    cent = (
        q.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            "_g",
            (F.col("_rn") - 1).alias("cluster"),
            F.col("_q").alias("cq"),
        )
    )
    # loop state = the G-row per-group centroid-array frame — see the
    # ungrouped loop for the r17 rationale (two exchanges per round:
    # the (g, cluster, pos) update aggregate with map-side partials and
    # the G·k·dim-row collapse; the per-round k-row re-collapse and
    # update join of the r16 shape are gone).  Bit-identical values.
    carr = _centroid_array(cent, "_g")
    assign = None
    carr_prev = carr
    for it in range(iters):
        if keep_prev and it == iters - 1:
            carr = carr.localCheckpoint(eager=False)
            carr_prev = carr
        # map-side argmin fold over the per-group centroid array — the
        # broadcast side is the G-row array frame; the corpus never
        # fans out k-fold and never shuffles for assignment.
        scored = q.join(F.broadcast(carr), "_g").select(
            "_g",
            "_id",
            "_q",
            _argmin_centroid(F.col("_q"), F.col("_cents")).alias("_m"),
        )
        assign = scored.select(
            "_g",
            "_id",
            F.col("_m.cluster").alias("cluster"),
            F.col("_m.d").alias("dist_q"),
        )
        upd = (
            scored.select(
                "_g",
                F.col("_m.cluster").alias("cluster"),
                F.posexplode("_q").alias("pos", "v"),
            )
            .groupBy("_g", "cluster", "pos")
            .agg(F.round(F.sum("v") / F.count("*")).cast("long").alias("v"))
            .groupBy("_g")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("cluster"), F.col("pos"), F.col("v"))
                    )
                ).alias("_upd")
            )
        )
        # lazy pin of the G-row array frame — truncates the recurrence
        # so round i+1 references round i's result instead of replaying
        # rounds 1..i (no value change)
        carr = carr.join(F.broadcast(upd), "_g", "left").select(
            "_g",
            _apply_update(F.col("_cents"), F.col("_upd")).alias("_cents"),
        ).localCheckpoint(eager=False)

    def explode_carr(c: DataFrame) -> DataFrame:
        e = c.select("_g", F.explode("_cents").alias("_c"))
        return e.select(
            F.col("_g").alias(group_col),
            F.col("_c.cluster").alias("cluster"),
            F.col("_c.cq").alias("cq"),
        )

    return (
        assign.select(
            F.col("_g").alias(group_col),
            F.col("_id").alias(id_col),
            "cluster",
            "dist_q",
        ),
        explode_carr(carr_prev),
        explode_carr(carr),
    )


def cell_migration_matrix(
    before: DataFrame,
    after: DataFrame,
    id_col: str = "vec_id",
    cell_col: str = "cluster",
) -> DataFrame:
    """Re-tag audit between two cell assignments of the same corpus:
    ``(cell_from, cell_to, n_vectors)`` for every observed transition —
    the question an index owner asks before a rebuild ("how many of the
    10⁹ stored tags would a retrained model actually move?").  A
    diagonal-heavy matrix says serve on; a smeared one says re-tag.

    Scale shape: ONE id-equi join (co-partitioned when both sides come
    off the same scan) + ONE aggregate over the ≤ k² transition domain
    — never corpus² ; the output is k²-bounded regardless of corpus
    size.  Vectors present on only one side (newly ingested / deleted)
    drop out of the inner join by design — migration is defined on the
    shared universe."""
    a = before.select(F.col(id_col), F.col(cell_col).alias("cell_from"))
    b = after.select(F.col(id_col), F.col(cell_col).alias("cell_to"))
    return (
        a.join(b, id_col)
        .groupBy("cell_from", "cell_to")
        .agg(F.count("*").alias("n_vectors"))
    )
