"""Physical layout helpers: bucketing for co-located joins.

At 100 TB the dominant recurring cost of fact-fact joins (lineitem ⋈
orders, events ⋈ events) is the shuffle.  Writing both sides bucketed by
the join key with the same bucket count makes the join co-located: Spark
plans a SortMergeJoin with NO Exchange on either side — the shuffle is
paid once at write time and amortized over every subsequent join.

Bucketing metadata lives in the catalog, so bucketed frames are written
with ``saveAsTable`` (a plain ``parquet(path)`` write cannot record
bucket spec).  Readers use ``spark.table(name)``.

Rules of thumb:
- bucket count ≈ total-data / target-partition-size (128-512 MB), and the
  SAME on both sides of the intended join;
- also ``sortBy`` the bucket key so the merge join skips the local sort;
- combine with ``partitionBy(date)`` for prune+co-locate layouts (the
  staging sink's oday partitioning composes with bucketing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) catalog table.

    ``path`` makes the table external (data at ``path``, bucket spec in the
    catalog) — the layout a production lake would use; omitted → managed
    table under ``spark.sql.warehouse.dir``.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on,
    how: str = "inner",
) -> DataFrame:
    """Join two identically-bucketed tables on their bucket key.

    ``on`` is a join-column name, a list of names, or a Column built from
    ``spark.table(left_table)`` / ``spark.table(right_table)`` (the catalog
    caches the analyzed relation, so attribute ids line up).  With matching
    bucket specs Spark elides both Exchanges (asserted in
    tests/test_layout.py) — the join reads co-located buckets directly.
    """
    return spark.table(left_table).join(spark.table(right_table), on, how)


def zorder_value(bucket_cols: list, bits: int = 8):
    """Interleave the bits of per-column bucket ids into one Z-value.

    ``bucket_cols``: integer Columns already in [0, 2^bits).  Bit i of
    column j lands at position i·n_cols + j — the Morton order that makes
    points close in EVERY dimension close in the linear order.  Pure
    shift/and/or Catalyst expressions, evaluated once per row.
    """
    from pyspark.sql import functions as F

    n = len(bucket_cols)
    z = F.lit(0).cast("long")
    for j, c in enumerate(bucket_cols):
        cl = c.cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(cl, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return z


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 16,
    bits: int = 8,
) -> None:
    """Write ``df`` Z-ordered on ``cols`` for multi-dimensional data
    skipping.

    A sort on (a, b) gives perfect min/max pruning on ``a`` and none on
    ``b``; Z-ordering interleaves rank-bucket bits of every column so the
    per-file min/max ranges stay tight in ALL of them — a box predicate
    on any subset of ``cols`` skips most files via plain parquet
    row-group stats, no index structure needed (the same layout trick
    Delta OPTIMIZE ZORDER applies).

    Mechanics: uniform-width bucket ids via ``width_bucket`` over the
    column's [min, max] (one tiny driver-side agg for the bounds —
    swap in approxQuantile boundaries for heavily skewed columns), bit
    interleave, ``repartitionByRange`` on the Z-value (range partitioner
    ⇒ files own contiguous Z-ranges), sort within partitions, write.
    Cost at scale: one extra full shuffle at WRITE time, amortized over
    every subsequent pruned read — the standard layout-maintenance
    trade, same as bucketing above.
    """
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).alias(f"_min_{c}") for c in cols],
        *[F.max(c).alias(f"_max_{c}") for c in cols],
    ).collect()[0]
    n_buckets = 1 << bits
    bucket_ids = []
    for c in cols:
        lo, hi = float(bounds[f"_min_{c}"]), float(bounds[f"_max_{c}"])
        if hi <= lo:  # constant column: single bucket
            bucket_ids.append(F.lit(0))
            continue
        bucket_ids.append(
            F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets)) - 1
        )
    z = zorder_value(bucket_ids, bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
