"""Bucketed layout: co-located joins plan with zero Exchange.

The point of hfp_loader_spark/layout.py is physical, not logical: writing
both fact tables bucketed by the join key pre-pays the shuffle once, so
every later join is Exchange-free.  These tests assert that property on
the actual physical plan, not just that the join returns correct rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hfp_loader_spark.layout import colocated_join, write_bucketed
from hfp_loader_spark.plans.catalog import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    write_bucketed(
        li, "li_b", "l_orderkey", 4, path=str(base / "li_b")
    )
    write_bucketed(
        od, "od_b", "o_orderkey", 4, path=str(base / "od_b")
    )
    yield "li_b", "od_b"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS od_b")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def smj_confs(spark):
    """Pin the plan shape that exists at scale: at sf0.001 everything fits
    under the broadcast threshold and AQE's auto-bucketed-scan heuristic
    turns bucketing off as not-worth-it, so force the sort-merge path the
    bucketed layout is designed for."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_colocated_join_elides_exchanges(spark, bucketed_tables, smj_confs):
    li_b, od_b = bucketed_tables
    joined = colocated_join(
        spark,
        li_b,
        od_b,
        on=spark.table(li_b)["l_orderkey"] == spark.table(od_b)["o_orderkey"],
    )
    plan = _plan(joined.select("l_orderkey", "o_orderdate"))
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_colocated_join_matches_shuffled_join(spark, sf_dir, bucketed_tables):
    li_b, od_b = bucketed_tables
    joined = colocated_join(
        spark,
        li_b,
        od_b,
        on=spark.table(li_b)["l_orderkey"] == spark.table(od_b)["o_orderkey"],
    )
    n_bucketed = joined.count()
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    n_plain = li.join(od, li["l_orderkey"] == od["o_orderkey"]).count()
    assert n_bucketed == n_plain > 0


def test_bucketed_agg_on_bucket_key_elides_exchange(spark, bucketed_tables, smj_confs):
    li_b, _ = bucketed_tables
    agg = spark.table(li_b).groupBy("l_orderkey").count()
    plan = _plan(agg)
    assert "Exchange" not in plan, plan


def _files_intersecting_box(path, a_col, a_lo, a_hi, b_col, b_lo, b_hi):
    """Count (data files, files whose min/max stats intersect the box) —
    exactly the pruning decision parquet readers make from row-group
    stats."""
    import glob

    import pyarrow.parquet as pq

    total, hit = 0, 0
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        amin = amax = bmin = bmax = None
        for rg in range(md.num_row_groups):
            sa = md.row_group(rg).column(names[a_col]).statistics
            sb = md.row_group(rg).column(names[b_col]).statistics
            amin = sa.min if amin is None else min(amin, sa.min)
            amax = sa.max if amax is None else max(amax, sa.max)
            bmin = sb.min if bmin is None else min(bmin, sb.min)
            bmax = sb.max if bmax is None else max(bmax, sb.max)
        total += 1
        if amin <= a_hi and amax >= a_lo and bmin <= b_hi and bmax >= b_lo:
            hit += 1
    return total, hit


def test_zorder_skips_files_on_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered layout must let a 2-d box predicate prune most files via
    min/max stats; the same data written unordered prunes ~nothing.
    Correctness: the pruned scan returns exactly the unordered scan's
    rows."""
    from hfp_loader_spark.layout import zorder_write
    from hfp_loader_spark.plans.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "event_id")
    zpath, plainpath = str(tmp_path / "z"), str(tmp_path / "plain")
    zorder_write(ev, ["user_id", "value"], zpath, n_files=16)
    ev.repartition(16).write.parquet(plainpath)

    # box in the middle of both domains: ~1/5 of each dimension
    stats = ev.agg(
        F.expr("min(user_id)"), F.expr("max(user_id)"),
        F.expr("min(value)"), F.expr("max(value)"),
    ).collect()[0]
    ulo = stats[0] + (stats[1] - stats[0]) * 40 // 100
    uhi = stats[0] + (stats[1] - stats[0]) * 60 // 100
    vlo = stats[2] + (stats[3] - stats[2]) * 0.40
    vhi = stats[2] + (stats[3] - stats[2]) * 0.60

    zt, zh = _files_intersecting_box(zpath, "user_id", ulo, uhi, "value", vlo, vhi)
    pt, ph = _files_intersecting_box(plainpath, "user_id", ulo, uhi, "value", vlo, vhi)
    assert zt >= 8 and pt >= 8
    assert ph == pt  # unordered layout: every file intersects the box
    assert zh <= zt // 2, (zh, zt)  # z-order: most files pruned

    pred = (
        (F.col("user_id").between(int(ulo), int(uhi)))
        & (F.col("value").between(float(vlo), float(vhi)))
    )
    want = sorted(r["event_id"] for r in spark.read.parquet(plainpath).where(pred).collect())
    got = sorted(r["event_id"] for r in spark.read.parquet(zpath).where(pred).collect())
    assert got == want and len(got) > 0
