"""Physical-plan assertions: the plans we'd want at 100 TB, by contract.

Correctness tests prove the right rows come back at sf0.001; these prove
the right PLAN produces them — pushdown reaching the scan, partition
pruning on the staging sink, broadcast dimension joins, anti-join
strategy, and TakeOrderedAndProject for global top-k.  A regression here
is invisible at test scale and catastrophic at cluster scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hfp_loader_spark.plans.catalog import REGISTRY


def _executed_plan(df) -> str:
    df.collect()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _optimized_plan(REGISTRY["q1_pricing_summary"].builder(spark, sf_dir))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, pushed


def test_q1_column_pruning(spark, sf_dir):
    plan = _optimized_plan(REGISTRY["q1_pricing_summary"].builder(spark, sf_dir))
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # Q1 needs 7 of lineitem's 11 columns; the scan must not read keys.
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema


def test_dimension_join_is_broadcast(spark, sf_dir):
    plan = _executed_plan(REGISTRY["join_region_rollup"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hfp_dedup_is_anti_join(spark, sf_dir):
    plan = _executed_plan(REGISTRY["hfp_dedup_anti_join"].builder(spark, sf_dir))
    assert "LeftAnti" in plan


def test_global_topk_is_take_ordered(spark, sf_dir):
    plan = _optimized_plan(REGISTRY["global_topk_orders"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_staging_sink_partition_prunes(spark, tmp_path):
    """existing_keys must read ONE oday partition and ONLY the uuid column
    (the Spark translation of `SELECT uuid FROM t WHERE oday = $1`)."""
    from hfp_loader_spark.sink import ParquetSink

    from hfp_fixtures import write_fixture  # tests dir on sys.path

    from hfp_loader_spark.job import hfp_load

    write_fixture(tmp_path, date="2021-02-09")
    sink = ParquetSink(str(tmp_path / "stage"))
    hfp_load(spark, str(tmp_path), "2021-02-09", sink)

    keys = sink.existing_keys(spark, "vehicleposition", "2021-02-09")
    plan = keys._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    part = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "oday" in part
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "uuid" in read_schema
    assert "lat" not in read_schema  # pruned to the key column


def _vp_dedup_against(spark, root, sink, date):
    """The VehiclePosition group's dedup plan, as job.load_event_group
    builds it: typed day anti-joined against the union of its key sets."""
    from hfp_loader_spark.operators.dedup import (
        anti_join_existing,
        filter_valid_uuid,
        union_key_sets,
    )
    from hfp_loader_spark.operators.routing import routed_tables
    from hfp_loader_spark.operators.transform import typed_projection
    from hfp_loader_spark.sources.csv_source import read_hfp_group

    group = "vehiclePosition"
    typed = filter_valid_uuid(
        typed_projection(read_hfp_group(spark, root, group, date))
    )
    keys = union_key_sets(
        *[sink.existing_keys(spark, t, date) for t in routed_tables(group)]
    )
    return anti_join_existing(typed, keys)


@pytest.mark.parametrize("prior", ["missing_table", "other_day_only"])
def test_known_empty_key_set_drops_the_anti_join(spark, tmp_path, prior):
    """A sink without rows for the day yields a key set Catalyst can prove
    empty, so the anti-join and its whole-day shuffle leave the plan."""
    from hfp_fixtures import write_fixture

    from hfp_loader_spark.job import hfp_load
    from hfp_loader_spark.sink import ParquetSink

    write_fixture(tmp_path, date="2021-02-09")
    sink = ParquetSink(str(tmp_path / "stage"))
    if prior == "other_day_only":
        write_fixture(tmp_path, date="2021-02-08")
        assert hfp_load(spark, str(tmp_path), "2021-02-08", sink).total_inserted
    df = _vp_dedup_against(spark, str(tmp_path), sink, "2021-02-09")
    assert "Join" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert "Exchange" not in _executed_plan(df)


def test_prior_rows_for_the_day_keep_the_anti_join(spark, tmp_path):
    from hfp_fixtures import write_fixture

    from hfp_loader_spark.job import hfp_load
    from hfp_loader_spark.sink import ParquetSink

    write_fixture(tmp_path, date="2021-02-09")
    sink = ParquetSink(str(tmp_path / "stage"))
    hfp_load(spark, str(tmp_path), "2021-02-09", sink)
    df = _vp_dedup_against(spark, str(tmp_path), sink, "2021-02-09")
    assert "LeftAnti" in _executed_plan(df)


def test_brute_force_topk_broadcasts_queries(spark, sf_dir):
    plan = _executed_plan(REGISTRY["sim_cosine_topk"].builder(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q10_quarter_filter_pushed_to_orders_scan(spark, sf_dir):
    plan = _optimized_plan(
        REGISTRY["q10_returned_revenue_top20"].builder(spark, sf_dir)
    )
    # the o_orderdate range must reach a parquet scan, not sit in a Filter
    assert "PushedFilters" in plan
    assert "o_orderdate" in plan.split("ReadSchema", 1)[0] or any(
        "o_orderdate" in seg.split("]", 1)[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ), plan
    assert "TakeOrderedAndProject" in plan


def test_q19_disjunction_pushed_to_both_scans(spark, sf_dir):
    plan = _optimized_plan(
        REGISTRY["q19_disjunctive_revenue"].builder(spark, sf_dir)
    )
    pushed_segments = [
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    # brand/size OR-implication reaches the part scan, quantity OR the
    # lineitem scan — neither side reads rows the predicate excludes
    assert any("p_brand" in seg for seg in pushed_segments), pushed_segments
    assert any("l_quantity" in seg for seg in pushed_segments), pushed_segments


def test_q4_is_semi_join(spark, sf_dir):
    plan = _executed_plan(
        REGISTRY["q4_order_priority_semi"].builder(spark, sf_dir)
    )
    assert "LeftSemi" in plan


def test_q13_outer_join_pushes_on_clause_predicate(spark, sf_dir):
    plan = _optimized_plan(
        REGISTRY["q13_customer_distribution"].builder(spark, sf_dir)
    )
    pushed_segments = [
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("o_orderpriority" in seg for seg in pushed_segments)


def test_salted_join_has_no_skewed_single_partition(spark, sf_dir):
    # the salted plan must join on (key, salt) — the salt column appears
    # in the join keys, proving the hot key is spread over n_salts hashes
    df = REGISTRY["skew_salted_join_agg"].builder(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan


def test_q6_all_predicates_reach_scan_no_join(spark, sf_dir):
    plan = _optimized_plan(REGISTRY["q6_forecast_revenue"].builder(spark, sf_dir))
    pushed_segments = [
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    # shipdate range, discount band, and quantity cap ALL reach the scan
    assert any("l_shipdate" in seg for seg in pushed_segments), pushed_segments
    assert any("l_discount" in seg for seg in pushed_segments), pushed_segments
    assert any("l_quantity" in seg for seg in pushed_segments), pushed_segments
    assert "Join" not in plan  # scan-aggregate only


def test_q6_reads_only_needed_columns(spark, sf_dir):
    plan = _optimized_plan(REGISTRY["q6_forecast_revenue"].builder(spark, sf_dir))
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_returnflag" not in read_schema


def test_q8_fact_shuffle_only_dims_broadcast(spark, sf_dir):
    plan = _executed_plan(REGISTRY["q8_market_share"].builder(spark, sf_dir))
    # seven joins total; everything except lineitem⋈orders must broadcast
    assert plan.count("BroadcastHashJoin") >= 5, plan.count("BroadcastHashJoin")
    assert "CartesianProduct" not in plan


def test_q20_nested_in_becomes_semi_joins(spark, sf_dir):
    plan = _executed_plan(
        REGISTRY["q20_qualifying_suppliers"].builder(spark, sf_dir)
    )
    assert plan.count("LeftSemi") >= 2  # both IN levels, no re-execution


def test_q21_exists_decorrelates_to_semi_and_anti(spark, sf_dir):
    """The multi-EXISTS shape must become ONE semi + ONE anti hash join —
    never a correlated re-execution or a cartesian expansion."""
    plan = _executed_plan(REGISTRY["q21_waiting_suppliers"].builder(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # the suppkey<>suppkey inequality rides the orderkey EQUI join as a
    # residual condition, not a nested-loop join
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_correlated_min_is_single_aggregate_join(spark, sf_dir):
    """The correlated min-subquery must decorrelate: one extra aggregate
    joined back on (partkey, min) — no per-part re-execution, no cartesian."""
    plan = _executed_plan(REGISTRY["q2_min_cost_supplier"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan  # region keep-list applied before the aggregate
    assert "TakeOrderedAndProject" in plan  # LIMIT 100 never global-sorts


def test_q12_predicates_reach_lineitem_scan(spark, sf_dir):
    plan = _optimized_plan(REGISTRY["q12_priority_by_mode"].builder(spark, sf_dir))
    pushed_segments = [
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("l_shipdate" in seg for seg in pushed_segments), pushed_segments
    assert any("l_returnflag" in seg for seg in pushed_segments), pushed_segments


def _final_plan_section(plan: str) -> str:
    """AQE's executedPlan string carries BOTH '== Final Plan ==' and
    '== Initial Plan ==' renderings — counting markers over the whole
    string double-counts every operator."""
    return plan.split("== Initial Plan ==", 1)[0]


def test_windowed_funnel_single_data_exchange(spark, sf_dir):
    """The funnel's selling point IS its plan: one hashpartitioning
    exchange (user_id) feeding all three Window operators + the per-user
    aggregate; the only other exchange is the terminal 1-row
    SinglePartition count."""
    plan = _final_plan_section(
        _executed_plan(REGISTRY["events_funnel_windowed"].builder(spark, sf_dir))
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") >= 3  # the three chained step windows


def test_chunk_windows_is_narrow(spark, sf_dir):
    """Chunking must stay a projection pipeline: no shuffle, no Python."""
    plan = _executed_plan(REGISTRY["text_chunk_windows"].builder(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_boilerplate_scans_corpus_once(spark, sf_dir):
    """The document-frequency window form reads documents' text ONCE;
    the only other scan is the zero-column count-star for the doc-count
    broadcast (the groupBy+join form regressed to two full text scans)."""
    plan = _final_plan_section(
        _executed_plan(
            REGISTRY["text_boilerplate_by_source"].builder(spark, sf_dir)
        )
    )
    text_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "text" in ln
    ]
    assert len(text_scans) == 1, plan


def test_emb_dim_stats_partial_aggregates_before_exchange(spark, sf_dir):
    plan = _final_plan_section(
        _executed_plan(REGISTRY["emb_dim_stats"].builder(spark, sf_dir))
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # partial_* functions prove the map-side fold precedes the shuffle
    assert "partial_avg" in plan or "partial_count" in plan


def test_session_funnel_reuses_the_sessionize_exchange(spark, sf_dir):
    """Composition contract: partitioning the funnel windows by the
    (user_id, session_id) PAIR lets hashpartitioning(user_id) from the
    sessionize exchange satisfy the clustering (subset-of-keys rule) —
    the whole sessionize→funnel chain shuffles events ONCE. (The first
    cut used a concatenated string key and paid a second exchange.)"""
    plan = _final_plan_section(
        _executed_plan(
            REGISTRY["events_funnel_per_session"].builder(spark, sf_dir)
        )
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_registry_window_prioritizes_unverified_entries():
    """VERDICT r13 #1: the driver samples the FIRST ``SAMPLE_WINDOW``
    registry entries; the order must spend that window on entries
    WITHOUT external driver signal — ≥45 never-sampled (when that many
    exist), ``MONEY_PRIORITY`` never-sampled members first, up to
    ``_REVERIFY_SLOTS`` rewritten-since-sampled entries re-queued — and
    rows-only entries must keep their natural share of the window (the
    anti-bias guard from the rotation era stays armed)."""
    from hfp_loader_spark.plans import catalog

    sampled = catalog._sampled_rounds()
    window = list(catalog.REGISTRY.values())[: catalog.SAMPLE_WINDOW]
    never_in_window = [s for s in window if s.name not in sampled]
    never_total = sum(1 for n in catalog.REGISTRY if n not in sampled)
    want = min(
        never_total, catalog.SAMPLE_WINDOW - catalog._REVERIFY_SLOTS
    )
    assert len(never_in_window) >= want, (
        f"only {len(never_in_window)} never-sampled entries in the "
        f"window; {never_total} exist"
    )
    # money-priority never-sampled entries lead the window
    money_never = [n for n in catalog.MONEY_PRIORITY if n not in sampled]
    assert [s.name for s in window[: len(money_never)]] == money_never
    # stale (rewritten-since-sampled) entries are inside the window,
    # capped at the reserved slot count
    stale_in_window = [
        s.name
        for s in window
        if s.name in sampled
        and sampled[s.name] < catalog.REVERIFY_SINCE.get(s.name, 0)
    ]
    stale_total = [
        n
        for n, rnd in sampled.items()
        if n in catalog.REGISTRY
        and rnd < catalog.REVERIFY_SINCE.get(n, 0)
    ]
    # at least the reserved slots' worth of stale entries are inside
    # the window (more may fit once the never-sampled backlog shrinks —
    # the reservation caps stale only while never entries compete)
    assert len(stale_in_window) >= min(
        len(stale_total), catalog._REVERIFY_SLOTS
    )
    rows_only_all = [
        s.name for s in catalog.REGISTRY.values() if s.oracle is None
    ]
    rows_only_in_window = [s.name for s in window if s.oracle is None]
    if rows_only_all:
        assert rows_only_in_window, (
            "rows-only entries were pushed out of the sampled window — "
            "evaluator-shaping bias reintroduced?"
        )


def test_registry_order_self_advances_as_signal_lands(monkeypatch):
    """Once a round's CORRECTNESS file records the window, the NEXT
    ordering must move those entries out of the priority bucket — the
    windows of successive rounds are disjoint on the never-sampled set
    until it is exhausted, with no per-round rotation knob."""
    from hfp_loader_spark.plans import catalog

    full = dict(catalog.REGISTRY)
    base_sampled = catalog._sampled_rounds()
    try:
        w1 = list(catalog.REGISTRY)[: catalog.SAMPLE_WINDOW]
        next_round = max(base_sampled.values(), default=0) + 1
        simulated = dict(base_sampled)
        simulated.update({n: next_round for n in w1})
        monkeypatch.setattr(catalog, "_sampled_rounds", lambda: simulated)
        catalog.REGISTRY.clear()
        catalog.REGISTRY.update(full)
        catalog._order_registry()
        w2 = list(catalog.REGISTRY)[: catalog.SAMPLE_WINDOW]
        fresh_w1 = {n for n in w1 if n not in base_sampled}
        fresh_w2 = {n for n in w2 if n not in simulated}
        assert not (fresh_w1 & fresh_w2), (
            "round N+1 re-sampled never-seen entries round N already "
            "covered"
        )
        assert set(catalog.REGISTRY) == set(full)
        # specs are untouched — ordering is purely cosmetic
        assert all(catalog.REGISTRY[n] is full[n] for n in full)
    finally:
        monkeypatch.undo()
        catalog.REGISTRY.clear()
        catalog.REGISTRY.update(full)
        catalog._order_registry()


def test_registry_order_converges_to_full_external_coverage(monkeypatch):
    """Meta-invariant of the seen-aware order: simulating successive
    driver rounds (each samples the window, lands a CORRECTNESS file),
    EVERY catalog entry receives external signal within
    ceil(backlog / (window - reserved)) + 1 rounds of today, and once
    the backlog is empty the window turns over the OLDEST signal —
    the standing re-verification rotation never starves an entry."""
    import math

    from hfp_loader_spark.plans import catalog

    full = dict(catalog.REGISTRY)
    base = catalog._sampled_rounds()
    sampled = dict(base)
    never0 = sum(1 for n in full if n not in sampled)
    budget = math.ceil(
        never0 / (catalog.SAMPLE_WINDOW - catalog._REVERIFY_SLOTS)
    ) + 1
    rnd = max(sampled.values(), default=0)
    try:
        monkeypatch.setattr(catalog, "_sampled_rounds", lambda: dict(sampled))
        for _ in range(budget):
            catalog.REGISTRY.clear()
            catalog.REGISTRY.update(full)
            catalog._order_registry()
            rnd += 1
            for n in list(catalog.REGISTRY)[: catalog.SAMPLE_WINDOW]:
                sampled[n] = rnd
            if all(n in sampled for n in full):
                break
        assert all(n in sampled for n in full), (
            f"{sum(1 for n in full if n not in sampled)} entries still "
            f"unsampled after {budget} simulated rounds"
        )
        # steady state: the next window picks the stalest signal
        catalog.REGISTRY.clear()
        catalog.REGISTRY.update(full)
        catalog._order_registry()
        window = list(catalog.REGISTRY)[: catalog.SAMPLE_WINDOW]
        oldest = sorted(full, key=lambda n: sampled[n])[
            : catalog.SAMPLE_WINDOW
        ]
        assert set(window) == set(oldest)
    finally:
        monkeypatch.undo()
        catalog.REGISTRY.clear()
        catalog.REGISTRY.update(full)
        catalog._order_registry()


def test_table_schema_cache_matches_inferred(spark, sf_dir):
    """load_table's stat-stamped schema cache (r15) must hand Spark the
    exact schema a bare inferred read would see — a drift would
    silently null out renamed columns rather than fail."""
    import os

    from hfp_loader_spark.plans.catalog import (
        _TABLE_SCHEMA_CACHE,
        TABLES,
        load_table,
    )

    for t in TABLES:
        path = f"{sf_dir.rstrip('/')}/{t}.parquet"
        if not os.path.exists(path):
            continue
        inferred = spark.read.parquet(path).schema
        load_table(spark, sf_dir, t)  # populates the cache
        stamp, cached = _TABLE_SCHEMA_CACHE[path]
        st = os.stat(path)
        assert stamp == (
            (os.path.basename(path), st.st_size, st.st_mtime_ns),
        ), t
        assert cached == inferred, t


def test_table_schema_stamp_sees_nested_rewrite(spark, tmp_path):
    """The stamp must recurse (ADVICE r15): rewriting a LEAF file inside
    a partition subdirectory changes neither the subdir's size nor the
    top-level listing, so a non-recursive stamp would serve the stale
    schema.  Also locks the path-keyed eviction: the regenerated table
    REPLACES its entry instead of accreting a second one."""
    from hfp_loader_spark.plans.catalog import (
        _TABLE_SCHEMA_CACHE,
        _table_schema,
    )

    root = str(tmp_path / "t.parquet")
    sub = tmp_path / "t.parquet" / "p=1"
    sub.mkdir(parents=True)
    spark.range(3).selectExpr("id AS a").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(sub / "leaf"))
    assert [f.name for f in _table_schema(spark, root).fields] == ["a", "p"]
    n_entries = len(_TABLE_SCHEMA_CACHE)
    # rewrite the nested leaf in place with a DIFFERENT schema
    spark.range(3).selectExpr(
        "id AS a", "id * 2 AS b"
    ).coalesce(1).write.mode("overwrite").parquet(str(sub / "leaf"))
    assert [f.name for f in _table_schema(spark, root).fields] == [
        "a",
        "b",
        "p",
    ]
    assert len(_TABLE_SCHEMA_CACHE) == n_entries  # replaced, not accreted
