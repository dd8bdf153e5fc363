"""Plan-invariant regression tests (VERDICT r9 #3).

Correctness hashes can't see plan regressions: a dropped ts_pushdown, a
re-introduced broadcast hint on an SF-proportional table, or an
accidental cartesian product all return identical rows — they only die
at 100 TB.  These tests promote the PERF.md hand-audits into CI:

- every catalog entry is checked for broadcast hints sitting on raw
  fact-table scans (the fail-at-scale shape the r9 de-hint sweep
  removed);
- every non-streaming bench headline query is executed and its
  AQE-final physical plan held to per-query invariants (exchange caps,
  required pushed filters, zero cartesian products, zero row-at-a-time
  Python evals).

Deliberately breaking a plan (e.g. removing a ``ts_pushdown`` from
q6_forecast_revenue, or wrapping ``part`` in ``F.broadcast`` in Q17)
fails these tests.
"""

from __future__ import annotations

import pytest

from hfp_loader_spark.audit import hinted_fact_scans, physical_profile

#: Catalog entries allowed to hold a broadcast hint over a fact-table
#: scan: in each, the hinted side is a QUERY SET bounded by a literal
#: key filter (vec_id < 5 / doc_id IN (...)) — constant-size at any SF,
#: which the mechanical walk can't prove (a Filter is not a structural
#: bound the way Aggregate/Limit/Deduplicate are).  Grown entries must
#: be justified here explicitly; removed hints must be deleted here.
ALLOWED_HINTED_QUERY_SETS = {
    "sim_cosine_topk": ["embeddings"],
    "sim_ann_signlsh": ["embeddings"],
    "sim_ann_ivf": ["embeddings"],
    "sim_ann_pq": ["embeddings"],
    "sim_ann_ivfpq": ["embeddings"],
    "sim_ann_signlsh_recall": ["embeddings"],
    "sim_ann_ivf_recall": ["embeddings"],
    "sim_ann_pq_recall": ["embeddings"],
    "rank_hard_negatives": ["documents"],
    "rank_rrf_fusion": ["documents", "embeddings"],
    # grouped fixed-point k-means broadcasts its centroid frame, which
    # is bounded by a per-group row_number() <= k FILTER (G·k rows by
    # construction) rather than a structural GlobalLimit the walker can
    # prove (the scalar k-means path uses orderBy().limit() and does
    # not flag) — bounded query-set-style justification, k=16×8.
    # (emb_kmeans_by_label dropped from the list in optimization r16:
    # with the per-round lazy localCheckpoint the hinted centroid frame
    # is a truncated ExistingRDD, so no hint sits over a raw parquet
    # scan in its plan anymore.  sim_ann_pq_exact_codes still flags via
    # the round-0 seed-centroid broadcast, whose lineage reaches the
    # embeddings scan before any checkpoint exists.)
    "sim_ann_pq_exact_codes": ["embeddings"],
    # r17: the exact-IVF candidate fetch hints its probe frame (≤
    # |queries|·nprobe rows by construction — the query set is bounded
    # by the literal vec_id < 5 filter, which the walker can't prove)
    # because the checkpointed centroid RDDs behind it carry no size
    # statistics and the estimate-driven plan shuffled the corpus-sized
    # assign side by cluster instead.  Same query-set-bound class as
    # the serve entries above.
    "sim_ann_ivf_exact_cells": ["embeddings"],
}

#: Per-headline-query physical invariants, measured at sf0.001 with a
#: +2 exchange margin for AQE variation.  ``bnlj`` is the count of
#: BroadcastNestedLoopJoin allowed — nonzero only for broadcast-scalar
#: crossJoins (1-row totals / bounded query sets), never a real
#: cartesian.  ``pushed`` substrings must appear in some parquet
#: PushedFilters — the pruning evidence.
HEADLINE_INVARIANTS = {
    # q1 is two-tier since r14 (money.two_tier_group_agg): exchange 1
    # carries the (group, input-partition) long partials (≤ |groups| ×
    # n_partitions rows), exchange 2 the per-group decimal finals —
    # both tiny; the big scan still feeds ONE map-side combine.
    "q1_pricing_summary": dict(max_exchanges=4, bnlj=0, pushed=["l_shipdate"]),
    "q3_top_unshipped_orders": dict(
        max_exchanges=4, bnlj=0, pushed=["EqualTo(c_mktsegment,BUILDING)"]
    ),
    "q5_local_supplier_revenue": dict(max_exchanges=8, bnlj=0),
    "q6_forecast_revenue": dict(
        max_exchanges=2, bnlj=0, pushed=["l_shipdate", "l_discount"]
    ),
    "merge_upsert_orders": dict(max_exchanges=2, bnlj=0),
    "scd2_user_state_intervals": dict(max_exchanges=4, bnlj=0),
    "window_lag_lead_running": dict(
        max_exchanges=4, bnlj=0, pushed=["LessThan(user_id"]
    ),
    "hfp_typed_coercion_net": dict(max_exchanges=2, bnlj=0),
    "dedup_minhash_lsh": dict(max_exchanges=26, bnlj=0),
    "text_tfidf_top_terms": dict(
        max_exchanges=10, bnlj=0, pushed=["LessThan(doc_id"]
    ),
    "sim_cosine_topk": dict(
        max_exchanges=4, bnlj=2, pushed=["LessThan(vec_id,5)"]
    ),
    "sim_ann_signlsh": dict(
        max_exchanges=4, bnlj=0, pushed=["LessThan(vec_id,5)"]
    ),
    # r12: served FROM the persisted cell-partitioned index (VERDICT r11
    # #1) — the corpus is never scanned; the index scan must carry the
    # probed-cell partition filter (the file-pruning evidence; statically
    # planned from the collected probe set).  Measured 2 exchanges,
    # 0 BNLJ at sf0.001.
    "sim_ann_ivf": dict(
        max_exchanges=4,
        bnlj=0,
        pushed=["LessThan(vec_id,5)"],
        part_pushed=["cell", " IN "],
    ),
    # r12: served FROM the persisted code table (VERDICT r11 #2) — ADC
    # reads codes only; the full-width rerank fetch must be an
    # In(vec_id, …)-pushed point read of the bounded shortlist, never a
    # full vector scan.  Measured 2 exchanges, 0 BNLJ at sf0.001.
    "sim_ann_pq": dict(
        max_exchanges=4,
        bnlj=0,
        pushed=["LessThan(vec_id,5)", "In(vec_id, ["],
    ),
    # r12: the fused IVF-PQ serve path — the returned plan is the
    # bounded rerank (In-pushed vector fetch); the ADC stage's partition
    # pruning + code-only ReadSchema are asserted separately in
    # test_ivfpq_adc_scan_prunes_cells_and_columns.  Measured 2
    # exchanges, 0 BNLJ at sf0.001.
    "sim_ann_ivfpq": dict(
        max_exchanges=4,
        bnlj=0,
        pushed=["LessThan(vec_id,5)", "In(vec_id, ["],
    ),
    "events_funnel_windowed": dict(max_exchanges=4, bnlj=0),
    "dedup_duplicate_clusters": dict(max_exchanges=6, bnlj=0),
    "graph_khop_reachability": dict(max_exchanges=2, bnlj=0),
    # One-row state: the rounds are projections of the served
    # one-row graph snapshot, so the plan is a parquet scan and no
    # exchange (measured 0 at sf0.001; +2 margin).
    "graph_pagerank_cust_supp": dict(max_exchanges=2, bnlj=0),
    "semdedup_keep_list": dict(max_exchanges=4, bnlj=0),
    "decontaminate_ngram_overlap": dict(max_exchanges=10, bnlj=0),
    "sample_dsir_importance": dict(
        max_exchanges=12, bnlj=4, pushed=["EqualTo(lang,fr)"]
    ),
    # r10: union+agg fusion replaced the full-outer cascade (20 → 14
    # exchanges, SMJs eliminated); cap tightened to pin the win.
    "rank_rrf_fusion": dict(max_exchanges=16, bnlj=6),
    "sim_mmr_rerank": dict(max_exchanges=4, bnlj=0),
    # One-row array state: the stats aggregate's one hash exchange
    # (printed in the final and the initial plan), then a global
    # aggregate and projections of one row — no join, no crossJoin.
    "emb_power_iteration_pc1": dict(max_exchanges=2, bnlj=0),
    # r17: pairs/items/total collapsed into one tagged aggregate behind a
    # lazy pin — the final plan is broadcast joins over the bounded
    # counts frame (0 visible exchanges in the committed dump; margin
    # for AQE variation).  Cap tightened to pin the win.
    "orders_basket_brand_rules": dict(max_exchanges=6, bnlj=2),
    # r11: +1 exchange (bounded distinct over sources) — the ADVICE r10
    # fix that makes tokenless sources appear in the matrix like the
    # exact sibling's; measured 22.
    # r17: the (source, term, tf) table pinned — its five consumers no
    # longer replay the corpus pass (26->14 exchanges in the dumps).
    "dedup_weighted_minhash_sources": dict(max_exchanges=18, bnlj=2),
    # r11 (VERDICT r10 #1): the corpus-scale-training trilogy.  Their
    # plans inline the ENTIRE fixed-point training loop (iters ×
    # per-round broadcast join + re-aggregate), so the exchange counts
    # are an order larger than single-pass entries — but bounded by
    # iters × round-shape, NOT by corpus size.  Measured 51 / 68 / 29
    # at sf0.001; +4 margin for AQE variation.  A training-cost
    # regression (extra round, lost broadcast, a shuffle inside the
    # assignment step) now fails CI instead of landing silently.
    "sim_ann_ivf_exact_cells": dict(max_exchanges=55, bnlj=16),
    "sim_ann_pq_exact_codes": dict(max_exchanges=72, bnlj=0),
    "emb_kmeans_by_label": dict(max_exchanges=33, bnlj=0),
    # One-row state: the word-count aggregate's hash exchange and the
    # one global aggregate into the state row, then every merge round
    # is a projection of that row (measured 2 at sf0.001, the plan
    # string double-printing one exchange); the training arithmetic is
    # pinned by the oracle equality + test_bpe.py.
    "text_bpe_merges": dict(max_exchanges=2, bnlj=0),
    # r12: trajectory tier — the whole per-vehicle window family
    # (row_number + 5 lags + aggregate) on ONE vehicle-key exchange
    # (alias-before-window; plan-string double-print counts it twice).
    # A second real exchange = the alias/partitioning propagation
    # regression this cap exists to catch.
    "geo_leg_speed_profile": dict(max_exchanges=2, bnlj=0),
}


def test_no_broadcast_hint_on_unbounded_fact_scans(spark, sf_dir):
    """Every registered entry: a broadcast hint may not sit on a raw
    SF-proportional scan (8 GB-cap job killer at 100 TB).  Exact match
    against the allow-list so both regressions AND stale allowances
    fail."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    flagged = {}
    for name, ent in REGISTRY.items():
        if name.startswith("stream"):
            continue
        hinted = hinted_fact_scans(ent.builder(spark, sf_dir))
        if hinted:
            flagged[name] = hinted
    assert flagged == ALLOWED_HINTED_QUERY_SETS


def test_headline_plan_invariants(spark, sf_dir):
    """Execute each non-streaming headline query and hold its AQE-final
    plan to the measured invariants."""
    from bench import HEADLINE

    from hfp_loader_spark.plans.catalog import REGISTRY

    failures = []
    for name in HEADLINE:
        if name.startswith("stream") or name not in HEADLINE_INVARIANTS:
            continue
        inv = HEADLINE_INVARIANTS[name]
        df = REGISTRY[name].builder(spark, sf_dir)
        df.collect()  # let AQE finalize the plan
        p = physical_profile(df)
        if p["cartesian_products"]:
            failures.append(f"{name}: CartesianProduct in plan")
        if p["python_row_evals"]:
            failures.append(f"{name}: row-at-a-time Python eval in plan")
        if p["exchanges"] > inv["max_exchanges"]:
            failures.append(
                f"{name}: {p['exchanges']} exchanges > cap {inv['max_exchanges']}"
            )
        if p["broadcast_nested_loop_joins"] > inv["bnlj"]:
            failures.append(
                f"{name}: {p['broadcast_nested_loop_joins']} BNLJ > allowed {inv['bnlj']}"
            )
        for needle in inv.get("pushed", []):
            if not any(needle in f for f in p["pushed_filters"]):
                failures.append(f"{name}: '{needle}' not in PushedFilters")
        for needle in inv.get("part_pushed", []):
            if not any(needle in f for f in p["partition_filters"]):
                failures.append(
                    f"{name}: '{needle}' not in PartitionFilters"
                )
    assert not failures, "\n".join(failures)


@pytest.mark.parametrize(
    "entry,table",
    [("q17_small_quantity_avg", "part"), ("customer_segment_value_matrix", "customer")],
)
def test_r9_weak_entries_are_dehinted(spark, sf_dir, entry, table):
    """The two entries VERDICT r9 marked perf-weak must never regain a
    forced broadcast of their SF-proportional side."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    assert table not in hinted_fact_scans(REGISTRY[entry].builder(spark, sf_dir))


def test_q5_broadcasts_bounded_supplier_at_gate_scale(spark):
    """VERDICT r10 #4: after the r10 de-hint, Q5 must still get its
    region-filtered build sides broadcast BY AQE at the bench gate's
    scale factor (sf0.1) — asserted there, not just at the sf0.001 test
    scale where everything broadcasts trivially.  A lost broadcast here
    means the join ladder degrades to sort-merge at scale with no
    correctness signal."""
    import os

    import pytest

    from hfp_loader_spark.audit import physical_profile
    from hfp_loader_spark.plans.catalog import REGISTRY

    gate_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(gate_sf):
        pytest.skip(f"gate sf dir {gate_sf} not present")
    df = REGISTRY["q5_local_supplier_revenue"].builder(spark, gate_sf)
    df.collect()  # AQE-final plan
    p = physical_profile(df)
    # the executed-plan string carries BOTH the AQE-final and the
    # initial plan; the initial plan legitimately shows the pre-AQE
    # SortMergeJoin that AQE then converts, so assert on the final
    # section only (everything before "== Initial Plan ==")
    final = p["plan"].split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") >= 5, "Q5 lost an AQE broadcast"
    assert final.count("SortMergeJoin") == 0, "Q5 degraded to sort-merge"
    assert final.count("Exchange hashpartitioning") <= 4


def test_streaming_headline_entries_have_bounded_execution_shape(
    spark, sf_dir
):
    """VERDICT r11 #5: the two streaming headline entries were exempt
    from every plan/time invariant — a state-size or micro-batch-count
    regression was invisible.  Re-run their exact stream compositions
    with the progress observer and cap the execution shape:

    - streaming_watermark_dedup: dropDuplicates state is ONE row per
      distinct (user_id, event_type) — state_rows must equal the batch
      distinct count (the 100 TB memory bound: key cardinality, not
      corpus size);
    - streaming_sliding_availablenow: state is one row per open sliding
      window — bounded by 2×(time-range/slide)+2, independent of row
      count;
    - both drain availableNow in a handful of micro-batches (file-count
      bound, not row-count bound).
    """
    from pyspark.sql import functions as F

    from hfp_loader_spark.plans.catalog import load_table
    from hfp_loader_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        sliding_window_counts,
        watermark_dedup,
    )

    events = load_table(spark, sf_dir, "events")
    distinct_keys = events.select("user_id", "event_type").distinct().count()
    ts_range_min = events.agg(
        F.ceil(
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            )
            / 60
        )
    ).collect()[0][0]

    obs: dict = {}
    stream = read_events_stream(spark, sf_dir)
    run_available_now(
        watermark_dedup(stream, ["user_id", "event_type"]), observer=obs
    )
    assert 1 <= obs["num_batches"] <= 4
    assert obs["state_rows_total"] == distinct_keys

    obs2: dict = {}
    stream2 = read_events_stream(spark, sf_dir).withWatermark(
        "ts", "10 minutes"
    )
    run_available_now(sliding_window_counts(stream2), observer=obs2)
    assert 1 <= obs2["num_batches"] <= 4
    # 1h windows sliding every 30min over the event-time range: at most
    # range/30min + 2 windows hold state before the final watermark
    # truncation
    assert obs2["state_rows_total"] <= ts_range_min // 30 + 2


def test_ivfpq_adc_scan_prunes_cells_and_columns(spark, sf_dir):
    """The fused IVF-PQ index's two multiplicative reductions must both
    show in the ADC stage's executed plan: (1) partition pruning — the
    scan carries a `cell IN (probed)` PartitionFilter, so unprobed
    cells' files are skipped at planning time; (2) columnar projection —
    the ADC scan's ReadSchema carries the m-byte `_codes` column and
    NOT the full `embedding` vector (which only the bounded In-pushed
    rerank fetch reads).  Either reduction silently lost = the layout
    no longer serves 10^9 vectors."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    df = REGISTRY["sim_ann_ivfpq"].builder(spark, sf_dir)
    adc = df._ivfpq_adc_plan
    adc.collect()
    p = physical_profile(adc)
    assert any(
        "cell" in f and " IN " in f for f in p["partition_filters"]
    ), "ADC scan lost its probed-cell partition filter"
    import re

    adc_schemas = [
        m.group(1)
        for m in re.finditer(r"ReadSchema: struct<([^>]*)", p["plan"])
        if "_codes" in m.group(1)
    ]
    assert adc_schemas, "no scan reads the code column?"
    assert all(
        "embedding" not in s for s in adc_schemas
    ), f"ADC scan reads full vectors: {adc_schemas}"


def test_agg_monthly_orders_two_tier_shape(spark, sf_dir):
    """r15 two-tier adoptee (VERDICT r14 #7): the monthly rollup must
    keep the two-tier shape bounded — the big orders scan feeds ONE
    map-side combine over (month, input-partition) long partials, the
    decimal sum runs over ≤ |months| × n_partitions partial rows — and
    its sum/avg share a single cents partial (term dedup: a second
    per-row round+multiply+cast would be a silent cost regression)."""
    from hfp_loader_spark.plans.catalog import REGISTRY

    df = REGISTRY["agg_monthly_orders"].builder(spark, sf_dir)
    df.collect()  # let AQE finalize
    p = physical_profile(df)
    assert not p["cartesian_products"]
    assert not p["python_row_evals"]
    assert p["exchanges"] <= 4, p["exchanges"]
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "__p_0" in analyzed  # shared cents partial exists
    assert "__p_1" not in analyzed  # sum and avg dedupe onto ONE term


def test_two_tier_dedupes_shared_terms(spark):
    """money_sum + money_avg declaring the same slot contribute ONE
    tier-1 partial (explicit slot keys, VERDICT r15 #6 — the repr-keyed
    dedup is retired)."""
    from pyspark.sql import functions as F

    from hfp_loader_spark.plans import money as m

    df = spark.createDataFrame(
        [("a", 1.25), ("a", 2.50), ("b", 4.75)], "g string, p double"
    )
    out = m.two_tier_group_agg(
        df,
        ["g"],
        [
            m.agg_money_sum("s", F.col("p"), slot="p"),
            m.agg_money_avg("a", F.col("p"), slot="p"),
            m.agg_count("n"),
        ],
    )
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "__p_0" in analyzed and "__p_1" not in analyzed
    rows = {r["g"]: r for r in out.collect()}
    assert rows["a"]["s"] == 3.75 and rows["a"]["n"] == 2
    assert rows["b"]["s"] == 4.75 and rows["b"]["a"] == 4.75


def test_two_tier_same_rendered_terms_never_share_without_slot(spark):
    """The planted collision the repr-keyed dedup allowed in principle
    (VERDICT r15 #6): two aggregates over DIFFERENT columns that render
    identically — same-named columns off a self-join — must get their
    own tier-1 partials and correct, different values when no slot is
    assigned."""
    from pyspark.sql import functions as F

    from hfp_loader_spark.plans import money as m

    left = spark.createDataFrame(
        [("a", 1.00), ("b", 2.00)], "g string, p double"
    )
    right = spark.createDataFrame(
        [("a", 10.00), ("b", 20.00)], "g string, p double"
    )
    joined = left.join(right, "g")
    # both terms render as p#... 's canonical repr 'Column<p>' shapes;
    # identity keys keep them apart
    out = m.two_tier_group_agg(
        joined,
        ["g"],
        [
            m.agg_money_sum("s_left", left["p"]),
            m.agg_money_sum("s_right", right["p"]),
        ],
    )
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "__p_0" in analyzed and "__p_1" in analyzed  # NOT shared
    rows = {r["g"]: r for r in out.collect()}
    assert rows["a"]["s_left"] == 1.00 and rows["a"]["s_right"] == 10.00
    assert rows["b"]["s_left"] == 2.00 and rows["b"]["s_right"] == 20.00
