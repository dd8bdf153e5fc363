"""The declared query catalog: every operator from SURVEY §2 (+§2.11
extensions) as a named query with a Spark implementation and, where
SQL-expressible, an equivalent DuckDB oracle.

Contract (driver's t2 gate): the Spark result and the oracle result must
match on row count, schema (column names), and order-insensitive value hash.
Conventions that make that hold across engines:

- every computed column is aliased identically on both sides;
- float aggregates are ``round``-ed on both sides (cross-engine summation
  order differs in the last ulps);
- rankings/limits are tiebroken on unique keys, and rank on *rounded*
  measures so both engines rank identical values;
- count-like results are BIGINT on both sides (DuckDB ``sum(int)`` returns
  HUGEINT → explicit casts in the oracle), grouping/rank columns cast to a
  common type;
- session timezone pinned UTC (session.py) vs DuckDB's UTC-naive timestamps.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hfp_loader_spark.memo import memo

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Event-time columns in the driver's parquet.  The physical encoding has
# varied across driver versions — TIMESTAMP(NANOS) (readable only as an
# epoch-nanos LONG via ``nanosAsLong``) in one round, TIMESTAMP(MICROS,
# isAdjustedToUTC=false) (→ ``timestamp_ntz``) in another — so ``load_table``
# normalizes whatever arrives to plain TimestampType, which every catalog
# query was written against:
#   bigint        → ``timestamp_micros(c div 1000)`` (*integer* division —
#                   a double-rounded FLOOR loses precision at 1e18)
#   timestamp_ntz → cast to timestamp (session tz is pinned UTC, so the
#                   wall-clock is reinterpreted as the same UTC instant and
#                   matches DuckDB's UTC-naive values on collect)
#   timestamp     → untouched
_EVENT_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make the catalog readable/comparable from ANY SparkSession.

    Round 2 lost every driver correctness check because these lived only in
    our own session factory (session.py) and the driver constructs its own
    plain session.  Both confs are runtime-settable, so set them at the read
    site — on whatever session we are handed:

    - ``nanosAsLong``: some driver rounds store TIMESTAMP(NANOS) columns;
      a plain PySpark 4.x session refuses them (PARQUET_TYPE_ILLEGAL).  With
      the conf the column arrives as a raw epoch-nanos bigint and the
      ``_EVENT_TS_COLS`` branch in ``load_table`` converts it.  Harmless
      when the data is MICROS (the conf only affects NANOS columns).
    - ``session.timeZone=UTC``: converted timestamps are session-tz-rendered
      on collect; the DuckDB oracle yields UTC-naive values, so a non-UTC
      driver session would hash-mismatch every timestamp column.

    Idempotent and cheap (conf map puts)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _micros(iso_ts: str) -> int:
    import datetime

    dt = datetime.datetime.fromisoformat(iso_ts)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp() * 1_000_000)


def _table_schema(spark: SparkSession, path: str):
    """The parquet schema at ``path``, probed once per file generation.
    A bare ``spark.read.parquet`` fires 2-3 eager metadata jobs (footer
    schema + listing) per call, and every builder calls load_table 1-6
    times.  Process-wide: a StructType holds no session handle."""
    return memo(
        "table_schema",
        None,
        [path],
        None,
        lambda: spark.read.parquet(path).schema,
    )


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_pushdown: list[tuple[str, str, str]] | None = None,
):
    """Read a driver table, normalizing nanos-long columns to timestamps.

    ``ts_pushdown``: optional ``(column, op, iso_timestamp)`` predicates
    applied on the RAW epoch-nanos long BEFORE the conversion projection.
    A filter on the converted column is an expression over the raw long
    and cannot reach the parquet reader; rewriting it into the raw domain
    makes it a plain long comparison → ``PushedFilters`` in the scan (at
    100 TB the difference between reading one row group and reading the
    table).  Boundaries replicate the ns→µs truncation exactly:
    ``ts_µs <= t`` ⟺ ``ts_ns < (t+1µs)·1000``.
    """
    _ensure_session_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    df = spark.read.schema(_table_schema(spark, path)).parquet(path)
    dtypes = dict(df.dtypes)
    for col, op, iso_ts in ts_pushdown or ():
        us = _micros(iso_ts)
        if dtypes.get(col) == "bigint":  # raw epoch-nanos
            bounds = {
                "<=": F.col(col) < (us + 1) * 1000,
                "<": F.col(col) < us * 1000,
                ">=": F.col(col) >= us * 1000,
                ">": F.col(col) >= (us + 1) * 1000,
            }
        elif (dtypes.get(col) or "").startswith("timestamp_ntz"):
            # Compare in the raw ntz domain so the predicate stays a plain
            # column-vs-literal comparison the parquet scan can push down
            # (session tz is UTC, so the ntz wall-clock IS the UTC instant).
            ts = F.expr(f"cast(timestamp_micros({us}) as timestamp_ntz)")
            bounds = {
                "<=": F.col(col) <= ts,
                "<": F.col(col) < ts,
                ">=": F.col(col) >= ts,
                ">": F.col(col) > ts,
            }
        else:  # already a real timestamp column
            ts = F.timestamp_micros(F.lit(us))
            bounds = {
                "<=": F.col(col) <= ts,
                "<": F.col(col) < ts,
                ">=": F.col(col) >= ts,
                ">": F.col(col) > ts,
            }
        df = df.where(bounds[op])
    for c in _EVENT_TS_COLS.get(name, ()):
        dt = dtypes.get(c) or ""
        if dt == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dt.startswith("timestamp_ntz") or dt == "date":
            # Session tz is pinned UTC (_ensure_session_confs), so this cast
            # reinterprets the naive wall-clock as the same UTC instant —
            # the exact identity the module docstring promises.  (The
            # ``date`` branch is drift insurance: two rounds of driver data
            # have already switched physical encodings — NANOS→MICROS-ntz —
            # and a DATE32 o_orderdate would otherwise break every
            # timestamp-typed consumer the same way.)
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


#: Per-SparkSession temp-view state, not an artifact cache, so it stays
#: outside ``memo``: sessions from ``newSession()`` share one
#: ``applicationId`` but not their temp views, so only the session
#: object's identity can key it.
_VIEWS_REGISTERED: dict[int, str] = {}


def register_views(spark: SparkSession, sf_dir: str, force: bool = False) -> None:
    """Register the driver tables as temp views for SQL-side plans.

    Memoized per (session, sf_dir): the defquery wrapper calls this for
    EVERY catalog query, and re-building 10 table plans costs ~1.3s of
    pure per-query overhead otherwise.  Re-registers when sf_dir changes
    (views must track the scale factor under test)."""
    key = id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else id(spark)
    if (
        not force
        and _VIEWS_REGISTERED.get(key) == sf_dir
        # guard against id() reuse for a fresh session: the view must exist
        and spark.catalog.tableExists(TABLES[0])
    ):
        return
    # Tolerate a single unreadable table: a poisoned events.parquet must not
    # take q1_pricing_summary down with it (round-2 lost all 50 driver checks
    # to exactly that blast radius).  Queries over a failed table still raise
    # — TABLE_OR_VIEW_NOT_FOUND at their own read site, with the load error
    # logged here once.
    failures: list[str] = []
    for name in TABLES:
        try:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as exc:  # noqa: BLE001 — isolate per-table faults
            if isinstance(exc, (NameError, TypeError, AttributeError, KeyError)):
                # A Python-side programming error is not "one bad table" —
                # it would hit every table and masquerade as data corruption
                # (round 3 lost the whole gate to exactly that). Fail loudly.
                raise
            failures.append(name)
            import logging

            logging.getLogger(__name__).warning(
                "register_views: table %r failed to load from %s: %s",
                name,
                sf_dir,
                exc,
            )
    if not failures:
        # Memoize only full success: a transiently unreadable table must be
        # retried on the next query, not cached as absent for the session.
        _VIEWS_REGISTERED[key] = sf_dir
    else:
        _VIEWS_REGISTERED.pop(key, None)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    doc: str
    module: str = ""  # defining plans module (drives sample interleaving)


REGISTRY: dict[str, QuerySpec] = {}


def defquery(name: str, oracle: str | None, doc: str):
    """Decorator registering a catalog entry."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
            register_views(spark, sf_dir)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(
            name=name,
            builder=builder,
            oracle=oracle,
            doc=doc,
            module=fn.__module__.rsplit(".", 1)[-1],
        )
        return fn

    return wrap


#: The external correctness gate samples this many entries off the
#: FRONT of the registry (observed constant across all driver rounds).
SAMPLE_WINDOW = 50

#: Window slots reserved for RE-verification (entries that HAVE old
#: driver signal but were rewritten since) so the other ≥45 slots go to
#: entries with no external signal at all (VERDICT r13 #1 target).
_REVERIFY_SLOTS = 5

#: name → round in which the entry's semantics/implementation last
#: changed.  An entry whose latest driver sample predates this round is
#: treated as UNVERIFIED (stale) and re-queued near the window front.
#: Maintained by hand whenever a shipped entry is rewritten.
_REVERIFY_ITEMS: tuple[tuple[str, int], ...] = (
    # r13 exact-integer-money rewrite (plans/money.py): these were last
    # externally sampled with the pre-rewrite double sums.
    ("q6_forecast_revenue", 13),
    ("q7_volume_shipping", 13),
    ("q8_market_share", 13),
    ("q14_promo_revenue", 13),
    ("q17_small_quantity_avg", 13),
    # r14 two-tier (long partial → decimal final) money aggregation
    # rewrite: fresh external signal wanted post-change.  (q9 adopted
    # BOTH rewrites; only the newest round matters.)
    ("q1_pricing_summary", 14),
    ("q9_profit_by_nation_year", 14),
    ("q5_local_supplier_revenue", 14),
    # r15 two-tier adoption (VERDICT r14 #7): the monthly rollup's
    # money sum/avg switched to long-partial → decimal-final.  (q3 was
    # measured and stays single-tier: per-order grouping — see PERF.md.)
    ("agg_monthly_orders", 15),
    # r16 rewrites (VERDICT r16 #1): the optimization round's riskiest
    # changes — per-round checkpoint + map-side argmin fold in the
    # k-means consumers, persisted serve artifacts, lazy pagerank
    # rounds, sharded AUC cumsum — shipped with local tri-SF oracle
    # evidence only; the driver window never saw the new code paths.
    # (dedup_duplicate_clusters WAS sampled green in r16 on the new
    # code, so its row below is already satisfied and stays for the
    # record.)
    # — of those, the k-means consumers were rewritten AGAIN in r17
    # (round state collapsed to the centroid-array frame, `_apply_update`
    # array algebra) and the exact IVF/PQ serve joins gained explicit
    # broadcast hints, so their reverify round is bumped to 17; the
    # entries whose r16 implementation still stands keep 16.
    ("emb_kmeans_clusters", 17),
    ("emb_kmeans_by_label", 17),
    ("emb_cell_drift_retrain", 17),
    ("sim_ann_ivf_exact_cells", 17),
    ("sim_ann_pq_exact_codes", 17),
    ("sim_ann_ivf", 16),
    ("sim_ann_pq", 16),
    ("sim_ann_ivfpq", 16),
    ("dedup_duplicate_clusters", 16),
    ("graph_pagerank_cust_supp", 16),
    ("geo_cell_pagerank", 16),
    ("quality_classifier_auc", 16),
    # r17 rewrites (this optimization round): BPE merge rounds ride the
    # vocab checkpoint (ae006ec), the basket-rules statistics collapsed
    # to one tagged aggregate, the LSH plan is memoized per corpus
    # stamp, and the repeated-subtree sweep pinned shared frames in the
    # weighted-jaccard/minhash matrices, bm25, DSIR, KMV, funnel, CDC
    # changelog, KS drift, class separability, bloom-gated decontaminate
    # and the recall contracts.  All value-neutral by construction and
    # tri-SF gated locally, but the driver window should sample the new
    # code paths (the entries below had pre-r17 signal).
    ("text_bpe_merges", 17),
    ("orders_basket_brand_rules", 17),
    ("dedup_minhash_lsh", 17),
    ("dedup_weighted_minhash_sources", 17),
    ("dedup_weighted_jaccard_sources", 17),
    ("dedup_cross_source_overlap", 17),
    ("rank_rrf_fusion", 17),
    ("rank_bm25_topk", 17),
    ("sample_dsir_importance", 17),
    ("sketch_kmv_jaccard_sources", 17),
    ("cdc_apply_changelog", 17),
    ("funnel_view_click_purchase", 17),
    ("dq_ks_source_drift", 17),
    ("emb_class_separability", 17),
    ("decontaminate_bloom_gated", 17),
    ("dedup_minhash_recall", 17),
    ("rank_hard_negatives", 17),
    ("sample_dsir_gumbel_topk", 17),
    ("sketch_kmv_distinct", 17),
    ("semdedup_contract", 17),
    ("sim_ann_ivf_recall", 17),
    ("sim_ann_signlsh_recall", 17),
    ("sim_ann_pq_recall", 17),
    ("text_gopher_repetition", 17),
    ("emb_projection_outliers", 17),
)
# a dict literal silently keeps the LAST duplicate key (it did, for q9,
# r13 vs r14 — ADVICE r14); build from pairs and fail loud instead
assert len({n for n, _ in _REVERIFY_ITEMS}) == len(_REVERIFY_ITEMS), (
    "duplicate entry in _REVERIFY_ITEMS"
)
REVERIFY_SINCE: dict[str, int] = dict(_REVERIFY_ITEMS)

#: Entries the judge asked to prioritize for external signal (VERDICT
#: r13 #6: the exact-money TPC-H set rewritten in r13).  Never-sampled
#: members jump to the very front of the window.
MONEY_PRIORITY = [
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q15_top_supplier",
    "q19_disjunctive_revenue",
    "q22_wealthy_inactive",
    "orders_revenue_trend_fit",
    "q16_brand_supplier_counts",
]


def _sampled_rounds() -> dict[str, int]:
    """name → latest round with external driver signal, read from the
    committed ``CORRECTNESS_r*.json`` files at the repo root.  The files
    are the driver's own output, so this is the exact 'seen' set; a
    missing/corrupt file degrades to 'never sampled' (safe direction —
    the entry just gets re-prioritized)."""
    import glob as _glob
    import json as _json
    import re as _re

    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out: dict[str, int] = {}
    for path in _glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = _re.search(r"_r(\d+)\.json$", path)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                doc = _json.load(fh)
        except Exception:
            continue
        if not isinstance(doc, dict):
            continue
        for name in doc:
            out[name] = max(out.get(name, 0), rnd)
    return out


def _registry_rotation() -> int:
    """Rotation offset for the tier-interleave SUB-order only.
    Superseded as the sampling-coverage mechanism by
    :func:`_order_registry`'s seen-aware buckets (VERDICT r13 #1) —
    fixed at 0 so the never-sampled queue is deterministic.
    ``SPARK_GRAFT_CATALOG_ROT`` merely permutes the interleave start
    offsets; it can NOT reproduce a pre-r14 round's sampled window
    (the seen-aware re-bucketing reads whatever CORRECTNESS files
    exist today) — check out that round's commit for that."""
    env = os.environ.get("SPARK_GRAFT_CATALOG_ROT")
    if env is not None:
        return int(env)
    return 0


def _interleave_registry(rotation: int | None = None) -> None:
    """Rebuild REGISTRY round-robin across the defining plans modules.

    The external correctness gate samples the FIRST 50 registry entries;
    with plain import-order registration those 50 were core-relational +
    HFP + dedup + text only, leaving the similarity / streaming /
    sampling / multimodal / incremental / analytics / TPC-H tiers with no
    external signal.  Interleaving one entry per module per rotation puts
    every tier inside any ≥12-entry prefix.  Within a module, entries
    keep their DEFINITION order — oracle-checked and rows-only alike, so
    any sampled prefix carries its natural share of rows-only entries
    (an earlier oracle-first sort systematically pushed the rows-only
    LSH/ANN entries out of the sampled window; that bias is removed) —
    but each module's queue START is rotated by a per-round offset
    (:func:`_registry_rotation`), so successive rounds' sampled prefixes
    cover DIFFERENT entries while still spanning every tier.  Name→spec
    mapping and entry()/bench lookups are unaffected — only iteration
    order changes."""
    r = _registry_rotation() if rotation is None else rotation
    by_mod: dict[str, list[QuerySpec]] = {}
    for spec in REGISTRY.values():
        by_mod.setdefault(spec.module, []).append(spec)
    queues = {}
    for m, specs in by_mod.items():
        off = (r * 7) % len(specs)
        queues[m] = specs[off:] + specs[:off]
    REGISTRY.clear()
    while queues:
        for m in list(queues):
            spec = queues[m].pop(0)
            REGISTRY[spec.name] = spec
            if not queues[m]:
                del queues[m]


def _order_registry() -> None:
    """Seen-aware registry order (VERDICT r13 #1): after 13 rounds of
    per-round rotation, 120 of 262 entries still had zero external
    driver signal — rotation covers tiers, not the long tail.  This
    orders the registry so the driver's ``SAMPLE_WINDOW``-entry prefix
    is spent where external signal is missing, and SELF-ADVANCES: each
    round's committed ``CORRECTNESS_r*.json`` moves its sampled entries
    out of the priority bucket, so successive rounds' windows are
    disjoint until the never-sampled set is exhausted, after which the
    order degrades gracefully to oldest-signal-first (a standing
    re-verification rotation).

    Window composition (front to back):

    1. never-sampled entries, ``MONEY_PRIORITY`` members first, the rest
       in tier-interleaved order — the first ``SAMPLE_WINDOW -
       _REVERIFY_SLOTS`` of them (≥45 fresh entries per round);
    2. stale entries (have old signal, rewritten since — see
       ``REVERIFY_SINCE``), oldest signal first;
    3. the remaining never-sampled entries;
    4. already-verified entries, oldest signal first.

    Entirely cosmetic for semantics: name→spec mapping, oracle pairing,
    and bench/entry lookups are order-independent."""
    _interleave_registry()  # tier-diverse base order (stable sub-order)
    sampled = _sampled_rounds()
    specs = list(REGISTRY.values())
    never = [s for s in specs if s.name not in sampled]
    stale = [
        s
        for s in specs
        if s.name in sampled
        and sampled[s.name] < REVERIFY_SINCE.get(s.name, 0)
    ]
    seen = [
        s
        for s in specs
        if s.name in sampled
        and sampled[s.name] >= REVERIFY_SINCE.get(s.name, 0)
    ]
    money_rank = {n: i for i, n in enumerate(MONEY_PRIORITY)}
    never.sort(key=lambda s: money_rank.get(s.name, len(money_rank)))
    stale.sort(key=lambda s: sampled[s.name])
    seen.sort(key=lambda s: sampled[s.name])
    # The slot reservation is a CAP on stale inside the window while
    # never-sampled entries can still fill it — overflow stale ranks
    # after the remaining never entries but before verified ones, so a
    # shrunken backlog lets the window absorb more stale naturally.
    head = never[: SAMPLE_WINDOW - _REVERIFY_SLOTS] if stale else never
    ordered = (
        head
        + stale[:_REVERIFY_SLOTS]
        + never[len(head):]
        + stale[_REVERIFY_SLOTS:]
        + seen
    )
    REGISTRY.clear()
    for s in ordered:
        REGISTRY[s.name] = s


def query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.builder for name, spec in REGISTRY.items()}


def oracle_map() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }


# DuckDB-side mirror of operators.text.TOKEN_RE tokenization — the ONE
# definition every oracle imports (a tokenizer change must not be synced
# by hand across plan modules; a missed site would silently break that
# module's Spark-vs-DuckDB agreement).
TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
    "t -> len(t) > 0)"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Importing the query modules populates REGISTRY.
from hfp_loader_spark.plans import core_relational  # noqa: E402,F401
from hfp_loader_spark.plans import hfp_parity  # noqa: E402,F401
from hfp_loader_spark.plans import dedup_queries  # noqa: E402,F401
from hfp_loader_spark.plans import text_queries  # noqa: E402,F401
from hfp_loader_spark.plans import similarity_queries  # noqa: E402,F401
from hfp_loader_spark.plans import streaming_queries  # noqa: E402,F401
from hfp_loader_spark.plans import multimodal_queries  # noqa: E402,F401
from hfp_loader_spark.plans import relational_extra  # noqa: E402,F401
from hfp_loader_spark.plans import sampling_queries  # noqa: E402,F401
from hfp_loader_spark.plans import tpch_extra  # noqa: E402,F401
from hfp_loader_spark.plans import incremental_queries  # noqa: E402,F401
from hfp_loader_spark.plans import analytics_queries  # noqa: E402,F401
from hfp_loader_spark.plans import model_queries  # noqa: E402,F401
from hfp_loader_spark.plans import decomposition_queries  # noqa: E402,F401
from hfp_loader_spark.plans import geo_queries  # noqa: E402,F401

_order_registry()
