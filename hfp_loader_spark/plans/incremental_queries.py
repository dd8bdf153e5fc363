"""Incremental-ETL and iterative-analytics catalog entries: MERGE upsert,
SCD2 effective-dated intervals, and fixed-iteration PageRank.

These are the change-data-capture / history-tracking / link-analysis
shapes a warehouse team actually runs on top of the loaded tables — each
a pure DataFrame composition (operators.relational / operators.graph)
with a full DuckDB oracle, including the iterative one (PageRank's oracle
is the power iteration UNROLLED into one CTE per round, so the hash check
covers every iteration's arithmetic, not just the shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hfp_loader_spark import memo
from hfp_loader_spark.operators.graph import pagerank, pagerank_state
from hfp_loader_spark.operators.relational import merge_upsert, scd2_intervals
from hfp_loader_spark.plans.catalog import _t, defquery


@defquery(
    "merge_upsert_orders",
    """
    WITH src AS (
      SELECT o_orderkey, 'X' AS o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey + 50000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 7
    ),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM src s
                        WHERE s.o_orderkey = o.o_orderkey)
    )
    SELECT o_orderkey, o_orderstatus,
           round(o_totalprice, 2) AS totalprice
    FROM merged
    """,
    doc="MERGE INTO semantics (operators.relational.merge_upsert): a "
    "deterministic changeset (1%% price corrections + 0.1%% new rows "
    "keyed past the existing range) upserted into orders — matched rows "
    "replaced, new rows inserted, the rest untouched. One anti-join + "
    "union; the changeset side broadcasts in the common CDC case.",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
    )
    inserts = orders.where(F.col("o_orderkey") % 1000 == 7).select(
        (F.col("o_orderkey") + 50000000).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    merged = merge_upsert(
        orders, updates.unionByName(inserts), keys=["o_orderkey"]
    )
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@defquery(
    "cdc_apply_changelog",
    """
    WITH chg AS (
      SELECT o_orderkey, 1 AS seq, 'U' AS op, o_orderstatus,
             o_totalprice + 10.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 50 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'U', o_orderstatus, o_totalprice + 20.0
      FROM orders WHERE o_orderkey % 50 = 0
      UNION ALL
      SELECT o_orderkey, 1, 'U', o_orderstatus, o_totalprice + 5.0
      FROM orders WHERE o_orderkey % 70 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'D', o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 70 = 0
      UNION ALL
      SELECT o_orderkey + 60000000, 1, 'I', o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 7
    ),
    w AS (
      SELECT o_orderkey,
             max(struct_pack(seq := seq, op := op, st := o_orderstatus,
                             price := o_totalprice)) AS w
      FROM chg GROUP BY 1
    ),
    fin AS (
      SELECT o_orderkey, (w).st AS o_orderstatus, (w).price AS o_totalprice
      FROM w WHERE (w).op <> 'D'
      UNION ALL
      SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM w WHERE w.o_orderkey = o.o_orderkey)
    )
    SELECT o_orderkey, o_orderstatus,
           round(o_totalprice, 2) AS totalprice
    FROM fin
    """,
    doc="CDC changelog application with tombstones "
    "(operators.relational.apply_changelog — merge_upsert generalized "
    "to Debezium/Delta-CDF-shaped I/U/D streams): per key the highest "
    "sequence number wins (max(struct(seq, op, payload)) — equal "
    "sequences resolve lexicographically, so keys hit by both the "
    "update and delete feeds at seq 2 deterministically keep the 'U' "
    "on BOTH engines), a winning 'D' removes the key, anything else "
    "replaces or inserts the payload. One constant-state changeset "
    "aggregate + one anti-join (changeset broadcasts in the common CDC "
    "case) + one union — no window over the target.",
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hfp_loader_spark.operators.relational import apply_changelog

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    price = F.col("o_totalprice")

    def chg(where, seq, op, price_expr, key_expr=k):
        return orders.where(where).select(
            key_expr.alias("o_orderkey"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            "o_orderstatus",
            price_expr.alias("o_totalprice"),
        )

    changes = (
        chg(k % 50 == 0, 1, "U", price + 10.0)
        .unionByName(chg(k % 50 == 0, 2, "U", price + 20.0))
        .unionByName(chg(k % 70 == 0, 1, "U", price + 5.0))
        .unionByName(chg(k % 70 == 0, 2, "D", price))
        .unionByName(chg(k % 1000 == 7, 1, "I", price, k + 60000000))
    )
    final = apply_changelog(orders, changes, keys=["o_orderkey"])
    return final.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@defquery(
    "scd2_user_state_intervals",
    """
    WITH c AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_type) AS prev
      FROM events
    ),
    ch AS (SELECT user_id, event_type, ts FROM c
           WHERE prev IS NULL OR event_type <> prev)
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_type) AS valid_to
    FROM ch
    """,
    doc="SCD type-2 build (operators.relational.scd2_intervals): collapse "
    "each user's event stream into effective-dated state intervals — "
    "consecutive duplicate states compressed via lag(), intervals closed "
    "via lead(), open current state keeps valid_to NULL. Both windows "
    "share one (user_id) shuffle + one sort pass.",
)
def scd2_user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_intervals(
        _t(spark, sf_dir, "events"),
        key="user_id",
        state_col="event_type",
        ts_col="ts",
    )


_DAMP = 0.85
_PR_ITER = 5

# PageRank oracle: the power iteration unrolled — pr0 … pr5 as chained
# CTEs (recursive CTEs can't aggregate in the recursive term; unrolling a
# FIXED iteration count is the SQL-expressible equivalent and checks every
# round's arithmetic). Node ids are role-prefixed ('c:'/'s:') so customer
# and supplier keys can't collide in one vertex space.
_PR_EDGES_SQL = """
  SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's:' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""


def _pagerank_oracle() -> str:
    parts = [
        f"WITH edges AS ({_PR_EDGES_SQL}),",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),",
        "meta AS (SELECT count(*) AS n FROM nodes),",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),",
        "pr0 AS (SELECT node, 1.0 / (SELECT n FROM meta) AS rank FROM nodes)",
    ]
    for i in range(1, _PR_ITER + 1):
        parts.append(
            f""", pr{i} AS (
  SELECT n.node,
         (1 - {_DAMP}) / (SELECT n FROM meta)
           + {_DAMP} * coalesce(s.c, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank / o.deg) AS c
    FROM edges e
      JOIN pr{i - 1} p ON e.src = p.node
      JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst) s ON n.node = s.node)"""
        )
    parts.append(
        f"SELECT node, round(rank, 9) AS rank FROM pr{_PR_ITER}"
    )
    return "\n".join(parts)


@defquery(
    "graph_pagerank_cust_supp",
    _pagerank_oracle(),
    doc="Fixed 5-iteration PageRank (operators.graph.pagerank) over the "
    "customer→supplier shipment graph (distinct pairs from "
    "orders⋈lineitem). The graph persists as a stamped snapshot of ONE "
    "row (operators.graph.pagerank_state: every vertex with its dense "
    "index and its sorted (source index, out-degree) in-edges) — the "
    "graph-index artifact, so a warm call reads one row. Each round is "
    "a projection of that row (no join, no exchange, no pin), and the "
    "in-edge sums run in array order, so the ranks are deterministic. "
    "Vertices are LONGS (custkey·2 / suppkey·2+1) and map to the "
    "role-prefixed string ids only in the final projection. Oracle: "
    "the power iteration unrolled into 5 chained CTEs — the hash check "
    "covers every round's arithmetic.",
)
def graph_pagerank_cust_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    def mine() -> DataFrame:
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        return pagerank_state(
            orders.join(li, orders.o_orderkey == li.l_orderkey).select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
        )

    # The one-row graph state is a graph INDEX artifact: the
    # orders⋈lineitem mining pass is the expensive half of this entry's
    # first call, and a production pipeline builds the shipment graph
    # once per load and serves it — same persisted-index shape as
    # dedup_queries._dup_edges.  Stamp = both input tables' per-file
    # content stamps + the state definition; a reloaded table or
    # changed encoding re-mines.  The oracle replays the whole
    # computation from raw orders/lineitem, so a stale serve fails the
    # gate rather than passing silently.
    state = memo.artifact(
        "cs_pagerank_state",
        spark,
        sf_dir,
        ["orders", "lineitem"],
        "cust*2 -> supp*2+1 | distinct | one row G(k, id, ins(s, _deg))",
        mine,
    )
    ranks = pagerank(state, n_iter=_PR_ITER, damping=_DAMP)
    node = (
        F.when(
            F.col("id") % 2 == 0,
            F.concat(
                F.lit("c:"), (F.col("id") / 2).cast("long").cast("string")
            ),
        ).otherwise(
            F.concat(
                F.lit("s:"),
                ((F.col("id") - 1) / 2).cast("long").cast("string"),
            )
        )
    )
    return ranks.select(
        node.alias("node"), F.round("rank", 9).alias("rank")
    )
