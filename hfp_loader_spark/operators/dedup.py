"""Day-scoped dedup: anti-join of incoming uuids against prior sink state.

Reference semantics (J1/J2 in SURVEY §2.3):

- the key set is the uuids already present in the target table **for the
  load date** (``SELECT uuid … WHERE oday = $1``, utils/getEvents.ts:10-15);
- for the VehiclePosition group the key set is the union of the
  ``vehicleposition`` and ``unsignedevent`` tables (hfpTask.ts:100-103);
- rows with empty/NULL uuid are dropped (createSpecificEventKey +
  the ``if (eventKey && …)`` guard, insertHfpFromBlobStream.ts:73-78);
- **scoping caveat replicated**: the key set is built once before the load
  and never updated, so duplicates *within* the incoming day pass through
  (hfpTask.ts:97 precedes the blob loop at :117).  Stricter intra-batch
  dedup is the separate, opt-in :func:`exact_dedup`.

The reference's 1M-uuid chunked JS ``Set`` (hfpTask.ts:105-111) was a V8
memory workaround, not semantics — here the membership test is a LEFT ANTI
join that Catalyst/AQE executes as a broadcast-hash anti-join when the key
side is small and a shuffled join otherwise.  At 100 TB the existing-keys
side is itself day-scoped (predicate pushed into the source), so it stays
orders of magnitude smaller than the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_valid_uuid(df: DataFrame, key: str = "uuid") -> DataFrame:
    """Drop rows with NULL/empty dedup key (P3)."""
    return df.filter(F.col(key).isNotNull() & (F.length(key) > 0))


def union_key_sets(*key_dfs: DataFrame) -> DataFrame:
    """Union-all of key scans (J2/U1, hfpTask.ts:102).

    Duplicate keys across the inputs are harmless for an anti-join probe, so
    no distinct — saves a shuffle.
    """
    out = key_dfs[0]
    for other in key_dfs[1:]:
        out = out.unionByName(other)
    return out


def anti_join_existing(
    incoming: DataFrame,
    existing_keys: DataFrame,
    key: str = "uuid",
    broadcast_threshold_rows: int | None = None,
) -> DataFrame:
    """Keep incoming rows whose ``key`` is not in ``existing_keys`` (J1).

    ``existing_keys`` is pruned to the key column so Catalyst ships only
    uuids.  It must be a file scan or a local relation (or a union of
    them): the planner sizes a file scan from its statistics and
    broadcasts a small one, and a provably empty local relation (see
    ``sink.empty_key_set``) removes the join from the plan.  A key side
    without statistics (``createDataFrame``, an RDD) plans a sort-merge
    join that shuffles both sides before AQE can re-plan it.  A caller
    that already knows the key side is small can force a broadcast via
    ``broadcast_threshold_rows=0``.
    """
    keys = existing_keys.select(key).where(
        F.col(key).isNotNull() & (F.length(key) > 0)
    )
    if broadcast_threshold_rows == 0:
        keys = F.broadcast(keys)
    return incoming.join(keys, on=key, how="left_anti")


def exact_dedup(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Intra-dataset exact dedup (extension, SURVEY §2.11).

    ``dropDuplicates`` = hash-shuffle on the keys + first-row-per-group; at
    scale prefer listing the minimal key columns so the shuffle carries only
    what the grouping needs.
    """
    return df.dropDuplicates(keys) if keys else df.dropDuplicates()
