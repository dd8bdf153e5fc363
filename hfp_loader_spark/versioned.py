"""Snapshot-versioned parquet tables: atomic commits, snapshot-isolated
reads, O(1) append, and time travel — the minimal table-format layer that
lifts plain-parquet's "concurrent writers must be fenced" caveat
(maintenance.py's honest contract) the way Iceberg/Delta do, built from
public Spark + Hadoop FS APIs only.

Layout:

    table_root/
      _versions/v00000001.json   ← manifest: op + ordered data-dir list
      _versions/v00000002.json
      d-00000001-<token>/part-*.parquet
      d-00000002-<token>/part-*.parquet

A *version* is a manifest naming the data directories whose union is the
table's content at that version.  ``append`` writes ONE new directory and
a manifest listing ``parent dirs + new dir`` — no rewrite of existing
data; ``overwrite`` starts a fresh dir list.  Readers resolve a manifest
(latest or ``version=N``) and scan exactly its directories: a reader
holding version N never sees version N+1's files — snapshot isolation
without locks.

Commit protocol (optimistic concurrency): data directories are written
FIRST (invisible until referenced), then the manifest is created with
Hadoop's ``FileSystem.create(path, overwrite=false)`` — an atomic
create-if-absent on HDFS/ABFS/local.  Two racing writers targeting the
same next version: exactly one create succeeds; the loser re-reads the
log and retries against the new head (bounded attempts).  Orphaned data
dirs from failed commits are invisible and reaped by ``vacuum``.

Scale notes: manifests are O(#dirs) driver-side JSON — data never moves
through the driver; reads pass the dir list to one ``spark.read.parquet``
so Catalyst still sees a single multi-path scan (splits, pushdown,
pruning all intact); append cost is independent of table size.  Long
append chains fragment into many dirs — ``maintenance.compact_table`` on
a snapshot then ``overwrite``-commit the compacted result.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_VERSIONS_DIR = "_versions"


class CommitConflict(RuntimeError):
    """Another writer committed this version first (after retries)."""


@dataclass(frozen=True)
class SnapshotInfo:
    version: int
    op: str  # "overwrite" | "append"
    data_dirs: tuple[str, ...]
    meta: dict = None  # caller metadata (e.g. incremental-refresh cursors)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    return (
        jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create(path), conf
        ),
        jvm.org.apache.hadoop.fs.Path,
    )


def _manifest_path(root: str, version: int) -> str:
    return f"{root.rstrip('/')}/{_VERSIONS_DIR}/v{version:08d}.json"


def _read_manifest(spark: SparkSession, root: str, version: int) -> SnapshotInfo:
    fs, P = _fs(spark, root)
    stream = fs.open(P(_manifest_path(root, version)))
    try:
        # py4j can't fill a Python buffer in place — use the JVM-side
        # reader to materialize the (tiny) manifest as a string
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    doc = json.loads(text)
    return SnapshotInfo(
        version=doc["version"],
        op=doc["op"],
        data_dirs=tuple(doc["data_dirs"]),
        meta=doc.get("meta") or {},
    )


def latest_version(spark: SparkSession, root: str) -> int | None:
    """Highest committed version, or None for an uninitialized table."""
    fs, P = _fs(spark, root)
    vdir = P(f"{root.rstrip('/')}/{_VERSIONS_DIR}")
    if not fs.exists(vdir):
        return None
    best = None
    for status in fs.listStatus(vdir):
        name = status.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            v = int(name[1:-5])
            best = v if best is None or v > best else best
    return best


def _existing_versions(spark: SparkSession, root: str) -> list[int]:
    """All committed version numbers, ascending — enumerated from the
    manifest files themselves, NOT assumed contiguous from 1
    (``truncate_history`` deletes old manifests)."""
    fs, P = _fs(spark, root)
    vdir = P(f"{root.rstrip('/')}/{_VERSIONS_DIR}")
    if not fs.exists(vdir):
        return []
    out = []
    for status in fs.listStatus(vdir):
        name = status.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def table_history(spark: SparkSession, root: str) -> list[SnapshotInfo]:
    return [
        _read_manifest(spark, root, v)
        for v in _existing_versions(spark, root)
    ]


def commit_snapshot(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    mode: str = "append",
    max_retries: int = 5,
    meta: dict | None = None,
) -> int:
    """Write ``df`` as a new table version; returns the committed version.

    ``mode='append'``: new version = parent's dirs + one new dir.
    ``mode='overwrite'``: new version = the new dir alone.
    Retries the manifest create against a moving head up to
    ``max_retries`` times, then raises ``CommitConflict``.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    root = root.rstrip("/")
    fs, P = _fs(spark, root)

    # 1. data first — invisible until a manifest references it
    token = uuid.uuid4().hex[:12]
    data_dir = f"d-{token}"
    df.write.mode("overwrite").parquet(f"{root}/{data_dir}")

    # 2. optimistic manifest create against the current head
    for _ in range(max_retries):
        head = latest_version(spark, root)
        version = (head or 0) + 1
        if mode == "append" and head is not None:
            parents = _read_manifest(spark, root, head).data_dirs
        else:
            parents = ()
        doc = {
            "version": version,
            "op": mode,
            "data_dirs": list(parents) + [data_dir],
            "meta": meta or {},
        }
        target = P(_manifest_path(root, version))
        fs.mkdirs(target.getParent())
        try:
            out = fs.create(target, False)  # atomic create-if-absent
        except Exception:  # noqa: BLE001 — racing writer won this version
            continue
        try:
            out.write(bytearray(json.dumps(doc).encode("utf-8")))
        finally:
            out.close()
        return version
    raise CommitConflict(
        f"lost the commit race {max_retries} times at {root} — "
        "another writer is committing faster than we can retry"
    )


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Scan one committed version (default: latest). Time travel =
    ``version=N``. The returned plan is a single multi-path parquet scan —
    pushdown/pruning/splits behave exactly as on an unversioned table.

    ``merge_schema=True`` enables SCHEMA EVOLUTION across appends: a
    column added by a later ``commit_snapshot`` reads back as NULL for
    rows from earlier data dirs (parquet ``mergeSchema`` — the union of
    every dir's footer schema).  Off by default: merging reads all
    footers up front, and the common same-schema case shouldn't pay
    that at a million files; flip it on per-read when versions are known
    to differ."""
    root = root.rstrip("/")
    head = latest_version(spark, root)
    if head is None:
        raise FileNotFoundError(f"no committed versions at {root}")
    v = head if version is None else version
    info = _read_manifest(spark, root, v)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[f"{root}/{d}" for d in info.data_dirs])


def stamped_snapshot(
    spark: SparkSession,
    root: str,
    meta: dict,
    build,
    mode: str = "overwrite",
    keep_last: int | None = 2,
) -> DataFrame:
    """Serve-or-build for STAMPED INDEX ARTIFACTS (dup-edge lists, CC
    labels, serve models): if the head manifest's meta contains every
    ``(key, value)`` of ``meta`` the committed snapshot is served with
    one manifest read; otherwise ``build()`` runs, its result commits
    under ``meta``, and the freshly committed snapshot is served.  Both
    branches return a plain committed-parquet scan, so consumer plans
    are identical warm and cold.

    The caller's ``meta`` is the artifact's full identity: put the
    input-content stamp (e.g. ``memo.stamp`` of the inputs) AND
    a definition hash in it — a regenerated input or a changed
    definition then mismatches and rebuilds.  Concurrency inherits
    :func:`commit_snapshot`'s optimistic protocol: two racing builders
    both produce correct content; the loser's retry lands a second
    (equivalent) version.

    These artifacts are CACHES, not history: after a rebuild the
    superseded generations are truncated down to ``keep_last`` (the
    just-committed head plus one predecessor, so a concurrent process
    mid-read of the previous head survives one generation) — without
    this, every testdata regeneration under the same path would leave
    another full copy of the artifact behind forever.  Pass
    ``keep_last=None`` to retain full history."""
    root = root.rstrip("/")
    head = latest_version(spark, root)
    if head is not None:
        stamped = _read_manifest(spark, root, head).meta
        if all(stamped.get(k) == v for k, v in meta.items()):
            return read_snapshot(spark, root, head)
    head = commit_snapshot(spark, build(), root, mode=mode, meta=meta)
    if keep_last is not None:
        try:
            # the 10-minute vacuum grace protects a RACING builder's
            # just-written (manifest-less) data dir from being reaped
            # before its manifest lands — without it, this automatic
            # truncate could corrupt the racer's commit and the head
            # would point at deleted files
            truncate_history(
                spark,
                root,
                keep_last=keep_last,
                vacuum_min_age_seconds=600.0,
            )
        except Exception:
            # reclaim is best-effort, serving is not: a racing truncate
            # or FS hiccup (surfacing as a py4j error, not OSError) must
            # never fail the build that just committed correctly
            pass
    return read_snapshot(spark, root, head)


def vacuum(
    spark: SparkSession, root: str, min_age_seconds: float = 0.0
) -> list[str]:
    """Delete data dirs referenced by NO manifest (failed/raced commits).

    Safe because unreferenced dirs are unreadable by construction; dirs
    referenced by ANY version are kept (time travel stays intact).

    ``min_age_seconds`` guards the one window where "unreferenced" is
    NOT "dead": a concurrent :func:`commit_snapshot` writes its data
    dir FIRST and its manifest second, so a vacuum running between the
    two steps would reap a dir whose manifest is about to land —
    leaving a head that points at deleted files.  AUTOMATIC vacuums
    (the cache truncation ``stamped_snapshot`` runs after every
    rebuild) must pass a grace period comfortably above any plausible
    commit duration; explicit janitor calls on quiesced tables keep the
    default 0.  This is the same dir-age retention rule Delta's VACUUM
    and Iceberg's orphan-file removal ship for the identical race."""
    root = root.rstrip("/")
    fs, P = _fs(spark, root)
    live: set[str] = set()
    for info in table_history(spark, root):
        live.update(info.data_dirs)
    removed = []
    now_ms = None
    for status in fs.listStatus(P(root)):
        name = status.getPath().getName()
        if name.startswith("d-") and name not in live:
            if min_age_seconds > 0:
                if now_ms is None:
                    now_ms = (
                        spark._jvm.java.lang.System.currentTimeMillis()
                    )
                age = (now_ms - status.getModificationTime()) / 1000.0
                if age < min_age_seconds:
                    continue  # possibly an in-flight commit's dir
            fs.delete(status.getPath(), True)
            removed.append(name)
    return removed


def truncate_history(
    spark: SparkSession,
    root: str,
    keep_last: int = 1,
    vacuum_min_age_seconds: float = 0.0,
) -> list[int]:
    """Drop all but the newest ``keep_last`` versions, then vacuum —
    the storage-reclaim valve that completes the compaction story
    (``maintenance.compact_snapshot`` bounds the LIVE version's file
    count; this bounds the table's TOTAL footprint once the older
    versions' retention window has passed).  Deleting a manifest
    renounces time travel to it; the data dirs it alone referenced
    become orphans and are reaped by the vacuum.  Returns the dropped
    version numbers.

    Ordering is crash-safe: manifests are deleted oldest-first and data
    only after no surviving manifest references it, so an interrupted
    truncate leaves a smaller-but-consistent table, never a manifest
    pointing at deleted data.  Concurrent READERS of a dropped version
    must be outside their retention window by contract — the same
    rule every table format ships (Iceberg ``expireSnapshots``, Delta
    ``VACUUM`` retention).  ``vacuum_min_age_seconds`` passes through
    to :func:`vacuum` — REQUIRED (non-zero) when concurrent WRITERS may
    be mid-commit, see the vacuum docstring."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (a table needs a head)")
    head = latest_version(spark, root)
    if head is None:
        return []
    fs, P = _fs(spark, root)
    dropped = []
    for v in range(1, head - keep_last + 1):
        target = P(_manifest_path(root, v))
        if fs.exists(target):
            fs.delete(target, False)
            dropped.append(v)
    vacuum(spark, root, min_age_seconds=vacuum_min_age_seconds)
    return dropped


def snapshot_diff(
    spark: SparkSession,
    root: str,
    keys: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Row-level diff between two committed versions — the time-travel
    companion CDC consumers ask of a versioned table: what changed
    between v_from and v_to?

    Output: every column of the table plus a leading ``op`` —
    ``'A'`` (key only in v_to; payload = new row), ``'D'`` (key only in
    v_from; payload = old row), ``'U'`` (key in both, any non-key
    column differing; payload = new row).  Key-unique snapshots are
    assumed (the :func:`merge_upsert` / ``apply_changelog`` invariant);
    duplicate keys diff per matched pair.

    Scale shape: both sides carry an ``xxhash64`` over the full row
    once (a narrow projection), then ONE full-outer join on the keys
    classifies all three cases — no second pass, no window; the join
    partitions by key exactly like the upsert that produced the
    versions.  The inverse of :func:`apply_changelog`: applying the
    diff as a changelog onto v_from reproduces v_to."""
    old = read_snapshot(spark, root, version=v_from)
    new = read_snapshot(spark, root, version=v_to)
    assert old.columns == new.columns, (
        f"schema changed between versions: {old.columns} vs {new.columns}"
        " — diff with merge_schema-aware tooling instead"
    )
    payload = [c for c in old.columns if c not in keys]
    import pyspark.sql.functions as F  # noqa: PLC0415

    def hashed(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            *keys,
            F.struct(*payload).alias(f"_p_{side}"),
            F.xxhash64(*payload).alias(f"_h_{side}"),
        )
    j = hashed(old, "old").join(hashed(new, "new"), keys, "full_outer")
    op = (
        F.when(F.col("_h_old").isNull(), F.lit("A"))
        .when(F.col("_h_new").isNull(), F.lit("D"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("U"))
    )
    row = F.coalesce(F.col("_p_new"), F.col("_p_old"))
    return (
        j.select(op.alias("op"), *keys, row.alias("_p"))
        .where(F.col("op").isNotNull())
        .select("op", *keys, *[F.col(f"_p.{c}").alias(c) for c in payload])
    )
