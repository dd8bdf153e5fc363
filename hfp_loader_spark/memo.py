"""The one in-process cache for catalog artifacts.

Catalog builders reuse work across calls in one process: a probed table
schema, a trained serve model, a mined edge list, an unexecuted plan.
Every such reuse goes through :func:`memo`.  An entry is keyed by
``(kind, scope, input paths, definition)`` and holds the inputs' content
:func:`stamp` beside its value.  Three rules, and no options:

- **Scope.**  An entry is bound to the session's ``applicationId`` only
  when the caller passes ``spark``, which it must when the value holds a
  ``DataFrame``.  A process runs one ``SparkContext`` at a time, so an
  entry bound to another ``applicationId`` belongs to a stopped context
  and is evicted on the next scoped call.  Pure-Python values (schemas,
  model lists, index roots) pass ``spark=None`` and stay process-wide,
  so a new session still reuses them.
- **Unknown stamp.**  When an input cannot be stat'ed (a missing path, a
  remote URI), nothing is stored: every call builds.
- **Regenerated input.**  The stamp lives in the value, not the key, so
  a rewritten input replaces its entry instead of adding a second one.

:func:`artifact` adds the persisted layer: an artifact committed as a
stamped snapshot under the serve-artifact root, which a later process
serves with one manifest read.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from collections.abc import Callable, Iterable


def _default_index_base() -> str:
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="spark_graft_serve_index_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


#: Root for PERSISTED serve artifacts (serve models, cell-tag logs,
#: cell-partitioned layouts, PQ code tables, mined edge lists) — the
#: train-once/serve-many structures the serve entries read INSTEAD of
#: re-deriving them from the corpus per plan (VERDICT r11 #1).
#:
#: DEFAULT = a fresh per-process temp dir (removed at interpreter exit):
#: every bench/oracle invocation then derives every artifact from the
#: parquet inputs within that invocation — nothing trained or mined in
#: one process is ever served to a later one.  Cross-process
#: train-once/serve-many (one builder job commits, N serve jobs read) is
#: an explicit opt-in via ``SPARK_GRAFT_INDEX_DIR``.
_INDEX_BASE = os.environ.get("SPARK_GRAFT_INDEX_DIR") or _default_index_base()

_LOCK = threading.Lock()
#: (kind, scope, inputs, definition) → (stamp, value)
_ENTRIES: dict[tuple, tuple[str, object]] = {}
#: kind → [hits, misses, build seconds]
_COUNTS: dict[str, list] = {}


def stamp(paths: Iterable[str]) -> str | None:
    """Content identity of ``paths``: md5 over every file's (name, size,
    mtime_ns), RECURSIVE for directories — rewriting a leaf inside a
    nested partition directory changes neither the directory's size nor
    the top-level listing.  ``None`` when a path cannot be stat'ed."""
    out = []
    try:
        for path in paths:
            st = os.stat(path)
            if not os.path.isdir(path):
                out.append(((os.path.basename(path), st.st_size, st.st_mtime_ns),))
                continue
            files = []
            for root, dirs, names in os.walk(path):
                dirs.sort()
                rel = os.path.relpath(root, path)
                for n in sorted(names):
                    fst = os.stat(os.path.join(root, n))
                    files.append((os.path.join(rel, n), fst.st_size, fst.st_mtime_ns))
            out.append(tuple(files))
    except OSError:
        return None
    return hashlib.md5(repr(out).encode()).hexdigest()


def memo(
    kind: str,
    spark,
    inputs: Iterable[str],
    definition,
    build: Callable[[], object],
):
    """``build()``'s value for ``inputs`` under ``definition``, built at
    most once per input generation (and per session when ``spark`` is
    given) — see the module docstring for the rules."""
    scope = None if spark is None else spark.sparkContext.applicationId
    inputs = tuple(inputs)
    key = (kind, scope, inputs, definition)
    st = stamp(inputs)
    with _LOCK:
        if scope is not None:
            for k in [k for k in _ENTRIES if k[1] not in (None, scope)]:
                del _ENTRIES[k]
        counts = _COUNTS.setdefault(kind, [0, 0, 0.0])
        got = _ENTRIES.get(key)
        if st is not None and got is not None and got[0] == st:
            counts[0] += 1
            return got[1]
        counts[1] += 1
    t0 = time.perf_counter()
    value = build()
    with _LOCK:
        counts[2] += time.perf_counter() - t0
        if st is not None:
            _ENTRIES[key] = (st, value)
    return value


def counters() -> dict[str, dict[str, float]]:
    """Per kind: ``hits``, ``misses`` and ``build_s`` since process start."""
    with _LOCK:
        return {
            kind: {"hits": h, "misses": m, "build_s": s}
            for kind, (h, m, s) in _COUNTS.items()
        }


def table_paths(sf_dir: str, *tables: str) -> list[str]:
    """The parquet path of each corpus table, as ``load_table`` reads it."""
    return [f"{sf_dir.rstrip('/')}/{t}.parquet" for t in tables]


def _corpus_key(sf_dir: str, *ident) -> str:
    key = ":".join([os.path.abspath(sf_dir), *map(str, ident)])
    return hashlib.md5(key.encode()).hexdigest()[:12]


def index_root(kind: str, sf_dir: str, *ident) -> str:
    """Where the persisted artifact ``kind`` of the corpus at ``sf_dir``
    lives; ``ident`` adds identity beyond the corpus path."""
    return f"{_INDEX_BASE}/{kind}_{_corpus_key(sf_dir, *ident)}"


def artifact(
    kind: str,
    spark,
    sf_dir: str,
    tables: Iterable[str],
    definition: str,
    build,
):
    """Serve-or-build the persisted artifact ``kind`` of the corpus at
    ``sf_dir``: ``versioned.stamped_snapshot`` at :func:`index_root`,
    stamped with the ``tables``' content stamp and a hash of
    ``definition`` (every parameter the artifact depends on), so a
    regenerated input or a changed definition rebuilds.  The committed
    snapshot is memoized per session.  With an unknown stamp, ``build()``
    runs live on every call and nothing is persisted."""
    from hfp_loader_spark.versioned import stamped_snapshot

    inputs = table_paths(sf_dir, *tables)
    root = index_root(kind, sf_dir)

    def serve():
        st = stamp(inputs)
        if st is None:
            return build()
        meta = {
            "kind": kind,
            "corpus_stamp": st,
            "defn": hashlib.md5(definition.encode()).hexdigest(),
        }
        return stamped_snapshot(spark, root, meta, build)

    return memo(kind, spark, inputs, (root, definition), serve)
