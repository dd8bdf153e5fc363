"""No package function or class that only tests reach.

A top-level ``def`` or ``class`` in ``hfp_loader_spark/`` must have a use
outside its own definition somewhere in the program: the package itself,
``tools/``, ``perfbench/``, ``bench.py`` or the catalog entry point
``__spark_entry__.py``.  A use is a name, an attribute, an imported name
or a string constant naming it (a whitespace-free string such as
``"mod.func"`` counts each dotted part).  Re-exports in ``__init__.py``
do not count, and ``@defquery`` builders are reached through the query
registry, so they are not checked.

Names are matched bare, not by module, so a use of a name anywhere counts
for every definition of that name: the check can miss dead code but never
flags live code.

``TEST_ONLY`` lists the names that only tests reach today.  It may only
shrink: a listed name that is deleted or gains a caller fails the test
until its entry is removed.

Pure stdlib; no SparkSession.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "hfp_loader_spark")
USE_SITES = [
    PACKAGE,
    os.path.join(REPO, "tools"),
    os.path.join(REPO, "perfbench"),
    os.path.join(REPO, "bench.py"),
    os.path.join(REPO, "__spark_entry__.py"),
]

#: ``module.name`` of every top-level definition that only tests reach.
TEST_ONLY = {
    "incremental.idempotent_batch_commit",
    "incremental.refresh_view",
    "layout.colocated_join",
    "layout.write_bucketed",
    "layout.zorder_write",
    "maintenance.compact_table",
    "operators.bpe.bpe_segment",
    "operators.decomposition.load_scatter_stats",
    "operators.decomposition.merge_scatter_stats",
    "operators.decomposition.save_scatter_stats",
    "operators.decomposition.top_p_components",
    "operators.geo.materialize_position_lake",
    "operators.graph.connected_components",
    "operators.neardup.restamp_signature_index",
    "operators.relational.semi_join",
    "operators.sampling.write_shards",
    "operators.sketches.bloom_contains",
    "operators.sketches.kmv_merge",
    "operators.sketches.load_bitmap_index",
    "operators.sketches.save_bitmap_index",
    "operators.text.ccnet_cutoffs",
    "plans.money.charge_sum",
    "plans.money.money_avg",
    "plans.money.pct_avg",
    "plans.money.qty_avg",
    "plans.money.qty_sum",
    "schema.postgres_ddl",
    "sink.JdbcUpsertSink",
    "sources.jsonl_source.to_parquet_stage",
    "sources.jsonl_source.write_jsonl",
    "streaming.jobs.stream_ingest_cell_tags",
    "streaming.jobs.stream_ingest_corpus",
    "versioned.snapshot_diff",
}


def _py_files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _is_defquery(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "defquery":
            return True
    return False


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _definitions() -> dict[str, str]:
    """``module.name`` → bare name for every checked definition."""
    out = {}
    for path in _py_files(PACKAGE):
        mod = os.path.relpath(path, PACKAGE)[: -len(".py")].replace(os.sep, ".")
        for node in _parse(path).body:
            if isinstance(node, _DEFS) and not _is_defquery(node):
                out[f"{mod}.{node.name}"] = node.name
    return out


def _uses(tree: ast.Module, reexports: bool) -> set[str]:
    """Every name ``tree`` uses outside the body of the top-level
    definition of that same name (recursion, a class naming itself);
    ``reexports=False`` skips the imports of an ``__init__``."""
    out = set()
    for top in tree.body:
        if not reexports and isinstance(top, (ast.Import, ast.ImportFrom)):
            continue
        names = set()
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value
                and not any(ch.isspace() for ch in node.value)
            ):
                names.update(node.value.replace(":", ".").split("."))
        if isinstance(top, _DEFS):
            names.discard(top.name)
        out |= names
    return out


def _test_only() -> set[str]:
    used: set[str] = set()
    for site in USE_SITES:
        for path in _py_files(site):
            init = os.path.basename(path) == "__init__.py"
            used |= _uses(_parse(path), reexports=not init)
    return {qual for qual, name in _definitions().items() if name not in used}


def test_no_package_definition_is_reached_only_from_tests():
    found = _test_only()
    new = sorted(found - TEST_ONLY)
    stale = sorted(TEST_ONLY - found)
    assert not new, (
        "only tests reach these definitions; delete them (and the tests "
        "that pin them) or give them a caller:\n" + "\n".join(new)
    )
    assert not stale, (
        "these TEST_ONLY entries are gone or have a caller now; remove "
        "them from the list:\n" + "\n".join(stale)
    )


def test_uses_skip_own_body_and_init_reexports():
    tree = ast.parse(
        "from m import a\n"
        "def f():\n    return f() + g + x.h + len('mod.k') + len('not a name')\n"
        "def e():\n    return f\n"
    )
    names = _uses(tree, reexports=True)
    assert {"a", "f", "g", "h", "mod", "k", "len"} <= names
    assert "e" not in names and "not" not in names
    assert "a" not in _uses(tree, reexports=False)
    assert "f" not in _uses(ast.parse("def f():\n    return f()\n"), True)
