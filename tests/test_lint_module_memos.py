"""No ad hoc module-level memo dicts in the package.

Every in-process artifact cache goes through ``hfp_loader_spark/memo.py``,
which owns the input stamp, the session scope and the eviction rules.  A
module-level name bound to an empty ``{}`` / ``dict()`` is how a private
memo starts, each with its own key shape and none that evicts, so walk
the ASTs and refuse one.

Pure stdlib; no SparkSession.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "hfp_loader_spark")

#: The only module allowed to hold module-level cache dicts.
MEMO_MODULE = os.path.join("hfp_loader_spark", "memo.py")

#: (module, name) bindings that are not artifact caches.
ALLOWED = {
    # temp-view state per SparkSession object; sessions from
    # ``newSession()`` share one applicationId, so memo's scope cannot key it
    (os.path.join("hfp_loader_spark", "plans", "catalog.py"), "_VIEWS_REGISTERED"),
    # the query catalog, filled by ``@defquery`` at import; never a cache
    (os.path.join("hfp_loader_spark", "plans", "catalog.py"), "REGISTRY"),
}


def _is_empty_dict(node: ast.AST | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
        and not node.args
        and not node.keywords
    )


def _empty_dict_bindings(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign) and _is_empty_dict(node.value):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign) and _is_empty_dict(node.value):
            targets = [node.target]
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Name):
                yield node.lineno, t.id


def _offenders() -> list[str]:
    out = []
    for root, _dirs, files in os.walk(PACKAGE):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, REPO)
            if rel == MEMO_MODULE:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for lineno, name in _empty_dict_bindings(tree):
                if (rel, name) not in ALLOWED:
                    out.append(f"{rel}:{lineno}: {name}")
    return out


def test_no_module_level_memo_dicts_outside_memo():
    offenders = _offenders()
    assert not offenders, (
        "module-level empty dicts (route the cache through "
        "hfp_loader_spark.memo.memo instead):\n" + "\n".join(offenders)
    )


def test_detects_a_planted_memo_dict():
    tree = ast.parse(
        "_A: dict[str, int] = {}\n_B = dict()\n_C = {'k': 1}\n"
        "def f():\n    local = {}\n"
    )
    assert list(_empty_dict_bindings(tree)) == [(1, "_A"), (2, "_B")]
