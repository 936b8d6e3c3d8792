"""Pool threads and sessions share the package's modules, so a memo kept
in module state is shared by every session in the process and outlives
the corpus it was built from. Derived data is cached only in the session
memo (``catalog.memoized``) and the session's registration set
(``sources/stored.py``), both fingerprint- or path-keyed. No package
module may start an empty dict, set or list at module level."""

from __future__ import annotations

import ast
import pathlib

import automotive_big_data_analysis_spark as pkg

_EMPTY_CALLS = {"dict", "set", "list"}


def _is_empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in _EMPTY_CALLS
        and not node.args
        and not node.keywords
    )


def test_no_module_level_memo():
    root = pathlib.Path(pkg.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        module = ".".join(path.relative_to(root).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            if _is_empty_container(value):
                hits += [
                    f"{module}.{t.id}" for t in targets if isinstance(t, ast.Name)
                ]
    assert hits == [], "module-level memo at:\n" + "\n".join(hits)
