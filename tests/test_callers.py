"""Every top-level function and class in the package has a caller.

AST scan: a top-level ``def``/``class`` in ``smcchecker_spark/`` passes
when its name is referenced (a name, an attribute, an imported name or a
string equal to the name) anywhere outside its own definition — in the
package, ``__spark_entry__.py``, ``tools/``, ``scripts/``, ``tests/``,
``bench.py`` or ``valbench/``. References inside the definition itself
(recursion, its own docstring examples) do not count.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "smcchecker_spark")
SCAN = ["smcchecker_spark", "__spark_entry__.py", "tools", "scripts",
        "tests", "bench.py", "valbench"]

_DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(rel: str) -> list[str]:
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _references(tree: ast.Module) -> dict[str, list[int]]:
    """name -> line numbers where it is referenced."""
    refs: dict[str, list[int]] = defaultdict(list)
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id].append(node.lineno)
        elif isinstance(node, ast.Attribute):
            refs[node.attr].append(node.lineno)
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                refs[alias.name].append(node.lineno)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            refs[node.value].append(node.lineno)
    return refs


def uncalled_defs() -> list[str]:
    refs_by_file = {
        path: _references(_parse(path)) for rel in SCAN for path in _py_files(rel)
    }
    missing = []
    for path in _py_files("smcchecker_spark"):
        for node in _parse(path).body:
            if not isinstance(node, _DEF_TYPES):
                continue
            own = range(node.lineno, node.end_lineno + 1)
            used = any(
                line not in own if other == path else True
                for other, refs in refs_by_file.items()
                for line in refs.get(node.name, ())
            )
            if not used:
                missing.append(f"{os.path.relpath(path, REPO)}:{node.name}")
    return missing


def test_every_package_def_has_a_caller():
    assert uncalled_defs() == []
