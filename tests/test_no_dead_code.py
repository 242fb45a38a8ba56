"""CI guard: every top-level function of the package has a caller.

A ``def`` that nothing references is code no run and no test reaches: it
drifts from the code beside it while looking maintained.  This parses the
package, ``perfbench/``, the root scripts and ``tests/`` and fails on a
top-level function of ``ta2_minmod_kg_spark/``, public or private, whose
name occurs nowhere outside its own definition — as a name, an attribute,
an imported name or an identifier string (``__all__``, ``getattr``).
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).parent.parent
PACKAGE = ROOT / "ta2_minmod_kg_spark"
SEARCHED = [
    *sorted(PACKAGE.rglob("*.py")),
    *sorted((ROOT / "perfbench").rglob("*.py")),
    *sorted((ROOT / "tests").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "run_pipeline.py",
    ROOT / "__spark_entry__.py",
]
# functions kept without a reference: name -> reason
EXCEPTIONS: dict[str, str] = {}


def _referenced_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value if node.value.isidentifier() else None
    return None


def test_every_public_function_is_referenced():
    defs = []  # (file, FunctionDef)
    uses: dict[str, list[tuple[pathlib.Path, int]]] = {}
    for path in SEARCHED:
        tree = ast.parse(path.read_text(), filename=str(path))
        if path.is_relative_to(PACKAGE):
            defs += [
                (path, node)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
        for node in ast.walk(tree):
            name = _referenced_name(node)
            if name is not None:
                uses.setdefault(name, []).append((path, getattr(node, "lineno", 0)))
    assert len(defs) > 100, "the scan found too few definitions to mean anything"

    unreferenced = []
    for path, node in defs:
        outside = [
            (p, line)
            for p, line in uses.get(node.name, [])
            if not (p == path and node.lineno <= line <= node.end_lineno)
        ]
        if not outside and node.name not in EXCEPTIONS:
            unreferenced.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not unreferenced, "\n".join(unreferenced)
    stale = sorted(set(EXCEPTIONS) - {node.name for _, node in defs})
    assert not stale, f"exceptions that no longer name a function: {stale}"
