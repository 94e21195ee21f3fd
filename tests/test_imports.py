"""Unused-import lint for the library (AST only, no Spark).

Every module-level import under ``datamine_v2_0_spark/`` must be used
in its module: as a name, the root of an attribute chain, a name inside
a string annotation, or an entry of ``__all__``. A deliberate re-export
says so with ``# noqa: F401`` on the import statement.

Run as a script to print the unused imports:
``python tests/test_imports.py``.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "datamine_v2_0_spark"


def _annotation_names(tree: ast.AST) -> set[str]:
    """Names inside string annotations (``x: "list[DataFrame]"``)."""
    out: set[str] = set()
    anns = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            args = a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
            anns += [x.annotation for x in args if x is not None]
            anns.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            anns.append(node.annotation)
    for ann in anns:
        for c in ast.walk(ann) if ann is not None else ():
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                try:
                    expr = ast.parse(c.value, mode="eval")
                except SyntaxError:
                    continue
                out |= {n.id for n in ast.walk(expr) if isinstance(n, ast.Name)}
    return out


def _exported(tree: ast.Module) -> set[str]:
    """String entries of a module-level ``__all__``."""
    out: set[str] = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            out |= {
                c.value for c in ast.walk(node.value)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
            }
    return out


def unused_imports(path: Path) -> list[tuple[int, str]]:
    """(line, name) of each module-level import ``path`` never uses."""
    text = path.read_text()
    lines = text.splitlines()
    tree = ast.parse(text)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    used |= _annotation_names(tree) | _exported(tree)
    out = []
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        stmt = lines[node.lineno - 1 : node.end_lineno]
        if any("noqa: F401" in s for s in stmt):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            if name not in used:
                out.append((node.lineno, name))
    return out


def all_unused() -> list[str]:
    return [
        f"{p.relative_to(PKG.parent)}:{line} {name}"
        for p in sorted(PKG.rglob("*.py"))
        for line, name in unused_imports(p)
    ]


def test_no_unused_module_imports():
    unused = all_unused()
    assert not unused, f"unused module-level imports: {unused}"


if __name__ == "__main__":
    found = all_unused()
    print("\n".join(found))
    print(f"{len(found)} unused module-level imports")
    sys.exit(1 if found else 0)
