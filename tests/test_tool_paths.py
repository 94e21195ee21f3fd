"""Tools import their own checkout (AST only, no Spark).

A script under ``tools/`` finds the package and writes its outputs
relative to its own file (``os.path.abspath(__file__)``), never through
a hard-coded checkout path: from a copy of the repository such a path
would quietly benchmark, verify or overwrite another checkout. Fails on

- a ``sys.path.insert``/``append`` of a string literal, and
- a string literal that is an absolute path into a checkout: it starts
  with this checkout's root, or one of its components (after the first)
  names a top-level entry of the repository (``/x/y/PLANS.md``,
  ``/x/y/tools``).

Run as a script to print the offending lines:
``python tests/test_tool_paths.py``.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TOOLS = ROOT / "tools"
TOP = {p.name for p in ROOT.iterdir() if not p.name.startswith(".")}


def _checkout_path(s: str) -> bool:
    if not s.startswith("/"):
        return False
    if s == str(ROOT) or s.startswith(str(ROOT) + "/"):
        return True
    return any(part in TOP for part in Path(s).parts[2:])


def hard_coded_paths(path: Path) -> list[tuple[int, str]]:
    """(line, literal) of each checkout path written into ``path``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
            and any(
                isinstance(a, ast.Constant) and isinstance(a.value, str)
                for a in node.args
            )
        ):
            out.append((node.lineno, ast.unparse(node)))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and any(_checkout_path(w) for w in node.value.split())
        ):
            out.append((node.lineno, node.value.strip()[:80]))
    return sorted(set(out))


def all_hard_coded() -> list[str]:
    return [
        f"{p.relative_to(ROOT)}:{line}: {text}"
        for p in sorted(TOOLS.glob("*.py"))
        for line, text in hard_coded_paths(p)
    ]


def test_tools_derive_the_repo_path():
    assert all_hard_coded() == []


def test_lint_sees_a_hard_coded_checkout(tmp_path):
    f = tmp_path / "t.py"
    f.write_text(
        "import os, sys\n"
        'sys.path.insert(0, "/srv/checkout")\n'
        'OUT = "/srv/checkout/PLANS.md"\n'
        f'DOC = "default: {ROOT}/BENCH.json"\n'
        'DATA = "/srv/testdata/sf0.01"\n'
        "sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))\n"
    )
    assert [line for line, _ in hard_coded_paths(f)] == [2, 3, 4]


if __name__ == "__main__":
    bad = all_hard_coded()
    print("\n".join(bad))
    print(f"{len(bad)} hard-coded checkout paths under tools/")
    sys.exit(1 if bad else 0)
