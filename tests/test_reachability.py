"""Reachability lint: every public library function is run by something.

A static name closure over the package (AST only, no Spark). The roots
are every top-level function in ``queries/``, ``streaming/``,
``session.py`` and ``contract.py``, every name that ``perfbench/``,
``bench.py``, ``__spark_entry__.py`` and ``tools/`` mention, and what
module-level code runs on import; a ``pipeline/`` function is reached
only through them. From a reached definition the closure follows its
Name, Attribute, import and identifier-string references to any
top-level definition of that name in the package. Tests are not roots: a function
that only a test calls is a second implementation unless README's table
"Surface the registry does not exercise" lists it with its reason.

Run as a script to print the unreached public functions with their sizes:
``python tests/test_reachability.py`` (add ``--unlisted`` to leave out the
ones README lists).
"""

from __future__ import annotations

import ast
import functools
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "datamine_v2_0_spark"
ROOT_DIRS = ("queries", "streaming")
ROOT_MODULES = ("session.py", "contract.py")
OUTSIDE_ROOTS = ("perfbench", "tools", "bench.py", "__spark_entry__.py")
TABLE_HEADING = "## Surface the registry does not exercise"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _referenced(tree: ast.AST) -> set[str]:
    """Names a subtree mentions: loads, attributes, imports and strings
    that are identifiers (``getattr``/dispatch tables)."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                out.update(alias.name.split("."))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _IDENT.fullmatch(node.value):
                out.add(node.value)
    return out


@functools.cache
def _definitions() -> tuple[dict[str, list[tuple[Path, ast.AST]]], frozenset[str]]:
    """Top-level definitions by name, and the root references.

    A definition is a function, a class or a module-level assignment
    target. Imports are part of no definition: re-exporting a name from
    an ``__init__`` does not reach it. Other module-level statements run
    when the module is imported, so what they reference is a root.
    """
    defs: dict[str, list[tuple[Path, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        is_root = rel.parts[0] in ROOT_DIRS or str(rel) in ROOT_MODULES
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((path, node))
                if is_root and not isinstance(node, ast.ClassDef):
                    roots.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append((path, node))
                if is_root:
                    roots |= _referenced(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                # module-level code that is no definition runs on import
                roots |= _referenced(node)
    for name in OUTSIDE_ROOTS:
        p = ROOT / name
        for f in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            roots |= _referenced(ast.parse(f.read_text()))
    return defs, frozenset(roots)


def reached_names(extra_roots: set[str] = frozenset()) -> set[str]:
    """Closure of the roots (plus ``extra_roots``) over references."""
    defs, roots = _definitions()
    frontier = set(roots | extra_roots)
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        for _path, node in defs.get(name, ()):
            frontier |= _referenced(node) - seen
    return seen


def public_functions() -> dict[str, list[tuple[str, int, int]]]:
    """Public top-level function name -> [(module path, line, size)]."""
    out: dict[str, list[tuple[str, int, int]]] = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
                size = node.end_lineno - node.lineno + 1
                out.setdefault(node.name, []).append(
                    (str(path.relative_to(ROOT)), node.lineno, size)
                )
    return out


def readme_surface() -> dict[str, str]:
    """The README table, function name -> reason. A row is
    ``| `module.name`, `module.other` | reason |``; the functions a listed
    one calls count as reached through it."""
    text = (ROOT / "README.md").read_text()
    assert TABLE_HEADING in text, f"README.md has no {TABLE_HEADING!r} section"
    section = text.split(TABLE_HEADING, 1)[1].split("\n## ", 1)[0]
    rows: dict[str, str] = {}
    for line in section.splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) < 2 or not cells[0].startswith("`"):
            continue
        for name in re.findall(r"`([\w.]+)`", cells[0]):
            rows[name.rsplit(".", 1)[-1]] = cells[1]
    return rows


def unreached(listed: set[str] = frozenset()) -> dict[str, list[tuple[str, int, int]]]:
    reached = reached_names(set(listed))
    return {n: locs for n, locs in public_functions().items() if n not in reached}


def test_every_public_function_is_reached_or_listed():
    listed = readme_surface()
    missing = unreached(set(listed))
    assert not missing, (
        "public functions that no registry query, pipeline, streaming "
        "operator, perfbench workload, bench.py or tool reaches, and that "
        f"README's {TABLE_HEADING[3:]!r} table does not list: "
        + ", ".join(f"{locs[0][0]}:{locs[0][1]} {n}" for n, locs in sorted(missing.items()))
    )


def test_listed_surface_is_exact():
    # A row must name a public function that exists and is not reached:
    # a stale row hides nothing, but a reached one makes the table lie.
    listed = readme_surface()
    public = public_functions()
    reached = reached_names()
    stale = sorted(n for n in listed if n not in public)
    assert not stale, f"README surface rows name no public function: {stale}"
    live = sorted(n for n in listed if n in reached)
    assert not live, f"README surface rows name reached functions: {live}"
    assert all(reason for reason in listed.values()), "every row gives a reason"


if __name__ == "__main__":
    listed = set(readme_surface()) if "--unlisted" in sys.argv else set()
    rows = sorted(
        (loc[0], loc[1], loc[2], n)
        for n, locs in unreached(listed).items()
        for loc in locs
    )
    for path, line, size, name in rows:
        print(f"{size:5d}  {path}:{line}  {name}")
    print(f"{sum(r[2] for r in rows)} lines in {len(rows)} unreached public functions")
