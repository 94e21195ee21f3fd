"""Registry queries read parquet through the schema memo (AST only, no
Spark).

``queries/base._t`` reads every registry table through
``sources.parquet_io.read_parquet_memo``, which infers a table's schema
once per session. A ``spark.read.parquet`` (or ``.read.format("parquet")``)
call in a module under ``datamine_v2_0_spark/queries/`` would bypass it
and launch a schema-inference job on every build of its query. Fails on
any such call.

Run as a script to print the offending lines:
``python tests/test_query_reads.py``.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
QUERIES = ROOT / "datamine_v2_0_spark" / "queries"


def _through_read(node: ast.AST) -> bool:
    """Whether the receiver chain of a call reaches a ``.read``."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def direct_parquet_reads(path: Path) -> list[tuple[int, str]]:
    """(line, call) of each parquet read in ``path`` that is not the memo."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        parquet = node.func.attr == "parquet" or (
            node.func.attr == "format"
            and any(isinstance(a, ast.Constant) and a.value == "parquet" for a in node.args)
        )
        if parquet and _through_read(node.func.value):
            out.append((node.lineno, ast.unparse(node)))
    return sorted(set(out))


def all_direct_reads() -> list[str]:
    return [
        f"{p.relative_to(ROOT)}:{line}: {text}"
        for p in sorted(QUERIES.glob("*.py"))
        for line, text in direct_parquet_reads(p)
    ]


def test_queries_read_parquet_through_the_memo():
    assert all_direct_reads() == []


def test_lint_sees_a_direct_read(tmp_path):
    f = tmp_path / "q.py"
    f.write_text(
        "def q(spark, sf):\n"
        '    a = spark.read.parquet(f"{sf}/t.parquet")\n'
        '    b = spark.read.schema("x long").parquet(sf)\n'
        '    c = spark.read.format("parquet").load(sf)\n'
        "    d = read_parquet_memo(spark, sf)\n"
        "    return a.write.parquet(sf)\n"
    )
    assert [line for line, _ in direct_parquet_reads(f)] == [2, 3, 4]


if __name__ == "__main__":
    bad = all_direct_reads()
    print("\n".join(bad))
    print(f"{len(bad)} parquet reads under queries/ that bypass the schema memo")
    sys.exit(1 if bad else 0)
