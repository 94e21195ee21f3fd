"""Dump ``explain('formatted')`` for headline queries to a plans dir.

Usage: python tools/explain_dump.py <tag> [query ...]

Writes $SPARK_GRAFT_PLANS_DIR/<query>_<tag>.txt (default plans/r14) for
each query (default: the bench headline set). The judge reads these
files to check plan claims, so the output is the raw formatted plan,
nothing else.
"""

from __future__ import annotations

import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datamine_v2_0_spark.contract import QUERIES  # noqa: E402
from datamine_v2_0_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    from bench import HEADLINE

    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get("SPARK_GRAFT_PLANS_DIR", os.path.join(REPO, "plans/r14"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain_dump")
    for name in names:
        fn, _sql = QUERIES[name]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        stdout, sys.stdout = sys.stdout, buf
        try:
            df.explain("formatted")
        finally:
            sys.stdout = stdout
        path = f"{out_dir}/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
