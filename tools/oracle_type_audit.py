"""Audit oracle SQL result types for driver-normalizer landmines.

The driver's value-hash comparison diverged from the local replica on
DuckDB HUGEINT (windowed SUM of ints) in round 2: the local normalizer
collapses HUGEINT/Decimal to int/float, the driver's evidently renders
them differently. Run every oracle at sf0.01 and flag any result column
whose DuckDB type is HUGEINT or DECIMAL — those need explicit CASTs on
both sides of the contract.

Usage: python tools/oracle_type_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

SUSPECT = ("HUGEINT", "DECIMAL", "UHUGEINT", "UBIGINT", "UINTEGER")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    flagged = 0
    for name, sql in e.oracle_sql().items():
        try:
            # DBAPI description reports a generic NUMBER for every numeric
            # type; DESCRIBE exposes the real logical types (HUGEINT etc.)
            res = con.execute(f"DESCRIBE ({sql})").fetchall()
            types = [(r[0], str(r[1]).upper()) for r in res]
        except Exception as ex:
            print(f"ERR   {name}: {ex}")
            flagged += 1
            continue
        bad = [(c, t) for c, t in types if any(s in t for s in SUSPECT)]
        if bad:
            print(f"FLAG  {name}: {bad}")
            flagged += 1
    print(f"\n{flagged} flagged")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
