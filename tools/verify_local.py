"""Local replica of the driver's correctness gate.

For every entry in ``__spark_entry__.queries()``: run the Spark query and
(if present) the DuckDB oracle SQL at the same scale factor, then compare
row count, sorted column names, and an order-insensitive value hash.

Usage: python tools/verify_local.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import decimal
import hashlib
import os
import sys
import time
import traceback

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from datamine_v2_0_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("verify_local")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files; the
        # driver's flat files read directly
        pat = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows ({time.time()-t0:.1f}s) [rows-only]")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {ex}")
            n_fail += 1
            failures.append(name)
            continue
        ok_rows = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        sh = value_hash(srows, scols)
        oh = value_hash(orows, ocols)
        ok_hash = sh == oh
        if ok_rows and ok_schema and ok_hash:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(
                f"FAIL  {name}: rows {len(srows)}/{len(orows)} "
                f"schema {sorted(scols)}/{sorted(ocols)} hash_match={ok_hash}"
            )
            if ok_rows and ok_schema and not ok_hash:
                # print a tiny diff sample
                sset = {tuple(_norm(v) for v in r) for r in srows}
                oset = {tuple(_norm(v) for v in r) for r in orows}
                so = list(sset - oset)[:3]
                os_ = list(oset - sset)[:3]
                print(f"      spark-only: {so}")
                print(f"      oracle-only: {os_}")
            n_fail += 1
            failures.append(name)

    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    if failures:
        print("failures:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
