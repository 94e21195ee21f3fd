"""Degenerate-input robustness sweep: run EVERY registered contract
query against a zero-row (default) or N-row copy of the testdata
tables and require that none of them raises.

Why: at corpus scale, empty inputs are routine — an empty ingest day, a
filter that matches nothing, a partition with no rows for a key. A
query that divides by a .first()[0] count, indexes an empty collect, or
feeds an empty pandas frame to a kernel works in every bench and dies
on the first quiet day in production. The sweep materializes each
query's plan with a noop write (full execution, no driver collect) so
lazy failures surface too.

Usage: python tools/empty_sweep.py [template_sf_dir] [n_rows|nulls|text|dupes|extremes]
n_rows=0 (default) probes the empty case; n_rows=1 probes the
single-row case (stddev-of-one, interpolation with a single point,
self-join of a singleton — all NULL-producing, none crash-producing);
the literal mode ``nulls`` keeps 50 rows per table but NULLs every
non-identifier column — NULL text reaching a shingle kernel or a NULL
embedding reaching a numpy matmul is the production shape of a
half-written upstream row; the literal mode ``text`` keeps 50 rows but
replaces every document's text (and events' props JSON) with
adversarial strings — emoji, CJK, RTL + combining marks, control
chars, NBSP-only, empty, kilobyte words, malformed JSON — the
production shape of a real web crawl hitting the text/JSON kernels.
the literal mode ``extremes`` keeps 50 rows but rotates every
double-typed payload column through IEEE edge values (NaN, +/-Inf,
+/-1e308, 0.0) — legitimate floating-point citizens that corrupt
sensors emit and that must flow through stats/windows/sketches
without aborting the job.
Exits nonzero listing every query that raised.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def main() -> None:
    template = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    mode = sys.argv[2] if len(sys.argv) > 2 else "0"
    nulls = mode == "nulls"
    adversarial = mode == "text"
    dupes = mode == "dupes"
    extremes = mode == "extremes"
    special = nulls or adversarial or dupes or extremes
    n_rows = 50 if special else int(mode)

    from datamine_v2_0_spark.contract import QUERIES
    from datamine_v2_0_spark.session import get_spark

    spark = get_spark("empty_sweep")
    out_dir = tempfile.mkdtemp(prefix="empty_sf_")
    try:
        from pyspark.sql import functions as F

        def is_id(col: str) -> bool:
            return col.endswith(("key", "_id", "linenumber"))

        for t in TABLES:
            df = spark.read.parquet(f"{template}/{t}.parquet")
            df = df.limit(n_rows)
            if nulls:
                df = df.select(
                    *[
                        df[c] if is_id(c)
                        else F.lit(None).cast(dict(df.dtypes)[c]).alias(c)
                        for c in df.columns
                    ]
                )
            if extremes:
                edge = [float("nan"), float("inf"), float("-inf"),
                        1e308, -1e308, 0.0]
                pick = F.element_at(
                    F.array(*[F.lit(x) for x in edge]),
                    (F.pmod(F.monotonically_increasing_id(),
                            F.lit(len(edge))) + 1).cast("int"),
                )
                df = df.select(
                    *[
                        pick.alias(c)
                        if (not is_id(c) and dict(df.dtypes)[c] == "double")
                        else df[c]
                        for c in df.columns
                    ]
                )
            if dupes:
                first = df.limit(1).collect()
                if first:
                    r0 = first[0].asDict()
                    df = df.select(
                        *[
                            df[c] if is_id(c)
                            else F.lit(r0[c]).cast(dict(df.dtypes)[c]).alias(c)
                            for c in df.columns
                        ]
                    )
            if adversarial and t in ("documents", "events"):
                nasty = [
                    "\U0001f600\U0001f4a9\U0001f680 emoji only",
                    "\u4f60\u597d\u4e16\u754c \u6e2c\u8a66\u6587\u5b57",   # CJK
                    "\u0645\u0631\u062d\u0628\u0627 \u05e9\u05dc\u05d5\u05dd",  # RTL Arabic+Hebrew
                    "a\u0301e\u0301i\u0301 combining c\u0327 marks",
                    "ctrl\x01\x02\x03chars\x7f",
                    "\u00a0\u00a0\u00a0",                       # NBSP-only
                    "",                                            # empty
                    "x" * 1024,                                    # one kB word
                    "tab\tnewline\nret\rmix",
                    "ZALGO z\u0351\u036b\u0343a\u0342l\u0340g\u0360o",
                ]
                pick = F.element_at(
                    F.array(*[F.lit(x) for x in nasty]),
                    (F.pmod(F.monotonically_increasing_id(), F.lit(len(nasty))) + 1).cast("int"),
                )
                if t == "documents":
                    df = df.withColumn("text", pick).withColumn(
                        "lang", F.lit("zz")
                    )
                else:
                    bad_json = F.element_at(
                        F.array(
                            F.lit('{"k": }'), F.lit("not json"), F.lit(""),
                            F.lit('{"k": "\u00e9\U0001f600"}'), F.lit("[1,2,"),
                        ),
                        (F.pmod(F.monotonically_increasing_id(), F.lit(5)) + 1).cast("int"),
                    )
                    df = df.withColumn("props", bad_json)
            df.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")

        failed: list[tuple[str, str]] = []
        n_ok = 0
        for name, (fn, _sql) in QUERIES.items():
            try:
                df = fn(spark, out_dir)
                df.write.format("noop").mode("overwrite").save()
                n_ok += 1
            except Exception as ex:  # noqa: BLE001
                msg = str(ex).splitlines()[0][:160]
                failed.append((name, f"{type(ex).__name__}: {msg}"))
        for name, err in failed:
            print(f"FAIL  {name}: {err}")
        label = ("all-NULL-payload" if nulls
                 else "adversarial-text" if adversarial
                 else "all-identical-payload" if dupes
                 else "extreme-doubles" if extremes
                 else "empty" if n_rows == 0 else f"{n_rows}-row")
        print(f"{n_ok} ok, {len(failed)} failed on {label} input")
        if failed:
            sys.exit(1)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
