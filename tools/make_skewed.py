"""Build a skew-heavy replica of a testdata SF directory in /tmp.

Same schemas, same row counts, pathological KEY DISTRIBUTION: a large
deterministic slice of every fact table is reassigned to one hot key —
the composition a 100 TB production table actually has (one whale
customer, one viral document, one bot user) and the one the uniform
generator never produces. The oracle harness runs on the same files,
so a full verify sweep on this directory certifies that every query
stays engine-agreed when a single key holds 30-50% of its table:
tie-handling, per-key window blowups, salting, duplicate-collapse and
AQE skew-split paths all get exercised where they actually matter.

The documents replica of sf0.01 has dup_stats (n, blowup, cmax) =
(500, 80.6, 200): one 200-copy viral group. It is larger than the
``duplicate_collapse='auto'`` routing size (operators/dedup
``_MIN_COPIES``), so every
collapse-capable query (minhash, dedup_against, jaccard, containment,
bm25, embedding) routes it through one representative, and a verify
sweep here checks the routed plans against the oracle.

Hot-slice membership is modulo-on-id (deterministic, layout-free):

  orders     : 40% of o_custkey        -> min custkey  (whale customer)
  lineitem   : 40% of l_partkey/suppkey-> min part/supp (hot part+supplier)
               30% of l_orderkey       -> min orderkey  (mega order)
  events     : 50% of user_id          -> min user      (bot user)
  documents  : 40% of text             -> first doc's text (viral dup)
  embeddings : 40% of embedding        -> first vector   (dup vectors)
  customer   : 50% of c_nationkey      -> min nationkey  (hot nation)

Usage: python tools/make_skewed.py [src_sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/skewdata"

    from pyspark.sql import Window, functions as F

    from datamine_v2_0_spark.session import get_spark

    spark = get_spark("make_skewed")

    def cp(t):
        spark.read.parquet(f"{src}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")

    for t in ("region", "nation", "part", "supplier"):
        cp(t)

    def hot(df, id_col, pct_mod_10, targets):
        """Reassign the rows with id % 10 < pct_mod_10 to the hot value
        of every column in ``targets`` (a {col: hot_value_df_agg} map).

        The selection is MATERIALIZED into a column before any target
        mutates: Spark columns are lazy expressions, so when id_col is
        itself a target (lineitem selects on l_partkey and reassigns
        it before l_suppkey), a bare predicate would re-evaluate
        against the already-mutated column and silently skip later
        targets whenever the hot value's residue falls outside the
        slice."""
        df = df.withColumn("__sel", F.col(id_col) % 10 < pct_mod_10)
        for col, hot_val in targets.items():
            df = df.withColumn(
                col, F.when(F.col("__sel"), hot_val).otherwise(F.col(col))
            )
        return df.drop("__sel")

    orders = spark.read.parquet(f"{src}/orders.parquet")
    hot_cust = orders.agg(F.min("o_custkey")).first()[0]
    hot_ord = orders.agg(F.min("o_orderkey")).first()[0]
    hot(orders, "o_orderkey", 4, {"o_custkey": F.lit(hot_cust)}).write.mode(
        "overwrite"
    ).parquet(f"{out}/orders.parquet")

    li = spark.read.parquet(f"{src}/lineitem.parquet")
    hot_part = li.agg(F.min("l_partkey")).first()[0]
    hot_supp = li.agg(F.min("l_suppkey")).first()[0]
    li = hot(
        li, "l_partkey", 4,
        {"l_partkey": F.lit(hot_part), "l_suppkey": F.lit(hot_supp)},
    )
    # mega order on an independent slice. NOTE: (l_orderkey,
    # l_linenumber) is NOT unique even in the SOURCE testdata (sf0.01
    # has ~11.8k colliding composites), so no query may assume it; the
    # mega order is renumbered 1..N anyway so its 17k rows don't all
    # collapse onto linenumbers 1-7 — a tie-degeneracy the skew tool
    # has no business adding on top of the key skew it exists to plant.
    # Partitioning the renumber window by the post-merge key keeps it
    # cheap everywhere except the one (intended) mega partition; the
    # (pre-merge orderkey, linenumber, partkey, suppkey) order makes
    # the numbering deterministic up to source-level composite ties.
    li = (
        li.withColumn("__orig", F.col("l_orderkey"))
        .withColumn(
            "l_orderkey",
            F.when(F.col("__orig") % 10 >= 7, F.lit(hot_ord)).otherwise(
                F.col("__orig")
            ),
        )
        .withColumn(
            "l_linenumber",
            F.when(
                F.col("l_orderkey") == hot_ord,
                F.row_number().over(
                    Window.partitionBy("l_orderkey").orderBy(
                        "__orig", "l_linenumber", "l_partkey", "l_suppkey",
                        "l_extendedprice", "l_quantity",
                    )
                ),
            )
            .otherwise(F.col("l_linenumber"))
            .cast("int"),
        )
        .drop("__orig")
    )
    li.write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    ev = spark.read.parquet(f"{src}/events.parquet")
    hot_user = ev.agg(F.min("user_id")).first()[0]
    hot(ev, "event_id", 5, {"user_id": F.lit(hot_user)}).write.mode(
        "overwrite"
    ).parquet(f"{out}/events.parquet")

    docs = spark.read.parquet(f"{src}/documents.parquet")
    viral = docs.orderBy("doc_id").select("text").first()[0]
    (
        docs.withColumn(
            "text",
            F.when(F.col("doc_id") % 10 < 4, F.lit(viral)).otherwise(
                F.col("text")
            ),
        )
        .withColumn("n_chars", F.length("text"))
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    first_vec = emb.orderBy("vec_id").select("embedding").first()[0]
    # cast the literal hot vector back to the SOURCE element type:
    # F.lit(float) builds array<double>, and letting when/otherwise
    # coerce the column would make the skewed replica's parquet schema
    # (and every float-vs-double arithmetic path) diverge from the
    # uniform replica it claims to mirror
    hot_vec = F.array(*[F.lit(float(x)) for x in first_vec]).cast(
        emb.schema["embedding"].dataType
    )
    emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 10 < 4, hot_vec).otherwise(
            F.col("embedding")
        ),
    ).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    cust = spark.read.parquet(f"{src}/customer.parquet")
    hot_nat = cust.agg(F.min("c_nationkey")).first()[0]
    hot(cust, "c_custkey", 5, {"c_nationkey": F.lit(hot_nat)}).write.mode(
        "overwrite"
    ).parquet(f"{out}/customer.parquet")

    print(f"wrote {out} (hot: cust={hot_cust} ord={hot_ord} part={hot_part} "
          f"supp={hot_supp} user={hot_user} nat={hot_nat})")


if __name__ == "__main__":
    main()
