"""The library's one lineage cut.

Iterative DataFrame algorithms (connected components, PageRank, the
distributed prefix-sum stitch) must truncate lineage each round or plan
size grows without bound, and a relation that several branches read
(posting tables, the BM25 index, fingerprint maps) is materialized once
so the branches do not each recompute it. Every such cut goes through
:func:`iter_checkpoint`, and it follows one rule:

- The cut is eager: it runs its job when it is made, so the DataFrame
  it returns is already materialized when any query first reads it. (A
  lazy checkpoint that a broadcast-exchange thread materializes while
  the DAG scheduler visits the same RDD can deadlock the driver JVM on
  Spark's checkpoint locks; an eager one never materializes later.)
- The cut is durable (``DataFrame.checkpoint``, written to the session's
  checkpoint directory, survives executor loss) exactly when the session
  has a checkpoint directory: ``SparkContext.setCheckpointDir``, or the
  ``spark.checkpoint.dir`` conf where no SparkContext is reachable
  (Spark Connect). Otherwise it is ``localCheckpoint``: fast, but its
  blocks are unreplicated executor storage, so losing an executor
  mid-job fails the job loudly and needs a re-run. It never returns
  wrong results either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _checkpoint_dir(spark: SparkSession) -> str | None:
    try:
        sc = spark.sparkContext
    except AttributeError:  # Spark Connect: no SparkContext on the client
        return spark.conf.get("spark.checkpoint.dir", None)
    return sc.getCheckpointDir()


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return it with its lineage cut: durable
    when the session has a checkpoint directory, local otherwise (see
    the module docstring)."""
    if _checkpoint_dir(df.sparkSession):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
