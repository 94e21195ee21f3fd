"""Lineage-truncation helper for iterative operators.

Iterative DataFrame algorithms (connected components, PageRank, the
distributed prefix-sum stitch) must truncate lineage each round or plan
size grows without bound. The default is ``localCheckpoint``: fast, no
configuration, but blocks are stored UNREPLICATED on executors — losing
an executor mid-job (preemption, dynamic-allocation downscale) makes
the job fail loudly and need a re-run. It never returns wrong results;
the cost is retry time.

For long-running cluster jobs where that retry cost matters, callers
can pass ``reliable=True`` to the operators that expose it: lineage is
then truncated through ``DataFrame.checkpoint``, which writes to the
durable ``spark.sparkContext.setCheckpointDir`` location (HDFS/object
store) and survives executor loss. Slower — every checkpoint is a full
write to durable storage — and requires the checkpoint dir to be set,
or Spark raises at materialization time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# A lazy (``eager=False``) checkpoint materializes on first use, and a
# broadcast-exchange thread doing so while the DAG scheduler visits the
# same RDD can deadlock on Spark's checkpoint locks. Connected components
# cuts its edge set eagerly, since its seed labels and first hop both
# read it.


def iter_checkpoint(
    df: DataFrame, reliable: bool = False, eager: bool = False
) -> DataFrame:
    """Truncate lineage: ``localCheckpoint`` (default) or a reliable
    ``checkpoint`` when ``reliable=True`` (see module docstring)."""
    if reliable:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
