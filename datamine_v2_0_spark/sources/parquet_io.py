"""Partitioned Parquet sink/scan + partition discovery + idempotent writes
(S4, S5, S6, S14).

Behavioral reference: ckpronto/datamine_v2.0
``STEP 5 - CPD/05_export_features_to_parquet.py:62-68,303-313`` (Hive layout
``device_date=<val>/``, snappy, dictionary encoding) and the lazy scan at
``05_cpd_orchestrator_polars.py:190-201``.

Scale notes: partition layout IS the index at 100 TB — a filter on the
partition column prunes directories before any IO; column projection prunes
pages via parquet metadata. Both happen automatically when the plan is
declarative; `read_parquet_pruned` just pins the idiom.
"""

from __future__ import annotations

import re
import threading
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """S4: Hive-partitioned Parquet sink. Repartition on the partition
    columns first so each output directory is written by one task (avoids
    the many-small-files explosion of N tasks × P partitions)."""
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode(mode)
        .option("compression", compression)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


# Reader confs that change the schema Spark infers from parquet footers.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (applicationId, path, confs, listing) -> inferred schema. A miss
# evicts the entries of other applications (a stopped session's) and the
# path's entry for an older listing under the same confs. Queries may be
# built from several threads, so the miss's evict-and-insert holds a lock.
_SCHEMAS: dict = {}
_SCHEMAS_LOCK = threading.Lock()

# A hit repeats the listing Spark makes to plan the scan, which grows
# with the file count, to save a schema job, which does not. On a local
# 4-core host a hit reads a one-file table in a quarter of a plain
# read's time, breaks even at 100 files and is slower from a few hundred
# on (SCALING.md "Registry read listing"), so a table of more files is
# read without the memo: (applicationId, path) lands here on its first
# read, and later reads skip the listing.
_MEMO_MAX_FILES = 100
_UNMEMOIZED: set = set()

# FileStatus.toString of one entry: "FileStatus{path=...; isDirectory=
# false; length=...; replication=...; blocksize=...; modification_time=
# ...; access_time=...; owner=...; ...}"; a directory has no length.
# Each lazy group stops inside its own entry, so a scan is linear.
_STATUS = re.compile(
    r"path=(.*?); isDirectory=(true|false)(?:; length=(\d+))?;.*?modification_time=(\d+);"
)


def _listing(spark: SparkSession, path: str) -> tuple | None:
    """(path, length, modification time) of every file under ``path``
    through the Hadoop FileSystem API (so s3a://, hdfs:// paths work
    too), sorted, or None when ``path`` does not exist.

    Each directory costs a few Py4J round trips whatever it holds: its
    ``listStatusIterator`` is collected into one Java list, rendered to
    one string JVM-side and parsed here. Not ``listFiles``: on the local
    filesystem its
    ``LocatedFileStatus`` loads each file's permissions with a shell
    command (~3 ms a file, seconds on a directory of thousands of part
    files; SCALING.md has the timings). The access time the rendering
    also carries is left out, since reading a file may change it. A
    rendering that does not parse into one entry per status raises
    rather than key the memo on a partial listing."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    files, dirs = [], [hpath]
    while dirs:
        statuses = jvm.org.apache.hadoop.util.functional.RemoteIterators.toList(
            fs.listStatusIterator(dirs.pop())
        )
        found = _STATUS.findall(statuses.toString())
        if len(found) != statuses.size():
            raise RuntimeError(f"unparsed FileStatus rendering in the listing of {path}")
        files += [(p, n, t) for p, d, n, t in found if d == "false"]
        dirs += [jvm.org.apache.hadoop.fs.Path(p) for p, d, _, _ in found if d == "true"]
    return tuple(sorted(files))


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    session. Without a schema every read runs a schema-inference job
    (``mergeSchemasInParallel``), even for one file; a read whose memo
    key is unchanged passes the remembered schema instead and launches
    no job.

    The key holds the application id, the reader confs that change
    inference and the file listing (path, length, modification time),
    so a rewritten file or a toggled conf is inferred again: a stale
    schema could change a result. For inputs rewritten on every use
    the memo would always miss, so those read without it
    (:func:`read_parquet_pruned`).

    Every memoized read lists ``path`` once more than a plain read does
    (Spark lists it again to plan the scan). A table of more than
    ``_MEMO_MAX_FILES`` files, where that listing costs more than the
    job it saves, is read plainly from its first read on."""
    app = spark.sparkContext.applicationId
    if (app, path) in _UNMEMOIZED:
        return spark.read.parquet(path)
    listing = _listing(spark, path)
    if listing is None:
        return spark.read.parquet(path)  # raises the reader's own error
    if len(listing) > _MEMO_MAX_FILES:
        with _SCHEMAS_LOCK:
            _UNMEMOIZED.difference_update([k for k in _UNMEMOIZED if k[0] != app])
            _UNMEMOIZED.add((app, path))
        return spark.read.parquet(path)
    key = (app, path, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS), listing)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        for k in [k for k in _SCHEMAS if k[0] != app or k[1:3] == key[1:3]]:
            del _SCHEMAS[k]
        _SCHEMAS[key] = df.schema
    return df


def read_parquet_pruned(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | None = None,
    predicate=None,
) -> DataFrame:
    """S5: lazy scan with column pruning + predicate pushdown (Catalyst
    pushes both into the parquet reader; `.explain` shows PushedFilters /
    ReadSchema)."""
    df = spark.read.parquet(path)
    if predicate is not None:
        df = df.filter(predicate)
    if columns is not None:
        df = df.select(*columns)
    return df


def list_partitions(spark: SparkSession, path: str, partition_col: str) -> list[str]:
    """S6: enumerate partition values (metadata-only scan over the
    partition column — no data pages are read)."""
    rows = (
        spark.read.parquet(path)
        .select(partition_col)
        .distinct()
        .orderBy(partition_col)
        .collect()
    )
    return [r[partition_col] for r in rows]


def write_sorted_for_skipping(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Range-partition + sort-within-files on ``sort_cols`` so parquet
    row-group min/max statistics become a clustered index: a range or
    point predicate on the sort key skips whole files AND whole row
    groups inside files at scan time (the footer stats don't overlap).
    This is the standard data-skipping layout for append-heavy 100 TB
    fact tables where directory partitioning on the column would be too
    fine-grained (e.g. timestamps, ids).

    ``num_files=None`` keeps the range-exchange's own partitioning
    (spark.sql.shuffle.partitions ranges)."""
    cols = [F.col(c) for c in sort_cols]
    out = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    (
        out.sortWithinPartitions(*cols)
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def scan_output_rows(df: DataFrame) -> int:
    """Rows emitted by the scan node(s) of an EXECUTED plan — the
    empirical data-skipping measure (scan output << table rows proves
    row-group stats pruned the read).

    Execute THIS DataFrame first via ``df.collect()``: actions like
    ``df.count()`` build a separate query execution and leave this
    plan's metrics at zero."""
    plan = df._jdf.queryExecution().executedPlan()
    # under AQE (the session default) the root is AdaptiveSparkPlanExec,
    # a LEAF from children()'s perspective — walk its executed subplan
    # or every aggregating query silently reports 0 scanned rows
    if plan.nodeName().startswith("AdaptiveSparkPlan"):
        plan = plan.executedPlan()

    def _walk(node) -> int:
        total = 0
        name = node.nodeName()
        if "Scan" in name:
            metrics = node.metrics()
            it = metrics.iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    total += kv._2().value()
        for i in range(node.children().size()):
            total += _walk(node.children().apply(i))
        return total

    return _walk(plan)


def write_table_idempotent(
    df: DataFrame, name: str, recreate: bool = False
) -> None:
    """S14: table-exists semantics — ``mode=ignore`` skips when present,
    ``--recreate-table`` maps to overwrite (01_ingest_raw_telemetry.py:99-139)."""
    df.write.mode("overwrite" if recreate else "ignore").saveAsTable(name)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) table: co-locates rows by key at write
    time so equi joins/aggregations between same-bucketed tables skip the
    shuffle entirely — the materialized-exchange strategy for repeated
    100 TB fact-fact joins."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    seed: int = 0,
    mode: str = "overwrite",
) -> None:
    """Materialize a deterministically shuffled training corpus: assign
    each row a seeded-hash shard + intra-shard position
    (`filters.shard_shuffle`), repartition BY the shard column so each
    output dir is written by one task, and sort within partitions by
    position. Reading shard dirs in order replays the same global
    pseudorandom training order on every run and engine.

    One hash exchange + per-shard sorts — the plan a sharded
    training-data writer needs anyway; no global range sort anywhere."""
    from datamine_v2_0_spark.operators.filters import shard_shuffle

    shuffled = shard_shuffle(df, id_col, n_shards, seed=seed)
    (
        shuffled.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def compact_parquet_partitions(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_col: str,
    max_records_per_file: int = 1_000_000,
) -> dict[str, int]:
    """Small-files compaction for a Hive-partitioned parquet dataset —
    the standing maintenance job of any 100 TB lake (streaming sinks and
    per-batch appends fragment partitions into thousands of tiny files,
    and open/footer overhead then dominates scan time).

    ``repartition(partition_col)`` hashes every row of one partition
    value into ONE task, so each partition dir rewrites to a single file,
    re-split only by ``maxRecordsPerFile`` when a partition is genuinely
    large. Writes to ``dst_path`` (compact-then-swap; in-place rewrites
    can't be atomic), returns {files_before, files_after, rows}.
    """
    def _count_files(root: str) -> int:
        # Hadoop FileSystem API, not os.walk: the lake paths this job
        # exists for (s3a://, hdfs://) are invisible to local os.walk,
        # which would silently report 0 files while the rewrite ran.
        return sum(p.endswith(".parquet") for p, _, _ in _listing(spark, root) or ())

    df = spark.read.parquet(src_path)
    rows = df.count()
    (
        df.repartition(partition_col)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(partition_col)
        .parquet(dst_path)
    )
    return {
        "files_before": _count_files(src_path),
        "files_after": _count_files(dst_path),
        "rows": rows,
    }


def zorder_key(cols: Sequence[Column], mins: Sequence[Column],
               maxs: Sequence[Column], bits: int = 12) -> Column:
    """Morton (Z-order) key interleaving ``bits`` quantized bits per
    column — multi-dimensional clustering so parquet row-group min/max
    stats prune on EVERY participating column, not just the leading one
    of a linear sort (the public Delta/Iceberg OPTIMIZE ZORDER layout).

    Columns are linearly quantized into [0, 2^bits) from the supplied
    per-column min/max (pass aggregate columns from a 1-row stats frame;
    linear quantization is skew-sensitive — pre-transform heavy-tailed
    columns, or extend with equi-depth boundaries). Pure Column algebra:
    d × bits shift/mask terms, no UDF."""
    d = len(cols)
    if d < 2:
        raise ValueError("z-ordering needs >= 2 columns")
    top = (1 << bits) - 1
    qs = []
    for c, mn, mx in zip(cols, mins, maxs):
        unit = (c.cast("double") - mn) / F.when(mx > mn, mx - mn).otherwise(
            F.lit(1.0)
        )
        qs.append(
            F.least(
                F.greatest(F.floor(unit * F.lit(float(1 << bits))), F.lit(0)),
                F.lit(top),
            ).cast("long")
        )
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, q in enumerate(qs):
            z = z + F.shiftleft(
                F.shiftright(q, bit).bitwiseAND(F.lit(1)), bit * d + j
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 12,
    num_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols``: 1-row min/max
    stats broadcast into the Morton key, range-exchange on the key,
    sort-within-files, write. Point/box predicates on ANY subset of the
    z-columns then skip whole row groups — the multi-column counterpart
    of :func:`write_sorted_for_skipping` (which only skips on its
    leading sort column)."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__mx_{c}") for c in cols],
    )
    z = zorder_key(
        [F.col(c) for c in cols],
        [F.col(f"__mn_{c}") for c in cols],
        [F.col(f"__mx_{c}") for c in cols],
        bits,
    )
    keyed = df.crossJoin(F.broadcast(stats)).withColumn("__z", z).drop(
        *[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols]
    )
    out = (
        keyed.repartitionByRange(num_files, "__z")
        if num_files
        else keyed.repartitionByRange("__z")
    )
    (
        out.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )
