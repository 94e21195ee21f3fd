"""Source/sink round-trips: validated CSV, partitioned Parquet,
Label Studio JSON flattening, VALUES view."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import Row, functions as F

from datamine_v2_0_spark.sources.csv_io import (
    HeaderMismatchError,
    read_csv_validated,
    write_csv_partitioned,
    write_csv_single,
)
from datamine_v2_0_spark.sources.annotations import (
    flatten_label_studio,
    read_label_studio_json,
)
from datamine_v2_0_spark.queries.base import _t
from datamine_v2_0_spark.sources.parquet_io import (
    list_partitions,
    read_parquet_pruned,
    write_parquet_partitioned,
    write_table_idempotent,
)
from datamine_v2_0_spark.sources.values_io import rows_as_view
from pyspark.sql import types as T

CSV_SCHEMA = T.StructType(
    [
        T.StructField("a", T.StringType()),
        T.StructField("b", T.IntegerType()),
        T.StructField("c", T.StringType()),
    ]
)


def test_csv_roundtrip_and_null_handling(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("a,b,c\nx,1,\ny,2,z\n")
    df = read_csv_validated(spark, str(p), CSV_SCHEMA)
    rows = df.orderBy("b").collect()
    assert rows[0]["c"] is None          # empty -> NULL
    assert rows[1]["c"] == "z"

    out = tmp_path / "out"
    write_csv_single(df, str(out))
    back = spark.read.option("header", "true").csv(str(out))
    assert back.count() == 2


def test_csv_multi_token_nulls(spark, tmp_path):
    p = tmp_path / "nulls.csv"
    p.write_text("a,b,c\nNULL,1,None\nx,2,null\n")
    df = read_csv_validated(
        spark, str(p), CSV_SCHEMA, null_tokens=["NULL", "null", "None"]
    )
    rows = df.orderBy("b").collect()
    assert rows[0]["a"] is None and rows[0]["c"] is None
    assert rows[1]["a"] == "x" and rows[1]["c"] is None


def test_csv_header_mismatch_raises(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("a,b,WRONG\nx,1,y\n")
    with pytest.raises(HeaderMismatchError):
        read_csv_validated(spark, str(p), CSV_SCHEMA)


def test_parquet_partitioned_roundtrip_and_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(k=f"d{i % 3}", v=float(i)) for i in range(30)]
    )
    path = str(tmp_path / "pq")
    write_parquet_partitioned(df, path, ["k"])

    assert list_partitions(spark, path, "k") == ["d0", "d1", "d2"]

    pruned = read_parquet_pruned(
        spark, path, columns=["v"], predicate=F.col("k") == "d1"
    )
    assert pruned.count() == 10
    # partition filter must appear as PartitionFilters in the scan, and the
    # read schema must be pruned to the projected column
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ReadSchema: struct<v:double>" in plan


def _jobs(spark, fn):
    """(fn(), the number of jobs fn launched), counted by the status
    tracker under a job group of fn's own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_registry_read_infers_a_schema_once(spark, tmp_path):
    """A table's first read in a session infers its schema (one job);
    every later read passes the remembered schema and launches none."""
    spark.range(5).write.parquet(str(tmp_path / "t.parquet"))
    first, cold = _jobs(spark, lambda: _t(spark, str(tmp_path), "t"))
    second, warm = _jobs(spark, lambda: _t(spark, str(tmp_path), "t"))
    assert cold >= 1
    assert warm == 0
    assert second.schema == first.schema
    assert second.count() == 5


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert _t(spark, str(tmp_path), "t").columns == ["id"]
    spark.createDataFrame([("x",)], "b string").write.mode("overwrite").parquet(path)
    again = _t(spark, str(tmp_path), "t")
    assert again.dtypes == [("b", "string")]
    assert [r.b for r in again.collect()] == ["x"]


def test_toggled_reader_conf_misses_the_schema_memo(spark, tmp_path):
    """spark.sql.legacy.parquet.nanosAsLong changes what a TIMESTAMP(NANOS)
    column infers to, so it is part of the memo key."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.range(3).write.parquet(str(tmp_path / "t.parquet"))
    read = lambda: _t(spark, str(tmp_path), "t")  # noqa: E731
    read()
    assert _jobs(spark, read)[1] == 0
    prev = spark.conf.get(key)
    spark.conf.set(key, "false" if prev == "true" else "true")
    try:
        assert _jobs(spark, read)[1] >= 1
    finally:
        spark.conf.set(key, prev)


def test_table_of_many_files_reads_without_the_memo(spark, tmp_path, monkeypatch):
    """Above the file-count bound the memo's listing costs more than the
    schema job it saves: every read infers, and after the first none
    lists the table."""
    from datamine_v2_0_spark.sources import parquet_io

    monkeypatch.setattr(parquet_io, "_MEMO_MAX_FILES", 2)
    spark.range(9).repartition(3).write.parquet(str(tmp_path / "t.parquet"))
    listed = []
    listing = parquet_io._listing
    monkeypatch.setattr(
        parquet_io, "_listing", lambda s, p: listed.append(p) or listing(s, p)
    )
    _t(spark, str(tmp_path), "t")
    again, jobs = _jobs(spark, lambda: _t(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert len(listed) == 1
    assert again.count() == 9


def test_memo_listing_walks_partition_directories(spark, tmp_path):
    """The memo key's listing, parsed from one rendering per directory,
    holds every data file under a partitioned table with its size."""
    from datamine_v2_0_spark.sources.parquet_io import _listing

    out = str(tmp_path / "p")
    df = spark.range(12).selectExpr("id", "id % 3 AS k").repartition(2)
    df.write.partitionBy("k").parquet(out)
    got = {(p.split(str(tmp_path), 1)[1], int(n)) for p, n, _ in _listing(spark, out)}
    want = {
        (os.path.join(d, f)[len(str(tmp_path)):], os.path.getsize(os.path.join(d, f)))
        for d, _, fs in os.walk(out)
        for f in fs
        if not f.endswith(".crc")  # the checksummed local FS hides them
    }
    assert got == want
    assert sum(p.endswith(".parquet") for p, _ in got) >= 3
    assert _listing(spark, str(tmp_path / "missing")) is None


def test_csv_partitioned_export(spark, tmp_path):
    df = spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)])
    out = str(tmp_path / "csvpart")
    write_csv_partitioned(df, out, ["k"])
    back = spark.read.option("header", "true").csv(out)
    assert {r["k"] for r in back.select("k").collect()} == {"a", "b"}


def test_label_studio_flatten(spark, tmp_path):
    tasks = [
        {
            "id": 1,
            "data": {"truck_id": "lake-605", "date": "2025-07-30"},
            "annotations": [
                {
                    "result": [
                        {
                            "type": "timeserieslabels",
                            "value": {
                                "start": "2025-07-30 01:00:00",
                                "end": "2025-07-30 01:05:00",
                                "timeserieslabels": ["load_event"],
                            },
                        },
                        {
                            "type": "other",
                            "value": {
                                "start": "x", "end": "y",
                                "timeserieslabels": ["junk"],
                            },
                        },
                    ]
                }
            ],
        }
    ]
    p = tmp_path / "tasks.json"
    p.write_text(json.dumps(tasks))
    flat = flatten_label_studio(read_label_studio_json(spark, str(p)))
    rows = flat.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["truck_id"] == "lake-605" and r["label"] == "load_event"
    assert r["end_time"] > r["start_time"]


def test_label_studio_task_writer(spark, tmp_path):
    from datamine_v2_0_spark.sources.annotations import write_label_studio_tasks

    df = spark.createDataFrame(
        [("lake-605", "2025-07-30", 1.0), ("lake-605", "2025-07-30", 2.0),
         ("lake-607", "2025-07-31", 3.0)],
        "truck_id string, date string, v double",
    )
    n = write_label_studio_tasks(df, str(tmp_path / "out"))
    assert n == 2  # one task per DISTINCT (truck, date), not per row
    task = json.loads(
        (tmp_path / "out" / "lake-605_2025-07-30_task.json").read_text()
    )
    assert task == {
        "data": {
            "truck_id": "lake-605",
            "date": "2025-07-30",
            "csv_url": "/data/local-files/?d=datamine-input/lake-605_2025-07-30.csv",
        }
    }
    assert (tmp_path / "out" / "lake-607_2025-07-31_task.json").exists()


def test_rows_as_view(spark):
    df = rows_as_view(
        spark, [("a", 1), ("b", 2)], "k string, v int", view_name="tmp_vals"
    )
    assert df.count() == 2
    assert spark.sql("SELECT SUM(v) AS s FROM tmp_vals").first()["s"] == 3


def test_write_table_idempotent_skips_unless_recreate(spark):
    """S14: a re-run leaves an existing table alone; ``recreate=True``
    replaces it."""
    first = spark.createDataFrame([(1,), (2,)], "v int")
    second = spark.createDataFrame([(9,)], "v int")
    try:
        write_table_idempotent(first, "s14_idem")
        write_table_idempotent(second, "s14_idem")
        assert sorted(r.v for r in spark.table("s14_idem").collect()) == [1, 2]
        write_table_idempotent(second, "s14_idem", recreate=True)
        assert [r.v for r in spark.table("s14_idem").collect()] == [9]
    finally:
        spark.sql("DROP TABLE IF EXISTS s14_idem")


def test_label_studio_task_writer_rejects_filename_collision(spark, tmp_path):
    from datamine_v2_0_spark.sources.annotations import write_label_studio_tasks

    df = spark.createDataFrame(
        [("A_1", "07", 1.0), ("A", "1_07", 2.0)],
        "truck_id string, date string, v double",
    )
    with pytest.raises(ValueError, match="collision"):
        write_label_studio_tasks(df, str(tmp_path / "out"))


def test_sorted_write_enables_row_group_skipping(spark, tmp_path):
    """A narrow predicate on the sort key must read a small fraction of
    the table: sorted files have non-overlapping row-group min/max, so
    the scan skips most of the data (measured via scan metrics)."""
    from datamine_v2_0_spark.sources.parquet_io import (
        scan_output_rows,
        write_sorted_for_skipping,
    )

    df = spark.range(200_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    path = str(tmp_path / "sorted")
    write_sorted_for_skipping(df, path, ["k"], num_files=8)

    q = spark.read.parquet(path).filter(
        (F.col("k") >= 1000) & (F.col("k") < 2000)
    )
    # collect() (not count()) so the metrics land on THIS plan
    assert len(q.collect()) == 1000
    read_rows = scan_output_rows(q)
    # with 8 sorted files of 25k rows each, the 1000-row range touches
    # one file; allow generous slack for row-group boundaries — but the
    # metric must be real (nonzero) and far below the 200k table
    assert 0 < read_rows <= 50_000, read_rows


def test_jsonl_corpus_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL corpus: gzipped shard write -> schema-enforced read;
    undecodable lines quarantine via PERMISSIVE instead of failing."""
    import gzip
    import os

    from datamine_v2_0_spark.sources import jsonl

    src = str(tmp_path / "corpus")
    df = spark.createDataFrame(
        [(str(i), f"doc body {i}", None) for i in range(100)],
        jsonl.corpus_schema(),
    )
    jsonl.write_jsonl_corpus(df, src, n_shards=4, compression="gzip")
    parts = [f for f in os.listdir(src) if f.startswith("part-")]
    assert len(parts) == 4 and all(f.endswith(".gz") for f in parts)

    back = jsonl.read_jsonl_corpus(spark, src, jsonl.corpus_schema())
    clean, bad = jsonl.split_corrupt(back)
    assert clean.count() == 100 and bad.count() == 0
    assert sorted(clean.columns) == ["id", "meta", "text"]

    # corrupt shard: one good line, one broken line
    dirty_dir = str(tmp_path / "dirty")
    os.makedirs(dirty_dir)
    with gzip.open(os.path.join(dirty_dir, "part-x.json.gz"), "wt") as fh:
        fh.write('{"id": "ok", "text": "fine"}\n')
        fh.write('{"id": "broken", "text": \n')
    d = jsonl.read_jsonl_corpus(spark, dirty_dir, jsonl.corpus_schema())
    clean2, bad2 = jsonl.split_corrupt(d)
    assert [r["id"] for r in clean2.collect()] == ["ok"]
    quarantined = bad2.collect()
    assert len(quarantined) == 1
    assert quarantined[0]["_corrupt_record"].startswith('{"id": "broken"')


def test_write_training_shards_layout_and_order(spark, tmp_path):
    """Sharded training-order writer: one dir per shard, rows inside a
    shard stored in position order, and the (shard, pos) assignment
    matches shard_shuffle exactly — the materialized form of the
    deterministic corpus shuffle."""
    import os

    from datamine_v2_0_spark.operators.filters import shard_shuffle
    from datamine_v2_0_spark.sources.parquet_io import write_training_shards

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    path = str(tmp_path / "shards")
    write_training_shards(df, path, "doc_id", n_shards=4, seed=7)

    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert len(dirs) == 4

    expect = {
        (r["shard"], r["pos"]): r["doc_id"]
        for r in shard_shuffle(df, "doc_id", 4, seed=7).collect()
    }
    total = 0
    for d in dirs:
        shard = int(d.split("=")[1])
        part = spark.read.parquet(os.path.join(path, d))
        rows = part.collect()  # single file per shard, stored order
        total += len(rows)
        poss = [r["pos"] for r in rows]
        assert poss == sorted(poss), "rows not stored in position order"
        for r in rows:
            assert expect[(shard, r["pos"])] == r["doc_id"]
    assert total == 500


def test_compact_parquet_partitions(spark, tmp_path):
    from datamine_v2_0_spark.sources.parquet_io import compact_parquet_partitions

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compact")
    df = spark.range(0, 1000).selectExpr(
        "id", "CAST(id % 4 AS STRING) AS part", "id * 2.0 AS v"
    )
    # fragment: 8 writer tasks per partition value -> ~32 tiny files
    df.repartition(8).write.partitionBy("part").parquet(src)
    stats = compact_parquet_partitions(spark, src, dst, "part")
    assert stats["rows"] == 1000
    assert stats["files_before"] > 8
    assert stats["files_after"] == 4  # one file per partition value
    # identical content
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dst).orderBy("id").collect()
    assert [tuple(sorted(r.asDict().items())) for r in a] == [
        tuple(sorted(r.asDict().items())) for r in b
    ]
    # maxRecordsPerFile splits genuinely large partitions
    dst2 = str(tmp_path / "compact_small")
    stats2 = compact_parquet_partitions(
        spark, src, dst2, "part", max_records_per_file=100
    )
    assert stats2["files_after"] >= 4 * 2  # 250 rows/partition, 100/file


def test_zorder_skips_on_nonleading_column(spark, tmp_path):
    """A y-range predicate prunes row groups under the Z-order layout but
    scans ~everything under an x-sorted layout — the multi-column
    data-skipping win Z-ordering exists for."""
    from pyspark.sql import functions as F

    from datamine_v2_0_spark.sources import parquet_io as pio

    n = 40_000
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("y"),
        F.col("id").alias("payload"),
    )
    lin, zo = str(tmp_path / "lin"), str(tmp_path / "zo")
    # small row groups so pruning granularity exists at this row count
    pio.write_sorted_for_skipping(df, lin, ["x"], num_files=4)
    pio.write_zordered(df, zo, ["x", "y"], num_files=4)

    def scan_rows(path):
        out = spark.read.parquet(path).filter(
            (F.col("y") >= 0) & (F.col("y") < 50)
        )
        out.collect()
        return pio.scan_output_rows(out)

    rows_lin, rows_zo = scan_rows(lin), scan_rows(zo)
    # identical result set either way
    assert (
        spark.read.parquet(lin).filter("y >= 0 and y < 50").count()
        == spark.read.parquet(zo).filter("y >= 0 and y < 50").count()
    )
    # x-sorted layout cannot prune on y; z-order must skip a large part
    assert rows_zo < rows_lin * 0.7, (rows_zo, rows_lin)


def test_zorder_rejects_single_column(spark, tmp_path):
    import pytest as _pt

    from datamine_v2_0_spark.sources import parquet_io as pio

    df = spark.range(10).selectExpr("id AS x")
    with _pt.raises(ValueError):
        pio.write_zordered(df, str(tmp_path / "z1"), ["x"])


def test_jsonl_blank_lines_quarantined(spark, tmp_path):
    """Regression: blank/whitespace lines parsed to all-NULL 'clean'
    rows — phantom empty documents entering the corpus."""
    from pyspark.sql.types import StringType, StructField, StructType

    from datamine_v2_0_spark.sources import jsonl as jl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": "a", "text": "hello"}\n'
        "\n"
        "   \n"
        "not json at all\n"
    )
    schema = StructType(
        [StructField("id", StringType()), StructField("text", StringType())]
    )
    df = jl.read_jsonl_corpus(spark, str(p), schema)
    clean, corrupt = jl.split_corrupt(df)
    assert clean.count() == 1
    assert [r.id for r in clean.collect()] == ["a"]
    assert corrupt.count() == 1  # the garbage line; blanks are filtered
