"""ORC / line-text / binaryFile sources (SURVEY §2.1 widening)."""
from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from datamine_v2_0_spark.plans.inspect import pushed_filters, read_schema
from datamine_v2_0_spark.sources.formats import (
    read_binary_files,
    read_orc_pruned,
    read_text_lines,
    write_orc,
)


def test_orc_roundtrip_partitioned(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 4).alias("bucket"),
        (F.col("id") * 2.5).alias("val"),
    )
    path = str(tmp_path / "orc")
    write_orc(df, path, partition_cols=["bucket"])
    back = spark.read.orc(path)
    assert back.count() == 1000
    assert back.filter(F.col("bucket") == 2).count() == 250


def test_orc_pushdown_and_pruning(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2.5).alias("val"), F.lit("pad").alias("pad")
    )
    path = str(tmp_path / "orc_flat")
    write_orc(df, path)
    scan = read_orc_pruned(
        spark, path, columns=["id", "val"], predicate=F.col("id") > 900
    )
    assert scan.count() == 99
    assert any("id" in f for f in pushed_filters(scan))
    cols = read_schema(scan)
    assert "pad" not in cols and "id" in cols


def test_text_lines_and_whole_files(spark, tmp_path):
    (tmp_path / "a.txt").write_text("alpha\nbeta\n")
    (tmp_path / "b.txt").write_text("gamma\n")
    lines = read_text_lines(spark, str(tmp_path / "*.txt"))
    rows = {(r["path"].rsplit("/", 1)[-1], r["value"]) for r in lines.collect()}
    assert rows == {("a.txt", "alpha"), ("a.txt", "beta"), ("b.txt", "gamma")}

    whole = read_text_lines(spark, str(tmp_path / "a.txt"), whole_files=True)
    [r] = whole.collect()
    assert r["value"] == "alpha\nbeta\n"


def test_text_lines_reads_gzip_transparently(spark, tmp_path):
    with gzip.open(tmp_path / "c.txt.gz", "wt") as f:
        f.write("zipped line\n")
    df = read_text_lines(spark, str(tmp_path / "c.txt.gz"))
    assert [r["value"] for r in df.collect()] == ["zipped line"]


def test_binary_files_metadata_and_content(spark, tmp_path):
    (tmp_path / "img1.bin").write_bytes(b"\x00\x01\x02\x03")
    (tmp_path / "img2.bin").write_bytes(b"\xff" * 100)
    (tmp_path / "skip.dat").write_bytes(b"x")
    df = read_binary_files(spark, str(tmp_path), path_glob="*.bin")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"img1.bin", "img2.bin"}
    assert rows["img1.bin"]["content"] == b"\x00\x01\x02\x03"
    assert rows["img1.bin"]["length"] == 4

    small = read_binary_files(spark, str(tmp_path), path_glob="*.bin", max_bytes=10)
    assert [r["path"].rsplit("/", 1)[-1] for r in small.collect()] == ["img1.bin"]


def test_binary_files_feed_multimodal_decode(spark, tmp_path):
    """binaryFile scan -> real PPM decode: the ingest half of the
    multimodal path runs end-to-end on an actual image payload."""
    from datamine_v2_0_spark.operators.multimodal import extract_media_features

    ppm = b"P6\n2 2\n255\n" + bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    (tmp_path / "tiny.ppm").write_bytes(ppm)
    blobs = read_binary_files(spark, str(tmp_path), path_glob="*.ppm").select(
        F.xxhash64("path").alias("media_id"),
        F.col("content").alias("payload"),
        F.lit("image").alias("media_type"),
    )
    feats = extract_media_features(blobs, decode_stub=False)
    [r] = feats.collect()
    assert r["n_bytes"] == len(ppm)
    # first 8 raster values of the decoded 2x2 RGB image
    assert r["features"] == [255.0, 0.0, 0.0, 0.0, 255.0, 0.0, 0.0, 0.0]
