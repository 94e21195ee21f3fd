from __future__ import annotations

import contextlib
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def sf_dir():
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from datamine_v2_0_spark.session import get_spark

    warehouse = tmp_path_factory.mktemp("warehouse")
    spark = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": str(warehouse)},
    )
    yield spark


@pytest.fixture
def durable_checkpoints(spark, tmp_path):
    """Context manager giving the shared session a checkpoint directory,
    so every lineage cut made inside it is durable
    (operators/ckpt.iter_checkpoint); on exit the previous setting
    returns and later cuts are local again. Yields the directory."""

    @contextlib.contextmanager
    def durable():
        sc = spark.sparkContext
        prev = sc.getCheckpointDir()
        path = tmp_path / "ckpt"
        sc.setCheckpointDir(str(path))
        try:
            yield path
        finally:
            sc.setCheckpointDir(prev)

    return durable
