"""The scan fan-out guard's metadata path (sources/readers.py)."""

from __future__ import annotations

import pytest

from data_lake_construction_and_querying_with_pyspark_spark.sources import readers


@pytest.mark.parametrize("max_pb, small", [("128MB", True), ("1g", True), ("128", False)])
def test_scan_guard_reads_max_partition_bytes_like_spark(spark, tmp_path, max_pb, small):
    """``maxPartitionBytes`` is a Spark byte string: "128MB" is 128 MiB
    (one small file cannot fill the cores), not 128 bytes."""
    path = str(tmp_path / "t.parquet")
    spark.range(100_000).coalesce(1).write.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, max_pb)
    try:
        assert readers.scan_paths_are_small(spark, (path,)) is small
    finally:
        spark.conf.set(key, old)
