"""The scan fan-out rule (sources/readers.py::fan_out_small_scan) and the
``load_table`` plan memo."""

from __future__ import annotations

import pytest

from data_lake_construction_and_querying_with_pyspark_spark.sources import readers


def _fanned_out(df) -> bool:
    return "REPARTITION_BY_NUM" in df._jdf.queryExecution().executedPlan().toString()


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
        out = readers.fan_out_small_scan(spark.read.parquet(path), "id")
        assert _fanned_out(out) is small
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("one_file", [True, False])
def test_derived_frame_gets_the_scans_decision(spark, tmp_path, one_file):
    """A frame derived from a scan — here the scan unioned with a
    filtered copy of itself — reads the same input files, so it gets
    the scan's decision: fan out over one small file, leave alone over
    ``defaultParallelism`` files."""
    path = str(tmp_path / "t.parquet")
    n = 1 if one_file else spark.sparkContext.defaultParallelism
    spark.range(10_000).repartition(n).write.parquet(path)
    scan = spark.read.parquet(path)
    derived = scan.unionByName(scan.filter("id % 2 = 0"))
    assert _fanned_out(readers.fan_out_small_scan(scan, "id")) is one_file
    assert _fanned_out(readers.fan_out_small_scan(derived, "id")) is one_file


def test_frame_without_input_files_is_unchanged(spark):
    df = spark.range(10)
    assert readers.fan_out_small_scan(df, "id") is df


def test_load_table_rereads_a_table_rewritten_in_place(spark, tmp_path):
    """The plan memo keeps the table path's modification time: a table
    overwritten within the application is read afresh, and its memo
    entry is replaced rather than added beside the old one."""
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/region.parquet"
    spark.range(3).write.parquet(path)
    assert {r.id for r in readers.load_table(spark, sf_dir, "region").collect()} == {0, 1, 2}

    spark.range(10, 14).write.mode("overwrite").parquet(path)
    got = {r.id for r in readers.load_table(spark, sf_dir, "region").collect()}
    assert got == {10, 11, 12, 13}
    key = (spark.sparkContext.applicationId, sf_dir, "region")
    assert [k for k in readers._TABLE_PLAN_CACHE if k[1] == sf_dir] == [key]
