from __future__ import annotations

from pathlib import Path


def test_delete_output_path(tmp_path):
    from data_lake_construction_and_querying_with_pyspark_spark.maintenance import (
        delete_output_path,
    )

    out = tmp_path / "result.parquet"
    out.mkdir()
    (out / "part-0000.parquet").write_bytes(b"x")
    assert delete_output_path(str(out)) is True
    assert not out.exists()
    assert delete_output_path(str(out)) is False  # idempotent


def test_clean_staging_prefix(tmp_path):
    from data_lake_construction_and_querying_with_pyspark_spark.maintenance import (
        clean_staging_prefix,
    )

    staging = tmp_path / "Unsaved" / "a" / "b"
    staging.mkdir(parents=True)
    (staging / "f1").write_text("1")
    (tmp_path / "Unsaved" / "f2").write_text("2")
    (tmp_path / "keep.txt").write_text("keep")
    assert clean_staging_prefix(str(tmp_path)) == 2
    assert not (tmp_path / "Unsaved").exists()
    assert (tmp_path / "keep.txt").exists()
    assert clean_staging_prefix(str(tmp_path)) == 0


def test_hadoop_delete(spark, tmp_path):
    from data_lake_construction_and_querying_with_pyspark_spark.maintenance import hadoop_delete

    out = str(tmp_path / "hd")
    spark.range(10).write.parquet(out)
    assert hadoop_delete(spark, out) is True
    assert not Path(out).exists()
    assert hadoop_delete(spark, out) is False


def test_preview_renders_grid(spark):
    from data_lake_construction_and_querying_with_pyspark_spark.maintenance import preview

    s = preview(spark.range(3).toDF("n"), n=2)
    assert "n" in s and "only showing top 2 rows" in s


def test_snapshot_diff_core_classifies_changes(spark):
    """Generic keyed snapshot diff: identical snapshots diff empty;
    added / removed / changed keys classify exactly."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.quality_gates import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, s string, v double"
    )
    assert snapshot_diff(old, old, "k", ["s", "v"]).count() == 0

    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "CHANGED", 30.0), (4, "d", 40.0)], "k int, s string, v double"
    )
    got = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, "k", ["s", "v"]).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_snapshot_diff_null_shift_and_delimiter_injection(spark):
    """The content hash must be null-safe and delimiter-safe: a value
    moving between columns with a NULL swap — (s='a', v=NULL) →
    (s=NULL, v='a') — is a CHANGE (plain concat_ws would render both as
    'a' and miss it), and a '|' inside a value must not collide with
    the column delimiter ((s='a|b', v='c') vs (s='a', v='b|c'))."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.quality_gates import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", None), (2, "a|b", "c"), (3, None, None)],
        "k int, s string, v string",
    )
    new = spark.createDataFrame(
        [(1, None, "a"), (2, "a", "b|c"), (3, "", "")],
        "k int, s string, v string",
    )
    got = {r["k"]: r["change_type"] for r in snapshot_diff(old, new, "k", ["s", "v"]).collect()}
    assert got == {1: "changed", 2: "changed", 3: "changed"}
    # and identical rows (including NULLs) still hash equal
    assert snapshot_diff(old, old, "k", ["s", "v"]).count() == 0
