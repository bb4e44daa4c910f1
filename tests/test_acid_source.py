"""The ``acid_table`` Python Data Source (sources/acid_source.py):
batch scans match the API read, the streaming source tails the commit
log exactly-once across stop/restart, rewrite commits fail loud by
default and are skippable with ignore_changes."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from data_lake_construction_and_querying_with_pyspark_spark.acid import TransactionalTable
from data_lake_construction_and_querying_with_pyspark_spark.sources.acid_source import (
    register_acid_source,
)


def _batch(spark, lo, hi, flag="a"):
    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), F.lit(flag).alias("flag"))
        .coalesce(1)
    )


@pytest.fixture()
def table(spark, tmp_path):
    register_acid_source(spark)
    t = TransactionalTable.create(str(tmp_path / "t"))
    return t


def test_batch_format_matches_api_read(spark, table):
    table.append(spark, _batch(spark, 0, 5))
    table.append(spark, _batch(spark, 5, 8, "b"))
    via_format = spark.read.format("acid_table").option("path", table.root).load()
    assert via_format.columns == ["k", "flag"]
    got = {(r["k"], r["flag"]) for r in via_format.collect()}
    want = {(r["k"], r["flag"]) for r in table.read(spark).collect()}
    assert got == want and len(got) == 8


def test_batch_format_reads_pre_evolution_files_with_nulls(spark, table):
    table.append(spark, _batch(spark, 0, 2))
    table.append(
        spark, _batch(spark, 2, 4).withColumn("score", F.lit(1.5)), merge_schema=True
    )
    got = {
        (r["k"], r["score"])
        for r in spark.read.format("acid_table")
        .option("path", table.root)
        .load()
        .collect()
    }
    assert got == {(0, None), (1, None), (2, 1.5), (3, 1.5)}


def _drain(spark, table, cp, expected_rows, **opts):
    """Run the stream until ``expected_rows`` arrive, return the rows.
    foreachBatch sink (checkpoint-recoverable, unlike memory); Python
    stream sources don't support Trigger.AvailableNow yet, so poll the
    default micro-batch trigger and stop."""
    rows: list = []
    reader = spark.readStream.format("acid_table").option("path", table.root)
    for k, v in opts.items():
        reader = reader.option(k, v)

    def sink(batch_df, _batch_id):
        rows.extend((r["k"], r["flag"]) for r in batch_df.collect())

    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", cp)
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if len(rows) >= expected_rows:
                break
            time.sleep(0.3)
        else:
            raise AssertionError(f"timed out waiting for {expected_rows} rows, got {rows}")
        time.sleep(1.0)  # settle: prove nothing further arrives
    finally:
        q.stop()
        q.awaitTermination(30)
    return rows


def test_stream_tails_commit_log_exactly_once(spark, table, tmp_path):
    cp = str(tmp_path / "cp")
    table.append(spark, _batch(spark, 0, 5))
    table.append(spark, _batch(spark, 5, 8, "b"))
    got = set(_drain(spark, table, cp, 8))
    assert got == {(i, "a") for i in range(5)} | {(i, "b") for i in range(5, 8)}

    # restart from the SAME checkpoint: only the new commit is emitted
    table.append(spark, _batch(spark, 8, 10, "c"))
    got2 = _drain(spark, table, cp, 2)
    assert sorted(got2) == [(8, "c"), (9, "c")]  # no replay of 0..7


def test_stream_raises_on_rewrite_unless_ignored(spark, table, tmp_path):
    table.append(spark, _batch(spark, 0, 6), stats_cols=("k",))
    table.delete_where(spark, "k < 2", prune={"k": (None, 1)})
    table.append(spark, _batch(spark, 10, 12, "z"))

    q = (
        spark.readStream.format("acid_table")
        .option("path", table.root)
        .load()
        .writeStream.format("memory")
        .queryName("acid_fail")
        .option("checkpointLocation", str(tmp_path / "cp_fail"))
        .start()
    )
    with pytest.raises(Exception, match="rewrite commit"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed on the delete commit")

    got = set(
        _drain(spark, table, str(tmp_path / "cp_skip"), 8, ignore_changes="true")
    )
    # appends-only view: the delete's rewrite commit is skipped entirely
    assert got == {(i, "a") for i in range(6)} | {(10, "z"), (11, "z")}


def test_schema_required(spark, tmp_path):
    register_acid_source(spark)
    t = TransactionalTable.create(str(tmp_path / "empty"))
    with pytest.raises(Exception, match="no committed schema"):
        spark.read.format("acid_table").option("path", t.root).load().collect()


def test_batch_pushdown_prunes_files(spark, table):
    """df.filter on the acid_table format skips files via the log's
    stats+blooms with no explicit prune API: the reader's partitions()
    shrink, and results stay exact because every filter is also
    applied row-level as a residual."""
    for i in range(4):
        table.append(
            spark,
            spark.range(400)
            .select((F.col("id") * 4 + i).alias("k"), F.lit(f"f{i}").alias("flag"))
            .coalesce(1),
            stats_cols=("k",),
            bloom_cols=("k",),
        )
    df = spark.read.format("acid_table").option("path", table.root).load()

    # exact results through the pushdown path
    got = [(r["k"], r["flag"]) for r in df.filter("k = 202").collect()]
    assert got == [(202, "f2")]
    got_range = sorted(r["k"] for r in df.filter("k >= 1590").collect())
    assert got_range == list(range(1590, 1600))

    # and the pruning really happened: drive the reader directly
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual
    from data_lake_construction_and_querying_with_pyspark_spark.sources.acid_source import (
        _AcidBatchReader,
        _table_schema,
    )

    r = _AcidBatchReader(table.root, _table_schema(table.root))
    assert len(r.partitions()) == 4  # no filters: all files
    r = _AcidBatchReader(table.root, _table_schema(table.root))
    residual = list(r.pushFilters([EqualTo(("k",), 202)]))
    assert len(residual) == 1  # everything stays row-level residual
    assert len(r.partitions()) <= 2  # bloom keeps f2 (+ ≤1 false positive)
    r = _AcidBatchReader(table.root, _table_schema(table.root))
    list(r.pushFilters([GreaterThanOrEqual(("k",), 1590)]))
    # stats prune: every file's max is ≥1590? files are interleaved so
    # ALL files straddle high keys — range pushdown keeps all 4 here,
    # which is exactly why the bloom path exists
    assert len(r.partitions()) == 4


def test_batch_scan_pruning_every_file_returns_no_rows(spark, table):
    """A pushed filter that prunes every file leaves no partition, and
    PySpark then reads one ``None`` partition: the scan yields zero
    rows instead of failing on it."""
    table.append(spark, _batch(spark, 1, 3), stats_cols=("k",))
    df = spark.read.format("acid_table").option("path", table.root).load()
    assert df.filter(F.col("k") > 5).count() == 0


def test_batch_time_travel_version_and_timestamp(spark, table):
    table.append(spark, _batch(spark, 0, 3))  # v1
    table.append(spark, _batch(spark, 3, 6, "b"))  # v2
    ts_after_v2 = time.time()
    time.sleep(0.05)
    table.append(  # v3: evolves the schema
        spark,
        _batch(spark, 6, 9, "c").withColumn("score", F.lit(1.0)),
        merge_schema=True,
    )

    def rd(**opts):
        r = spark.read.format("acid_table").option("path", table.root)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    v1 = rd(version_as_of="1")
    # historical read sees the schema AS OF that version — no `score`
    assert v1.columns == ["k", "flag"]
    assert {r["k"] for r in v1.collect()} == {0, 1, 2}

    by_ts = rd(timestamp_as_of=str(ts_after_v2))
    assert "score" not in by_ts.columns
    assert {r["k"] for r in by_ts.collect()} == set(range(6))

    latest = rd()
    assert "score" in latest.columns and latest.count() == 9

    # pushed filters compose with the historical snapshot
    assert [r["k"] for r in rd(version_as_of="2").filter("k >= 4").collect()] == [4, 5]


def test_batch_time_travel_option_errors(spark, table):
    table.append(spark, _batch(spark, 0, 2))
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("acid_table")
            .option("path", table.root)
            .option("version_as_of", "1")
            .option("timestamp_as_of", "0")
            .load()
            .collect()
        )
    with pytest.raises(Exception, match="predates every commit"):
        (
            spark.read.format("acid_table")
            .option("path", table.root)
            .option("timestamp_as_of", "100.0")
            .load()
            .collect()
        )


def _drain_cdc(spark, table, cp, expected_rows):
    rows: list = []
    q = (
        spark.readStream.format("acid_table")
        .option("path", table.root)
        .option("read_changes", "true")
        .load()
        .writeStream.foreachBatch(
            lambda bdf, _b: rows.extend(
                (r["k"], r["flag"], r["_change_type"], r["_commit_version"])
                for r in bdf.collect()
            )
        )
        .option("checkpointLocation", cp)
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and len(rows) < expected_rows:
            time.sleep(0.3)
        time.sleep(1.0)  # settle: prove nothing further arrives
        assert q.exception() is None
    finally:
        q.stop()
        q.awaitTermination(30)
    return rows


def test_stream_read_changes_matches_batch_change_feed(spark, table, tmp_path):
    """read_changes turns the stream into a row-level CDC feed equal to
    the batch TransactionalTable.changes() over the same commit range:
    appends are tagged inserts, a DELETE emits deletes for exactly the
    removed rows (rewritten survivors cancel in the bag diff), and a
    compaction commit contributes nothing."""
    table.append(spark, _batch(spark, 0, 5), stats_cols=("k",))  # v1
    table.delete_where(spark, "k < 2", prune={"k": (None, 1)})  # v2 rewrite
    table.append(spark, _batch(spark, 10, 12, "z"))  # v3
    table.compact(spark)  # v4 rewrite, zero row change

    got = sorted(_drain_cdc(spark, table, str(tmp_path / "cp"), 9))
    want = sorted(
        (r["k"], r["flag"], r["_change_type"], r["_commit_version"])
        for r in table.changes(spark, 0).collect()
    )
    assert got == want
    assert sum(1 for r in got if r[2] == "delete") == 2
    assert all(r[3] != 4 for r in got)  # compaction silent


def test_stream_partitions_open_no_commit_at_or_below_start(table, monkeypatch):
    """Planning the stream range ``(start, end]`` reads only the commits
    inside it: the commit files at or below ``start`` are made
    unreadable, and every open of a log file is recorded (a root test
    run reads through mode 000)."""
    import builtins

    from pyspark.sql.types import LongType, StructField, StructType

    from data_lake_construction_and_querying_with_pyspark_spark.sources.acid_source import (
        _AcidStreamReader,
    )

    for v in range(1, 8):
        entry = {"add": [{"file": f"data/f{v}.parquet", "rows": 1}], "op": {"op": "append"}}
        assert table._try_create(v, entry)
    reader = _AcidStreamReader(table.root, StructType([StructField("k", LongType())]), {})

    start, end = 4, 6
    opened = []
    real_open = builtins.open

    def recording_open(path, *a, **kw):
        if str(path).startswith(table.log_path):
            opened.append(os.path.basename(str(path)))
        return real_open(path, *a, **kw)

    old = [os.path.join(table.log_path, f"{v:020d}.json") for v in range(1, start + 1)]
    for path in old:
        os.chmod(path, 0o000)
    try:
        with monkeypatch.context() as m:
            m.setattr(builtins, "open", recording_open)
            parts = reader.partitions({"version": start}, {"version": end})
    finally:
        for path in old:
            os.chmod(path, 0o644)

    assert [os.path.basename(p.path) for p in parts] == ["f5.parquet", "f6.parquet"]
    assert opened == [f"{v:020d}.json" for v in range(start + 1, end + 1)]


def test_stream_read_changes_update_and_restart(spark, table, tmp_path):
    """An UPDATE surfaces as delete(old)+insert(new); a checkpoint
    restart emits only commits after the last batch."""
    cp = str(tmp_path / "cp")
    table.append(spark, _batch(spark, 0, 4), stats_cols=("k",))  # v1
    got = _drain_cdc(spark, table, cp, 4)
    assert {r[2] for r in got} == {"insert"}

    table.update_where(  # v2: rewrite touching one file
        spark, "k = 1", {"flag": "'upd'"}, prune={"k": (1, 1)}
    )
    got2 = sorted(_drain_cdc(spark, table, cp, 2))
    assert got2 == [(1, "a", "delete", 2), (1, "upd", "insert", 2)]


def test_read_changes_option_errors(spark, table):
    table.append(spark, _batch(spark, 0, 2))
    with pytest.raises(Exception, match="not both"):
        (
            spark.readStream.format("acid_table")
            .option("path", table.root)
            .option("read_changes", "true")
            .option("ignore_changes", "true")
            .load()
        )
    with pytest.raises(Exception, match="STREAMING option"):
        (
            spark.read.format("acid_table")
            .option("path", table.root)
            .option("read_changes", "true")
            .load()
            .collect()
        )
