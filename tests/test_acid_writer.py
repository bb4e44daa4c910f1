"""The ``acid_table`` writer surface (sources/acid_source.py): batch
append/overwrite through ``df.write.format("acid_table")`` and
EXACTLY-ONCE streaming appends through ``df.writeStream`` — both
committing through the same atomic log primitive as the
``TransactionalTable`` API, with schema enforcement, data-skipping
metadata, and batch-id replay dedup."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from data_lake_construction_and_querying_with_pyspark_spark.acid import TransactionalTable
from data_lake_construction_and_querying_with_pyspark_spark.sources.acid_source import (
    _AcidStreamWriter,
    register_acid_source,
)


def _frame(spark, lo, hi, flag="a"):
    return spark.range(lo, hi).select(F.col("id").alias("k"), F.lit(flag).alias("flag"))


@pytest.fixture()
def root(spark, tmp_path):
    register_acid_source(spark)
    return str(tmp_path / "t")


def _write(df, root, mode="append", **opts):
    w = df.write.format("acid_table").option("path", root).mode(mode)
    for k, v in opts.items():
        w = w.option(k, v)
    w.save()


def test_batch_append_matches_api_read(spark, root):
    _write(_frame(spark, 0, 5), root)
    _write(_frame(spark, 5, 8, "b"), root)
    t = TransactionalTable(root)
    got = {(r["k"], r["flag"]) for r in t.read(spark).collect()}
    assert got == {(i, "a") for i in range(5)} | {(i, "b") for i in range(5, 8)}
    assert [o.get("op") for o in t.history()] == ["append", "append"]
    # interoperates with the API append and the format read
    t.append(spark, _frame(spark, 8, 9, "c").coalesce(1))
    via_format = spark.read.format("acid_table").option("path", root).load()
    assert via_format.count() == 9


def test_batch_overwrite_replaces_and_redefines_schema(spark, root):
    _write(_frame(spark, 0, 5), root)
    old_files = set(TransactionalTable(root).snapshot().files)
    _write(
        spark.range(3).select(F.col("id").alias("k"), F.col("id").cast("double").alias("score")),
        root,
        mode="overwrite",
    )
    t = TransactionalTable(root)
    got = {(r["k"], r["score"]) for r in t.read(spark).collect()}
    assert got == {(0, 0.0), (1, 1.0), (2, 2.0)}
    # every pre-overwrite file left the snapshot (no dangling references)
    assert not (set(t.snapshot().files) & old_files)
    assert [o.get("op") for o in t.history()] == ["append", "overwrite"]


def test_batch_schema_enforcement_and_evolution(spark, root):
    _write(_frame(spark, 0, 2), root)
    with pytest.raises(Exception, match="schema drift|SchemaMismatch"):
        _write(spark.range(1).select(F.col("id").alias("wrong")), root)
    # drift must not commit anything or leave files dangling
    t = TransactionalTable(root)
    assert [o.get("op") for o in t.history()] == ["append"]
    live = {os.path.join(t.root, f) for f in t.snapshot().files}
    on_disk = {
        os.path.join(t.data_path, f) for f in os.listdir(t.data_path)
    }
    assert on_disk == live
    # column addition evolves under merge_schema and old rows read NULL
    _write(
        _frame(spark, 2, 4, "b").withColumn("score", F.lit(1.5)),
        root,
        merge_schema="true",
    )
    got = {(r["k"], r["score"]) for r in t.read(spark).collect()}
    assert got == {(0, None), (1, None), (2, 1.5), (3, 1.5)}


def test_batch_writer_records_skipping_metadata(spark, root):
    _write(
        _frame(spark, 0, 100).coalesce(1), root, stats_cols="k", bloom_cols="k"
    )
    t = TransactionalTable(root)
    (meta,) = t.snapshot().meta.values()
    assert meta["stats"]["k"] == [0, 99]
    assert "k" in meta["blooms"]
    # a pushed point filter prunes to files whose bloom may match
    _write(_frame(spark, 1000, 1100, "b").coalesce(1), root, stats_cols="k", bloom_cols="k")
    df = spark.read.format("acid_table").option("path", root).load()
    assert [(r["k"], r["flag"]) for r in df.filter("k = 1050").collect()] == [(1050, "b")]
    # writer-landed add-actions carry exactly what the API append records
    # for the same rows: both are built by one helper
    api = TransactionalTable.create(root + "_api")
    api.append(spark, _frame(spark, 0, 100).coalesce(1), stats_cols=("k",), bloom_cols=("k",))
    (api_meta,) = api.snapshot().meta.values()
    assert (meta["stats"], meta["blooms"]) == (api_meta["stats"], api_meta["blooms"])
    # a write without options inherits the table's policy
    _write(_frame(spark, 2000, 2010, "c").coalesce(1), root)
    (newest,) = [m for m in t.snapshot().meta.values() if m["stats"]["k"] == [2000, 2009]]
    assert "k" in newest["blooms"]


def test_batch_writer_skips_empty_partitions(spark, root):
    # 32-way range with 5 rows: most tasks are empty and must not land
    # 0-row files (they'd match every prune interval forever)
    _write(spark.range(0, 5).select(F.col("id").alias("k")), root)
    t = TransactionalTable(root)
    assert all(a["rows"] > 0 for a in t.snapshot().meta.values())
    assert t.read(spark).count() == 5


def _feed(spark, src, lo, hi, flag):
    (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), F.lit(flag).alias("flag"))
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )


def _run_stream_until(spark, src, root, cp, expected_rows):
    stream = (
        spark.readStream.schema("k long, flag string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.format("acid_table")
        .option("path", root)
        .option("checkpointLocation", cp)
        .start()
    )
    t = TransactionalTable(root)
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if t.read(spark).count() >= expected_rows:
                    break
            except Exception:
                pass  # table may not have a schema yet
            time.sleep(0.5)
        else:
            raise AssertionError(f"timed out waiting for {expected_rows} rows")
        time.sleep(1.0)  # settle
    finally:
        q.stop()
        q.awaitTermination(30)


def test_stream_writer_exactly_once_across_restart(spark, root, tmp_path):
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    os.makedirs(src)
    _feed(spark, src, 0, 10, "a")
    _feed(spark, src, 10, 20, "b")
    _run_stream_until(spark, src, root, cp, 20)
    t = TransactionalTable(root)
    ops = [(o.get("op"), o.get("batch_id")) for o in t.history()]
    assert ops == [("stream_append", 0), ("stream_append", 1)]

    # restart from the SAME checkpoint with one more file: only the new
    # batch lands; nothing from batches 0-1 is duplicated
    _feed(spark, src, 20, 25, "c")
    _run_stream_until(spark, src, root, cp, 25)
    got = {(r["k"], r["flag"]) for r in t.read(spark).collect()}
    want = (
        {(i, "a") for i in range(10)}
        | {(i, "b") for i in range(10, 20)}
        | {(i, "c") for i in range(20, 25)}
    )
    assert got == want
    batch_ids = [o.get("batch_id") for o in t.history()]
    assert sorted(batch_ids) == batch_ids and len(set(batch_ids)) == len(batch_ids)


def test_stream_writer_replay_skips_and_abandons(spark, root, tmp_path):
    import pyarrow as pa

    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    os.makedirs(src)
    _feed(spark, src, 0, 5, "a")
    _run_stream_until(spark, src, root, cp, 5)
    t = TransactionalTable(root)
    schema = spark.read.format("acid_table").option("path", root).load().schema

    # simulate the crash-replay of committed batch 0: executors re-wrote
    # the files, then the driver's commit must skip AND clean them up
    w = _AcidStreamWriter(t.root, schema, {})
    msg = w.write(iter([pa.RecordBatch.from_pydict({"k": [999], "flag": ["z"]})]))
    v0 = t.snapshot().version
    w.commit([msg], 0)
    assert t.snapshot().version == v0
    assert not os.path.exists(os.path.join(t.root, msg.adds[0]["file"]))
    assert t.read(spark).count() == 5

    # a NEW batch id commits normally
    msg2 = w.write(iter([pa.RecordBatch.from_pydict({"k": [999], "flag": ["z"]})]))
    w.commit([msg2], 1)
    assert t.read(spark).count() == 6


def test_stream_writer_feeds_stream_reader(spark, root, tmp_path):
    """The two streaming halves compose: a stream lands through the
    writer, a second stream tails the same table's commit log."""
    src, cp_w, cp_r = str(tmp_path / "src"), str(tmp_path / "cp_w"), str(tmp_path / "cp_r")
    os.makedirs(src)
    _feed(spark, src, 0, 8, "a")
    _run_stream_until(spark, src, root, cp_w, 8)

    rows: list = []
    q = (
        spark.readStream.format("acid_table")
        .option("path", root)
        .load()
        .writeStream.foreachBatch(
            lambda bdf, _bid: rows.extend((r["k"], r["flag"]) for r in bdf.collect())
        )
        .option("checkpointLocation", cp_r)
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and len(rows) < 8:
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert set(rows) == {(i, "a") for i in range(8)}


def test_stream_writer_commit_retries_through_version_race(spark, root, tmp_path):
    """A concurrent commit landing between the stream writer's snapshot
    and its version create must not lose the batch: the commit loop
    retries at the next free version (appends commute)."""
    import pyarrow as pa

    from data_lake_construction_and_querying_with_pyspark_spark.sources.acid_source import (
        _AcidStreamWriter,
    )

    _write(_frame(spark, 0, 3), root)
    t = TransactionalTable(root)
    schema = spark.read.format("acid_table").option("path", root).load().schema
    w = _AcidStreamWriter(t.root, schema, {})
    msg = w.write(iter([pa.RecordBatch.from_pydict({"k": [7], "flag": ["s"]})]))
    # occupy the version the commit will try first (a racing writer won)
    v0 = t.snapshot().version
    assert t._try_create(v0 + 1, {"add": [], "op": {"op": "append", "ts": 0.0}})
    w.commit([msg], 7)
    ops = [(o.get("op"), o.get("batch_id")) for o in t.history()]
    assert ("stream_append", 7) in ops
    assert t.snapshot().version == v0 + 2  # landed AFTER the racer
    assert t.read(spark).count() == 4
