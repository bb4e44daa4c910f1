"""ACID-lite transactional table (acid.py): commit-log semantics,
snapshot isolation / time travel, and — the point of the module —
that two racing writers CANNOT corrupt the table or lose a committed
update (VERDICT r4 "What's missing" #4)."""

from __future__ import annotations

import json
import os
import threading

import pytest

from data_lake_construction_and_querying_with_pyspark_spark.acid import (
    CHECKPOINT_EVERY,
    CommitConflict,
    SchemaMismatch,
    TransactionalTable,
)


@pytest.fixture()
def table(tmp_path):
    return TransactionalTable.create(str(tmp_path / "t"))


def _batch(spark, lo, hi, flag="a"):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), F.lit(flag).alias("flag"))
        .coalesce(1)
    )


def _rows(df):
    return {(r["k"], r["flag"]) for r in df.collect()}


def test_append_read_history(spark, table):
    v1 = table.append(spark, _batch(spark, 0, 5))
    v2 = table.append(spark, _batch(spark, 5, 8, "b"))
    assert (v1, v2) == (1, 2)
    got = _rows(table.read(spark))
    assert got == {(i, "a") for i in range(5)} | {(i, "b") for i in range(5, 8)}
    ops = table.history()
    assert [o["op"] for o in ops] == ["append", "append"]
    # add-actions carry file stats (rows from the parquet footer)
    snap = table.snapshot()
    assert snap.version == 2 and len(snap.files) >= 2


def test_time_travel_pins_old_versions(spark, table):
    table.append(spark, _batch(spark, 0, 5))
    table.overwrite(spark, _batch(spark, 100, 103, "z"))
    table.append(spark, _batch(spark, 103, 104, "z"))
    assert _rows(table.read(spark, version=1)) == {(i, "a") for i in range(5)}
    assert _rows(table.read(spark, version=2)) == {(i, "z") for i in range(100, 103)}
    assert _rows(table.read(spark)) == {(i, "z") for i in range(100, 104)}
    # empty table at version 0
    assert table.read(spark, version=0).count() == 0


def test_merge_upsert_update_insert_delete(spark, table):
    from pyspark.sql import functions as F

    table.append(spark, _batch(spark, 0, 6))
    updates = (
        spark.range(4, 9)
        .select(
            F.col("id").alias("k"),
            F.lit("new").alias("flag"),
            (F.col("id") == 5).alias("is_del"),
        )
        .coalesce(1)
    )
    table.merge_upsert(spark, updates, ["k"], delete_col="is_del")
    got = _rows(table.read(spark))
    assert got == {(i, "a") for i in range(4)} | {(4, "new"), (6, "new"), (7, "new"), (8, "new")}


def test_merge_into_empty_table(spark, table):
    from pyspark.sql import functions as F

    updates = spark.range(3).select(F.col("id").alias("k"), F.lit("x").alias("flag"))
    table.merge_upsert(spark, updates, ["k"])
    assert table.read(spark).count() == 3


def test_version_race_has_exactly_one_winner(table):
    """The atomic primitive itself: 16 threads target the same version;
    exactly one O_EXCL create succeeds."""
    wins = []
    barrier = threading.Barrier(16)

    def contend(i):
        barrier.wait()
        if table._try_create(1, {"add": [], "op": {"op": f"w{i}"}}):
            wins.append(i)

    ts = [threading.Thread(target=contend, args=(i,)) for i in range(16)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(wins) == 1


def test_concurrent_appends_lose_nothing(spark, table):
    """8 threads append disjoint batches concurrently; every batch must
    be present afterwards (appends commute — the retry loop absorbs
    version races without dropping a commit)."""
    errs = []

    def work(i):
        try:
            table.append(spark, _batch(spark, 10 * i, 10 * i + 10, f"t{i}"))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert table.snapshot().version == 8
    got = _rows(table.read(spark))
    assert got == {(10 * i + j, f"t{i}") for i in range(8) for j in range(10)}


def test_overwrite_absorbs_append_but_conflicts_with_rewrite(spark, table):
    table.append(spark, _batch(spark, 0, 5))
    # simulate: writer A snapshots, writer B's append lands first
    snap_before = table.snapshot()
    adds = table._stage_files(spark, _batch(spark, 50, 55, "A"))
    table.append(spark, _batch(spark, 90, 92, "B"))  # interloper
    entry = {
        "add": adds,
        "remove": [{"file": f} for f in snap_before.files],
        "op": {"op": "overwrite"},
    }
    assert not table._try_create(snap_before.version + 1, entry)  # lost the race
    # the public API retries with the enlarged remove set and succeeds
    table.overwrite(spark, _batch(spark, 50, 55, "A"))
    assert _rows(table.read(spark)) == {(i, "A") for i in range(50, 55)}

    # a rewrite racing a rewrite must raise, not silently clobber
    snap = table.snapshot()
    table.merge_upsert(spark, _batch(spark, 50, 51, "M"), ["k"])  # intervening rewrite

    class Stale(TransactionalTable):
        """First snapshot() (the one the overwrite plans against) is
        the pre-merge file list; later calls see reality — modeling a
        writer that planned before the merge committed."""

        calls = 0

        def snapshot(self, version=None):
            s = super().snapshot(version=version)
            Stale.calls += 1
            if Stale.calls == 1:
                return snap  # pre-merge version AND file list
            return s

    stale = Stale(table.root)
    with pytest.raises(CommitConflict):
        stale.overwrite(spark, _batch(spark, 0, 1, "C"))


def test_merge_recomputes_after_conflict(spark, table):
    """A merge that loses its commit race recomputes from the fresh
    snapshot — the final state must reflect BOTH the interloper's
    append and the merge, serialized."""
    table.append(spark, _batch(spark, 0, 4))

    interfered = []
    orig = table._try_create

    def racing_create(version, entry):
        if entry.get("op", {}).get("op") == "merge" and not interfered:
            interfered.append(True)
            orig(version, {"add": table._stage_files(spark, _batch(spark, 100, 101, "late")), "op": {"op": "append"}})
        return orig(version, entry)

    table._try_create = racing_create
    table.merge_upsert(spark, _batch(spark, 2, 6, "m"), ["k"])
    got = _rows(table.read(spark))
    assert got == {(0, "a"), (1, "a"), (2, "m"), (3, "m"), (4, "m"), (5, "m"), (100, "late")}


def test_compact_preserves_content_and_aborts_cleanly(spark, table):
    for i in range(5):
        table.append(spark, _batch(spark, i * 3, i * 3 + 3))
    before = _rows(table.read(spark))
    nfiles_before = len(table.snapshot().files)
    v = table.compact(spark)
    assert v is not None
    assert _rows(table.read(spark)) == before
    assert len(table.snapshot().files) < nfiles_before

    # abort path: a commit sneaks in under the compaction → compact
    # returns None and changes nothing
    orig = table._try_create

    def sabotage(version, entry):
        if entry.get("op", {}).get("op") == "compact":
            orig(version, {"add": [], "op": {"op": "append"}})
        return orig(version, entry)

    table._try_create = sabotage
    assert table.compact(spark) is None
    table._try_create = orig
    assert _rows(table.read(spark)) == before


def test_crash_orphans_invisible_then_vacuumed(spark, table):
    table.append(spark, _batch(spark, 0, 3))
    # a crashed writer: files staged into data/, no log entry
    table._stage_files(spark, _batch(spark, 500, 600, "ghost"))
    assert table.read(spark).count() == 3  # invisible to readers
    assert table.vacuum(retention_seconds=3600) == 0  # retention protects
    n = table.vacuum(retention_seconds=0)
    assert n >= 1
    assert _rows(table.read(spark)) == {(i, "a") for i in range(3)}
    # vacuum never touches files some version references (time travel)
    table.overwrite(spark, _batch(spark, 9, 10, "o"))
    table.vacuum(retention_seconds=0)
    assert _rows(table.read(spark, version=1)) == {(i, "a") for i in range(3)}


def test_checkpoint_written_and_equivalent(spark, table):
    for i in range(CHECKPOINT_EVERY + 2):
        table.append(spark, _batch(spark, i, i + 1))
    cps = [f for f in os.listdir(table.log_path) if f.endswith(".checkpoint.json")]
    assert cps, "no checkpoint after CHECKPOINT_EVERY commits"
    # checkpointed snapshot == pure-replay snapshot
    with_cp = table.snapshot()
    for cp in cps:
        os.unlink(os.path.join(table.log_path, cp))
    assert table.snapshot().files == with_cp.files
    assert table.read(spark).count() == CHECKPOINT_EVERY + 2


def test_log_entries_are_json_with_stats(table, spark):
    table.append(spark, _batch(spark, 0, 7))
    with open(os.path.join(table.log_path, f"{1:020d}.json")) as fh:
        entry = json.load(fh)
    assert sum(a["rows"] for a in entry["add"]) == 7
    assert all(a["bytes"] > 0 for a in entry["add"])


def test_append_records_min_max_stats(spark, table):
    table.append(spark, _batch(spark, 10, 20), stats_cols=("k",))
    snap = table.snapshot()
    stats = [snap.meta[f].get("stats", {}) for f in snap.files]
    assert all("k" in s for s in stats)
    los = min(s["k"][0] for s in stats)
    his = max(s["k"][1] for s in stats)
    assert (los, his) == (10, 19)


def test_delete_where_skips_disjoint_files(spark, table):
    """The data-skipping contract: files whose stats interval cannot
    intersect the prune interval are neither read nor rewritten — their
    add-actions survive the delete commit BY NAME."""
    table.append(spark, _batch(spark, 0, 50), stats_cols=("k",))
    table.append(spark, _batch(spark, 100, 150, "b"), stats_cols=("k",))
    high_files = {
        f for f in table.snapshot().files
        if table.snapshot().meta[f]["stats"]["k"][0] >= 100
    }
    assert high_files
    v = table.delete_where(spark, "k < 25", prune={"k": (None, 24)})
    assert v == 3
    snap = table.snapshot()
    # untouched-by-name: every high file survived the rewrite
    assert high_files <= set(snap.files)
    # and the log records how many files skipping saved
    op = [o for o in table.history() if o.get("op") == "delete"][0]
    assert op["skipped_files"] == len(high_files)
    got = _rows(table.read(spark))
    assert got == {(i, "a") for i in range(25, 50)} | {(i, "b") for i in range(100, 150)}


def test_delete_where_noop_when_all_files_pruned(spark, table):
    table.append(spark, _batch(spark, 0, 10), stats_cols=("k",))
    v_before = table.snapshot().version
    assert table.delete_where(spark, "k > 500", prune={"k": (501, None)}) is None
    assert table.snapshot().version == v_before  # no empty commit


def test_delete_without_prune_rewrites_everything_same_result(spark, table):
    table.append(spark, _batch(spark, 0, 50), stats_cols=("k",))
    table.append(spark, _batch(spark, 100, 150, "b"), stats_cols=("k",))
    files_before = set(table.snapshot().files)
    table.delete_where(spark, "k < 25")
    snap = table.snapshot()
    assert files_before.isdisjoint(snap.files)  # all rewritten
    got = _rows(table.read(spark))
    assert got == {(i, "a") for i in range(25, 50)} | {(i, "b") for i in range(100, 150)}


def test_delete_null_condition_keeps_row(spark, table):
    """SQL DML semantics: a NULL predicate does NOT delete the row."""
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 2, F.col("id")).alias("flag"),  # NULL for k>=2
    ).coalesce(1)
    table.append(spark, df)
    table.delete_where(spark, "flag >= 1")  # NULL >= 1 is NULL → keep
    assert {r["k"] for r in table.read(spark).collect()} == {0, 2, 3}


def test_delete_preserves_time_travel(spark, table):
    table.append(spark, _batch(spark, 0, 10), stats_cols=("k",))
    table.delete_where(spark, "k < 5", prune={"k": (None, 4)})
    assert {r["k"] for r in table.read(spark, version=1).collect()} == set(range(10))
    assert {r["k"] for r in table.read(spark).collect()} == set(range(5, 10))


def test_read_prune_skips_files(spark, table):
    table.append(spark, _batch(spark, 0, 50), stats_cols=("k",))
    table.append(spark, _batch(spark, 100, 150, "b"), stats_cols=("k",))
    pruned = table.read(spark, prune={"k": (120, 130)})
    # superset of matches, but only from non-skipped files
    ks = {r["k"] for r in pruned.collect()}
    assert set(range(120, 131)) <= ks
    assert ks <= set(range(100, 150))  # the low file never scanned


def test_delete_conflict_recomputes(spark, table):
    """An append landing between a delete's snapshot and its commit
    must not be lost: the delete recomputes from the fresh snapshot."""
    table.append(spark, _batch(spark, 0, 10), stats_cols=("k",))

    interfered = []
    orig = table._try_create

    def racing_create(version, entry):
        if entry.get("op", {}).get("op") == "delete" and not interfered:
            interfered.append(True)
            orig(
                version,
                {
                    "add": table._stage_files(spark, _batch(spark, 3, 4, "late")),
                    "op": {"op": "append"},
                },
            )
        return orig(version, entry)

    table._try_create = racing_create
    table.delete_where(spark, "k < 5", prune={"k": (None, 4)})
    got = _rows(table.read(spark))
    assert got == {(i, "a") for i in range(5, 10)}  # late (3,'late') deleted too


def test_schema_drift_rejected_before_writing(spark, table):
    """One misconfigured upstream job cannot fork the table schema:
    an append with an extra column, a missing column, or a changed
    type raises BEFORE any file lands."""
    from pyspark.sql import functions as F

    table.append(spark, _batch(spark, 0, 3))
    files_before = set(table.snapshot().files)

    extra = _batch(spark, 3, 5).withColumn("extra", F.lit(1))
    with pytest.raises(SchemaMismatch, match="extra"):
        table.append(spark, extra)
    with pytest.raises(SchemaMismatch, match="missing"):
        table.append(spark, _batch(spark, 3, 5).drop("flag"))
    retyped = spark.range(3, 5).select(
        F.col("id").cast("int").alias("k"), F.lit("a").alias("flag")
    )
    with pytest.raises(SchemaMismatch, match="type change"):
        table.append(spark, retyped, merge_schema=True)  # not even evolution

    assert set(table.snapshot().files) == files_before  # nothing landed
    assert len(os.listdir(table.data_path)) == len(files_before)  # no orphans


def test_schema_evolution_adds_column(spark, table):
    from pyspark.sql import functions as F

    table.append(spark, _batch(spark, 0, 2))
    evolved = _batch(spark, 2, 4).withColumn("score", F.lit(1.5))
    table.append(spark, evolved, merge_schema=True)
    got = {(r["k"], r["flag"], r["score"]) for r in table.read(spark).collect()}
    assert got == {(0, "a", None), (1, "a", None), (2, "a", 1.5), (3, "a", 1.5)}
    # evolution tolerates subset writes afterwards (score reads NULL)
    table.append(spark, _batch(spark, 4, 5), merge_schema=True)
    assert table.read(spark).columns == ["k", "flag", "score"]
    assert {r["k"] for r in table.read(spark).collect()} == set(range(5))
    # time travel sees the PRE-evolution schema
    assert table.read(spark, version=1).columns == ["k", "flag"]


def test_schema_survives_checkpoint_and_overwrite_redefines(spark, table):
    from pyspark.sql import functions as F

    for i in range(CHECKPOINT_EVERY + 1):
        table.append(spark, _batch(spark, i, i + 1))
    assert table.snapshot().schema is not None
    # overwrite is the sanctioned type change
    retyped = spark.range(2).select(
        F.col("id").cast("int").alias("k"), F.lit(9.9).alias("flag")
    )
    table.overwrite(spark, retyped)
    assert [f.dataType.simpleString() for f in table.read(spark).schema.fields] == [
        "int",
        "double",
    ]
    with pytest.raises(SchemaMismatch):
        table.append(spark, _batch(spark, 0, 1))  # old shape now rejected


def test_merge_schema_evolution_in_merge_upsert(spark, table):
    from pyspark.sql import functions as F

    table.append(spark, _batch(spark, 0, 4))
    updates = spark.range(2, 6).select(
        F.col("id").alias("k"), F.lit("m").alias("flag"), F.lit(7).alias("v2")
    )
    with pytest.raises(SchemaMismatch):
        table.merge_upsert(spark, updates, ["k"])
    table.merge_upsert(spark, updates, ["k"], merge_schema=True)
    got = {(r["k"], r["flag"], r["v2"]) for r in table.read(spark).collect()}
    assert got == {(0, "a", None), (1, "a", None)} | {(i, "m", 7) for i in range(2, 6)}


def test_empty_table_read_carries_schema_after_full_delete(spark, table):
    table.append(spark, _batch(spark, 0, 3))
    table.delete_where(spark, "k >= 0")
    df = table.read(spark)
    assert df.count() == 0
    assert df.columns == ["k", "flag"]


def test_update_where_values_and_skipping(spark, table):
    """UPDATE's RHS sees the OLD row, NULL conditions leave rows
    untouched, pruning preserves disjoint files by name, and the
    result schema is bit-identical to the committed one."""
    from pyspark.sql import functions as F

    table.append(spark, _batch(spark, 0, 50), stats_cols=("k",))
    table.append(spark, _batch(spark, 100, 150, "b"), stats_cols=("k",))
    high_files = {
        f for f in table.snapshot().files
        if table.snapshot().meta[f]["stats"]["k"][0] >= 100
    }
    schema_before = table.read(spark).schema
    table.update_where(
        spark,
        "k < 10",
        {"flag": "concat(flag, '!')", "k": "k + 1000"},
        prune={"k": (None, 9)},
    )
    snap = table.snapshot()
    assert high_files <= set(snap.files)  # untouched by name
    op = [o for o in table.history() if o.get("op") == "update"][0]
    assert op["skipped_files"] == len(high_files)
    got = _rows(table.read(spark))
    assert got == (
        {(i + 1000, "a!") for i in range(10)}  # RHS saw the old k
        | {(i, "a") for i in range(10, 50)}
        | {(i, "b") for i in range(100, 150)}
    )
    assert table.read(spark).schema == schema_before


def test_update_unknown_column_rejected(spark, table):
    table.append(spark, _batch(spark, 0, 3))
    with pytest.raises(SchemaMismatch, match="nope"):
        table.update_where(spark, "k = 0", {"nope": "1"})


def test_update_null_condition_untouched(spark, table):
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 2, F.col("id")).alias("flag"),  # NULL for k>=2
    ).coalesce(1)
    table.append(spark, df)
    table.update_where(spark, "flag >= 0", {"k": "k + 100"})
    assert {r["k"] for r in table.read(spark).collect()} == {100, 101, 2, 3}


def test_clustered_compact_enables_skipping(spark, table):
    """OPTIMIZE-style clustered compaction: appends whose files each
    span the FULL key range (stats useless — every file may-match any
    interval) become range-disjoint files after compact(cluster_by),
    so pruned reads and DML actually skip."""
    from pyspark.sql import functions as F

    from data_lake_construction_and_querying_with_pyspark_spark.acid import _may_match

    evens = spark.range(0, 1000, 2).select(F.col("id").alias("k"), F.lit("a").alias("flag")).coalesce(1)
    odds = spark.range(1, 1000, 2).select(F.col("id").alias("k"), F.lit("b").alias("flag")).coalesce(1)
    table.append(spark, evens, stats_cols=("k",))
    table.append(spark, odds, stats_cols=("k",))
    before = {(r["k"], r["flag"]) for r in table.read(spark).collect()}

    def may_match_count(prune):
        snap = table.snapshot()
        return sum(
            _may_match(snap.meta.get(f, {}).get("stats"), prune) for f in snap.files
        )

    narrow = {"k": (0, 99)}
    assert may_match_count(narrow) == 2  # interleaved: stats exclude nothing

    v = table.compact(spark, cluster_by=("k",), n_files=4)
    assert v is not None
    snap = table.snapshot()
    assert len(snap.files) == 4
    assert {(r["k"], r["flag"]) for r in table.read(spark).collect()} == before
    # range-clustered files: a 10% key interval hits ≤2 of 4 files
    # (≥1 always; 2 allows an approxQuantile boundary straddle)
    assert 1 <= may_match_count(narrow) <= 2
    # and DML skips the rest
    table.delete_where(spark, "k < 100", prune={"k": (None, 99)})
    op = [o for o in table.history() if o.get("op") == "delete"][0]
    assert op["skipped_files"] >= 2
    got = {r["k"] for r in table.read(spark).collect()}
    assert got == set(range(100, 1000))


def test_change_feed_rowlevel(spark, table):
    """CDC across the DML family: appends are metadata-only inserts,
    UPDATE = delete(old)+insert(new), DELETE = deletes, compaction
    contributes NOTHING, and replaying the feed over an old snapshot
    reproduces the latest state (the incremental-consumer contract)."""
    table.append(spark, _batch(spark, 0, 5))                       # v1
    table.append(spark, _batch(spark, 5, 8, "b"), stats_cols=("k",))  # v2
    table.update_where(spark, "k = 1", {"flag": "'u'"})            # v3
    table.delete_where(spark, "k >= 6", prune={"k": (6, None)})    # v4
    assert table.compact(spark) == 5                               # v5: no-op feed

    ch = table.changes(spark, 0)
    rows = [(r["k"], r["flag"], r["_change_type"], r["_commit_version"]) for r in ch.collect()]
    by_v = {}
    for k, flag, typ, v in rows:
        by_v.setdefault(v, set()).add((k, flag, typ))
    assert by_v[1] == {(i, "a", "insert") for i in range(5)}
    assert by_v[2] == {(i, "b", "insert") for i in range(5, 8)}
    assert by_v[3] == {(1, "a", "delete"), (1, "u", "insert")}
    assert by_v[4] == {(6, "b", "delete"), (7, "b", "delete")}
    assert 5 not in by_v  # compaction: zero logical changes

    # incremental-consumer replay: state(v2) + feed(2→latest) == latest
    state = [(r["k"], r["flag"]) for r in table.read(spark, version=2).collect()]
    for k, flag, typ, _ in sorted(
        [(r["k"], r["flag"], r["_change_type"], r["_commit_version"])
         for r in table.changes(spark, 2).collect()],
        key=lambda t: t[3],
    ):
        if typ == "insert":
            state.append((k, flag))
        else:
            state.remove((k, flag))
    latest = [(r["k"], r["flag"]) for r in table.read(spark).collect()]
    assert sorted(state) == sorted(latest)


def test_change_feed_empty_range(spark, table):
    table.append(spark, _batch(spark, 0, 3))
    ch = table.changes(spark, 1)  # nothing after v1
    assert ch.count() == 0
    assert set(ch.columns) == {"k", "flag", "_change_type", "_commit_version"}


def test_streaming_acid_append_exactly_once(spark, tmp_path):
    """Drain a 4-file source through streaming_acid_append twice with
    the SAME checkpoint (second run replays nothing) and once with a
    FRESH checkpoint (full replay): the replayed batches must be
    skipped by committed batch_id, leaving every row exactly once."""
    from pyspark.sql import functions as F

    from data_lake_construction_and_querying_with_pyspark_spark.streaming.sinks import (
        streaming_acid_append,
    )

    src = str(tmp_path / "src")
    spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g")
    ).repartition(4, "g").write.parquet(src)

    root = str(tmp_path / "acid_table")

    def drain(cp: str):
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_acid_append(stream, root, str(tmp_path / cp))
        q.awaitTermination()

    drain("cp1")
    t = TransactionalTable(root)
    rows = {r["k"] for r in t.read(spark).collect()}
    assert rows == set(range(40))
    v1 = t.snapshot().version

    drain("cp1")  # same checkpoint: source exhausted, no new batches
    assert t.snapshot().version == v1

    drain("cp2")  # fresh checkpoint: full replay — batch_ids already committed
    assert {r["k"] for r in t.read(spark).collect()} == set(range(40))
    assert t.snapshot().version == v1
    ops = [o for o in t.history() if o.get("op") == "stream_append"]
    assert sorted(o["batch_id"] for o in ops) == list(range(len(ops)))


def test_bloom_point_delete_skips_unprunable_files(spark, table):
    """The takedown case: keys are interleaved across files so RANGE
    stats cannot exclude anything, but per-file blooms skip every file
    that cannot contain the one deleted id (false positives may add a
    file; false negatives never happen)."""
    from pyspark.sql import functions as F

    # 4 files, each holding k % 4 == i — every file spans [i, 396+i]
    for i in range(4):
        table.append(
            spark,
            spark.range(400).select(
                (F.col("id") * 4 + i).alias("k"), F.lit(f"f{i}").alias("flag")
            ).coalesce(1),
            stats_cols=("k",),
            bloom_cols=("k",),
        )
    target = 202  # lives in file f2 only
    # range stats alone cannot prune: every file's [min,max] straddles 202
    snap = table.snapshot()
    from data_lake_construction_and_querying_with_pyspark_spark.acid import _may_match

    assert all(
        _may_match(snap.meta[f]["stats"], {"k": (target, target)}) for f in snap.files
    )
    table.delete_where(
        spark, f"k = {target}", prune_eq={"k": target}
    )
    op = [o for o in table.history() if o.get("op") == "delete"][0]
    assert op["skipped_files"] >= 2  # blooms excluded (almost) everything else
    got = {r["k"] for r in table.read(spark).collect()}
    assert target not in got and len(got) == 1599


def test_bloom_read_prune_eq(spark, table):
    from pyspark.sql import functions as F

    for i in range(4):
        table.append(
            spark,
            spark.range(200).select(
                (F.col("id") * 4 + i).alias("k"), F.lit(f"f{i}").alias("flag")
            ).coalesce(1),
            bloom_cols=("k",),
        )
    pruned = table.read(spark, prune_eq={"k": 41})
    flags = {r["flag"] for r in pruned.collect()}
    assert "f1" in flags  # 41 % 4 == 1: its file always survives
    assert len(flags) <= 2  # at most one false-positive file joins it
    assert 41 in {r["k"] for r in pruned.collect()}


def test_checkpoints_build_incrementally_without_ops(table):
    """The checkpoint builder starts from the PREVIOUS checkpoint and
    stores live-file state only: (a) a mid-history time travel that
    lands between checkpoints equals the hand-replayed live set, (b)
    checkpoints carry no accumulated ops payload (the measured
    quadratic-log term, docs/SCALING.md), and (c) history() still
    returns every commit's op record."""
    live: dict[int, set] = {}
    cur: set = set()
    n = CHECKPOINT_EVERY * 2 + 5
    for v in range(1, n + 1):
        entry = {
            "add": [{"file": f"data/f{v}.parquet", "rows": 1, "bytes": 10}],
            "op": {"operation": "append", "i": v},
        }
        if v > 3:
            entry["remove"] = [{"file": f"data/f{v - 3}.parquet"}]
            cur.discard(f"data/f{v - 3}.parquet")
        cur.add(f"data/f{v}.parquet")
        assert table._try_create(v, entry)
        live[v] = set(cur)

    cps = sorted(
        f for f in os.listdir(table.log_path) if f.endswith(".checkpoint.json")
    )
    assert len(cps) == 2
    for cp in cps:
        with open(os.path.join(table.log_path, cp)) as fh:
            state = json.load(fh)
        assert "ops" not in state
        assert set(state["files"]) == live[int(cp.split(".")[0])]

    # time travel between/before/after checkpoints replays correctly
    for v in (3, CHECKPOINT_EVERY, CHECKPOINT_EVERY + 7, n):
        snap = table.snapshot(version=v)
        assert set(snap.files) == live[v], v
        assert snap.version == v

    hist = table.history()
    assert [h["version"] for h in hist] == list(range(1, n + 1))
    assert all(h["operation"] in ("append",) for h in hist)


def test_stream_batch_ids_incremental(table):
    """The exactly-once sinks' replay check is INCREMENTAL: a scan from
    the cached high-water mark opens only the commits that landed since
    (the ADVICE r5 O(n²)-per-stream fix), returns exactly the new
    stream_append batch ids, and composes to the full set."""
    for v in range(1, 6):
        op = (
            {"op": "stream_append", "batch_id": v * 10}
            if v % 2
            else {"op": "append"}
        )
        assert table._try_create(v, {"add": [], "op": op})

    ids, hi = table.stream_batch_ids()
    assert ids == {10, 30, 50} and hi == 5

    # no new commits: nothing scanned, mark unchanged
    ids2, hi2 = table.stream_batch_ids(after_version=hi)
    assert ids2 == set() and hi2 == 5

    # two more commits: only the delta comes back
    assert table._try_create(6, {"add": [], "op": {"op": "stream_append", "batch_id": 60}})
    assert table._try_create(7, {"add": [], "op": {"op": "append"}})
    ids3, hi3 = table.stream_batch_ids(after_version=hi)
    assert ids3 == {60} and hi3 == 7

    # the incremental scan must not OPEN old commit files: make them
    # unreadable and re-scan from the mark
    for v in range(1, 8):
        os.chmod(os.path.join(table.log_path, f"{v:020d}.json"), 0o000)
    try:
        ids4, hi4 = table.stream_batch_ids(after_version=7)
        assert ids4 == set() and hi4 == 7
    finally:
        for v in range(1, 8):
            os.chmod(os.path.join(table.log_path, f"{v:020d}.json"), 0o644)


def test_head_snapshot_never_lists_the_log(table, monkeypatch):
    """VERDICT r6 directive #7: with the Delta-paper ``_last_checkpoint``
    pointer, a HEAD snapshot on a long log costs one pointer read + one
    checkpoint read + O(commits since checkpoint) forward probes — and
    ZERO directory listings (the expensive unit on an object store).
    Time travel still lists (it needs the newest checkpoint at or
    below an arbitrary version) — asserted as the documented contrast."""
    import data_lake_construction_and_querying_with_pyspark_spark.acid as acid_mod

    n = CHECKPOINT_EVERY * 12 + 3  # 123 commits, newest checkpoint at 120
    for v in range(1, n + 1):
        assert table._try_create(v, {"add": [], "op": {"op": "append"}})

    real_listdir = os.listdir
    real_open = open
    counts = {"listdir": 0, "opens": 0}

    def counting_listdir(path):
        if os.path.abspath(str(path)) == os.path.abspath(table.log_path):
            counts["listdir"] += 1
        return real_listdir(path)

    def counting_open(path, *a, **kw):
        if str(path).startswith(table.log_path):
            counts["opens"] += 1
        return real_open(path, *a, **kw)

    monkeypatch.setattr(acid_mod.os, "listdir", counting_listdir)
    monkeypatch.setattr(acid_mod, "open", counting_open, raising=False)

    snap = table.snapshot()
    assert snap.version == n and len(snap.ops) == 3  # replay window only
    assert counts["listdir"] == 0, "head load listed the log directory"
    # pointer + checkpoint + 3 new commits = 5 opens
    assert counts["opens"] == 5, counts

    # old commit files are not even STATted below the checkpoint: make
    # them unreadable and re-load the head (mirrors the
    # stream_batch_ids contract test)
    for v in range(1, CHECKPOINT_EVERY * 12 + 1):
        os.chmod(os.path.join(table.log_path, f"{v:020d}.json"), 0o000)
    try:
        snap2 = table.snapshot()
        assert snap2.version == n and set(snap2.files) == set(snap.files)
    finally:
        for v in range(1, CHECKPOINT_EVERY * 12 + 1):
            os.chmod(os.path.join(table.log_path, f"{v:020d}.json"), 0o644)

    # time travel takes the listing path by design
    counts["listdir"] = 0
    assert table.snapshot(version=CHECKPOINT_EVERY + 2).version == CHECKPOINT_EVERY + 2
    assert counts["listdir"] > 0


def test_snapshot_without_pointer_falls_back(table):
    """A pre-pointer table (or a deleted pointer) still loads via the
    listing path — the pointer is an optimization, not a correctness
    dependency."""
    for v in range(1, CHECKPOINT_EVERY + 3):
        assert table._try_create(v, {"add": [], "op": {"op": "append"}})
    ptr = os.path.join(table.log_path, "_last_checkpoint")
    assert os.path.exists(ptr)  # checkpoint at CHECKPOINT_EVERY wrote it
    os.unlink(ptr)
    snap = table.snapshot()
    assert snap.version == CHECKPOINT_EVERY + 2


def _stream_append(spark, table, tmp_path):
    from data_lake_construction_and_querying_with_pyspark_spark.streaming.sinks import (
        streaming_acid_append,
    )

    src = str(tmp_path / "src")
    _batch(spark, 60, 70, "s").write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    streaming_acid_append(stream, table.root, str(tmp_path / "cp")).awaitTermination()


def _format_append(spark, table, tmp_path):
    from data_lake_construction_and_querying_with_pyspark_spark.sources.acid_source import (
        register_acid_source,
    )

    register_acid_source(spark)
    writer = _batch(spark, 60, 70, "w").write.format("acid_table").option("path", table.root)
    writer.mode("append").save()


_POLICY_WRITERS = {
    "merge_upsert": lambda spark, t, _: t.merge_upsert(spark, _batch(spark, 45, 55, "m"), ["k"]),
    "overwrite": lambda spark, t, _: t.overwrite(spark, _batch(spark, 0, 50, "o")),
    "update_where": lambda spark, t, _: t.update_where(spark, "k >= 40", {"flag": "'u'"}),
    "compact": lambda spark, t, _: t.compact(spark),
    "streaming_acid_append": _stream_append,
    "acid_table_format_append": _format_append,
}


@pytest.mark.parametrize("writer", sorted(_POLICY_WRITERS))
def test_every_writer_applies_the_table_stats_policy(spark, table, tmp_path, writer):
    """The stats columns are a TABLE property declared once: every
    writer — none of which is told the columns — leaves ``k`` stats on
    every live file, so a later pruned DELETE still skips files."""
    table.append(spark, _batch(spark, 0, 50), stats_cols=("k",))  # declares the policy
    table.append(spark, _batch(spark, 100, 150, "b"))  # inherits it
    _POLICY_WRITERS[writer](spark, table, tmp_path)
    snap = table.snapshot()
    assert snap.files and all("k" in snap.meta[f].get("stats", {}) for f in snap.files)
    table.append(spark, _batch(spark, 200, 210, "z"))
    assert table.delete_where(spark, "k >= 200", prune={"k": (200, None)}) is not None
    assert table.history()[-1]["skipped_files"] >= 1
    assert max(r["k"] for r in table.read(spark).collect()) < 200


def test_stats_policy_survives_checkpoint(spark, table):
    """Declared at v1, the policy rides the checkpoint: with v1's log
    entry unreadable, the head snapshot (``_last_checkpoint`` path)
    still applies it to the next writer."""
    table.append(spark, _batch(spark, 0, 10), stats_cols=("k",), bloom_cols=("k",))
    for v in range(2, CHECKPOINT_EVERY + 2):
        assert table._try_create(v, {"add": [], "op": {"op": "append"}})
    assert table._read_last_checkpoint()[0] == CHECKPOINT_EVERY
    first = os.path.join(table.log_path, f"{1:020d}.json")
    os.chmod(first, 0o000)
    try:
        table.merge_upsert(spark, _batch(spark, 5, 15, "m"), ["k"])
        snap = table.snapshot()
    finally:
        os.chmod(first, 0o644)
    assert all({"stats", "blooms"} <= snap.meta[f].keys() for f in snap.files)
    assert snap.policy == {"stats": ["k"], "blooms": ["k"]}
