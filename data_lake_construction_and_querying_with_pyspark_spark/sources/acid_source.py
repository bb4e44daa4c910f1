"""Spark Python Data Source for the ACID transactional table
(:mod:`..acid`) — Spark 4's ``pyspark.sql.datasource`` API, so the
table is readable as a first-class format::

    register_acid_source(spark)
    spark.read.format("acid_table").option("path", root).load()
    spark.readStream.format("acid_table").option("path", root).load()

Batch read scans the current snapshot (one input partition per live
data file — Spark parallelizes across them like any file source), or a
HISTORICAL one: ``.option("version_as_of", N)`` /
``.option("timestamp_as_of", ts)`` pin both the file set and the
committed schema to that commit (see ``_resolve_as_of``).

The STREAMING read turns the commit log into an exactly-once
micro-batch source: offsets ARE commit versions, each trigger covers
the commit range ``(start, end]``, and every append commit's files are
emitted exactly once. This is the idiomatic lakehouse pattern (the
Delta streaming-source design): the transaction log already totally
orders commits, so no extra bookkeeping is needed — a crash replays
from the checkpointed version, and file immutability makes the replay
identical.

Rewrite commits (merge / delete / update / overwrite / compact) are
NOT expressible as pure appends; by default the stream RAISES when it
meets one (fail-loud, like Delta without ``ignoreChanges``). With
``.option("ignore_changes", "true")`` rewrite commits are skipped
entirely — appends-only tailing — which is exact for tables whose
rewrites only remove or reorganize rows already emitted (dedup
compaction, retention deletes). With ``.option("read_changes",
"true")`` the stream becomes a row-level CHANGE FEED (Delta CDF
streaming): every row carries ``_change_type`` (insert | delete) and
``_commit_version``; append commits stay metadata-only (their files
emit as tagged inserts — no diff runs), and each rewrite commit
bag-diffs exactly the files it touched on an executor, so compaction
emits nothing and an UPDATE emits delete(old)+insert(new) — the
streaming twin of ``TransactionalTable.changes()``, same cost model.

Executor-side ``read`` goes straight to pyarrow: files whose columns
match the committed schema stream as Arrow record batches (zero-copy
into Spark); files predating a schema evolution fall back to row
tuples with NULLs for the missing columns.

The format is also WRITABLE — batch and streaming::

    df.write.format("acid_table").option("path", root).mode("append").save()
    df.write.format("acid_table").option("path", root).mode("overwrite").save()
    df.writeStream.format("acid_table").option("path", root) \
        .option("checkpointLocation", cp).start()   # EXACTLY-ONCE

Writers are Arrow-batched (``DataSourceArrowWriter`` /
``DataSourceStreamArrowWriter`` — no per-row Python): each non-empty
task lands one immutable parquet file under ``data/``, invisible until
the driver's ``commit`` references every task's files in ONE atomic
log entry. Both writers' appends commit through the API's own append
commit (``TransactionalTable._commit_append``: schema enforcement,
policy widening, version-race retry), and batch overwrite through its
``_commit_overwrite`` conflict rules. The streaming writer records the
micro-batch id inside the commit entry (op ``stream_append``) so
checkpoint replays are detected and skipped. It is the engine's ONE
exactly-once streaming append: ``streaming.sinks.streaming_acid_append``
is a thin wrapper that starts it, so that sink enforces the table's
committed schema like every other writer (a drifted micro-batch raises
``SchemaMismatch`` and its files are removed), and, as for every
``acid_table`` read or write, this package must be importable by the
Python workers. Every landed
file carries the table's data-skipping policy (the add-actions come
from the same ``TransactionalTable._add_action`` as the API writers').
Options: ``stats_cols`` / ``bloom_cols`` (comma-separated) declare
columns into that policy, like ``TransactionalTable.append``'s
arguments; ``merge_schema`` permits column-addition evolution.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from data_lake_construction_and_querying_with_pyspark_spark.acid import (
    DATA_DIR,
    SchemaMismatch,
    TransactionalTable,
    _widen,
)


@dataclass
class _FilePartition(InputPartition):
    path: str  # absolute parquet path
    columns: tuple  # committed schema field names, in order
    # (change, version) appended as the two CDC metadata columns — an
    # append commit's file read as tagged inserts, the metadata-only
    # CDC fast path (no diff runs); None reads the data columns only
    tag: tuple | None = None


@dataclass
class _CdcDiffPartition(InputPartition):
    """One REWRITE commit (merge/delete/update/overwrite/compact): the
    executor bag-diffs exactly the files the commit touched — added
    rows minus removed rows are inserts, removed minus added are
    deletes, unchanged rows (compaction) cancel out. One partition per
    rewrite commit: the diff needs both sides of that commit in one
    place, and a rewrite touches O(changed data), not the table."""

    added: tuple  # absolute parquet paths
    removed: tuple
    columns: tuple
    version: int


def _read_file(partition: _FilePartition):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(partition.path)
    names = list(partition.columns)
    tag = partition.tag or ()
    if set(table.column_names) >= set(names):
        # fast path: Arrow batches, columns pruned + reordered to schema,
        # the CDC tag appended as constant columns (no per-row Python)
        t = table.select(names)
        if tag:
            change, version = tag
            t = t.append_column("_change_type", pa.array([change] * t.num_rows, pa.string()))
            t = t.append_column("_commit_version", pa.array([version] * t.num_rows, pa.int64()))
        yield from t.to_batches()
        return
    # pre-evolution file: tuple fallback with NULLs for missing columns
    for row in table.to_pylist():
        yield tuple(row.get(n) for n in names) + tag


def _row_tuples(path: str, columns: tuple) -> list[tuple]:
    """Rows of one file as hashable tuples (lists → tuples, recursively)
    under the committed column order — the bag-diff's currency."""
    import pyarrow.parquet as pq

    def hashable(v):
        return tuple(hashable(x) for x in v) if isinstance(v, list) else v

    table = pq.read_table(path)
    names = list(columns)
    return [
        tuple(hashable(row.get(c)) for c in names) for row in table.to_pylist()
    ]


def _read_diff(partition: _CdcDiffPartition):
    """Executor-side bag difference of one rewrite commit — the
    in-process twin of ``TransactionalTable.changes()``'s exceptAll
    pair, over exactly the files that commit touched."""
    from collections import Counter

    added: Counter = Counter()
    for p in partition.added:
        added.update(_row_tuples(p, partition.columns))
    removed: Counter = Counter()
    for p in partition.removed:
        removed.update(_row_tuples(p, partition.columns))
    v = partition.version
    for row, n in (added - removed).items():
        for _ in range(n):
            yield row + ("insert", v)
    for row, n in (removed - added).items():
        for _ in range(n):
            yield row + ("delete", v)


def _table_schema(root: str, version: int | None = None) -> StructType:
    snap = TransactionalTable(root).snapshot(version=version)
    if snap.schema is None:
        raise ValueError(
            f"acid_table at {root!r} has no committed schema "
            "(empty table, or written by a pre-schema version) — "
            "append through the TransactionalTable API first"
        )
    return StructType.fromJson(snap.schema)


def _resolve_as_of(root: str, options: dict) -> int | None:
    """TIME TRAVEL option resolution for the batch reader: pin the scan
    to a historical snapshot. ``version_as_of`` is a commit version
    (the log's own coordinate); ``timestamp_as_of`` resolves to the
    LAST commit whose op timestamp is ≤ the bound — epoch seconds or an
    ISO-8601 string (naive strings are read as UTC: commit ``ts`` is
    ``time.time()``, wall-clock-zone-free). Both the file set AND the
    committed schema come from that snapshot, so a read as of v sees
    exactly what a reader at v saw — later column additions included
    not at all (the Delta semantics)."""
    v_opt, ts_opt = options.get("version_as_of"), options.get("timestamp_as_of")
    if v_opt is not None and ts_opt is not None:
        raise ValueError("pass version_as_of OR timestamp_as_of, not both")
    if v_opt is not None:
        return int(v_opt)
    if ts_opt is None:
        return None
    try:
        bound = float(ts_opt)
    except ValueError:
        import datetime

        dt = datetime.datetime.fromisoformat(str(ts_opt))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        bound = dt.timestamp()
    eligible = [
        o["version"]
        for o in TransactionalTable(root).history()
        if o.get("ts") is not None and o["ts"] <= bound
    ]
    if not eligible:
        raise ValueError(
            f"timestamp_as_of={ts_opt!r} predates every commit of the "
            f"acid_table at {root!r}"
        )
    return max(eligible)


class _AcidBatchReader(DataSourceReader):
    def __init__(self, root: str, schema: StructType, as_of: int | None = None):
        self.root = root
        self.columns = tuple(schema.fieldNames())
        self.as_of = as_of
        self._prune: dict = {}
        self._prune_eq: dict = {}

    def pushFilters(self, filters):
        """Translate pushed comparison filters into log-level file
        skipping: equalities feed the bloom + stats point check,
        range comparisons tighten per-column [lo, hi] intervals
        (inclusive bounds even for strict comparisons — pruning must
        stay a SUPERSET). Every filter is returned as a residual:
        Spark still applies it row-level, exactly as parquet's own
        row-group pruning composes with post-scan filters — so a
        plain ``df.filter("k = 202")`` on ``format("acid_table")``
        never opens files whose bloom proves 202 absent, with zero
        API surface for the user to hold."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        def tighten(col, lo=None, hi=None):
            cur_lo, cur_hi = self._prune.get(col, (None, None))
            if lo is not None and (cur_lo is None or lo > cur_lo):
                cur_lo = lo
            if hi is not None and (cur_hi is None or hi < cur_hi):
                cur_hi = hi
            self._prune[col] = (cur_lo, cur_hi)

        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col, val = attr[0], getattr(f, "value", None)
            if val is None:
                continue
            if isinstance(f, EqualTo):
                self._prune_eq[col] = val
                tighten(col, lo=val, hi=val)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                tighten(col, lo=val)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                tighten(col, hi=val)
        return iter(filters)  # all residual: row-level truth is Spark's

    def partitions(self):
        snap = TransactionalTable(self.root).snapshot(version=self.as_of)
        return [
            _FilePartition(os.path.join(self.root, f), self.columns)
            for f in snap.matching(self._prune, self._prune_eq)
        ]

    def read(self, partition):
        # a scan whose every file was pruned plans one None partition
        # (PySpark's planner never runs zero read tasks)
        if partition is not None:
            yield from _read_file(partition)


class _AcidStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, schema: StructType, options: dict):
        self.root = root
        self.read_changes = str(options.get("read_changes", "false")).lower() == "true"
        self.ignore_changes = str(options.get("ignore_changes", "false")).lower() == "true"
        if self.read_changes and self.ignore_changes:
            raise ValueError("pass read_changes OR ignore_changes, not both")
        cols = tuple(schema.fieldNames())
        if self.read_changes:
            # the declared stream schema carries the CDC metadata
            # columns; the DATA columns are everything before them
            cols = tuple(c for c in cols if c not in ("_change_type", "_commit_version"))
        self.columns = cols
        self.start_version = int(options.get("starting_version", 0))

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        return {"version": TransactionalTable(self.root).snapshot().version}

    def partitions(self, start: dict, end: dict):
        parts = []
        commits = TransactionalTable(self.root)._commits(start["version"], end["version"])
        for v, entry in commits:
            added = [
                os.path.join(self.root, a["file"])
                for a in entry.get("add", [])
                if a.get("rows")
            ]
            if not entry.get("remove"):
                tag = ("insert", v) if self.read_changes else None
                parts.extend(_FilePartition(p, self.columns, tag) for p in added)
                continue
            if self.read_changes:
                # one partition per rewrite commit: the bag diff needs
                # both sides of THAT commit together, and a rewrite
                # touches O(changed data), never the whole table
                parts.append(
                    _CdcDiffPartition(
                        added=tuple(added),
                        removed=tuple(
                            os.path.join(self.root, r["file"])
                            for r in entry.get("remove", [])
                        ),
                        columns=self.columns,
                        version=v,
                    )
                )
                continue
            if self.ignore_changes:
                continue
            op = entry.get("op", {}).get("op", "?")
            raise ValueError(
                f"acid_table stream hit a rewrite commit (version {v}, "
                f"op={op!r}); pass .option('read_changes', 'true') for "
                "row-accurate CDC, .option('ignore_changes', 'true') to "
                "skip rewrites, or consume TransactionalTable.changes() "
                "in batch"
            )
        # a trigger with no new files still needs ≥0 partitions; Spark
        # handles an empty list as an empty micro-batch
        return parts

    def read(self, partition):
        if isinstance(partition, _CdcDiffPartition):
            yield from _read_diff(partition)
        else:
            yield from _read_file(partition)

    def commit(self, end: dict) -> None:
        # the streaming checkpoint owns progress; nothing to persist here
        pass


@dataclass
class _AcidWriteMessage(WriterCommitMessage):
    # {"file": ...} of each data file this task landed; the driver's
    # commit completes them into full add-actions
    adds: tuple


class _AcidWriterCore:
    """Shared executor-side write + driver-side helpers for the batch
    and streaming writers.

    Executor ``write`` receives ARROW RecordBatches (the
    ``DataSourceArrowWriter`` fast path — no Row objects, no
    per-row Python) and lands them as ONE immutable uuid-named parquet
    file per non-empty task directly under ``data/``. The file is
    invisible until a log entry references it — exactly the
    ``_stage_files`` contract, minus the extra staging-directory hop
    (the executor write IS the staging). A task that dies mid-file
    leaves an unreferenced orphan that ``vacuum()`` collects; the
    committed table never sees it.

    The driver's ``commit`` builds the add-actions with the same
    ``TransactionalTable._add_action`` as every API writer, under the
    policy of the snapshot it commits against — so data skipping works
    identically on writer-landed files. The ``stats_cols`` /
    ``bloom_cols`` options (comma-separated column names) declare
    columns, widening the table's policy exactly like
    ``TransactionalTable.append``'s arguments."""

    def __init__(self, root: str, schema: StructType, options: dict):
        self.table = TransactionalTable(root)
        self.schema_json = schema.jsonValue()
        split = lambda k: tuple(c for c in str(options.get(k, "")).split(",") if c)  # noqa: E731
        self.stats_cols = split("stats_cols")
        self.bloom_cols = split("bloom_cols")
        self.merge_schema = str(options.get("merge_schema", "false")).lower() == "true"

    # -- executor side ---------------------------------------------------
    def write(self, iterator) -> _AcidWriteMessage:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            # 0-row parts never enter the log (they carry no stats and
            # would conservatively match every prune interval forever)
            return _AcidWriteMessage(adds=())
        rel = f"{DATA_DIR}/{uuid.uuid4().hex}.parquet"
        pq.write_table(pa.Table.from_batches(batches), os.path.join(self.table.root, rel))
        return _AcidWriteMessage(adds=({"file": rel},))

    # -- driver side ------------------------------------------------------
    def _gather(self, messages) -> list[dict]:
        return [a for m in messages if m is not None for a in m.adds]

    def _land(self, messages, policy: dict) -> list[dict]:
        """Add-actions for the tasks' files under ``policy``."""
        return [self.table._add_action(a["file"], None, policy) for a in self._gather(messages)]

    def _append(self, messages, op: dict, replayed=None) -> None:
        """Commit the tasks' files as one append (``op`` is its op
        record) through the API's own append commit
        (``TransactionalTable._commit_append``); a rejected schema
        abandons the files and raises."""
        try:
            self.table._commit_append(
                self.schema_json,
                op,
                lambda policy: self._land(messages, policy),
                self.stats_cols,
                self.bloom_cols,
                self.merge_schema,
                replayed=replayed,
            )
        except SchemaMismatch:
            self.abort(messages)
            raise

    def abort(self, messages, *_):
        self.table._abandon(self._gather(messages))


class _AcidBatchWriter(_AcidWriterCore, DataSourceArrowWriter):
    """``df.write.format("acid_table")`` — append and overwrite modes,
    committing through the same commit loops as the
    ``TransactionalTable`` API (append retries through version races;
    overwrite raises on a concurrent rewrite)."""

    def __init__(self, root: str, schema: StructType, options: dict, overwrite: bool):
        super().__init__(root, schema, options)
        self.overwrite = overwrite

    def commit(self, messages) -> None:
        if not self.overwrite:
            self._append(messages, {"op": "append"})
            return
        snap = self.table.snapshot()
        policy = _widen(snap.policy, self.stats_cols, self.bloom_cols)
        self.table._commit_overwrite(snap, self._land(messages, policy), self.schema_json, policy)


class _AcidStreamWriter(_AcidWriterCore, DataSourceStreamArrowWriter):
    """``df.writeStream.format("acid_table")`` — EXACTLY-ONCE streaming
    appends as a first-class sink, no ``foreachBatch`` wrapper needed
    (:func:`..streaming.sinks.streaming_acid_append` starts this writer).

    The micro-batch id rides INSIDE the atomic commit entry (op
    ``stream_append``), so a replayed batch — restart from checkpoint,
    or a commit retried after a crash between executor writes and the
    log create — is detected by id and SKIPPED, abandoning its
    duplicate files. Readers see each micro-batch as one atomic commit
    and can time-travel to any batch boundary."""

    def commit(self, messages, batchId: int) -> None:
        table = self.table
        # Incremental replay check: the writer instance lives for the
        # whole run on the driver, so cache the committed batch-id set
        # and only scan commits newer than the high-water mark — not one
        # full history() log scan per micro-batch. A fresh instance
        # (checkpoint restart) pays one full scan, then goes incremental.
        if not hasattr(self, "_seen_batch_ids"):
            self._seen_batch_ids: set = set()
            self._seen_version = 0

        def committed() -> bool:
            new_ids, self._seen_version = table.stream_batch_ids(
                after_version=self._seen_version
            )
            self._seen_batch_ids |= new_ids
            return batchId in self._seen_batch_ids

        if committed():
            self.abort(messages)
            return
        self._append(messages, {"op": "stream_append", "batch_id": batchId}, replayed=committed)


class AcidTableDataSource(DataSource):
    """``format("acid_table")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "acid_table"

    def schema(self) -> StructType:
        root = self.options["path"]
        base = _table_schema(root, version=_resolve_as_of(root, dict(self.options)))
        if str(self.options.get("read_changes", "false")).lower() == "true":
            # validate at load() time (schema resolution), not first
            # trigger: a misconfigured stream should fail at the plan
            if str(self.options.get("ignore_changes", "false")).lower() == "true":
                raise ValueError("pass read_changes OR ignore_changes, not both")
            from pyspark.sql.types import LongType, StringType, StructField

            return StructType(
                list(base.fields)
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_version", LongType(), False),
                ]
            )
        return base

    def reader(self, schema: StructType) -> DataSourceReader:
        root = self.options["path"]
        if str(self.options.get("read_changes", "false")).lower() == "true":
            raise ValueError(
                "read_changes is a STREAMING option (spark.readStream); "
                "for a batch change feed use TransactionalTable.changes()"
            )
        return _AcidBatchReader(root, schema, as_of=_resolve_as_of(root, dict(self.options)))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _AcidStreamReader(self.options["path"], schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceArrowWriter:
        root = self.options["path"]
        TransactionalTable.create(root)  # idempotent: dirs + empty log
        return _AcidBatchWriter(root, schema, dict(self.options), overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamArrowWriter:
        root = self.options["path"]
        TransactionalTable.create(root)
        return _AcidStreamWriter(root, schema, dict(self.options))


def register_acid_source(spark) -> None:
    """Idempotent registration of the ``acid_table`` format. Also
    enables Python-data-source filter pushdown (a runtime SQL conf,
    off by default in Spark 4.1) so ``pushFilters`` participates —
    without it Spark REFUSES to plan a reader that implements the
    hook."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(AcidTableDataSource)
