"""The benchmark's three workloads: what each stages, runs per pass and
checks.

* ``lake_sql`` — registered interactive SQL over the star schema, each
  query to the ``noop`` sink; checked against the registry's DuckDB
  oracles.
* ``corpus_dedup`` — the training-data operators over the planted
  duplicate corpus; checked against the oracles plus the corpus's
  planted-pair closed forms.
* ``lake_construct`` — the reference job (CSV→Parquet, catalog,
  Parquet→CSV) and an ACID table lifecycle on its output; checked
  against closed forms of the ``people`` generator.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import stage
from data_lake_construction_and_querying_with_pyspark_spark import acid, catalog, pipeline
from data_lake_construction_and_querying_with_pyspark_spark.config import JobConfig
from data_lake_construction_and_querying_with_pyspark_spark.registry import all_oracles, all_queries
from data_lake_construction_and_querying_with_pyspark_spark.sources import readers

# Input sizes: "full" is what the benchmark measures, "tiny" the self-test.
SIZES = {
    "full": {"sf": 0.01, "n_docs": 1000, "n_people": 50_000},
    "tiny": {"sf": 0.001, "n_docs": 400, "n_people": 3000},
}

LAKE_SQL_OPS = (
    "flagship_between",
    "pricing_summary",
    "join_broadcast_chain",
    "join_fact_fact_revenue",
    "local_supplier_volume_q5",
    "market_share_q8",
    "window_topk_per_customer",
    "cte_top_revenue_nations",
    "late_shipper_q21",
    "forecast_revenue_q6",
    "large_volume_customers_q18",
    "events_user_sessions",
    "funnel_conversion",
)

CORPUS_OPS = (
    "dedup_exact_documents",
    "dedup_ngram_jaccard_pairs",
    "dedup_minhash_near_dup",
    "dedup_embedding_cosine_pairs",
    "semantic_dedup_embeddings",
    "gopher_quality_filters",
    "bm25_topk_documents",
)

# The reference job's query (config/data_lake_config.json).
REFERENCE_QUERY = (
    "SELECT * FROM data_lake_query WHERE `Date of birth` BETWEEN '2000-01-01' AND '2024-12-31'"
)

CONSTRUCT_OPS = (
    "run_job_csv_to_parquet",
    "register_table",
    "run_job_parquet_to_csv",
    "acid_append_low",
    "acid_append_high",
    "acid_delete_where",
    "acid_merge_upsert",
    "acid_compact",
    "acid_read",
)
ACID_COMMITS = ("acid_append_low", "acid_append_high", "acid_delete_where", "acid_merge_upsert", "acid_compact")


class CheckFailed(Exception):
    """An op's output disagrees with its oracle or closed form."""


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


@dataclass
class Context:
    """Per-run state every workload shares."""

    spark: SparkSession
    inputs: str  # staged inputs (read-only during passes)
    scratch: str  # per-pass outputs, emptied between passes
    tracer: object  # trace.Tracer


class Oracle:
    """The registry's DuckDB oracles over the staged tables, compared with
    ``scripts.check_oracles.compare`` (row count, columns, exact values)."""

    def __init__(self, root: str, tables: tuple[str, ...], spill_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{spill_dir}'")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{stage.table_path(root, t)}/*.parquet')"
            )
        self.sql = all_oracles()
        self._seconds = 0.0

    def compare(self, op: str, got) -> list[str]:
        from scripts.check_oracles import compare

        t0 = time.perf_counter()
        try:
            return compare(op, got, self.con.execute(self.sql[op]).fetchdf())
        finally:
            self._seconds += time.perf_counter() - t0

    def pop_seconds(self) -> float:
        """Time spent in the oracle since the last call (kept out of op timings)."""
        s, self._seconds = self._seconds, 0.0
        return s

    def close(self) -> None:
        self.con.close()


class RegistryWorkload:
    """Registered query builders over a staged table directory, each
    materialized through the ``noop`` sink (a bare count would let Spark
    prune the work)."""

    tables: tuple[str, ...] = ()
    ops: tuple[str, ...] = ()

    def __init__(self, size: dict, seed: int) -> None:
        self.size, self.seed = size, seed
        self.result_rows: dict[str, int] = {}

    def order(self, rng: random.Random) -> list[str]:
        ops = list(self.ops)
        rng.shuffle(ops)
        return ops

    def run_op(self, ctx: Context, op: str, gate: bool, oracle=None) -> None:
        build = all_queries()[op]
        df = ctx.tracer.call("registry.build", build, ctx.spark, ctx.inputs)
        if not gate:
            _noop(df)
            return
        got = df.toPandas()
        self.result_rows[op] = len(got)
        problems = oracle.compare(op, got)
        if problems:
            raise CheckFailed("; ".join(problems))
        self.check_closed_form(op, got)

    def check_closed_form(self, op: str, got) -> None:
        pass

    def before_pass(self, ctx: Context) -> None:
        pass

    def pass_record(self, ctx: Context) -> dict:
        return {}


class LakeSql(RegistryWorkload):
    name = "lake_sql"
    tables = stage.STAR_TABLES
    ops = LAKE_SQL_OPS

    def stage(self, spark: SparkSession, root: str) -> None:
        stage.stage_star(spark, root, self.size["sf"], self.seed)


class CorpusDedup(RegistryWorkload):
    name = "corpus_dedup"
    tables = stage.CORPUS_TABLES
    ops = CORPUS_OPS

    def __init__(self, size: dict, seed: int) -> None:
        super().__init__(size, seed)
        self.spec = stage.CorpusSpec(size["n_docs"])

    def stage(self, spark: SparkSession, root: str) -> None:
        stage.stage_corpus(spark, root, self.spec.n_docs)

    def check_closed_form(self, op: str, got) -> None:
        exact, near = self.spec.exact, self.spec.near
        if op == "dedup_exact_documents":
            _expect("distinct texts", len(got), self.spec.n_docs - len(exact))
            _expect("texts with two copies", int((got["n_copies"] == 2).sum()), len(exact))
        elif op in ("dedup_ngram_jaccard_pairs", "dedup_minhash_near_dup"):
            pairs = _pairs(got, "doc_a", "doc_b")
            if not exact <= pairs:
                raise CheckFailed(f"{len(exact - pairs)} planted exact pairs not found")
            if op == "dedup_ngram_jaccard_pairs":  # exact all-pairs: recovers every planted pair
                _expect("ngram pairs", pairs, exact | near)
            elif not pairs <= exact | near:  # banded candidates, exact verify
                raise CheckFailed(f"{len(pairs - exact - near)} pairs outside the planted set")
        elif op == "dedup_embedding_cosine_pairs":
            # The operator adds a near clone (id + 1_000_000) of every 50th
            # vector; a pair is planted when both ids fold onto one planted
            # group or onto the same vector.
            pairs = _pairs(got, "vec_a", "vec_b")
            if not exact <= pairs:
                raise CheckFailed(f"{len(exact - pairs)} planted exact pairs not found")
            fold = lambda x: x % 1_000_000  # noqa: E731
            stray = [
                (a, b) for a, b in pairs
                if fold(a) != fold(b) and tuple(sorted((fold(a), fold(b)))) not in exact | near
            ]
            if stray:
                raise CheckFailed(f"{len(stray)} pairs outside the planted set, e.g. {stray[0]}")
        elif op == "semantic_dedup_embeddings":
            dups = set(got.loc[got["is_semantic_dup"], "vec_id"].astype(int))
            missing = {b for _, b in exact} - dups
            if missing:
                raise CheckFailed(f"{len(missing)} planted exact duplicates not marked")
        elif op == "gopher_quality_filters":
            _expect("documents scored", len(got), self.spec.n_docs)


def _pairs(df, a: str, b: str) -> set[tuple[int, int]]:
    """A pair operator's output as (lower id, higher id) tuples."""
    return {(min(x, y), max(x, y)) for x, y in zip(df[a].astype(int), df[b].astype(int))}


class LakeConstruct:
    """The reference job plus lake mutation; ops run in dependency order."""

    name = "lake_construct"
    ops = CONSTRUCT_OPS
    tables = ()

    def __init__(self, size: dict, seed: int) -> None:
        self.spec = stage.PeopleSpec(size["n_people"], seed)
        self.result_rows: dict[str, int] = {}
        self.selected = self.spec.selected()
        n = self.spec.n
        self.half, self.cut = n // 2, (9 * n) // 10
        self._table: acid.TransactionalTable | None = None

    def order(self, rng: random.Random) -> list[str]:
        return list(self.ops)

    def stage(self, spark: SparkSession, root: str) -> None:
        stage.stage_people(spark, self.spec, os.path.join(root, "people.csv"))

    def before_pass(self, ctx: Context) -> None:
        shutil.rmtree(ctx.scratch, ignore_errors=True)
        os.makedirs(ctx.scratch)
        self._table = acid.TransactionalTable.create(os.path.join(ctx.scratch, "people_acid"))

    def paths(self, ctx: Context) -> tuple[str, str, str]:
        return (
            os.path.join(ctx.inputs, "people.csv"),
            os.path.join(ctx.scratch, "people_parquet"),
            os.path.join(ctx.scratch, "people_csv"),
        )

    def _typed(self, ctx: Context):
        """The CSV→Parquet output with ``Index`` typed, as the ACID table's rows."""
        _, pq_out, _ = self.paths(ctx)
        df = readers.read_lake(ctx.spark, pq_out, "parquet")
        return df.withColumn("Index", F.col("Index").cast("long"))

    def run_op(self, ctx: Context, op: str, gate: bool, oracle=None) -> None:
        spark, spec, t = ctx.spark, self.spec, self._table
        csv_in, pq_out, csv_out = self.paths(ctx)
        n_sel = len(self.selected)
        if op == "run_job_csv_to_parquet":
            res = pipeline.run_job(spark, JobConfig("csv", "data_lake_query", REFERENCE_QUERY, csv_in, pq_out))
            v = res.validation
            _expect("csv rows", v.total_rows, spec.csv_rows)
            _expect("duplicate rows", v.duplicate_rows, spec.duplicate_rows)
            _expect("null counts", v.null_counts, spec.null_counts())
            self.result_rows[op] = n_sel
            if gate:
                _expect("rows written", spark.read.parquet(pq_out).count(), n_sel)
        elif op == "register_table":
            catalog.register_table(spark, readers.read_lake(spark, pq_out, "parquet"), "people_lake")
            self.result_rows[op] = n_sel
            if gate:
                _expect("catalog rows", spark.table("people_lake").count(), n_sel)
        elif op == "run_job_parquet_to_csv":
            res = pipeline.run_job(spark, JobConfig("parquet", "data_lake_query", REFERENCE_QUERY, pq_out, csv_out))
            v = res.validation
            _expect("parquet rows", v.total_rows, n_sel)
            _expect("duplicate rows after clean", v.duplicate_rows, 0)
            _expect("nulls after clean", sum(v.null_counts.values()), 0)
            self.result_rows[op] = n_sel
            if gate:
                _expect("csv rows written", spark.read.option("header", True).csv(csv_out).count(), n_sel)
        elif op == "acid_append_low":
            t.append(spark, self._typed(ctx).filter(F.col("Index") <= self.half), stats_cols=("Index",))
        elif op == "acid_append_high":
            t.append(spark, self._typed(ctx).filter(F.col("Index") > self.half), stats_cols=("Index",))
        elif op == "acid_delete_where":
            t.delete_where(spark, f"`Index` > {self.cut}", prune={"Index": (self.cut + 1, None)})
            skipped = t.history()[-1].get("skipped_files", 0)
            if skipped <= 0:
                raise CheckFailed("pruned delete skipped no file")
        elif op == "acid_merge_upsert":
            updates = self._typed(ctx).filter(F.col("Index") % 10 == 0).withColumn("Job Title", F.lit("Updated"))
            t.merge_upsert(spark, updates, ["Index"])
        elif op == "acid_compact":
            t.compact(spark)
        elif op == "acid_read":
            df = t.read(spark)
            if not gate:
                _noop(df)
                return
            want_rows = sum(1 for i in self.selected if i <= self.cut or i % 10 == 0)
            want_updated = sum(1 for i in self.selected if i % 10 == 0)
            row = df.agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum((F.col("Job Title") == "Updated").cast("int")).alias("updated"),
            ).collect()[0]
            _expect("final snapshot rows", row["rows"], want_rows)
            _expect("final snapshot updated rows", row["updated"], want_updated)
            self.result_rows[op] = want_rows
        else:
            raise KeyError(op)

    def pass_record(self, ctx: Context) -> dict:
        """Write amplification of this pass: ACID log counters and the
        reference job's on-disk output bytes per input byte."""
        csv_in, pq_out, csv_out = self.paths(ctx)
        return {
            "acid": self.acid_log(),
            "output_bytes_per_input_byte": (
                (_dir_bytes(pq_out) + _dir_bytes(csv_out)) / (_dir_bytes(csv_in) + _dir_bytes(pq_out))
            ),
        }

    def acid_log(self) -> dict[str, float]:
        """Rewrite counters of this pass's ACID table, read from its log."""
        t = self._table
        hist = t.history()
        added_bytes = user_bytes = 0
        rewritten = 0
        prev_files: set = set()
        for h in hist:
            snap = t.snapshot(h["version"])
            files = set(snap.files)
            new = files - prev_files
            nbytes = sum(snap.meta[f]["bytes"] for f in new)
            added_bytes += nbytes
            if h["op"] == "append":
                user_bytes += nbytes
            else:
                rewritten += len(prev_files - files)
            prev_files = files
        return {
            "files_rewritten": rewritten,
            "skipped_files": sum(h.get("skipped_files", 0) for h in hist),
            "bytes_written_per_user_byte": added_bytes / user_bytes if user_bytes else 0.0,
        }


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's marker files excluded)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if not f.startswith((".", "_")))
    return total


WORKLOADS = {w.name: w for w in (LakeSql, CorpusDedup, LakeConstruct)}
