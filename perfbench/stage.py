"""Seeded input staging for the lake benchmark.

Every generator builds its table with JVM-side expressions over
``spark.range`` (no Python row loop), so staging cost scales with the
engine, not the interpreter. Values are pure functions of (seed, row id):
the same seed stages byte-identical inputs.

* :func:`stage_star` — the TPC-H-ish star schema plus ``events`` with the
  column set and value domains of the repo's test tables (TESTDATA.md),
  scaled by ``sf``.
* :func:`stage_corpus` — the planted-duplicate corpus of
  ``scripts/scale_probe.py`` (its builders are imported, not copied).
* :func:`stage_people` — the reference's ``people`` CSV (FIXTURES.md §1)
  with arithmetic dirt patterns, so :class:`PeopleSpec` can derive every
  expected count in closed form.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
CORPUS_TABLES = ("documents", "embeddings")


def table_path(root: str, name: str) -> str:
    """The directory ``readers.load_table(spark, root, name)`` scans."""
    return os.path.join(root, f"{name}.parquet")


def _write_table(df: DataFrame, root: str, name: str) -> None:
    # One file per table, like the repo's test tables: small tables stay
    # single-split, which is the case the engine's scan fan-out targets.
    df.coalesce(1).write.mode("overwrite").parquet(table_path(root, name))


def _u(seed: int, salt: int, mod: int) -> Column:
    """Uniform integer in [0, mod) drawn from (seed, id, salt)."""
    return F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit(salt)), F.lit(mod))


def _pick(seed: int, salt: int, values: list[str]) -> Column:
    return F.element_at(F.array(*[F.lit(v) for v in values]), (_u(seed, salt, len(values)) + 1).cast("int"))


def _cents(seed: int, salt: int, lo: float, hi: float) -> Column:
    """Two-decimal double in [lo, hi]."""
    span = int(round((hi - lo) * 100)) + 1
    return ((_u(seed, salt, span) + int(round(lo * 100))).cast("decimal(14,0)") / 100).cast("double")


def _day(seed: int, salt: int, start: str, n_days: int) -> Column:
    # timezone-free timestamps, as in the repo's test tables
    return F.date_add(F.lit(start).cast("date"), _u(seed, salt, n_days).cast("int")).cast("timestamp_ntz")


_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"]


def star_frames(spark: SparkSession, sf: float, seed: int) -> dict[str, DataFrame]:
    """The star schema as lazy frames; row counts follow TPC-H's sf ratios."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    rng = spark.range
    ident = lambda k: F.col("id").alias(k)  # noqa: E731
    frames = {
        "region": rng(5).select(
            F.col("id").cast("int").alias("r_regionkey"),
            F.element_at(
                F.array(*[F.lit(r) for r in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")]),
                (F.col("id") + 1).cast("int"),
            ).alias("r_name"),
        ),
        "nation": rng(25).select(
            F.col("id").cast("int").alias("n_nationkey"),
            F.concat(F.lit("NATION_"), F.col("id").cast("string")).alias("n_name"),
            (F.col("id") % 5).cast("int").alias("n_regionkey"),
        ),
        "customer": rng(n_cust).select(
            ident("c_custkey"),
            F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
            _u(seed, 1, 25).cast("int").alias("c_nationkey"),
            _cents(seed, 2, -999.99, 9999.99).alias("c_acctbal"),
            _pick(seed, 3, ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]).alias("c_mktsegment"),
        ),
        "supplier": rng(n_supp).select(
            ident("s_suppkey"),
            F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
            _u(seed, 4, 25).cast("int").alias("s_nationkey"),
            _cents(seed, 5, -999.99, 9999.99).alias("s_acctbal"),
        ),
        "part": rng(n_part).select(
            ident("p_partkey"),
            F.concat_ws(" ", _pick(seed, 6, _ADJ), _pick(seed, 7, _NOUN)).alias("p_name"),
            F.concat(F.lit("Brand#"), (_u(seed, 8, 25) + 1).cast("string")).alias("p_brand"),
            _pick(seed, 9, ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]).alias("p_type"),
            (_u(seed, 10, 50) + 1).cast("int").alias("p_size"),
            ((F.col("id") % 1000 + 9000).cast("decimal(10,0)") / 10).cast("double").alias("p_retailprice"),
        ),
        "orders": rng(n_ord).select(
            ident("o_orderkey"),
            _u(seed, 11, n_cust).alias("o_custkey"),
            _pick(seed, 12, ["O", "F", "P"]).alias("o_orderstatus"),
            _cents(seed, 13, 1000.0, 500000.0).alias("o_totalprice"),
            _day(seed, 14, "1995-01-01", 2404).alias("o_orderdate"),
            _pick(seed, 15, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]).alias("o_orderpriority"),
        ),
        "lineitem": rng(n_line).select(
            _u(seed, 16, n_ord).alias("l_orderkey"),
            _u(seed, 17, n_part).alias("l_partkey"),
            _u(seed, 18, n_supp).alias("l_suppkey"),
            (_u(seed, 19, 7) + 1).cast("int").alias("l_linenumber"),
            (_u(seed, 20, 50) + 1).cast("double").alias("l_quantity"),
            _cents(seed, 21, 900.0, 105000.0).alias("l_extendedprice"),
            (_u(seed, 22, 11).cast("decimal(4,0)") / 100).cast("double").alias("l_discount"),
            (_u(seed, 23, 9).cast("decimal(4,0)") / 100).cast("double").alias("l_tax"),
            _pick(seed, 24, ["A", "N", "R"]).alias("l_returnflag"),
            _pick(seed, 25, ["F", "O"]).alias("l_linestatus"),
            _day(seed, 26, "1995-01-02", 2498).alias("l_shipdate"),
        ),
        # ts increases with event_id (mean gap ~2.6 s at sf0.1), spanning
        # ~30 days from 2024-01-01 like the repo's events test table. It is
        # epoch nanoseconds (whole microseconds) here; stage_star stores it
        # as INT64 TIMESTAMP(NANOS), the encoding readers.read_events converts.
        "events": rng(n_events).select(
            ident("event_id"),
            (
                (
                    F.lit(1_704_067_200_000_000)
                    + F.col("id") * F.lit(int(2_592_000_000_000 // max(n_events, 1)))
                    + _u(seed, 27, 1_000_000)
                )
                * 1000
            ).alias("ts"),
            _u(seed, 28, 1500).alias("user_id"),
            _pick(seed, 29, ["signup", "click", "error", "view", "purchase"]).alias("event_type"),
            _cents(seed, 30, 0.0, 560.0).alias("value"),
            F.format_string('{"k": %d}', _u(seed, 31, 100)).alias("props"),
        ),
    }
    return frames


def stage_star(spark: SparkSession, root: str, sf: float, seed: int) -> None:
    """Write every star table under ``root`` (replacing what is there)."""
    shutil.rmtree(root, ignore_errors=True)
    for name, df in star_frames(spark, sf, seed).items():
        _write_table(df, root, name)
    _store_nanos(table_path(root, "events"), "ts")


def _store_nanos(path: str, column: str) -> None:
    """Rewrite the table at ``path`` with the epoch-nanosecond long
    ``column`` as INT64 TIMESTAMP(NANOS), which Spark cannot write."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)  # skips Spark's _SUCCESS and .crc files
    i = table.schema.get_field_index(column)
    table = table.set_column(i, column, table[column].cast(pa.timestamp("ns")))
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"), version="2.6")


def stage_corpus(spark: SparkSession, root: str, n_docs: int) -> None:
    """Planted-duplicate documents + embeddings from ``scripts/scale_probe``.

    The corpus is a pure function of ``doc_id`` (no seed): its planted
    pairs are what the closed-form checks in :class:`CorpusSpec` count."""
    from scripts.scale_probe import build_documents, build_embeddings

    shutil.rmtree(root, ignore_errors=True)
    _write_table(build_documents(spark, n_docs), root, "documents")
    _write_table(build_embeddings(spark, n_docs), root, "embeddings")


@dataclass(frozen=True)
class CorpusSpec:
    """Closed forms of ``scale_probe``'s planted pairs: doc ids (2k, 2k+1)
    with k % 20 == 0 are exact duplicates, with k % 20 == 1 near
    duplicates (one token swapped; embeddings nudged by 0.01)."""

    n_docs: int

    def _planted(self, residue: int) -> set[tuple[int, int]]:
        return {(2 * k, 2 * k + 1) for k in range(self.n_docs // 2) if k % 20 == residue}

    @property
    def exact(self) -> set[tuple[int, int]]:
        return self._planted(0)

    @property
    def near(self) -> set[tuple[int, int]]:
        return self._planted(1)


PEOPLE_COLUMNS = (
    "Index", "User Id", "First Name", "Last Name", "Sex",
    "Email", "Phone", "Date of birth", "Job Title",
)
_FIRST = ["Alice", "Bob", "Carol", "David", "Eve", "Frank", "Grace", "Henry", "Ivy", "Jack"]
_LAST = ["Smith", "Jones", "Lee", "Brown", "Garcia", "Kim", "Patel", "Nguyen", "Silva", "Chen"]
_JOBS = ["Engineer", "Teacher", "Nurse", "Chef", "Pilot", "Artist", "Lawyer", "Farmer"]
_PHONE_FORMATS = ["%03d.%03d.%04d", "(%03d)%03d-%04d", "001-%03d-%03d-%04d"]


@dataclass(frozen=True)
class PeopleSpec:
    """The ``people`` table's dirt, as arithmetic on the 1-based row index
    ``i`` so every expected count has a closed form:

    * ``Phone`` is null when ``(i + phone_off) % 20 == 0`` (imputed to
      ``Unknown`` by the pipeline);
    * ``Email`` is null when ``(i + email_off) % 50 == 0`` (dropped by
      ``dropna``);
    * ``Job Title`` is null when ``(i + job_off) % 97 == 0`` (dropped too);
    * rows with ``(i + dup_off) % dup_every == 0`` appear twice (exact
      duplicates);
    * date of birth year is ``1950 + (i * 37 + year_off) % 75``.
    """

    n: int
    seed: int

    @property
    def phone_off(self) -> int:
        return self.seed % 20

    @property
    def email_off(self) -> int:
        return (self.seed * 7 + 3) % 50

    @property
    def job_off(self) -> int:
        return (self.seed * 13 + 5) % 97

    @property
    def dup_off(self) -> int:
        return (self.seed * 3 + 1) % 31

    dup_every = 31

    @property
    def year_off(self) -> int:
        return (self.seed * 11) % 75

    def year(self, i: int) -> int:
        return 1950 + (i * 37 + self.year_off) % 75

    def _count(self, pred) -> int:
        """CSV rows (duplicates included) whose index matches ``pred``."""
        return sum(
            2 if (i + self.dup_off) % self.dup_every == 0 else 1 for i in range(1, self.n + 1) if pred(i)
        )

    @property
    def csv_rows(self) -> int:
        return self._count(lambda i: True)

    @property
    def duplicate_rows(self) -> int:
        return self.csv_rows - self.n

    def null_counts(self) -> dict[str, int]:
        counts = dict.fromkeys(PEOPLE_COLUMNS, 0)
        counts["Phone"] = self._count(lambda i: (i + self.phone_off) % 20 == 0)
        counts["Email"] = self._count(lambda i: (i + self.email_off) % 50 == 0)
        counts["Job Title"] = self._count(lambda i: (i + self.job_off) % 97 == 0)
        return counts

    def kept(self, i: int) -> bool:
        """Survives ``clean`` (impute Phone, drop other nulls)."""
        return (i + self.email_off) % 50 != 0 and (i + self.job_off) % 97 != 0

    def selected(self) -> list[int]:
        """Indexes of the distinct cleaned rows the reference's BETWEEN query
        (2000-01-01 to 2024-12-31) keeps."""
        return [i for i in range(1, self.n + 1) if self.kept(i) and 2000 <= self.year(i) <= 2024]

    def frame(self, spark: SparkSession) -> DataFrame:
        i = F.col("id") + 1
        s = self.seed

        def every(off: int, m: int) -> Column:
            return (i + off) % m == 0

        digits = [(_u(s, 40 + k, 900) + 100).cast("int") for k in range(2)] + [(_u(s, 42, 9000) + 1000).cast("int")]
        fmt = _u(s, 43, len(_PHONE_FORMATS))
        phone = F.when(fmt == 0, F.format_string(_PHONE_FORMATS[0], *digits))
        for k in range(1, len(_PHONE_FORMATS)):
            phone = phone.when(fmt == k, F.format_string(_PHONE_FORMATS[k], *digits))
        year = F.lit(1950) + (i * 37 + self.year_off) % 75
        dob = F.format_string(
            "%04d-%02d-%02d", year.cast("int"), (_u(s, 44, 12) + 1).cast("int"), (_u(s, 45, 28) + 1).cast("int")
        )
        base = spark.range(self.n).select(
            i.cast("string").alias("Index"),
            F.substring(F.upper(F.sha2(F.concat_ws(":", F.lit(s), i.cast("string")), 256)), 1, 15).alias("User Id"),
            _pick(s, 46, _FIRST).alias("First Name"),
            _pick(s, 47, _LAST).alias("Last Name"),
            _pick(s, 48, ["Male", "Female"]).alias("Sex"),
            F.when(~every(self.email_off, 50), F.format_string("user%d@example.com", i)).alias("Email"),
            F.when(~every(self.phone_off, 20), phone).alias("Phone"),
            dob.alias("Date of birth"),
            F.when(~every(self.job_off, 97), _pick(s, 49, _JOBS)).alias("Job Title"),
        )
        dups = base.filter((F.col("Index").cast("long") + self.dup_off) % self.dup_every == 0)
        return base.unionByName(dups)


def stage_people(spark: SparkSession, spec: PeopleSpec, path: str) -> None:
    """Write the dirty ``people`` CSV (header, all strings) to ``path``."""
    shutil.rmtree(path, ignore_errors=True)
    spec.frame(spark).write.mode("overwrite").option("header", "true").csv(path)
