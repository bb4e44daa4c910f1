"""Validation metrics — single-pass version of the reference's A1-A4.

The reference computes total rows, duplicate count, and per-column null
counts as FIVE separate actions over the source (reference
``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:86-98`` —
SURVEY.md §2.8.5 flags the double-computation). At 100 TB each action is
a full table scan, and ``df.count() - df.distinct().count()`` is two
scans plus an all-columns shuffle.

This module computes the same metrics in ONE job: a
``groupBy(all columns)`` with a multiplicity count — the single shuffle
``distinct()`` needs anyway — and a scalar aggregate over the grouped
rows that yields total rows, distinct rows and per-column null counts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class ValidationReport:
    total_rows: int
    distinct_rows: int
    null_counts: dict[str, int]
    columns: list[str] = field(default_factory=list)

    @property
    def duplicate_rows(self) -> int:
        # Reference semantics: df.count() - df.distinct().count()
        # (scripts/...pyspark.py:90-91).
        return self.total_rows - self.distinct_rows

    @property
    def column_count(self) -> int:
        return len(self.columns)


def validate(df: DataFrame) -> ValidationReport:
    """Compute the reference's validation metrics in one job (vs the
    reference's five).

    One ``groupBy(all columns)`` with a multiplicity count — the shuffle
    ``distinct()`` needs anyway, with map-side partial counts — then one
    scalar aggregate over the grouped rows: total rows is the summed
    multiplicity, distinct rows the group count, and each column's null
    count the multiplicity summed over its null groups."""
    cols = df.columns
    per_row = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("multiplicity"))
    m = F.col("multiplicity")
    total, distinct, *nulls = per_row.agg(
        F.sum(m), F.count(F.lit(1)), *[F.sum(F.when(F.col(c).isNull(), m)) for c in cols]
    ).first()
    # SUM over zero rows is NULL, and an empty input must report 0, not
    # None (hypothesis-found edge case).
    return ValidationReport(
        total_rows=total or 0,
        distinct_rows=distinct,
        null_counts={c: n or 0 for c, n in zip(cols, nulls)},
        columns=cols,
    )


def attach_observed_metrics(df: DataFrame, name: str = "validation"):
    """Piggyback validation metrics on the NEXT action over ``df`` via
    ``df.observe`` — zero extra jobs, zero extra scans. The returned
    ``Observation`` yields metrics after any action (typically the lake
    write) executes: exact row count, exact per-column null counts
    (``nulls__<col>`` keys), and an HLL approximate distinct-row count.

    This is the 100 TB validation path: where ``validate()`` runs its
    own aggregation pass (still one scan), this rides the write's scan
    for free. Exact duplicate counting is the one metric that cannot
    ride along (it needs a shuffle of its own); the sketch stands in,
    and ``validate()`` remains the exact tool.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("total_rows"),
        F.approx_count_distinct(F.struct(*df.columns)).alias("approx_distinct_rows"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}") for c in df.columns],
    )
    return observed, obs
