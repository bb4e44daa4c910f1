"""Catalog operations — the engine's replacement for Glue Crawler + Athena.

The reference catalogs output files by launching a crawler that re-infers
schema asynchronously (reference ``scripts/...pyspark.py:126-132``,
SURVEY.md §3 E3); interactive queries then go through Athena. Here one
SQL engine serves both paths: ``saveAsTable`` registers the result
synchronously with its real schema, and ``spark.sql`` over the catalog is
the interactive path. Crawler-style lowercase name normalization
(SURVEY.md §2.8.7) is explicit, not incidental.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Crawler-style normalization: lowercase, spaces/punct → underscore.

    The Glue crawler lowercases ``User Id`` → ``user id``; Spark catalog
    tables need identifier-safe names, so we go one step further to
    ``user_id`` (SURVEY.md §2.8.7 calls name normalization 'part of the
    catalog contract')."""
    mapping = {}
    for c in df.columns:
        norm = re.sub(r"[^0-9a-zA-Z_]+", "_", c.strip()).strip("_").lower()
        mapping[c] = norm or c
    return df.withColumnsRenamed(mapping)


def register_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    """Persist ``df`` as a queryable catalog table (replaces crawler+Athena)."""
    writer = normalize_column_names(df).write.mode("overwrite").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)
