"""Lake sinks — format-dispatched writes (SURVEY.md §2.1 S5-S7).

Reference behavior: snappy Parquet for the CSV path, headered CSV for the
Parquet path, always ``mode("overwrite")`` (reference
``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:118-123``); the
explicit pre-delete at ``:47-53,116`` is subsumed by overwrite mode.

Engine additions for 100 TB: optional ``partition_by`` (docx §8's own
recommendation, never implemented by the reference) so downstream reads
get partition pruning, and optional ``bucket_by`` + ``saveAsTable`` so
repeated joins on the bucket key skip their shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_lake(
    df: DataFrame,
    path: str,
    fmt: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "parquet":
        writer.option("compression", compression or "snappy").parquet(path)
    elif fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "orc":
        writer.orc(path)
    else:
        raise ValueError(f"Unsupported sink format: {fmt!r}")


def write_sorted_lake(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Range-partition + sort-within-partitions write: rows cluster by
    ``sort_cols`` so each output file covers a narrow value range and
    parquet min/max statistics turn range predicates into file/row-group
    skips. The lake-layout half of predicate pushdown: Catalyst pushes
    the filter, this write makes the filter selective per file. (The
    same idea as Z-ordering for the single-column case.)"""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sort_cols]
    out = df.repartitionByRange(n_files, *cols) if n_files else df.repartitionByRange(*cols)
    out.sortWithinPartitions(*cols).write.mode("overwrite").format(fmt).save(path)


def write_zorder_lake(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int | None = None,
    fmt: str = "parquet",
    bits_per_col: int = 8,
    rel_err: float = 0.01,
) -> None:
    """Multi-column clustered write (the Delta ``OPTIMIZE ZORDER BY``
    idea, in plain Spark): each row gets a Z-value by bit-interleaving
    per-column equi-depth bucket ids, and files are range-partitioned
    on that Z-value. Where ``write_sorted_lake`` gives perfect skipping
    on ONE column and none on the others, a Z-order layout lets
    parquet min/max stats skip files for predicates on ANY subset of
    ``zorder_cols`` (~n^(1-1/k) of files read for a box query on k
    columns instead of all of them).

    Bucket boundaries are equi-depth via ``approxQuantile`` (one
    driver-side pass, sampled, ``rel_err`` precision — 100 TB safe);
    bucket assignment + bit interleave are pure JVM column expressions.
    Numeric, date and timestamp columns only (strings have no
    order-preserving binning without a full sort).
    """
    out = zorder_layout(df, zorder_cols, n_files, bits_per_col=bits_per_col, rel_err=rel_err)
    out.write.mode("overwrite").format(fmt).save(path)


def zorder_layout(
    df: DataFrame,
    zorder_cols: list[str],
    n_files: int | None = None,
    bits_per_col: int = 8,
    rel_err: float = 0.01,
) -> DataFrame:
    """``df`` laid out in Z-order over ``zorder_cols`` — the one Z-order
    layout, written by ``write_zorder_lake`` and by the ACID table's
    ``compact(cluster_by=)``. Each row's ``__z`` key is the
    bit-interleave of its columns' equi-depth bucket ids (one sampled
    ``approxQuantile`` driver pass for the bucket bounds; the key itself
    is a pure JVM expression chain inside whole-stage codegen); rows are
    range-partitioned on it into ``n_files`` partitions (Spark's default
    count when None), sorted within each, and the key is dropped."""
    from pyspark.sql import functions as F

    n_buckets = 1 << bits_per_col
    probe = df
    numeric = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}
    for c in zorder_cols:
        t = dict(df.dtypes)[c]
        if t in ("date", "timestamp", "timestamp_ntz"):
            probe = probe.withColumn(c, F.col(c).cast("timestamp").cast("double"))
        elif t.split("(")[0] not in numeric:
            raise ValueError(f"Z-order column {c!r} has non-orderable-binnable type {t}")
        else:
            probe = probe.withColumn(c, F.col(c).cast("double"))
    qs = [i / n_buckets for i in range(1, n_buckets)]
    all_bounds = probe.approxQuantile(zorder_cols, qs, rel_err)

    z = F.lit(0).cast("bigint")
    for ci, (c, bounds) in enumerate(zip(zorder_cols, all_bounds)):
        uniq = sorted(set(bounds))
        # bucket id = #boundaries <= value: a filter over a literal
        # array, evaluated JVM-side inside whole-stage codegen
        bucket = F.size(
            F.filter(
                F.lit(uniq).cast("array<double>"),
                lambda b: b <= F.col(c).cast("timestamp").cast("double")
                if dict(df.dtypes)[c] in ("date", "timestamp", "timestamp_ntz")
                else b <= F.col(c).cast("double"),
            )
        ).cast("bigint")
        for bit in range(bits_per_col):
            # bit `bit` of this column's bucket → interleaved position
            z = z + F.shiftleft(
                F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                bit * len(zorder_cols) + ci,
            )
    by = (n_files, "__z") if n_files else ("__z",)
    return df.withColumn("__z", z).repartitionByRange(*by).sortWithinPartitions("__z").drop("__z")


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Persist as a bucketed catalog table.

    Joins/aggregations on ``bucket_cols`` between two tables bucketed the
    same way are shuffle-free — the 100 TB co-location strategy
    (SURVEY.md §7 hard parts).
    """
    writer = df.write.mode("overwrite").format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
