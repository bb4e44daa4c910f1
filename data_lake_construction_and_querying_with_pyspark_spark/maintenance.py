"""Lake maintenance utilities (SURVEY.md §2.1 S7/S8).

The reference performs two kinds of object-store housekeeping outside
the query path: an explicit pre-delete of the previous output objects
before writing (``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:47-53,116``
— subsumed by ``mode("overwrite")`` in the engine but kept as an
explicit utility), and a paginated delete of everything under a staging
prefix (``lambda_code/lambda_handler.py:6-15``). Locally these are
filesystem operations; on a cluster the same API routes through the
Hadoop FileSystem so it works against any supported object store.

Table MERGE and compaction are not here: they are commits of the ACID
table (``acid.TransactionalTable.merge_upsert`` / ``compact``), atomic
through its log, so no rewrite ever deletes the live table before the
new one is in place.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def delete_output_path(path: str) -> bool:
    """S7 — remove a previous output file/directory if present.
    Returns True when something was deleted."""
    p = Path(path)
    if p.is_dir():
        shutil.rmtree(p)
        return True
    if p.exists():
        p.unlink()
        return True
    return False


def clean_staging_prefix(root: str, prefix: str = "Unsaved/") -> int:
    """S8 — delete every object under ``root/prefix`` (the reference's
    Lambda walks S3 pages; locally a recursive glob). Returns the
    number of files removed; empty directories are pruned."""
    base = Path(root) / prefix
    if not base.exists():
        return 0
    n = sum(1 for f in base.rglob("*") if f.is_file())
    shutil.rmtree(base)
    return n


def hadoop_delete(spark: SparkSession, path: str) -> bool:
    """Cluster-grade delete through the Hadoop FileSystem API — same
    call works for file://, hdfs://, s3a:// URIs."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    return bool(fs.delete(hpath, True)) if fs.exists(hpath) else False


def preview(df: DataFrame, n: int = 20) -> str:
    """S9 — the reference's result-preview sink (``df.show()`` grid to
    the log); returned as a string so callers can log it structured."""
    return df._jdf.showString(n, 20, False)
