"""Measure the CDC stream's O(changed data) claim: point-delete ONE
row from a ~1M-row table and drain the change feed for that commit.

Builds a TransactionalTable from the 1M-doc probe corpus as 10
key-range appends (stats + blooms on doc_id), bloom-point-deletes one
doc_id (rewrites 1 of ~320 files), then runs
``readStream.format("acid_table").option("read_changes", "true")``
from the pre-delete version. The claim under test: the rewrite's diff
partition reads exactly the files THAT COMMIT touched (removed + its
rewritten survivor — 2 files), never the table, and emits exactly one
tagged delete row because the surviving rows cancel in the bag diff.

Usage: python scripts/measure_cdc_stream.py [corpus_dir] [out_root]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/cdc_measure_corpus"
    out_root = sys.argv[2] if len(sys.argv) > 2 else "/tmp/cdc_measure"
    n_batches = 10

    from pyspark.sql import functions as F

    from data_lake_construction_and_querying_with_pyspark_spark import get_spark
    from data_lake_construction_and_querying_with_pyspark_spark.acid import TransactionalTable
    from data_lake_construction_and_querying_with_pyspark_spark.sources.acid_source import (
        register_acid_source,
    )
    from scripts.scale_probe import build_documents

    spark = get_spark(app_name="measure_cdc_stream")
    register_acid_source(spark)
    docs_path = f"{corpus}/documents.parquet"
    if not os.path.exists(docs_path):
        build_documents(spark, 1_000_000).write.mode("overwrite").parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    n = docs.count()

    root = os.path.join(out_root, "t")
    shutil.rmtree(out_root, ignore_errors=True)
    t = TransactionalTable.create(root)
    step = (n + n_batches - 1) // n_batches
    for b in range(n_batches):
        batch = docs.filter(
            (F.col("doc_id") >= b * step) & (F.col("doc_id") < (b + 1) * step)
        )
        t.append(spark, batch, stats_cols=("doc_id",), bloom_cols=("doc_id",))
    v0 = t.snapshot().version
    total_files = len(t.snapshot().files)

    target = n // 2 + 7
    t.delete_where(spark, f"doc_id = {target}", prune_eq={"doc_id": target})
    entry_ops = t.history()[-1]
    delete_version = entry_ops["version"]

    # files the CDC diff partition will read = the delete commit's
    # touched set, straight off the log
    with open(
        os.path.join(t.log_path, f"{delete_version:020d}.json")
    ) as fh:
        entry = json.load(fh)
    touched = len(entry.get("add", [])) + len(entry.get("remove", []))

    rows: list = []
    t0 = time.time()
    q = (
        spark.readStream.format("acid_table")
        .option("path", root)
        .option("read_changes", "true")
        .option("starting_version", v0)
        .load()
        .writeStream.foreachBatch(
            lambda bdf, _b: rows.extend(
                (r["doc_id"], r["_change_type"], r["_commit_version"])
                for r in bdf.collect()
            )
        )
        .option("checkpointLocation", os.path.join(out_root, "cp"))
        .start()
    )
    deadline = time.time() + 300
    while time.time() < deadline and not rows:
        time.sleep(0.2)
    dt = time.time() - t0
    time.sleep(1.0)
    q.stop()
    q.awaitTermination(30)

    print(
        json.dumps(
            {
                "op": "cdc_stream_point_delete",
                "table_rows": n,
                "table_files": total_files,
                "touched_files_read_by_cdc": touched,
                "changes_emitted": rows,
                "seconds_to_first_change": round(dt, 2),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
