"""SparkSession factory with scale-aware defaults.

The reference pins ``spark.sql.shuffle.partitions=200`` and enables Arrow
(reference ``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:34-38``).
We keep the intent (tuned shuffle parallelism + Arrow) but make it adaptive:
AQE (on by default in Spark 4, with partition coalescing and skew-join
splitting) coalesces shuffle partitions at runtime so the static number only
sets an upper bound, and hot keys re-split at the 1000-executor scale this
engine targets.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for correctness-at-scale, not just local speed. Only
# settings that differ from Spark 4.1's own defaults are listed (AQE with
# partition coalescing and skew-join splitting, snappy parquet and 128 MiB
# file splits are already Spark's):
#  - UTC session timezone: deterministic timestamp semantics (and matches
#    the DuckDB oracle, which is UTC-naive); Spark's default is the JVM's
#    zone.
#  - Arrow on: every pandas_udf / applyInPandas moves batches, not rows.
_DEFAULTS = {
    # Plan every exchange at 512 reducers and let AQE coalesce DOWN to
    # the advisory size at runtime: AQE can merge small partitions but
    # never split an unskewed oversized one, so the static number must
    # be the CEILING for the largest shuffle the session will run, not
    # the thread count. This is what removes the manual reducer knob
    # the 1M-doc scale probe needed (SCALE_PROBE_SHUFFLE=128 — the
    # exploded shingle index spilled at 32 reducers; VERDICT r3
    # finding #3): the same session now lands within noise of the
    # hand-pinned run with no knob, while small-SF queries still
    # coalesce to ~parallelism (docs/SCALING.md "AQE, no manual knob").
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    # Companion flag: without it, persist()ed plans pin their output
    # partitioning and AQE may not coalesce the 512-bucket shuffles
    # feeding a cache (observed: 512-task stages on sf0.01 after
    # raising initialPartitionNum — pure scheduling overhead).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # AQE coalescing floor (r11): with parallelismFirst (default true)
    # AQE targets cluster parallelism when merging small partitions,
    # but never coalesces below minPartitionSize — and the 1 MB default
    # collapses KB-scale shuffles (tiny dims, vocabulary tables, the
    # sf-bench corpora) to ONE partition, serializing every downstream
    # fold/join stage on a 32-core session. 64 KB keeps such shuffles
    # parallel; at production scale post-shuffle partitions are
    # hundreds of MB, so the floor never binds and plans are unchanged.
    # Interleaved A/B on the heaviest bench query (3 paired reps):
    # 64 KB faster every rep (16.8→8.4, 8.1→7.0, 7.1→6.5 s).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64KB",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Generated-class cache sized to the registry's working set. Spark's
    # default of 100 entries is smaller than the ~165 classes the 13
    # interactive lake_sql queries need, so each query evicted the next
    # one's classes and Janino recompiled 160 of them on every steady
    # pass (CodegenMetrics, sf0.01). 2048 holds the ~1,830 classes a
    # first pass over all 151 registered queries compiles at sf0.001.
    # This is a static SQL conf, read once per JVM at the first codegen:
    # it applies only to sessions that get_spark builds before any query
    # runs. Plans are unchanged.
    "spark.sql.codegen.cache.maxEntries": "2048",
    "spark.ui.enabled": "false",
}


def _physical_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)


def default_driver_memory() -> str:
    """``spark.driver.memory`` for a local session: ``$SPARK_DRIVER_MEMORY``
    when set, else min(16g, half of physical RAM). A flat 16g heap on a
    15 GB machine let the kernel OOM-kill the JVM mid-run."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env is not None:
        return env
    return f"{min(16 * 1024, _physical_memory_mb() // 2)}m"


def local_master_string() -> str:
    """``local[$SPARK_GRAFT_CPUS]``, plus task retries when
    ``SPARK_GRAFT_TASK_RETRIES`` is set: ``local[N,R]``.

    Local mode IGNORES ``spark.task.maxFailures`` — the local scheduler
    hard-codes maxFailures from the MASTER STRING (1 unless the
    ``local[N,R]`` form is used), so passing the conf via
    PYSPARK_SUBMIT_ARGS silently does nothing. Measured r11: a single
    wedged python worker (JVM and worker both asleep on the Arrow
    socket) killed 40 minutes into an 80M rung aborted the whole job
    with "failed 1 times". Multi-hour rung runs set
    SPARK_GRAFT_TASK_RETRIES=4; the default stays bare ``local[N]`` so
    tests keep fail-fast semantics. Cluster masters are unaffected —
    there ``spark.task.maxFailures`` (default 4) applies normally."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    retries = os.environ.get("SPARK_GRAFT_TASK_RETRIES", "").strip()
    return f"local[{cpus},{int(retries)}]" if retries else f"local[{cpus}]"


def get_spark(
    app_name: str = "data_lake_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally (see
    :func:`local_master_string` for the task-retry form); on a real
    cluster the caller passes ``None`` with a cluster master already set in
    the environment and we leave it alone.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or local_master_string())
    n_shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    if master is None or master.startswith("local"):
        builder = builder.config("spark.driver.memory", default_driver_memory())
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
