"""Lake sources — format-dispatched reads (SURVEY.md §2.1 S1-S4).

The reference reads CSV with header + ``,`` separator and NO schema
inference — every column lands as string (reference
``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:59-66``) —
and Parquet with footer types (``:67-71``); any other format is an error
path (``:72-77``). We reproduce those exact semantics with native
``spark.read`` (no DynamicFrame — it added nothing, SURVEY.md §1.1),
and extend the registry with JSON and ORC.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free; ``spark.sql.files.maxPartitionBytes`` (session.py)
controls scan parallelism at 100 TB. For CSV at scale, pass an explicit
all-string StructType (never ``inferSchema`` — that is a full extra pass
over 100 TB of text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv_allstring(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    columns: list[str] | None = None,
) -> DataFrame:
    """CSV scan with reference semantics: header row, no inference.

    If ``columns`` is given, build an explicit all-string schema (single
    pass at scale); otherwise let Spark take the header row as names
    (still all-string, matching the reference's ``withHeader`` read).
    """
    reader = spark.read.option("header", True).option("sep", sep)
    if columns is not None:
        schema = T.StructType([T.StructField(c, T.StringType(), True) for c in columns])
        reader = reader.schema(schema)
    return reader.csv(path)


def read_csv_with_corrupt_capture(
    spark: SparkSession,
    path: str,
    columns: list[str],
    sep: str = ",",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """All-string CSV scan that quarantines malformed rows instead of
    silently dropping or failing on them: PERMISSIVE mode parks the raw
    line of any row with the wrong field count in ``corrupt_col``
    (NULL for clean rows). The construction pipeline can then split
    clean/quarantine frames — at lake scale you write the quarantine
    partition out for triage rather than aborting a 100 TB ingest."""
    schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in columns]
        + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(schema)
        .csv(path)
    )


def split_corrupt(df: DataFrame, corrupt_col: str = "_corrupt_record"):
    """(clean_df_without_marker, quarantine_df) from a corrupt-capture
    scan. Caching first is the documented Spark requirement: the
    corrupt column is only populated during parsing, and an uncached
    double-scan may race the filter against re-parsing."""
    from pyspark.sql import functions as F

    df = df.cache()
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull())
    return clean, quarantine


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan — footer schema, pushdown-capable."""
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Events scan: parquet with INT64 TIMESTAMP(NANOS) ``ts``.

    Spark's parquet reader rejects nanosecond timestamps outright
    (PARQUET_TYPE_ILLEGAL); with ``spark.sql.legacy.parquet.nanosAsLong``
    the column lands as epoch-nanos long, which we convert to a proper
    timestamp. The conf is runtime-settable, so we set it here rather
    than relying on a session-builder default — the reader must be
    self-sufficient under ANY caller-provided SparkSession, not just
    ones built by :func:`..session.get_spark`. The driver's generator
    emits exact microsecond multiples, so the ns→µs division is
    lossless.
    """
    from pyspark.sql import functions as F

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # unknown conf on some future Spark: fall through to plain read
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        # Integer division: `/` on longs goes through double, and epoch
        # nanos (~1.7e18) exceed double's 53-bit mantissa → ±1 µs error.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal raw-asset scan: (path, modificationTime, length, content).

    ``binaryFile`` is the Spark-native way to bring image/audio/video
    bytes into a DataFrame as an opaque ``binary`` column (SURVEY.md §7
    Phase 3c).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


_READERS = {
    "csv": read_csv_allstring,
    "parquet": read_parquet,
    "json": read_json,
    "orc": read_orc,
}


def read_lake(spark: SparkSession, path: str, fmt: str, **kwargs) -> DataFrame:
    """Format-dispatched scan (reference S3 dispatch, SURVEY.md §2.1).

    Unsupported formats raise ValueError — the engine equivalent of the
    reference's SNS-notify + sys.exit error path
    (``scripts/...pyspark.py:72-77``).
    """
    try:
        reader = _READERS[fmt]
    except KeyError:
        raise ValueError(
            f"Unsupported file type: {fmt!r}; expected one of {sorted(_READERS)}"
        ) from None
    return reader(spark, path, **kwargs)


# (appId, sf_dir, name) -> analyzed DataFrame. This memoizes the PLAN
# OBJECT, never data: a DataFrame is an immutable logical plan + schema,
# so handing the same instance to every query builder is exactly what a
# catalog-backed `spark.table(name)` would do (schema known once, no
# per-query parquet-footer read). Measured r12: each `spark.read.parquet`
# costs ~20-50 ms of driver time (py4j + footer + analysis) and the
# 23-query bench constructs ~60 table scans per pass — ~2 s of pure
# plan-construction overhead inside the timed region (guide §7.3
# "planning time itself can become the bottleneck"). Every action on the
# returned frame still scans parquet; nothing about RESULTS is cached.
# Keyed on applicationId so a restarted session can't resurrect stale
# JVM references.
_TABLE_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table (events gets its ns-timestamp fix).

    The analyzed plan is memoized per (session, sf_dir, table) — see
    ``_TABLE_PLAN_CACHE``; the parquet data is re-scanned by every
    action as always. The memo assumes READ-ONLY inputs: the cached
    plan keeps the file listing taken at first load, so files added,
    replaced or removed under ``sf_dir`` later in the same application
    are not seen (a new application lists afresh). Clear
    ``_TABLE_PLAN_CACHE`` after rewriting an input in place."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_PLAN_CACHE.get(key)
    if df is None:
        path = f"{sf_dir}/{name}.parquet"
        df = read_events(spark, path) if name == "events" else spark.read.parquet(path)
        _TABLE_PLAN_CACHE[key] = df
    return df


def fan_out_small_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a small scan by ``keys`` to ``defaultParallelism``
    so the CPU-heavy per-row work that follows (tokenization, fold dot
    products, decimal casts) runs on every core instead of one task.

    The rule reads only the plan's own input files (``df.inputFiles()``,
    deduplicated across every scan under ``df``):

    * no input files, or at least ``defaultParallelism`` of them →
      ``df`` unchanged;
    * otherwise, fan out when their total size is below
      ``defaultParallelism × spark.sql.files.maxPartitionBytes``.

    Either condition alone guarantees ≥ cores scan splits, so at lake
    scale this is a no-op. Below it, a parquet file's row groups are its
    minimum scan split, and a single-row-group file pins the whole
    pre-shuffle pipeline to one task whatever ``maxPartitionBytes`` says.

    Hash (not round-robin) partitioning on a stable key: keyless
    ``repartition(n)`` sorts its input first (``sortBeforeRepartition``)
    inside the single scan task this exists to relieve. Values are
    unaffected: every registered operator is partitioning-independent
    per the registry's determinism contract."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= par:
        return df
    # Spark's own byte-string parser: "128MB", "1g" and "134217728b"
    # all read as Spark reads them
    max_pb = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    if _files_bytes(spark, files) >= par * max_pb:
        return df
    from pyspark.sql import functions as F

    return df.repartition(par, *[F.col(k) for k in keys])


def load_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver test table from ``sf_dir`` as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each test table as a temp view for spark.sql querying."""
    for name, df in load_star_schema(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the files backing a scan — the cheap
    (metadata-only) size signal operators use to derive shuffle
    parallelism for exchanges whose in-memory width AQE cannot see.
    AQE's partition coalescing targets COMPRESSED shuffle bytes; an
    exploded posting list compresses ~10× (repeated n-gram strings),
    so advisory-size coalescing can merge its reducers down to a
    partition count whose uncompressed sort spills — the r3 1M-rung
    pathology. Deriving the reducer count from source bytes up front
    keeps rows-per-reducer bounded at any corpus size with no manual
    knob (see ``dedup.span_shuffle_partitions``)."""
    return _files_bytes(df.sparkSession, df.inputFiles())


def _files_bytes(spark: SparkSession, files: list[str]) -> int:
    """Total on-disk bytes of ``files`` (Hadoop paths), from file status."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(conf)
        total += fs.getFileStatus(p).getLen()
    return total
