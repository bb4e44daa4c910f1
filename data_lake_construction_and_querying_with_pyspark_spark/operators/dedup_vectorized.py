"""Vectorized (numpy-over-Arrow) scoring twin for the embedding
near-dup band pool.

Companion to ``operators/semantic_vectorized.py`` (read its module
docstring for the shared contract): the oracle-checked
``dedup_embedding_cosine_pairs`` scores every band-bucket candidate
with the interpreted sequential-fold cosine inside the (tbl, bucket)
self-join. That shape is measured sublinear to 1M, but the 10M volume
probe (docs/SCALING.md, r7) put the production 8×16 geometry at
1.275×10¹⁰ candidate evals — **>11 h on this box at the measured fold
throughput**, which is why the ≥10M hard-negative source moved to IVF
lists. This twin removes that wall a second way: group the bucket
rows and run ONE blocked GEMM per (tbl, bucket) under
``applyInPandas`` instead of forming candidate rows at all.

Why this is the right 100 TB shape:

* the candidate pairs NEVER materialize — the self-join's
  per-key-quadratic output (the volume the probe counted) becomes
  per-bucket matrix arithmetic; what crosses the Arrow boundary is the
  bucket MEMBERS (n·n_tables rows), not the pairs;
* the one shuffle is the groupBy (tbl, bucket) exchange — n·n_tables
  rows with the vector riding along, the same ~linear volume the fold
  path's ``heavy`` frame already carried into its self-join;
* BLAS GEMM sustains orders of magnitude more multiply-adds per second
  than the interpreted fold (the measured wall: ~8×10⁵ fold-d2/s
  box-wide), so Σ C(bucket, 2)·d arithmetic stops being the bottleneck;
* the per-bucket Gram walk is row-blocked (block·|bucket| memory, not
  |bucket|²), so a hot bucket degrades gracefully — though the
  log n-scaled band width (16+ bits at 10M) is still what keeps
  buckets small; this twin fixes the ARITHMETIC wall, not a saturated
  8-bit geometry.

Arithmetic caveat (same as the semantic twins): cosines come from
normalized-vector GEMMs, whose summation order differs from the fold
in final ulps — and the SAME pair surviving in two tables can score
ulp-differently because dgemm blocking depends on matrix shape, so
cross-table dedup aggregates ``max(cosine)`` per pair instead of
relying on bitwise-equal rows. Recall/agreement-tested against the
fold operator (tests/test_dedup_vectorized.py); the PRIMARY registered
entry keeps the fold + DuckDB oracle, and the twin is registered
rows-only (``dedup_embedding_cosine_pairs_vectorized``) so the
production path is reachable through the same query API.

Reference parity: the reference repo has no dedup surface (SURVEY.md
§2.7 — this family is part of the required training-data-pipeline
extension); geometry and thresholds follow the registered operator.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
    _hyperplanes,
    as_double_vec,
)
from data_lake_construction_and_querying_with_pyspark_spark.registry import register


def best_effort_jvm_gc(spark: SparkSession) -> None:
    """Nudge the driver JVM to GC so the ContextCleaner releases a
    finished wave's shuffle files promptly. Strictly best-effort: the
    private ``_jvm`` handle does not exist under Spark Connect (no
    driver-side ``sparkContext``) and ``System.gc()`` is advisory even
    on classic — the wave knob's scratch bound does not DEPEND on the
    nudge, it only shortens the window where a dead wave's scratch
    coexists with the next wave's live files, so absence degrades to
    the pre-knob cleanup cadence instead of crashing."""
    try:
        sc = getattr(spark, "sparkContext", None)
        jvm = getattr(sc, "_jvm", None)
        if jvm is not None:
            jvm.System.gc()
    except Exception:
        pass

_PAIR_BLOCK_ROWS = 1024  # row-block for the per-bucket Gram walk (memory ∝ block·|bucket|)


def lsh_buckets_vectorized(
    spark: SparkSession,
    e: DataFrame,
    n_tables: int,
    n_planes: int,
    seed: int = 7,
    vec_col: str = "v",
    tables: "Sequence[int] | None" = None,
) -> DataFrame:
    """Flat (vec_id, tbl, bucket, nv) band rows with the sign bits
    computed as ONE (batch × all-planes) GEMM per Arrow batch — the
    vectorized twin of ``similarity.lsh_multi_buckets_flat`` (same
    ``_hyperplanes`` constants, same bit/bucket layout, so buckets
    agree with the fold form except when a projection sits within ulps
    of zero). The kernel also NORMALIZES in the same pass (signs are
    scale-invariant; zero-norm vectors map to the zero vector, whose
    cosine is 0 everywhere — the fold path's NULL-comparison behavior)
    so the downstream verify GEMM is a plain Gram product. The
    normalized vector rides along because the per-bucket verify needs
    it; zero shuffle here — the groupBy downstream pays the one
    exchange.

    ``tables`` restricts the pass to an explicit subset of table
    indices (default: all of ``range(n_tables)``). Plane seeds stay
    keyed by the ABSOLUTE table index (``seed + 1000*t``) and the
    emitted ``tbl`` column carries that absolute index, so any
    partition of the table set unions to exactly the single-pass
    band-row set — the contract `canonical_corpus_embeddings_vectorized`'s
    scratch-bounded table batching relies on (the r8 20M rung measured
    the full 8-table exchange at ~85 GB of shuffle scratch, past this
    box's ceiling; see docs/SCALING.md)."""
    if tables is None:
        tables = list(range(n_tables))
    tables = list(tables)
    n_emit = len(tables)
    first = e.select(F.size(vec_col).alias("d")).first()
    dim = first["d"] if first else 0
    P = np.array(
        [
            plane
            for t in tables
            for plane in _hyperplanes(dim, n_planes, seed + 1000 * t)
        ],
        dtype=np.float64,
    )  # (len(tables)*n_planes) × dim
    weights = (1 << np.arange(n_planes, dtype=np.int64))[None, :]
    bc = spark.sparkContext.broadcast(P)

    out_schema = StructType(
        [
            e.schema["vec_id"],
            StructField("tbl", IntegerType(), False),
            StructField("bucket", IntegerType(), False),
            StructField("nv", ArrayType(DoubleType()), True),
        ]
    )

    def bucketize(batches):
        planes = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (V @ planes.T) > 0.0  # B × (len(tables)·planes)
            bkt = (
                bits.reshape(-1, n_emit, n_planes) * weights[None, :, :]
            ).sum(axis=2)  # B × len(tables)
            nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
            N = V / np.where(nrm == 0.0, 1.0, nrm)[:, None]
            N[nrm == 0.0] = 0.0
            B = V.shape[0]
            nv_obj = np.empty(B, dtype=object)  # 1-D object array of row views
            for i in range(B):                  # (np.asarray(list) would go 2-D)
                nv_obj[i] = N[i]
            nv_rep = np.repeat(nv_obj, n_emit)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].values, n_emit),
                    "tbl": np.tile(np.array(tables, dtype=np.int32), B),
                    "bucket": bkt.astype(np.int32).ravel(),
                    "nv": nv_rep,
                }
            )

    return e.select("vec_id", vec_col).mapInPandas(bucketize, out_schema)


def pairs_above_tau_kernel(ids, N, tau):
    """Pure-numpy bucket kernel: all (lower-id, higher-id, cosine)
    pairs with cosine STRICTLY above tau among normalized rows ``N``
    (ids ascending, rows aligned). Module-level so the property tests
    can drive it against a brute-force reference without a Spark
    round trip per example (tests/test_vectorized_kernels.py); the
    ``applyInPandas`` wrapper above is a thin adapter."""
    n = len(ids)
    if n < 2:
        return ids[:0], ids[:0], np.array([], dtype=np.float64)
    a_out, b_out, c_out = [], [], []
    for lo in range(1, n, _PAIR_BLOCK_ROWS):
        hi = min(lo + _PAIR_BLOCK_ROWS, n)
        G = N[lo:hi] @ N[:hi].T
        mask = np.arange(hi)[None, :] < np.arange(lo, hi)[:, None]
        r, c = np.nonzero((G > tau) & mask)
        if r.size:
            a_out.append(ids[c])
            b_out.append(ids[r + lo])
            c_out.append(G[r, c])
    if not a_out:
        return ids[:0], ids[:0], np.array([], dtype=np.float64)
    return np.concatenate(a_out), np.concatenate(b_out), np.concatenate(c_out)


def embedding_cosine_pairs_vectorized(
    spark: SparkSession,
    emb: DataFrame,
    tau: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
    tables: Sequence[int] | None = None,
) -> DataFrame:
    """Embedding near-dup pairs at the production band geometry with
    GEMM scoring — the vectorized twin of
    ``dedup.embedding_cosine_pairs_scaled`` (same hyperplanes, same
    candidate semantics: a pair is scored iff it shares any table's
    bucket; same strict ``cosine > tau``; output (vec_a < vec_b,
    cosine)).

    Stages: band rows + in-kernel normalization via
    ``lsh_buckets_vectorized`` (zero shuffle, no JVM fold anywhere),
    ONE groupBy (tbl, bucket) exchange, then per-bucket blocked Gram
    products emitting only surviving pairs; cross-table dedup via
    max(cosine) per pair (see the module docstring for why not
    ``.distinct()``).

    ``tables`` restricts the pass to a subset of absolute table
    indices (see `lsh_buckets_vectorized`) — the building block for
    scratch-bounded table batching; the per-pair max over a union of
    table subsets equals the single-pass max only after a final
    re-aggregate, which `canonical_corpus_embeddings_vectorized`
    doesn't need (components only consume edge existence)."""
    base = emb.select("vec_id", as_double_vec(F.col(vec_col)).alias("v"))
    flat = lsh_buckets_vectorized(spark, base, n_tables, n_planes, seed, tables=tables)

    out_schema = StructType(
        [
            StructField("vec_a", flat.schema["vec_id"].dataType, True),
            StructField("vec_b", flat.schema["vec_id"].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].values
        N = np.array(pdf["nv"].tolist(), dtype=np.float64)
        a, b, c = pairs_above_tau_kernel(ids, N, tau)
        return pd.DataFrame({"vec_a": a, "vec_b": b, "cosine": c})

    return (
        flat.groupBy("tbl", "bucket")
        .applyInPandas(per_bucket, out_schema)
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cosine").alias("cosine"))
    )


def canonical_corpus_embeddings_vectorized(
    spark: SparkSession,
    emb: DataFrame,
    tau: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 16,
    seed: int = 7,
    table_batches: int = 1,
    scratch_dir: str | None = None,
) -> DataFrame:
    """The embedding ladder's end-to-end deliverable with GEMM scoring
    — the vectorized twin of the registered
    ``dedup_canonical_corpus_embeddings`` composition, over an
    arbitrary (vec_id, embedding) corpus: near-dup pairs (per-bucket
    GEMM verify above) → connected components (``dedup.py`` — driver
    union-find under its gate, distributed min-label iteration above)
    → keep-min-id → surviving ids by anti-join. The pair stage is the
    only scorer, so the twin caveats live entirely there; components
    and the anti-join are the same exact machinery the oracle-checked
    entry runs. Returns the surviving (vec_id) frame.

    ``table_batches`` bounds PEAK SHUFFLE SCRATCH, not arithmetic: the
    (tbl, bucket) exchange carries the normalized f64 vector once per
    table — ~n·n_tables·8·(d+1) bytes live at once, and LZ4 buys
    almost nothing on random doubles. The r8 20M rung measured the
    single-pass 8-table exchange at ~85 GB, past this box's ~77 GB
    scratch ceiling ("No space left on device" with 30 of 64 map
    tasks still queued; docs/SCALING.md). With ``table_batches=k``
    the table set is processed in k waves — each wave's surviving
    pairs (tiny: near-dup edges, not candidates) are staged to
    ``scratch_dir`` parquet and the wave's shuffle files are released
    before the next wave plans, so peak scratch divides by k while
    every bucket/cosine value stays BIT-IDENTICAL (plane seeds are
    keyed by absolute table index). The union may hold duplicate
    edges (a pair surviving in two waves' tables); components consume
    edge existence, so no re-max is needed. On a real cluster the
    same knob trades wall-clock for bounded per-node scratch — the
    standard move when disk, not CPU, is the binding constraint.

    ``scratch_dir`` caveats (the returned DataFrame lazily READS the
    staged wave parquet): off local-mode it must be a shared,
    cluster-visible path (HDFS/S3/NFS) — the local-``/tmp`` default
    only works when driver and executors share a filesystem — and it
    must outlive every action on the returned frame; the default
    ``mkdtemp`` directory is deliberately not auto-deleted for that
    reason (callers own cleanup after their last action)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        connected_components,
    )

    if table_batches <= 1:
        pairs = embedding_cosine_pairs_vectorized(
            spark, emb, tau=tau, n_tables=n_tables, n_planes=n_planes, seed=seed
        ).select("vec_a", "vec_b")
    else:
        import tempfile

        scratch = scratch_dir or tempfile.mkdtemp(prefix="canonvec_waves_")
        all_tables = list(range(n_tables))
        wave_paths = []
        for ci in range(table_batches):
            chunk = all_tables[ci::table_batches]
            if not chunk:
                continue
            path = f"{scratch}/pairs_wave_{ci}"
            embedding_cosine_pairs_vectorized(
                spark, emb, tau=tau, n_tables=n_tables, n_planes=n_planes,
                seed=seed, tables=chunk,
            ).select("vec_a", "vec_b").write.mode("overwrite").parquet(path)
            wave_paths.append(path)
            # Release the finished wave's shuffle files NOW: the
            # ContextCleaner frees them only when the dependency is
            # GC'd driver-side, and 85 GB of dead scratch next to the
            # next wave's live 43 GB is exactly the OOD this knob
            # exists to avoid.
            best_effort_jvm_gc(spark)
        pairs = spark.read.parquet(*wave_paths)
    cc = connected_components(pairs, "vec_a", "vec_b")
    drop = cc.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("vec_id")
    )
    return emb.select("vec_id").join(drop, "vec_id", "left_anti")


@register("dedup_embedding_cosine_pairs_vectorized", oracle=None)
def dedup_embedding_cosine_pairs_vectorized_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The registered face of the band-pool GEMM twin — the wall-clock
    path for the candidate pool the fold throughput probe priced at
    >11 h at 10M (docs/SCALING.md: 938.5 s, 100% planted-clone
    recovery). Same planted-clone corpus, hyperplane seed, 8×16
    geometry and τ=0.9 as the hash-oracled
    ``dedup_embedding_cosine_pairs`` entry, so at the sf fixtures both
    entries emit exactly the planted pairs.

    Rows-only by design: the GEMM cosine differs from the fold's in
    final ulps (module docstring), so the fold entry carries the
    cross-engine oracle and the twin's value agreement is pinned by
    tests/test_dedup_vectorized.py plus the marker-gated 200k rung in
    tests/test_rung_agreement.py."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SCALED_PLANES,
        _SCALED_TABLES,
        _SCALED_TAU,
        planted_clone_embeddings,
    )

    return embedding_cosine_pairs_vectorized(
        spark,
        planted_clone_embeddings(spark, sf_dir),
        tau=_SCALED_TAU,
        n_tables=_SCALED_TABLES,
        n_planes=_SCALED_PLANES,
    )
