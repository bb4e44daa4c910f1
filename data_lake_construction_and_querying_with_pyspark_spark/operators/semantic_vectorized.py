"""Vectorized (numpy-over-Arrow) scoring twins for the SemDeDup family.

Why this module exists (docs/SCALING.md "The 10M SemDeDup wall"): the
oracle-checked assignment in ``operators/semantic.py`` scores every
(vector, centroid) candidate with the sequential-fold dot product
(``F.aggregate(F.zip_with(...))``) — the arithmetic that makes every
ANN/SemDeDup oracle bit-replayable in DuckDB — but Spark evaluates
higher-order functions on the INTERPRETED expression path (a codegen
fallback), and the measured box-wide ceiling is ~8×10⁵ fold-dots/s on
32 cores. At the 10M rung the one full shortlist assignment needs
~1.6×10¹⁰ dots ⇒ ~5.5 h regardless of plan shape, and a 1000-executor
cluster hits the same interpreter, just wider. The unrolled
fixed-width expression tree was measured OUT (1.7× slower — ROADMAP
r7); the honest escape is batch-matrix arithmetic.

These twins run the SAME shortlist semantics (anchors = m lowest cell
ids, every centroid bucketed under its nearest anchor with acell
tie-break, every vector probes its nprobe nearest anchors, argmin over
the probed buckets with (d2, cell) tie-break) but score with numpy
matmuls over Arrow batches (``mapInPandas`` — one BLAS GEMM per
(batch, probed-anchor) group instead of one interpreter walk per
candidate). numpy's pairwise/BLAS summation order differs from the
sequential fold in final ulps, so results can legitimately flip on
exact-distance ties: the twins are therefore RECALL/AGREEMENT-tested
against the fold path (tests/test_semantic_vectorized.py), never
hash-checked, and the oracle-bearing registered entries keep the fold.
Sharper than "differs from the fold": BLAS blocking depends on matrix
HEIGHT, so the twin is deterministic only at FIXED batch geometry
(input partitioning + ``arrow.maxRecordsPerBatch``) — measured
directly in the r7 batch-size A/B (scripts/measure_arrow_batch.py):
changing the batch height flipped exactly one near-tie assignment in
2M. The same A/B measured larger batches SLOWER (10k: 27.2 s, 32k:
51.5 s, 64k: 64.4 s at the 2M rung), so the Spark default stands.
Use the fold path when cross-engine replayability is the contract; use
this twin when wall-clock at ≥10M rows is.

Scale shape (better than the fold path, not just faster arithmetic):
the fold shortlist materializes (vector, probed-anchor) rows and
equi-joins them to bucketed centroids on ``acell`` — a join whose
per-key OUTPUT is quadratic in anchor popularity (the 10M skew bug the
salted join fixes, docs/SCALING.md). The vectorized twin broadcasts
the bucketed centroid index once (k·d doubles — 80 MB at k=156 250,
one copy per executor via ``SparkContext.broadcast``) and assigns each
input partition IN PLACE: zero shuffle, zero join, no skew surface,
output partitioning = input partitioning. The within-cell pair stage
keeps its one unavoidable shuffle (groupBy cell — n skinny rows) and
replaces the fold-scored self-join with a per-cell GEMM under
``applyInPandas``, blocked so a pathologically hot cell stays
O(block·|cell|) in memory instead of O(|cell|²).

Reference parity: the reference repo has no ANN/semantic surface at
all (its 233 lines are Glue/Athena plumbing — SURVEY.md §2.7); this
family is part of the required training-data-pipeline extension, and
the SemDeDup semantics follow Abbas et al. 2023 (arXiv:2303.09540).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
    N_ITERS,
    SAMPLE_PER_CELL,
    SEM_NPROBE,
    TAU,
    derive_k,
    lloyds,
    training_sample,
)
from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import as_double_vec
from data_lake_construction_and_querying_with_pyspark_spark.registry import register
from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

_PAIR_BLOCK_ROWS = 1024  # row-block size for the per-cell Gram GEMM (memory ∝ block·|cell|)
_OWNER_BLOCK_ROWS = 65536  # row-block for the centroid→anchor owner scan (memory ∝ block·m, not k·m)


def _centroid_index(centroids: DataFrame, m: int) -> dict:
    """Collect the (driver-literal) centroid table and build the
    broadcastable shortlist index: anchor matrix + per-anchor
    contiguous centroid blocks, all sorted so numpy's first-occurrence
    ``argmin`` IS the fold path's tie-break.

    Driver-bounded by construction: k·d doubles (~80 MB at the 10M
    rung's k=156 250, d=64) — the same table ``_materialize_centroids``
    already collects between Lloyd's iterations.

    Ordering invariants the assignment kernel relies on:
    * rows sorted by cell ascending ⇒ anchors are the first m rows and
      ``acells`` is ascending ⇒ a stable argsort of anchor distances
      tie-breaks toward the LOWER acell, like the fold's
      ``array_sort(struct(d2, acell))``;
    * a stable argsort by bucket owner preserves the cell-ascending
      order WITHIN each bucket ⇒ per-bucket ``argmin`` first occurrence
      is the lowest cell, like the fold's ``min_by(struct(d2, cell))``;
    * anchors own themselves (``owner[:m] = arange(m)``) ⇒ no probed
      bucket is empty, the fold path's non-empty-shortlist guarantee.
      Known divergence from the fold here: when two ANCHOR centroids
      are exact duplicate vectors, the fold buckets the higher-cell
      duplicate under the LOWER acell via its ``(d2, acell)``
      tie-break, while the self-own override keeps it in its own
      bucket. Benign for final assignments — both buckets carry the
      identical vector, and the per-row ``(d2, cell)`` tie-break picks
      the same winning cell either way — but it is a bucketing
      difference, not "like the fold" verbatim.

    The owner scan walks ``C`` in fixed row blocks: a flat
    ``(c2 - 2·C@Aᵀ + a2).argmin`` materializes a k×m matrix — 15.6 GB
    of temporaries at the 100M rung's k=1 562 500, m=1250 — while the
    blocked walk is O(block·m) regardless of k, and per-row argmin is
    independent so the result is identical row-for-row."""
    rows = centroids.collect()
    cells = np.fromiter((r["cell"] for r in rows), dtype=np.int64, count=len(rows))
    C = np.array([r["cent"] for r in rows], dtype=np.float64)
    return centroid_index_kernel(cells, C, m)


def centroid_index_kernel(cells, C, m) -> dict:
    """Pure-numpy body of :func:`_centroid_index` over raw (cells, C)
    arrays — module-level so the brute-force property tests can build
    and probe indices without Spark (tests/test_vectorized_kernels.py).
    See :func:`_centroid_index` for the ordering invariants."""
    order = np.argsort(cells, kind="stable")
    cells, C = cells[order], C[order]
    m = min(m, len(cells))
    A = C[:m].copy()
    a2 = np.einsum("ij,ij->i", A, A)
    c2 = np.einsum("ij,ij->i", C, C)
    owner = np.empty(len(cells), dtype=np.int64)
    for lo in range(0, len(cells), _OWNER_BLOCK_ROWS):
        hi = min(lo + _OWNER_BLOCK_ROWS, len(cells))
        owner[lo:hi] = (
            c2[lo:hi, None] - 2.0 * (C[lo:hi] @ A.T) + a2[None, :]
        ).argmin(axis=1)
    owner[:m] = np.arange(m)
    border = np.argsort(owner, kind="stable")
    counts = np.bincount(owner, minlength=m)
    offs = np.concatenate(([0], np.cumsum(counts)))
    return {
        "A": A,
        "a2": a2,
        "Cb": np.ascontiguousarray(C[border]),
        "cellsb": cells[border],
        "c2b": c2[border],
        "offs": offs,
    }


def shortlist_assign_vectorized(
    spark: SparkSession,
    base: DataFrame,
    centroids: DataFrame,
    m: int,
    nprobe: int = SEM_NPROBE,
    index_shards: int = 1,
    scratch_dir: str | None = None,
) -> DataFrame:
    """One shortlist Lloyd's assignment with numpy batch scoring — the
    vectorized twin of ``semantic.shortlist_assign`` (same anchors,
    buckets, probes, and tie-breaks; see the module docstring for why
    the arithmetic differs in ulps and how that is tested).

    Plan: broadcast the centroid index, then ``mapInPandas`` over
    ``base`` — each Arrow batch computes a B×m anchor GEMM, groups its
    rows by probed anchor, and runs one GEMM per (batch, anchor) group
    against that anchor's contiguous centroid block. Zero shuffle; the
    only data movement is the one-time index broadcast.

    ``index_shards`` (VERDICT r8 directive #2) removes the last
    single-structure ceiling on the 40M→1B trajectory: the one-piece
    index is k·d doubles — 80 MB at the 10M rung's k=156 250, ~800 MB
    at 100M's k=1.56M, ~5 GB at a 1B rung — and every Python worker
    deserializes its own copy of ``bc.value``, so the per-node cost is
    copies × index size. With ``index_shards=s`` the ANCHOR range is
    split into s contiguous slices and processed in s waves
    (``dedup_vectorized.stage_waves``): each wave broadcasts only its
    slice's centroid blocks (~size/s) plus the always-tiny anchor
    matrix (m×d, m = isqrt(k)), scores only the probed anchors that
    fall in the slice, stages the skinny partial (vec_id, d2, cell)
    under ``scratch_dir``, and destroys the broadcast before the next
    wave plans. The cross-wave reduce is
    ``min(struct(d2, cell))`` — the kernel's exact (d2, cell)
    lexicographic tie-break, associative, so the winner is identical
    to the one-piece scan — and winners rejoin ``base`` on vec_id (one
    linear unique-key exchange) to re-attach ``v``. Values are
    BIT-IDENTICAL to ``index_shards=1`` at fixed batch geometry: each
    per-(batch, anchor) GEMM has the same row set and the same
    contiguous block either way (probes depend only on the full anchor
    matrix, which every wave carries), and tests pin sharded == whole
    exactly. ``scratch_dir`` caveats: ``stage_waves``.

    Sizing rule (measured, 40M same-session A/B in docs/SCALING.md):
    every wave is a full corpus pass through the Arrow decode — the
    family's dominant cost — so s shards pay ≈ s× decode to divide
    index memory by s (sharded-4 measured 2.6× the one-piece wall at
    40M, values exactly equal). Leave ``index_shards=1`` whenever the
    one-piece index broadcasts comfortably (k ≲ 2M, ≲ 500 MB per
    worker copy); shard only on the 100M→1B trajectory where the
    broadcast itself is the ceiling."""
    if index_shards > 1:
        return _shortlist_assign_sharded(
            spark, base, centroids, m, nprobe, index_shards, scratch_dir
        )
    idx = _centroid_index(centroids, m)
    bc = spark.sparkContext.broadcast(idx)
    nprobe_eff = min(nprobe, len(idx["a2"]))

    out_schema = StructType(
        [
            base.schema["vec_id"],
            StructField("v", ArrayType(DoubleType()), True),
            StructField("cell", IntegerType(), True),
        ]
    )

    def assign(batches):
        st = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            best_cell = shortlist_assign_kernel(V, st, nprobe_eff)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "v": pdf["v"].values,
                    "cell": best_cell.astype(np.int32),
                }
            )

    return base.mapInPandas(assign, out_schema)


def shortlist_assign_kernel(V, st, nprobe):
    """Pure-numpy assignment kernel over one batch ``V`` and a
    centroid index ``st`` (from :func:`_centroid_index`): probe the
    ``nprobe`` nearest anchors (stable tie-break toward lower acell),
    argmin d2 over the probed buckets with (d2, cell) tie-break.
    Returns the winning cell id per row. Module-level so the
    brute-force property tests can drive it without Spark
    (tests/test_vectorized_kernels.py)."""
    A, a2 = st["A"], st["a2"]
    Cb, cellsb, c2b, offs = st["Cb"], st["cellsb"], st["c2b"], st["offs"]
    v2 = np.einsum("ij,ij->i", V, V)
    d2a = v2[:, None] - 2.0 * (V @ A.T) + a2[None, :]
    probes = np.argsort(d2a, axis=1, kind="stable")[:, :nprobe]
    B = V.shape[0]
    best_d2 = np.full(B, np.inf)
    best_cell = np.full(B, np.iinfo(np.int64).max, dtype=np.int64)
    rows_r = np.repeat(np.arange(B), probes.shape[1])
    anch_r = probes.ravel()
    o = np.argsort(anch_r, kind="stable")
    rows_r, anch_r = rows_r[o], anch_r[o]
    uanch, start = np.unique(anch_r, return_index=True)
    bounds = np.append(start, anch_r.size)
    for ui, a in enumerate(uanch):
        lo, hi = offs[a], offs[a + 1]
        if hi == lo:
            continue
        r = rows_r[bounds[ui] : bounds[ui + 1]]
        D = v2[r][:, None] - 2.0 * (V[r] @ Cb[lo:hi].T) + c2b[lo:hi][None, :]
        j = D.argmin(axis=1)
        d2 = D[np.arange(r.size), j]
        cl = cellsb[lo:hi][j]
        cur_d2, cur_cl = best_d2[r], best_cell[r]
        better = (d2 < cur_d2) | ((d2 == cur_d2) & (cl < cur_cl))
        rb = r[better]
        best_d2[rb] = d2[better]
        best_cell[rb] = cl[better]
    return best_cell


def anchor_shard_bounds(offs, shards: int) -> list[tuple[int, int]]:
    """Split the m anchors into ≤``shards`` contiguous [alo, ahi)
    ranges balanced by CENTROID-BLOCK rows (bucket sizes are skewed —
    balancing by anchor count would leave one wave holding most of the
    index). Greedy cut at each multiple of total/shards; every anchor
    lands in exactly one range. Pure function of (offs, shards) so the
    wave partition is deterministic and Spark-free testable."""
    m = len(offs) - 1
    shards = max(1, min(shards, m))
    total = int(offs[-1])
    bounds: list[tuple[int, int]] = []
    alo = 0
    for s in range(1, shards):
        target = total * s // shards
        ahi = alo + 1
        while ahi < m and int(offs[ahi]) < target:
            ahi += 1
        if ahi >= m:
            break
        bounds.append((alo, ahi))
        alo = ahi
    bounds.append((alo, m))
    return bounds


def shortlist_assign_partial_kernel(V, st, nprobe):
    """Shard-restricted body of :func:`shortlist_assign_kernel`: same
    full-anchor probe step (``st`` carries the complete anchor matrix,
    so every wave computes the identical top-``nprobe`` probes), then
    the per-anchor bucket scan runs ONLY for probed anchors in
    ``[st['alo'], st['ahi'])`` — each such (rows, anchor) GEMM has the
    same row set and the same contiguous centroid block as the
    one-piece kernel, so partial (d2, cell) values are bit-identical
    to the corresponding one-piece candidates. Returns
    ``(hit_mask, d2, cell)``; rows with no probe in range are unhit.
    Module-level so tests/test_vectorized_kernels.py can pin
    sharded == whole without Spark."""
    A, a2 = st["A"], st["a2"]
    alo, ahi = st["alo"], st["ahi"]
    Cb, cellsb, c2b, offs = st["Cb"], st["cellsb"], st["c2b"], st["offs"]
    v2 = np.einsum("ij,ij->i", V, V)
    d2a = v2[:, None] - 2.0 * (V @ A.T) + a2[None, :]
    probes = np.argsort(d2a, axis=1, kind="stable")[:, :nprobe]
    B = V.shape[0]
    best_d2 = np.full(B, np.inf)
    best_cell = np.full(B, np.iinfo(np.int64).max, dtype=np.int64)
    rows_r = np.repeat(np.arange(B), probes.shape[1])
    anch_r = probes.ravel()
    keep = (anch_r >= alo) & (anch_r < ahi)
    rows_r, anch_r = rows_r[keep], anch_r[keep]
    o = np.argsort(anch_r, kind="stable")
    rows_r, anch_r = rows_r[o], anch_r[o]
    uanch, start = np.unique(anch_r, return_index=True)
    bounds = np.append(start, anch_r.size)
    for ui, a in enumerate(uanch):
        lo, hi = offs[a - alo], offs[a - alo + 1]
        if hi == lo:
            continue
        r = rows_r[bounds[ui] : bounds[ui + 1]]
        D = v2[r][:, None] - 2.0 * (V[r] @ Cb[lo:hi].T) + c2b[lo:hi][None, :]
        j = D.argmin(axis=1)
        d2 = D[np.arange(r.size), j]
        cl = cellsb[lo:hi][j]
        cur_d2, cur_cl = best_d2[r], best_cell[r]
        better = (d2 < cur_d2) | ((d2 == cur_d2) & (cl < cur_cl))
        rb = r[better]
        best_d2[rb] = d2[better]
        best_cell[rb] = cl[better]
    return np.isfinite(best_d2), best_d2, best_cell


def _shortlist_assign_sharded(
    spark: SparkSession,
    base: DataFrame,
    centroids: DataFrame,
    m: int,
    nprobe: int,
    index_shards: int,
    scratch_dir: str | None,
) -> DataFrame:
    """Wave-sharded body of :func:`shortlist_assign_vectorized` (see
    its docstring for the contract and the bit-identity argument).
    Each wave broadcasts one anchor-range slice of the index, stages
    the skinny partial winners to scratch parquet, and destroys the
    broadcast before the next wave plans — peak per-worker index
    memory divides by the shard count while the cross-wave
    ``min(struct(d2, cell))`` reduce reproduces the kernel's exact
    tie-break."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup_vectorized import (
        stage_waves,
    )

    idx = _centroid_index(centroids, m)
    nprobe_eff = min(nprobe, len(idx["a2"]))
    offs = idx["offs"]
    partial_schema = StructType(
        [
            base.schema["vec_id"],
            StructField("d2", DoubleType(), True),
            StructField("cell", IntegerType(), True),
        ]
    )

    def waves():
        for alo, ahi in anchor_shard_bounds(offs, index_shards):
            blo, bhi = int(offs[alo]), int(offs[ahi])
            sub = {
                "A": idx["A"],
                "a2": idx["a2"],
                "alo": alo,
                "ahi": ahi,
                "Cb": np.ascontiguousarray(idx["Cb"][blo:bhi]),
                "cellsb": idx["cellsb"][blo:bhi],
                "c2b": idx["c2b"][blo:bhi],
                "offs": offs[alo : ahi + 1] - blo,
            }
            bc = spark.sparkContext.broadcast(sub)

            def partial(batches, _bc=bc):
                st = _bc.value
                for pdf in batches:
                    if pdf.empty:
                        continue
                    V = np.array(pdf["v"].tolist(), dtype=np.float64)
                    hit, d2, cell = shortlist_assign_partial_kernel(V, st, nprobe_eff)
                    if not hit.any():
                        continue
                    yield pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].values[hit],
                            "d2": d2[hit],
                            "cell": cell[hit].astype(np.int32),
                        }
                    )

            yield base.mapInPandas(partial, partial_schema)
            # The staged parquet is the wave's only output: drop the
            # broadcast NOW so the next wave's slice is the only live copy.
            try:
                bc.destroy()
            except Exception:
                bc.unpersist()

    best = (
        stage_waves(spark, waves(), scratch_dir, "semshard")
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cell")).alias("b"))
        .select("vec_id", F.col("b.cell").alias("cell"))
    )
    # Re-attach v: one linear unique-key exchange — the only shuffle
    # the sharded path adds over the zero-shuffle one-piece scan.
    return base.join(best, "vec_id").select("vec_id", "v", "cell")


def mark_within_cell_dups_vectorized(assigned: DataFrame, tau: float) -> DataFrame:
    """SemDeDup's within-cell pair stage as one per-cell GEMM — the
    vectorized twin of ``semantic.mark_within_cell_dups`` (same
    semantics: a vector is a dup iff a LOWER-vec_id cell-mate has
    cosine ≥ tau; zero-norm vectors are never dups, matching the fold
    path's NULL-comparison behavior).

    One shuffle (groupBy cell — n skinny rows, the stage's unavoidable
    exchange), then ``applyInPandas`` sorts each cell by vec_id,
    normalizes once, and walks the Gram product in row blocks so a
    pathologically popular cell costs O(block·|cell|) memory, not
    O(|cell|²)."""
    out_schema = StructType(
        [
            assigned.schema["vec_id"],
            StructField("cell_id", IntegerType(), True),
            StructField("is_semantic_dup", BooleanType(), False),
        ]
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        safe = np.where(nrm == 0.0, 1.0, nrm)
        N = V / safe[:, None]
        N[nrm == 0.0] = 0.0  # zero vectors match nothing (cos := 0 < tau)
        n = N.shape[0]
        dup = np.zeros(n, dtype=bool)
        for lo in range(1, n, _PAIR_BLOCK_ROWS):
            hi = min(lo + _PAIR_BLOCK_ROWS, n)
            G = N[lo:hi] @ N[:hi].T
            hits = G >= tau
            # only columns j < row index i count (lower vec_id after the sort)
            mask = np.arange(hi)[None, :] < np.arange(lo, hi)[:, None]
            dup[lo:hi] = (hits & mask).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].values,
                "cell_id": pdf["cell"].astype(np.int32).values,
                "is_semantic_dup": dup,
            }
        )

    return assigned.groupBy("cell").applyInPandas(per_cell, out_schema)


def semantic_dedup_sampled_vectorized(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    iters: int = N_ITERS,
    tau: float = TAU,
    nprobe: int = SEM_NPROBE,
    sample_per_cell: int = SAMPLE_PER_CELL,
    index_shards: int = 1,
    scratch_dir: str | None = None,
) -> DataFrame:
    """``semantic.semantic_dedup_sampled`` with every fold-scored stage
    swapped for its vectorized twin: sample-trained Lloyd's (same seeds,
    same deterministic md5-threshold sample, same exact-decimal centroid
    update) with numpy shortlist assignment, one vectorized full-corpus
    assignment, and the per-cell GEMM pair scan. Registered rows-only
    as ``semantic_dedup_sampled_vectorized`` (no hash oracle — the
    ulp-order caveat in the module docstring); the production path for
    ≥10M-row corpora where the fold arithmetic is the measured wall.

    ``base`` is deliberately NOT persisted (r8): at the 100M rung the
    decoded-double cache is ~52 GB — it evicts to disk next to the pair
    stage's equally-sized shuffle and the two together exhaust local
    disk, while the few extra passes it would save are plain columnar
    parquet scans (~9 GB each, seconds). The TRAINING SAMPLE stays
    persisted — it is 16× smaller and read once per Lloyd's
    iteration.

    ``index_shards > 1`` routes every assignment (each training
    iteration's and the full-corpus final) through the wave-sharded
    centroid index (``shortlist_assign_vectorized`` docstring) —
    value-identical, bounds per-worker index memory by 1/s for the
    40M→1B trajectory where the one-piece broadcast (~800 MB at 100M,
    ~5 GB at 1B) is the last single-structure ceiling. Each Lloyd's
    step stages its waves under ``scratch_dir/iter_<step>``
    (cluster-visible off local-mode); the trainer is
    ``semantic.lloyds``."""
    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    n = base.count()
    sample = training_sample(base, n, k, sample_per_cell)
    if sample is not base:
        sample = sample.persist()

    def assign(frame, centroids, m, step):
        return shortlist_assign_vectorized(
            spark, frame, centroids, m, nprobe,
            index_shards=index_shards,
            scratch_dir=None if scratch_dir is None else f"{scratch_dir}/iter_{step}",
        )

    _, final = lloyds(spark, base, k, iters, assign, train=sample)
    return mark_within_cell_dups_vectorized(final, tau)


@register("semantic_dedup_sampled_vectorized", oracle=None)
def semantic_dedup_sampled_vectorized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered face of the GEMM SemDeDup twin — the path the
    scale ladder runs at ≥2M rows (docs/SCALING.md decision table:
    200.8 s at 2M, 386.9 s at 10M, 976.5 s at 20M, 3 892 s at 100M,
    planted recovery flat in the 97% band). Same corpus, k policy, and
    output contract (vec_id, cell_id, is_semantic_dup) as the
    hash-oracled ``semantic_dedup_sampled`` entry.

    Rows-only by design, not omission: BLAS GEMM summation order
    diverges from the fold in final ulps (module docstring), which no
    cross-engine hash oracle can absorb — value agreement with the
    oracle-bearing fold is pinned instead by
    tests/test_semantic_vectorized.py and the marker-gated 200k rung in
    tests/test_rung_agreement.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_sampled_vectorized(spark, emb, k=derive_k(emb.count()))
