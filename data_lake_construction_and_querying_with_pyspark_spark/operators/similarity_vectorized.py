"""Vectorized (numpy-over-Arrow) scoring twin for the IVF-pool
hard-negative triplet miner.

Third member of the r7 vectorized-twin family (read
``operators/semantic_vectorized.py`` for the shared contract and
``operators/dedup_vectorized.py`` for the band-pool member). The fold
miner ``similarity.hard_negative_triplets_ivf`` is the documented
≥100M negative source, but at the 10M rung its ONE full-corpus
shortlist assignment pays the same ~1.6×10¹⁰ interpreted fold dots as
SemDeDup (~5.5 h on this box — docs/SCALING.md "The 10M SemDeDup
wall"), and its positives band join and cell self-join are fold-scored
too. This twin keeps every semantic (same positive-pair contract, same
deterministic quantizer lineage — seeds, sample draw, exact-decimal
centroid update — same inverted-list negative pool, same hardest-mate
tie-break: cosine DESC then LOWEST nbr_id, the fold's
``max_by(struct(nbr_id, cosine), struct(cosine, -nbr_id))``) and
replaces every fold scorer:

* positives: the per-bucket GEMM pair scan
  (``dedup_vectorized.embedding_cosine_pairs_vectorized`` — identical
  pair semantics to ``similarity._positive_pairs``);
* quantizer training + full assignment: ``semantic.ivf_quantizer`` scored by
  ``semantic_vectorized.shortlist_assign_vectorized`` (broadcast
  centroid index, in-place assignment, zero shuffle — the salted-join
  skew surface is gone, not salted);
* negatives: one row-blocked Gram product per INVERTED LIST under
  ``applyInPandas`` — candidates never materialize; the exchange
  carries n cell-keyed member rows, and cell population is k-means
  balanced (~TARGET_CELL), so candidate arithmetic is ~TARGET_CELL·n.

Same library-only status as the other twins: BLAS summation order
differs from the fold in final ulps, and the twin-trained quantizer's
cell boundaries drift accordingly, so output is agreement/contract-
tested against the fold miner (tests/test_similarity_vectorized.py),
never hash-checked; the registered ``hard_negative_mining`` entry and
the fold miner keep their oracles.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup_vectorized import (
    embedding_cosine_pairs_vectorized,
    lsh_buckets_vectorized,
    stage_waves,
    table_waves,
)
from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
    SEM_NPROBE,
    ivf_quantizer,
)
from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic_vectorized import (
    shortlist_assign_vectorized,
)
from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
    _GRAPH_TOP_K,
    as_double_vec,
)
from data_lake_construction_and_querying_with_pyspark_spark.registry import register

_NEG_BLOCK_ROWS = 1024  # row-block for the per-cell hardest-mate Gram walk


def hardest_negatives_per_cell(assigned: DataFrame, tau: float) -> DataFrame:
    """(anchor_id, neg_id, neg_cosine): for every vector, the
    highest-cosine SUB-THRESHOLD (≤ tau) mate inside its inverted
    list, lowest nbr_id on cosine ties — the fold miner's cell
    self-join + ``_hardest_neg`` argmax as one blocked Gram walk per
    cell. Anchors alone in their cell (or whose every mate is a
    super-threshold near-dup) emit nothing, matching the fold's honest
    approximate coverage."""
    out_schema = StructType(
        [
            StructField("anchor_id", assigned.schema["vec_id"].dataType, True),
            StructField("neg_id", assigned.schema["vec_id"].dataType, True),
            StructField("neg_cosine", DoubleType(), True),
        ]
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].values
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        a, nid, c = hardest_mate_kernel(ids, V, tau)
        return pd.DataFrame({"anchor_id": a, "neg_id": nid, "neg_cosine": c})

    return assigned.groupBy("cell").applyInPandas(per_cell, out_schema)


def hardest_mate_kernel(ids, V, tau):
    """Pure-numpy inverted-list kernel: for each row, the
    highest-cosine mate with cosine ≤ tau (lowest id on ties); zero-
    norm rows are neither anchors nor candidates (fold NULL-cosine
    semantics); rows with no eligible mate emit nothing. ``ids``
    ascending, rows of raw (unnormalized) ``V`` aligned. Module-level
    for the brute-force property tests (tests/test_vectorized_kernels.py)."""
    n = len(ids)
    empty = (ids[:0], ids[:0], np.array([], dtype=np.float64))
    if n < 2:
        return empty
    nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
    zero = nrm == 0.0
    N = V / np.where(zero, 1.0, nrm)[:, None]
    N[zero] = 0.0
    best_c = np.full(n, -np.inf)
    best_id = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    for lo in range(0, n, _NEG_BLOCK_ROWS):
        hi = min(lo + _NEG_BLOCK_ROWS, n)
        G = N[lo:hi] @ N.T
        rows = np.arange(lo, hi)
        G[np.arange(hi - lo), rows] = np.inf  # self never eligible
        G[:, zero] = np.inf  # zero-norm mate: fold cosine is NULL, never a negative
        G[G > tau] = -np.inf  # super-threshold mates are positives, not negatives
        j = G.argmax(axis=1)  # first occurrence = lowest nbr_id on ties
        c = G[np.arange(hi - lo), j]
        cand_id = ids[j]
        better = (c > best_c[rows]) | ((c == best_c[rows]) & (cand_id < best_id[rows]))
        rb = rows[better]
        best_c[rb] = c[better]
        best_id[rb] = cand_id[better]
    # zero-norm ANCHORS emit nothing either (their fold cosines are
    # all NULL), and -inf marks anchors with no eligible mate
    keep = np.isfinite(best_c) & ~zero
    return ids[keep], best_id[keep], best_c[keep]


def knn_graph_planes(n_docs: int, base_docs: int = 40_000_000, base_planes: int = 16) -> int:
    """Geometry sizing for the kNN-graph family: 16 planes through the
    highest MEASURED scale (40M), then +1 hyperplane bit per corpus
    doubling — a hypothesis for ≥80M, not a validated setting.

    The r10 same-session A/B at 40M (same corpus, back-to-back, both
    waves=4, both 100% planted rank-1 recovery — docs/SCALING.md)
    REFUTED the r9 conjecture that the anchor belongs at 20M: 8×17
    read 3 150.2 s vs the 8×16 control's 2 368.0 s — 1.33× SLOWER.
    Mechanism: +1 bit doubles the POPULATED GROUP count (8·2¹⁷ ≈ 1M
    applyInPandas groups), and the per-group fixed cost (Arrow slice,
    pandas frame, kernel invocation — ~1.5 ms/group implied by the
    pair) outweighs the quartered per-bucket Gram at ~610 rows/bucket;
    the quadratic Gram term is NOT yet dominant at 40M (the r9 3.14×
    ratio that suggested it carried cross-session box state: today's
    same-code 40M control reads 2 368 s vs r9's 2 795.7 s). The
    crossover where +1 bit pays — per-bucket Gram gain > per-group
    overhead doubling — lands at larger populations; this anchor puts
    the first +1 bit at 80M (~1 220 rows/bucket at 16 planes), to be
    A/B-measured before trusting, same discipline as this round.
    Recall note: extra bits stay sharp for near-duplicate-grade
    neighbors (cosine → 1 collides in every bit w.p. → 1, ×8 tables);
    mid-cosine regimes trade recall — size by target similarity."""
    import math

    if n_docs <= base_docs:
        return base_planes
    return base_planes + math.ceil(math.log2(n_docs / base_docs))


def knn_graph_edges_vectorized(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 3,
    n_tables: int = 8,
    n_planes: int = 16,
    seed: int = 7,
    table_batches: int = 1,
    scratch_dir: str | None = None,
    tables: "list[int] | None" = None,
    log_wave_wall=None,
) -> DataFrame:
    """Approximate kNN-graph edges with GEMM scoring — the vectorized
    twin of ``similarity.knn_graph_edges`` (same bands via the shared
    hyperplanes, same directional candidates, same output contract:
    (vec_id, nbr_id, cosine, edge_rank) ranked by (cosine DESC,
    nbr_id ASC)).

    Shape: band rows from ``lsh_buckets_vectorized`` (zero shuffle),
    then a per-(tbl, bucket) blocked Gram walk that emits only each
    member's LOCAL top-k — the candidate multiset never materializes,
    and the exchange after the buckets carries ≤ n·n_tables·k skinny
    rows (the fold path's WindowGroupLimit guarantee, enforced in the
    kernel instead). Local top-k prune is lossless for the global
    (cosine DESC, nbr_id) order: a stable argsort on negated cosines
    over id-ascending columns IS that composite order, per bucket; the
    cross-table ``max(cosine)`` dedup and the final window then merge
    per-bucket winners exactly like the fold's distinct + window.
    Same ulp caveat as every twin (dgemm vs fold summation order), so
    equality is pinned by test on the planted corpus, not by oracle.

    ``table_batches`` is the same scratch-bounding wave knob as the
    canonical twin's (the band exchange carries the f64 vector once
    per table — ~85 GB live at 20M×8, the r8 measured ceiling). The
    per-bucket LOCAL top-k rows are what each wave stages (skinny:
    ≤ n·tables_in_wave·k), and the union of per-bucket locals over a
    partition of the table set IS the single-pass local set, so the
    downstream max-dedup + window produce identical edges.
    Waves stage through ``dedup_vectorized.stage_waves`` (its
    ``scratch_dir`` caveats apply).

    ``tables`` restricts the pass to an explicit subset of absolute
    table indices (plane seeds stay keyed by the absolute index, same
    contract as ``lsh_buckets_vectorized``) — the partial-arm knob the
    80M geometry A/B's paired-wave probe uses; partial-table output is
    a partial graph, so production callers leave it None.
    ``log_wave_wall`` (callable, dict -> None) receives one breadcrumb
    per staged wave — {"wave", "tables", "seconds"} — measured around
    the wave's eager parquet write and GC nudge; rung scripts stream these to
    the results file so a wall-clock overrun preserves every finished
    wave (the waves run at call time; only the merge is lazy).

    Geometry sizing: 8×16 is the measured-best setting through 40M —
    the r10 same-session A/B read +1 plane bit as 1.33× SLOWER at 40M
    (per-group overhead beats the halved Gram term; full adjudication
    on ``knn_graph_planes``). Past 40M pass
    ``n_planes=knn_graph_planes(n_docs)``; its +1-bit-per-doubling
    tail is the hypothesis to A/B at the 80M octave, not a validated
    default."""
    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))

    out_schema = StructType(
        [
            StructField("vec_id", base.schema["vec_id"].dataType, True),
            StructField("nbr_id", base.schema["vec_id"].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].values
        N = np.array(pdf["nv"].tolist(), dtype=np.float64)
        s, d, c = local_topk_kernel(ids, N, k)
        return pd.DataFrame({"vec_id": s, "nbr_id": d, "cosine": c})

    def local_for(tables):
        return lsh_buckets_vectorized(
            spark, base, n_tables, n_planes, seed, tables=tables
        ).groupBy("tbl", "bucket").applyInPandas(per_bucket, out_schema)

    def waves():
        all_tables = tables if tables is not None else range(n_tables)
        for wi, chunk in enumerate(table_waves(all_tables, table_batches)):
            t0 = time.time()
            yield local_for(chunk)
            if log_wave_wall is not None:
                log_wave_wall(
                    {"wave": wi, "tables": chunk, "seconds": round(time.time() - t0, 2)}
                )

    if table_batches <= 1:
        local = local_for(tables)
    else:
        local = stage_waves(spark, waves(), scratch_dir, "knngraphvec")
    merged = local.groupBy("vec_id", "nbr_id").agg(F.max("cosine").alias("cosine"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return merged.withColumn("edge_rank", F.row_number().over(w).cast("int")).filter(
        F.col("edge_rank") <= k
    )


def local_topk_kernel(ids, N, k):
    """Pure-numpy bucket kernel: each row's top-``k`` mates by
    (cosine DESC, id ASC) over normalized rows ``N`` (ids ascending,
    rows aligned) — a stable argsort of negated cosines over
    id-ascending columns IS that composite order. Zero-norm rows
    (``lsh_buckets_vectorized`` maps them to the all-zero vector) are
    neither anchors nor candidates: their Gram cosine of 0.0 would
    otherwise outrank genuinely negative-cosine neighbors, and the fold
    ``knn_graph_edges`` has no behavior to match here — under the
    repo's ANSI session its cosine expression throws DIVIDE_BY_ZERO on
    a zero-norm vector, so exclusion (the ``hardest_mate_kernel``
    convention) is the family-consistent choice. Module-level for the
    brute-force property tests (tests/test_vectorized_kernels.py)."""
    n = len(ids)
    if n < 2:
        return ids[:0], ids[:0], np.array([], dtype=np.float64)
    zero = np.einsum("ij,ij->i", N, N) == 0.0
    kk = min(k, n - 1)
    src, dst, cos = [], [], []
    for lo in range(0, n, _NEG_BLOCK_ROWS):
        hi = min(lo + _NEG_BLOCK_ROWS, n)
        G = N[lo:hi] @ N.T
        G[np.arange(hi - lo), np.arange(lo, hi)] = -np.inf  # self
        G[:, zero] = -np.inf  # zero-norm mate: never a neighbor
        G[zero[lo:hi], :] = -np.inf  # zero-norm anchor: emits nothing
        # stable argsort of -cosine over id-ascending columns ==
        # the fold's (cosine DESC, nbr_id ASC) window order
        top = np.argsort(-G, axis=1, kind="stable")[:, :kk]
        c = np.take_along_axis(G, top, axis=1).ravel()
        keep = np.isfinite(c)
        src.append(np.repeat(ids[lo:hi], kk)[keep])
        dst.append(ids[top.ravel()][keep])
        cos.append(c[keep])
    return np.concatenate(src), np.concatenate(dst), np.concatenate(cos)


def hard_negative_triplets_ivf_vectorized(
    spark: SparkSession,
    emb: DataFrame,
    tau: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 16,
    train_on_sample: bool | None = None,
    table_batches: int = 1,
    scratch_dir: str | None = None,
) -> DataFrame:
    """``similarity.hard_negative_triplets_ivf`` with every fold scorer
    swapped for its GEMM twin (module docstring). Output schema and
    contract identical: (anchor_id, pos_id, pos_cosine, neg_id,
    neg_cosine) with pos_cosine > tau ≥ neg_cosine, negatives from the
    anchor's own inverted list.

    ``table_batches`` bounds the positives stage's peak shuffle
    scratch exactly like `canonical_corpus_embeddings_vectorized`'s
    knob (the band exchange carries the normalized f64 vector once
    per table — the r8 20M canonical rung measured the 8-table pass
    at ~85 GB, past this box's ceiling). Unlike the canonical path,
    the miner CONSUMES pair cosines, so the cross-wave union is
    re-aggregated with max(cosine) per pair — per-wave maxes are
    bit-identical per (pair, table), and max over waves of per-wave
    maxes is the single-pass max, so the output is value-identical.
    Waves stage through ``dedup_vectorized.stage_waves`` (its
    ``scratch_dir`` caveats apply); the quantizer is
    ``semantic.ivf_quantizer`` with the vectorized shortlist as its
    scorer."""

    def pairs_for(tables):
        return embedding_cosine_pairs_vectorized(
            spark, emb, tau=tau, n_tables=n_tables, n_planes=n_planes, tables=tables
        )

    if table_batches <= 1:
        pos = pairs_for(None)
    else:
        waves = (pairs_for(c) for c in table_waves(range(n_tables), table_batches))
        pos = (
            stage_waves(spark, waves, scratch_dir, "ivfnegvec")
            .groupBy("vec_a", "vec_b")
            .agg(F.max("cosine").alias("cosine"))
        )
    pos = pos.select(
        F.col("vec_a").alias("anchor_id"),
        F.col("vec_b").alias("pos_id"),
        F.col("cosine").alias("pos_cosine"),
    )

    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v")).persist()

    def assign(frame, centroids, m, step):
        return shortlist_assign_vectorized(spark, frame, centroids, m, SEM_NPROBE)

    _, assigned = ivf_quantizer(spark, base, base.count(), assign, train_on_sample)

    neg = hardest_negatives_per_cell(assigned, tau)
    return pos.join(neg, "anchor_id")


@register("knn_graph_topk_vectorized", oracle=None)
def knn_graph_topk_vectorized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered face of the kNN-graph GEMM twin: top-3 edges per
    vector over the same planted-clone corpus, hyperplane seed, and
    8×16 geometry as the hash-oracled ``knn_graph_topk`` — the
    per-bucket local-top-k prune is lossless for the (cosine DESC,
    nbr_id) order, so the edge SET matches the fold entry exactly on
    this corpus (pinned by tests/test_similarity_vectorized.py).

    Rows-only because the cosine VALUES carry the family's ulp caveat
    (module docstring); the 10M rung of record lives in
    docs/SCALING.md."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SCALED_PLANES,
        _SCALED_TABLES,
        planted_clone_embeddings,
    )

    return knn_graph_edges_vectorized(
        spark,
        planted_clone_embeddings(spark, sf_dir),
        k=_GRAPH_TOP_K,
        n_tables=_SCALED_TABLES,
        n_planes=_SCALED_PLANES,
    )


@register("hard_negative_mining_ivf_vectorized", oracle=None)
def hard_negative_mining_ivf_vectorized_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The registered face of the IVF-pool GEMM triplet miner — the
    ≥10M hard-negative production path (docs/SCALING.md: 1 386.2 s at
    10M with 99.7% of planted pairs tripled; the fine band pool the
    fold entry mines is measured >11 h there). Positives come from the
    band-pool GEMM twin over the shared planted-clone corpus; negatives
    are each anchor's hardest sub-threshold mate within its IVF cell.

    Rows-only: the IVF cell boundaries depend on GEMM-scored Lloyd's
    assignments, so beyond the family ulp caveat the negative CHOICE
    can differ from the fold miner at cell-boundary ties — agreement is
    pinned in recall terms by tests/test_similarity_vectorized.py and
    the marker-gated rung in tests/test_rung_agreement.py, not by
    hash."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        planted_clone_embeddings,
    )

    return hard_negative_triplets_ivf_vectorized(
        spark, planted_clone_embeddings(spark, sf_dir), tau=0.9
    )
