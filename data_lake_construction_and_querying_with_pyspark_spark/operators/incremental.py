"""Incremental (append-only lake) operators: dedup new batches against
the accumulated corpus without rescanning it.

The pattern every continuously-ingesting training-data lake needs:
maintain a fingerprint INDEX (16-byte digest + keeper id — thousands of
times smaller than the corpus), anti-join each incoming batch against
it, append only the new fingerprints. Cost per batch is
O(batch + index), not O(corpus).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def content_fingerprint(text_col: str = "text") -> F.Column:
    """Canonical md5 fingerprint (lowercase, whitespace-collapsed) —
    identical to the batch dedup_fingerprint_documents digest, so the
    incremental index and a full-corpus dedup agree exactly."""
    return F.md5(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")))


def init_fingerprint_index(spark: SparkSession, index_path: str, corpus: DataFrame | None = None) -> None:
    """Create (or seed) the index. Empty index = empty parquet with the
    right schema."""
    if corpus is not None:
        seed = corpus.groupBy(content_fingerprint().alias("fingerprint")).agg(
            F.min("doc_id").alias("keep_doc_id")
        )
    else:
        seed = spark.createDataFrame([], "fingerprint string, keep_doc_id long")
    seed.write.mode("overwrite").parquet(index_path)


def dedup_incremental(
    spark: SparkSession, batch: DataFrame, index_path: str
) -> DataFrame:
    """Return the batch rows whose content is NEW to the lake, and
    append their fingerprints to the index.

    Three steps, each bounded by batch/index size:
    1. in-batch keep-first dedup on the fingerprint,
    2. LEFT ANTI join against the index (broadcast when the index is
       small; at 100 TB bucket the index by fingerprint so the join is
       shuffle-free),
    3. append the new fingerprints.
    """
    fp = content_fingerprint()
    in_batch = (
        batch.withColumn("fingerprint", fp)
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("fingerprint").orderBy("doc_id")),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    index = spark.read.parquet(index_path)
    fresh = in_batch.join(index, "fingerprint", "left_anti")
    # Materialize before mutating the index it was derived from.
    fresh = fresh.localCheckpoint()
    fresh.select("fingerprint", F.col("doc_id").alias("keep_doc_id")).write.mode(
        "append"
    ).parquet(index_path)
    return fresh


# --- incremental NEAR-dup (MinHash band index) ---------------------------------


def init_neardup_index(spark: SparkSession, index_dir: str) -> None:
    """Create an empty near-dup index: a band index (candidate lookup)
    plus a shingle inventory (exact-Jaccard verification)."""
    spark.createDataFrame([], "band int, band_key string, doc_id long").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/bands.parquet")
    spark.createDataFrame([], "doc_id long, s string").write.mode("overwrite").parquet(
        f"{index_dir}/shingles.parquet"
    )


def neardup_incremental(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    pairs_sink=None,
) -> DataFrame:
    """Near-dup pairs of an incoming batch against the accumulated
    corpus (and within the batch), using the SAME 16-hash / 4-band
    MinHash construction as the batch operator
    (``dedup.dedup_minhash_near_dup``) — the union of incremental
    results over any batch split equals the batch result exactly
    (``tests/test_incremental.py`` proves it).

    Per-batch cost: shingle+sign the batch, probe the band index
    (equi-join on (band, band_key) — only colliding buckets are
    touched), verify candidates via the shingle inventory, append the
    batch's bands and shingles. Nothing rescans the corpus text. At
    100 TB the inventory stores 8-byte shingle hashes instead of
    strings and both index tables live bucketed by their join key so
    every probe is shuffle-free; semantics are unchanged.

    Replay-safe: docs already present in the band index are anti-joined
    out before any processing (re-ingesting a batch is a no-op, like
    ``dedup_incremental``), and verification reads the inventory through
    ``distinct()`` so a crash between the two appends cannot skew
    Jaccard counts on retry.

    The MinHash construction (signatures, banding, verification) is
    shared with the batch operator — ``dedup.minhash_signatures`` /
    ``band_rows`` / ``verify_jaccard_pairs`` — so incremental≡batch
    equality is single-sourced, not copy-paste parity.
    """
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _shingles,
        _toks,
        band_rows,
        minhash_signatures,
        verify_jaccard_pairs,
    )

    bands_old = spark.read.parquet(f"{index_dir}/bands.parquet")
    inv_old = spark.read.parquet(f"{index_dir}/shingles.parquet")
    known_docs = bands_old.select("doc_id").distinct()

    par = spark.sparkContext.defaultParallelism
    inv_new = (
        batch.join(known_docs, "doc_id", "left_anti")
        .repartition(par, "doc_id")
        .select("doc_id", _toks().alias("toks"))
        .select("doc_id", _shingles(F.col("toks")).alias("shingles"))
        .select("doc_id", F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
        .localCheckpoint()
    )
    bands_new = band_rows(minhash_signatures(inv_new)).localCheckpoint()

    bands_all = bands_old.unionByName(bands_new)
    # distinct: tolerate inventory rows duplicated by a replay that
    # crashed between the shingle append and the band append.
    inv_all = inv_old.unionByName(inv_new).distinct()

    cand = (
        bands_new.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("new_id"))
        .join(bands_all, ["band", "band_key"])
        .filter(F.col("new_id") != F.col("doc_id"))
        .select(
            F.least("new_id", "doc_id").alias("doc_a"),
            F.greatest("new_id", "doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pairs = verify_jaccard_pairs(cand, inv_all).localCheckpoint()  # before index mutation
    # Durability ordering for at-least-once callers (foreachBatch): the
    # pairs must LAND before the index mutation. Once the batch's bands
    # are appended, a replayed batch anti-joins to nothing and can never
    # re-discover these pairs — a crash between the two writes would
    # lose them forever. The sink callback must itself be idempotent
    # (the streaming sink overwrites a batch-id partition), because a
    # crash after it runs but before the appends means the same pairs
    # are recomputed and landed again on replay.
    if pairs_sink is not None:
        pairs_sink(pairs)
    inv_new.write.mode("append").parquet(f"{index_dir}/shingles.parquet")
    bands_new.select("band", "band_key", "doc_id").write.mode("append").parquet(
        f"{index_dir}/bands.parquet"
    )
    return pairs


# --- incremental embedding near-dup (sign-LSH bucket index) --------------------


EMB_INDEX_TABLES = 8  # LSH tables — same geometry as dedup_embedding_cosine_pairs
EMB_INDEX_PLANES = 16  # sign bits per table (65 536 keys/band)
EMB_INDEX_TAU = 0.9  # production near-dup threshold


def init_embedding_index(
    spark: SparkSession,
    index_dir: str,
    n_tables: int = EMB_INDEX_TABLES,
    n_planes: int = EMB_INDEX_PLANES,
) -> None:
    """Create an empty embedding near-dup index: a sign-LSH bucket
    table (candidate lookup) plus a normalized-vector inventory
    (exact-cosine verification).

    Geometry is chosen HERE, once, and persisted in ``_geometry.json``
    — every ingest reads it back, because bucket codes already in the
    index were computed with these planes and silently re-bucketing
    with different ones would miss cross-batch candidates. Why the
    knob exists (the r8 streaming-volume probe,
    docs/stream_candidates_r8.jsonl): at the default 16-bit tables the
    per-batch verify-candidate pool grows LINEARLY with the
    accumulated corpus — measured ≈2.56×10⁻⁷ · batch · indexed
    collisions (14.0M candidates for a 100k batch at just 500k
    indexed), which crosses the measured interpreted-fold wall
    (~8×10⁵ dots/s) somewhere past ~10M indexed vectors. The batch
    family's bits-∝-log-n contract applies unchanged: a deployment
    ingesting toward 10⁸ vectors provisions 20-24 bits at init and
    the pool stays micro-batch-sized for the index's whole life."""
    import json

    spark.createDataFrame([], "vec_id long, tbl int, bucket int").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/buckets.parquet")
    spark.createDataFrame([], "vec_id long, v array<double>, norm double").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/vectors.parquet")
    os.makedirs(index_dir, exist_ok=True)
    with open(f"{index_dir}/_geometry.json", "w") as f:
        json.dump({"n_tables": n_tables, "n_planes": n_planes}, f)


def _index_geometry(index_dir: str) -> tuple[int, int]:
    """(n_tables, n_planes) the index was initialized with; indices
    created before the geometry file existed get the r7 defaults."""
    import json

    try:
        with open(f"{index_dir}/_geometry.json") as f:
            g = json.load(f)
        return int(g["n_tables"]), int(g["n_planes"])
    except (OSError, ValueError, KeyError):
        return EMB_INDEX_TABLES, EMB_INDEX_PLANES


def _probe_embedding_index(
    spark: SparkSession, batch: DataFrame, index_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The probe half of an embedding-index ingest, shared by
    ``embedding_neardup_incremental`` and ``knn_graph_incremental``.
    Returns ``(vecs_new, buckets_new, vecs_all, hits)``: the batch's
    normalized vectors NEW to the index and their
    ``lsh_multi_buckets_flat`` buckets at the index's geometry (both
    local-checkpointed, so the later appends write exactly what was
    probed), the vector inventory including the batch, and ``hits`` —
    one (new_id, vec_id) row per (tbl, bucket) collision of a new
    vector with any other indexed or new vector.

    Replay-safe: vec_ids already in the bucket index anti-join out
    (re-ingesting a batch is a no-op), and the inventory is read
    through ``distinct()`` so a crash between the two appends cannot
    double-count a vector on retry. First-writer-wins WITHIN a batch
    too (ADVICE r4): a batch carrying the same vec_id twice — possibly
    with different embeddings — would append conflicting inventory and
    bucket rows that ``distinct()`` cannot collapse (it only merges
    bit-identical rows), fanning out the verify join. Exactly one row
    per vec_id survives (which one is partition-order-dependent —
    callers that care about WHICH duplicate wins must resolve upstream;
    the index only guarantees one embedding per vec_id)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        lsh_multi_buckets_flat,
        with_norm,
    )

    buckets_old = spark.read.parquet(f"{index_dir}/buckets.parquet")
    vecs_old = spark.read.parquet(f"{index_dir}/vectors.parquet")
    known = buckets_old.select("vec_id").distinct()

    batch = batch.dropDuplicates(["vec_id"])
    vecs_new = with_norm(batch.join(known, "vec_id", "left_anti")).localCheckpoint()
    n_tables, n_planes = _index_geometry(index_dir)
    buckets_new = lsh_multi_buckets_flat(
        vecs_new, n_tables=n_tables, n_planes=n_planes
    ).localCheckpoint()

    buckets_all = buckets_old.unionByName(buckets_new)
    vecs_all = vecs_old.unionByName(vecs_new).distinct()
    hits = (
        buckets_new.select("tbl", "bucket", F.col("vec_id").alias("new_id"))
        .join(buckets_all, ["tbl", "bucket"])
        .filter(F.col("new_id") != F.col("vec_id"))
        .select("new_id", "vec_id")
    )
    return vecs_new, buckets_new, vecs_all, hits


def _append_embedding_index(index_dir: str, vecs_new: DataFrame, buckets_new: DataFrame) -> None:
    """The append half of an embedding-index ingest: vectors first, then
    buckets. Buckets go last because they are what the replay guard
    reads — until they land, a retried batch re-probes in full."""
    vecs_new.write.mode("append").parquet(f"{index_dir}/vectors.parquet")
    buckets_new.write.mode("append").parquet(f"{index_dir}/buckets.parquet")


def embedding_neardup_incremental(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    tau: float = EMB_INDEX_TAU,
    pairs_sink=None,
) -> DataFrame:
    """Embedding near-dup pairs of an incoming ``(vec_id, embedding)``
    batch against the accumulated corpus (and within the batch), using
    the hyperplane geometry the index was PROVISIONED with
    (``_index_geometry`` — default the batch operator's 8-table ×
    16-sign-bit construction; see ``init_embedding_index`` for the
    corpus-size provisioning rule the r8 volume probe motivates).
    Bucket membership is a deterministic function of the vector and
    the fixed geometry alone, so the union of incremental pair
    discoveries over ANY batch split equals the same-geometry batch
    operator's pair set exactly (``tests/test_streaming_sinks.py``
    proves it over a 4-way split plus checkpoint restart).

    Per-batch cost: bucket the batch (vectors × broadcast plane table,
    map-side), probe the bucket index (equi-join on (tbl, bucket) —
    only colliding buckets are touched), exact-cosine-verify via the
    vector inventory, append the batch's buckets and vectors. Nothing
    rescans the corpus. At 100 TB both index tables live bucketed by
    their join keys ((tbl, bucket) and vec_id) so probe and verify are
    shuffle-free; semantics are unchanged.

    Replay-safe through ``_probe_embedding_index`` (re-ingesting a
    batch is a no-op). The durability ordering mirrors
    ``neardup_incremental``: pairs land through ``pairs_sink`` BEFORE
    the index mutation, because once the batch's buckets are appended a
    replayed batch anti-joins to nothing and could never re-discover
    them.

    Candidate generation, plane geometry, and the exact-cosine verify
    are shared with the batch operator (``similarity.
    lsh_multi_buckets_flat`` / ``dedup.verify_cosine_pairs``), so
    incremental≡batch equality is single-sourced, not copy-paste
    parity."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        verify_cosine_pairs,
    )

    vecs_new, buckets_new, vecs_all, hits = _probe_embedding_index(spark, batch, index_dir)
    cand = hits.select(
        F.least("new_id", "vec_id").alias("vec_a"),
        F.greatest("new_id", "vec_id").alias("vec_b"),
    ).distinct()
    pairs = verify_cosine_pairs(cand, vecs_all, tau).localCheckpoint()
    if pairs_sink is not None:
        pairs_sink(pairs)
    _append_embedding_index(index_dir, vecs_new, buckets_new)
    return pairs


# --- incremental kNN-graph maintenance (top-k edges per vector) ----------------


GRAPH_EDGE_K = 3  # stored edges per vector — matches similarity._GRAPH_TOP_K


def init_knn_graph_index(spark: SparkSession, index_dir: str) -> None:
    """Create an empty incremental kNN-graph index: the sign-LSH bucket
    table + vector inventory (same layout as ``init_embedding_index``)
    plus the maintained edge store (the CURRENT top-k edges of every
    vector seen so far, unranked — rank is derived on read)."""
    init_embedding_index(spark, index_dir)
    spark.createDataFrame([], "vec_id long, nbr_id long, cosine double").write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/edges.parquet")


def knn_graph_read_edges(spark: SparkSession, index_dir: str) -> DataFrame:
    """The maintained graph as (vec_id, nbr_id, cosine, edge_rank) —
    the exact output contract of the batch ``similarity.knn_graph_edges``."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        spark.read.parquet(f"{index_dir}/edges.parquet")
        .withColumn("edge_rank", F.row_number().over(w).cast("int"))
    )


def knn_graph_incremental(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    k: int = GRAPH_EDGE_K,
) -> DataFrame:
    """Maintain the approximate kNN graph under append-only ingestion
    (VERDICT r4 stretch directive #9): for each ``(vec_id, embedding)``
    batch, score every (new, existing) and (new, new) LSH bucket
    collision and fold the scored edges into the per-vector top-k edge
    store — BOTH directions, so an arriving vector that is an old
    vector's better neighbor updates the old vector's edge list too.

    Stream ≡ batch, provably: top-k is union-monotone —
    ``topk(A ∪ B) = topk(topk(A) ∪ B)`` — and bucket membership is a
    deterministic function of the vector alone, so after draining a
    corpus in ANY micro-batch split the edge store equals
    ``similarity.knn_graph_edges`` over the whole corpus exactly
    (tests/test_incremental.py proves it, including rank columns).

    Replay-safe: already-indexed vec_ids anti-join out (re-ingesting a
    batch is a no-op), in-batch duplicate vec_ids collapse first (the
    one-embedding-per-vec_id contract of the embedding index), and the
    merge step dedups bit-identical scored rows before re-ranking, so a
    crash between the edge-store overwrite and the index appends
    re-merges identical edges on retry (idempotent). Durability
    ordering mirrors the pair sinks: edges land BEFORE the bucket
    append, because once the buckets are in a replayed batch discovers
    nothing.

    Scale: per-batch cost is O(batch buckets + colliding index rows),
    never O(corpus); the edge store is ≤ k rows per vector. This is the
    small-batch regime, so candidates-then-attach joins are fine here —
    the BATCH operator is the one that must score in-join
    (``similarity._bucket_scored_candidates``, docs/SCALING.md r5)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import dot

    vecs_new, buckets_new, vecs_all, hits = _probe_embedding_index(spark, batch, index_dir)
    probe = hits.select("new_id", F.col("vec_id").alias("other_id")).distinct()
    # directional: the new vector's edge AND the colliding vector's
    # (old or new) edge back — new-new pairs produce both orderings
    # twice, which the distinct collapses
    dir_pairs = (
        probe.select(F.col("new_id").alias("vec_id"), F.col("other_id").alias("nbr_id"))
        .unionByName(
            probe.select(F.col("other_id").alias("vec_id"), F.col("new_id").alias("nbr_id"))
        )
        .distinct()
    )
    ea = vecs_all.select("vec_id", F.col("v").alias("va"), F.col("norm").alias("na"))
    eb = vecs_all.select(
        F.col("vec_id").alias("nbr_id"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    cosine = dot("va", "vb") / (F.col("na") * F.col("nb"))
    scored = (
        dir_pairs.join(ea, "vec_id")
        .join(eb, "nbr_id")
        .select("vec_id", "nbr_id", cosine.alias("cosine"))
    )

    edges_old = spark.read.parquet(f"{index_dir}/edges.parquet")
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    topk = (
        edges_old.unionByName(scored)
        .distinct()  # replayed batches re-derive bit-identical rows
        .withColumn("edge_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("edge_rank") <= k)
        .localCheckpoint()  # materialize BEFORE overwriting the store it reads
    )
    topk.select("vec_id", "nbr_id", "cosine").write.mode("overwrite").parquet(
        f"{index_dir}/edges.parquet"
    )
    _append_embedding_index(index_dir, vecs_new, buckets_new)
    return topk
