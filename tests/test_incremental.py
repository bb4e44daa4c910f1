"""Incremental fingerprint-index dedup + schema evolution."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_incremental_dedup_across_batches(spark, tmp_path):
    from data_lake_construction_and_querying_with_pyspark_spark.operators.incremental import (
        dedup_incremental,
        init_fingerprint_index,
    )

    idx = str(tmp_path / "fp_index")
    init_fingerprint_index(spark, idx)

    b1 = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lazy dog sleeps"), (3, "THE  QUICK brown FOX")],
        ["doc_id", "text"],
    )
    fresh1 = dedup_incremental(spark, b1, idx)
    # doc 3 is a canonical duplicate of doc 1 → in-batch dedup keeps doc 1
    assert sorted(r.doc_id for r in fresh1.collect()) == [1, 2]

    b2 = spark.createDataFrame(
        [(4, "lazy dog sleeps"), (5, "a brand new document")], ["doc_id", "text"]
    )
    fresh2 = dedup_incremental(spark, b2, idx)
    # doc 4 duplicates batch-1 content → only doc 5 is new
    assert [r.doc_id for r in fresh2.collect()] == [5]

    index = spark.read.parquet(idx)
    assert index.count() == 3  # three distinct contents total
    assert index.select("fingerprint").distinct().count() == 3

    # replaying batch 2 adds nothing
    fresh3 = dedup_incremental(spark, b2, idx)
    assert fresh3.count() == 0
    assert spark.read.parquet(idx).count() == 3


def test_incremental_agrees_with_batch_dedup(spark, tmp_path):
    from data_lake_construction_and_querying_with_pyspark_spark.operators.incremental import (
        dedup_incremental,
        init_fingerprint_index,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.tokens import (
        fingerprint,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    half1 = docs.filter(F.col("doc_id") < 250)
    half2 = docs.filter(F.col("doc_id") >= 250)

    idx = str(tmp_path / "fp_index2")
    init_fingerprint_index(spark, idx)
    n_new = dedup_incremental(spark, half1, idx).count() + dedup_incremental(
        spark, half2, idx
    ).count()

    batch_distinct = docs.select(fingerprint()).distinct().count()
    assert n_new == batch_distinct


def test_schema_evolution_merge(spark, tmp_path):
    """Append-only lakes grow columns; mergeSchema reads old+new files
    as one evolved schema with nulls for missing columns."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "v1"]).write.parquet(p + "/batch=1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "v1", "v2"]).write.parquet(p + "/batch=2")
    merged = spark.read.option("mergeSchema", True).parquet(p)
    assert set(merged.columns) == {"id", "v1", "v2", "batch"}
    rows = {r.id: (r.v1, r.v2) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_neardup_incremental_equals_batch_minhash(spark, tmp_path):
    """Splitting the corpus into two appended batches and unioning the
    incremental near-dup results must reproduce the batch MinHash
    operator's pairs exactly (same hashes, same banding, same exact
    verification)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        dedup_minhash_near_dup,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.incremental import (
        init_neardup_index,
        neardup_incremental,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)

    idx = str(tmp_path / "neardup_idx")
    init_neardup_index(spark, idx)
    p1 = neardup_incremental(spark, half1, idx)
    p2 = neardup_incremental(spark, half2, idx)
    incremental = {(r.doc_a, r.doc_b, r.jaccard) for r in p1.collect()} | {
        (r.doc_a, r.doc_b, r.jaccard) for r in p2.collect()
    }
    batch = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_minhash_near_dup(spark, SF_SMOKE).collect()
    }
    assert incremental == batch and len(batch) > 0


def test_neardup_incremental_shingles_every_batch_on_every_core(spark, tmp_path, monkeypatch):
    """Each batch's shingle index is built over ``defaultParallelism``
    partitions, not inside the single-file batch scan's one task, also
    once the band index spans at least ``defaultParallelism`` files (a
    long-running stream appends a few per batch). The fan-out rule must
    read the batch's own files: counted under the anti-join, the index's
    files would switch the fan-out off."""
    import shutil

    from data_lake_construction_and_querying_with_pyspark_spark.operators import dedup
    from data_lake_construction_and_querying_with_pyspark_spark.operators.incremental import (
        init_neardup_index,
        neardup_incremental,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    partitions = []
    build = dedup.shingle_index

    def counting_shingle_index(docs):
        inv = build(docs)
        partitions.append(inv.rdd.getNumPartitions())
        return inv

    monkeypatch.setattr(dedup, "shingle_index", counting_shingle_index)
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_SMOKE, "documents")
    assert len(docs.inputFiles()) == 1  # the batch scan alone is one task
    idx = str(tmp_path / "fanout_idx")
    init_neardup_index(spark, idx)
    neardup_incremental(spark, docs.filter(F.col("doc_id") % 3 == 0), idx).count()
    # the same band rows, spread over one file per core
    bands, spread = f"{idx}/bands.parquet", str(tmp_path / "spread")
    spark.read.parquet(bands).repartition(par, "doc_id").write.parquet(spread)
    shutil.rmtree(bands)
    shutil.move(spread, bands)
    assert len(spark.read.parquet(bands).inputFiles()) >= par
    for part in (1, 2):
        neardup_incremental(spark, docs.filter(F.col("doc_id") % 3 == part), idx).count()
    assert partitions == [par] * 3


def test_neardup_incremental_replay_is_noop(spark, tmp_path):
    """Re-ingesting an already-indexed batch must produce no pairs and
    leave the index byte-identical (the anti-join replay guard)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.incremental import (
        init_neardup_index,
        neardup_incremental,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    idx = str(tmp_path / "replay_idx")
    init_neardup_index(spark, idx)
    first = neardup_incremental(spark, docs, idx)
    n_pairs = first.count()
    n_bands = spark.read.parquet(f"{idx}/bands.parquet").count()
    n_shingles = spark.read.parquet(f"{idx}/shingles.parquet").count()

    replay = neardup_incremental(spark, docs, idx)
    assert replay.count() == 0
    assert spark.read.parquet(f"{idx}/bands.parquet").count() == n_bands
    assert spark.read.parquet(f"{idx}/shingles.parquet").count() == n_shingles
    assert n_pairs >= 0 and n_bands > 0


def test_knn_graph_incremental_equals_batch(spark, tmp_path):
    """Stream-maintained kNN graph ≡ batch (VERDICT r4 stretch
    directive #9): drain the planted-pair probe corpus through
    knn_graph_incremental in 4 micro-batches; the edge store must equal
    similarity.knn_graph_edges over the whole corpus EXACTLY, rank
    column included — top-k merging is union-monotone and bucket
    membership depends only on the vector, so the split cannot change
    a single edge."""
    from scripts.scale_probe import build_embeddings
    from data_lake_construction_and_querying_with_pyspark_spark.operators.incremental import (
        init_knn_graph_index,
        knn_graph_incremental,
        knn_graph_read_edges,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        knn_graph_edges,
    )

    n = 400
    emb = build_embeddings(spark, n).localCheckpoint()
    idx = str(tmp_path / "knn_idx")
    init_knn_graph_index(spark, idx)
    for lo in range(0, n, 100):
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100))
        knn_graph_incremental(spark, batch, idx)

    streamed = {tuple(r) for r in knn_graph_read_edges(spark, idx).collect()}
    batch_graph = {tuple(r) for r in knn_graph_edges(spark, emb).collect()}
    spark.catalog.clearCache()
    assert streamed == batch_graph
    assert len(streamed) > 0


def test_knn_graph_incremental_replay_is_noop(spark, tmp_path):
    """Re-ingesting an already-indexed batch changes nothing: vectors
    anti-join out, the merge dedups bit-identical edges."""
    from scripts.scale_probe import build_embeddings
    from data_lake_construction_and_querying_with_pyspark_spark.operators.incremental import (
        init_knn_graph_index,
        knn_graph_incremental,
        knn_graph_read_edges,
    )

    n = 200
    emb = build_embeddings(spark, n).localCheckpoint()
    idx = str(tmp_path / "knn_idx_replay")
    init_knn_graph_index(spark, idx)
    b1 = emb.filter(F.col("vec_id") < 100)
    b2 = emb.filter(F.col("vec_id") >= 100)
    knn_graph_incremental(spark, b1, idx)
    knn_graph_incremental(spark, b2, idx)
    before = {tuple(r) for r in knn_graph_read_edges(spark, idx).collect()}
    knn_graph_incremental(spark, b2, idx)  # replay
    after = {tuple(r) for r in knn_graph_read_edges(spark, idx).collect()}
    spark.catalog.clearCache()
    assert before == after
    # index tables did not grow either
    assert spark.read.parquet(f"{idx}/vectors.parquet").count() == n


def test_knn_graph_incremental_updates_old_vectors_edges(spark, tmp_path):
    """A new arrival that is an OLD vector's best neighbor must rewrite
    the old vector's edge list (the directional merge-back): plant an
    exact clone of vector 5 (NOT itself a planted-pair member — vec 0
    already has its exact twin vec 1, which would win the cosine-1.0
    tie on nbr_id) in batch 2 and require rank-1 edges both ways at
    cosine ≈ 1."""
    from scripts.scale_probe import build_embeddings
    from data_lake_construction_and_querying_with_pyspark_spark.operators.incremental import (
        init_knn_graph_index,
        knn_graph_incremental,
        knn_graph_read_edges,
    )

    n = 100
    emb = build_embeddings(spark, n).localCheckpoint()
    idx = str(tmp_path / "knn_idx_upd")
    init_knn_graph_index(spark, idx)
    knn_graph_incremental(spark, emb, idx)

    clone = emb.filter(F.col("vec_id") == 5).select(
        F.lit(10_000).alias("vec_id"), F.col("embedding")
    )
    knn_graph_incremental(spark, clone, idx)

    edges = knn_graph_read_edges(spark, idx)
    rank1 = {
        r["vec_id"]: (r["nbr_id"], r["cosine"])
        for r in edges.filter(F.col("edge_rank") == 1).collect()
    }
    spark.catalog.clearCache()
    nbr5, cos5 = rank1[5]
    nbrc, cosc = rank1[10_000]
    assert nbr5 == 10_000 and cos5 > 0.999999
    assert nbrc == 5 and cosc > 0.999999


def test_embedding_index_provisioned_geometry_equals_batch(spark, tmp_path):
    """The r8 geometry provisioning knob (init_embedding_index's
    docstring: the streaming-volume probe measured the 16-bit pool
    growing ≈2.56e-7·batch·indexed — past the fold wall at ≥10M
    indexed): an index initialized at a NON-default geometry must (a)
    bucket every subsequent ingest with the provisioned planes (the
    persisted _geometry.json, not the module constants), so the
    two-batch union still equals the same-geometry batch operator
    exactly, and (b) fall back to the r7 defaults when the geometry
    file is absent (pre-r8 indices)."""
    import os

    from scripts.scale_probe import build_embeddings

    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        embedding_cosine_pairs_scaled,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.incremental import (
        _index_geometry,
        EMB_INDEX_PLANES,
        EMB_INDEX_TABLES,
        embedding_neardup_incremental,
        init_embedding_index,
    )

    emb = build_embeddings(spark, 400).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).localCheckpoint()
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)

    idx = str(tmp_path / "emb_idx_geo")
    init_embedding_index(spark, idx, n_tables=4, n_planes=20)
    assert _index_geometry(idx) == (4, 20)
    p1 = embedding_neardup_incremental(spark, half1, idx, tau=0.9)
    p2 = embedding_neardup_incremental(spark, half2, idx, tau=0.9)
    incremental = {(r.vec_a, r.vec_b, r.cosine) for r in p1.collect()} | {
        (r.vec_a, r.vec_b, r.cosine) for r in p2.collect()
    }
    batch = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in embedding_cosine_pairs_scaled(
            spark, emb, tau=0.9, n_tables=4, n_planes=20
        ).collect()
    }
    assert incremental == batch and len(batch) > 0

    os.remove(f"{idx}/_geometry.json")
    assert _index_geometry(idx) == (EMB_INDEX_TABLES, EMB_INDEX_PLANES)
