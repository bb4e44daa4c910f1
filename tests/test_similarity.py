"""LSH ANN quality: recall against the exact brute-force top-k."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_lsh_recall_vs_brute_force(spark):
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        knn_brute_force,
        knn_lsh_bucketed,
    )

    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_brute_force(spark, SF_SMOKE).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in knn_lsh_bucketed(spark, SF_SMOKE).collect()
    }
    assert approx, "LSH returned nothing"
    # Every LSH hit must be a genuine same-bucket neighbor the exact
    # ranking would order identically — check containment of scores:
    recall = len(exact & approx) / len(exact)
    # Near-orthogonal random vectors are the worst case for sign-LSH;
    # the planted structure still yields usable recall.
    assert recall >= 0.2, f"recall {recall:.2f} too low"


def test_lsh_buckets_partition_corpus(spark):
    from pyspark.sql import functions as F

    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        lsh_multi_buckets_flat,
        with_norm,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    e = lsh_multi_buckets_flat(
        with_norm(load_table(spark, SF_SMOKE, "embeddings")), n_tables=1, n_planes=8
    )
    stats = e.agg(
        F.countDistinct("bucket").alias("n_buckets"),
        F.count(F.lit(1)).alias("n"),
        F.max("bucket").alias("max_b"),
        F.min("bucket").alias("min_b"),
    ).first()
    assert stats.n_buckets > 16  # 8 planes → up to 256 buckets
    assert 0 <= stats.min_b and stats.max_b < 256
    # determinism: same seed → same buckets
    e2 = lsh_multi_buckets_flat(
        with_norm(load_table(spark, SF_SMOKE, "embeddings")), n_tables=1, n_planes=8
    )
    assert e.select("vec_id", "bucket").exceptAll(e2.select("vec_id", "bucket")).count() == 0


def test_ml_lsh_neighbors_overlap_euclidean_brute_force(spark):
    """pyspark.ml BucketedRandomProjectionLSH candidates must overlap
    the exact Euclidean top-k (sanity: the library path works and
    returns genuine near neighbors)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        knn_ml_bucketed_projection,
        with_norm,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

    approx = {
        (r.query_id, r.neighbor_id)
        for r in knn_ml_bucketed_projection(spark, SF_SMOKE).collect()
    }
    assert approx

    e = with_norm(load_table(spark, SF_SMOKE, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dist2 = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda a, x: a + x
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in q.crossJoin(e)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), dist2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"ml-LSH recall {recall:.2f}"


def test_ivf_probe_recall(spark):
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        knn_brute_force,
        knn_ivf_probe,
    )

    exact = {
        (r.query_id, r.neighbor_id) for r in knn_brute_force(spark, SF_SMOKE).collect()
    }
    ivf = {(r.query_id, r.neighbor_id) for r in knn_ivf_probe(spark, SF_SMOKE).collect()}
    assert len(ivf) == len(exact) == 50  # 5 queries × top-10
    recall = len(exact & ivf) / len(exact)
    # probing 2/16 cells of near-uniform random vectors: recall well
    # above the ~12% random-scan floor proves cells align with geometry
    assert recall >= 0.2, f"IVF recall {recall:.2f}"


def test_pq_adc_recovers_planted_clones(spark):
    """PQ-ADC on the planted-pair probe corpus: a clone pair's two
    members quantize to (near-)identical codes, so each queried member
    must see its partner at ADC rank 1 (ties aside, within top-3) —
    the PQ analogue of the LSH planted-recovery tests. Also: the exact
    rerank emits TRUE cosines (partner cosine ≈ 1)."""
    from scripts.scale_probe import build_embeddings
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import pq_topk

    n = 2000
    emb = build_embeddings(spark, n)
    # near-pair members: k%20==1 groups → ids (2k, 2k+1); query the even member
    queries = [2 * k for k in range(n // 2) if k % 20 == 1][:20]
    out = pq_topk(spark, emb, query_ids=queries).collect()
    spark.catalog.clearCache()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rn"], r["neighbor_id"], r["cosine"]))
    assert set(by_q) == set(queries)
    hits = 0
    for q in queries:
        ranked = sorted(by_q[q])
        partner = q + 1
        in_top3 = [nb for rn, nb, _ in ranked[:3]]
        if partner in in_top3:
            hits += 1
            cos = [c for rn, nb, c in ranked if nb == partner][0]
            assert cos > 0.99  # rerank emits TRUE cosine, not ADC distance
    assert hits >= 18, f"planted partner in ADC top-3 for only {hits}/20 queries"


def test_pq_codes_are_compact_and_complete(spark):
    """Every vector gets exactly m codes in [0, k*): the 8-bytes-per-
    vector compression claim is literal."""
    from scripts.scale_probe import build_embeddings
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        PQ_KSTAR,
        PQ_M,
        as_double_vec,
        pq_train,
    )
    from pyspark.sql import functions as F

    emb = build_embeddings(spark, 500)
    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    cb, codes = pq_train(spark, base, base.count())
    # dead centroids may drop during training (no sample member
    # assigned — standard Lloyd's); every subspace keeps ≥2 live cells
    per_j = {r["j"]: r["c"] for r in cb.groupBy("j").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert set(per_j) == set(range(PQ_M))
    assert all(2 <= c <= PQ_KSTAR for c in per_j.values())
    stats = codes.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("m"),
        F.min("code").alias("lo"),
        F.max("code").alias("hi"),
    )
    bad = stats.filter(
        (F.col("m") != PQ_M) | (F.col("lo") < 0) | (F.col("hi") >= PQ_KSTAR)
    ).count()
    spark.catalog.clearCache()
    assert bad == 0


def test_pq_seed_cells_decode_to_lowest_vectors_slices(spark):
    """The PQ trainer's key encoding: on the long form (vec_id =
    src·PQ_M + j), lloyds' seed table is the PQ_KSTAR lowest vectors'
    slices with codeword i of subspace j at cell i·PQ_M + j — the
    seeds the DuckDB replay (``_pq_ctes``' pcb0) numbers per subspace."""
    from scripts.scale_probe import build_embeddings
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import lloyds
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        PQ_KSTAR,
        PQ_M,
        PQ_SUBDIM,
        _pq_assign,
        _pq_long,
        as_double_vec,
    )
    from pyspark.sql import functions as F

    emb = build_embeddings(spark, 100).filter(F.col("vec_id") % 3 != 0)
    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    cents, _ = lloyds(spark, _pq_long(base), PQ_M * PQ_KSTAR, 1, _pq_assign)
    lowest = base.orderBy("vec_id").limit(PQ_KSTAR).collect()
    assert len(lowest) == PQ_KSTAR
    want = {
        i * PQ_M + j: [float(x) for x in r["v"][j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]]
        for i, r in enumerate(lowest)
        for j in range(PQ_M)
    }
    got = {r["cell"]: [float(x) for x in r["cent"]] for r in cents.collect()}
    assert got == want


def test_ivf_pq_recovers_planted_clones(spark):
    """The composed IVF-PQ index: a clone pair's members land in the
    same coarse cell (near-identical vectors) AND quantize to
    near-identical codes, so the probed-lists + ADC path must surface
    the partner in top-3 for nearly all queried members — slightly
    looser than flat PQ (a probe can miss a boundary cell)."""
    from scripts.scale_probe import build_embeddings
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        ivf_pq_topk,
    )

    n = 2000
    emb = build_embeddings(spark, n)
    queries = [2 * k for k in range(n // 2) if k % 20 == 1][:20]
    out = ivf_pq_topk(spark, emb, query_ids=queries).collect()
    spark.catalog.clearCache()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rn"], r["neighbor_id"], r["cosine"]))
    hits = 0
    for q in queries:
        ranked = sorted(by_q.get(q, []))
        if (q + 1) in [nb for rn, nb, _ in ranked[:3]]:
            hits += 1
    assert hits >= 16, f"planted partner in IVF-PQ top-3 for only {hits}/20 queries"


def test_hard_negative_triplets_contract(spark):
    """Every triplet: positive strictly above tau, negative at or
    below, three distinct ids; every emitted positive is the planted
    clone partner (anchors are every-50th base vectors), so the miner
    recovers dedup's ground truth and attaches a genuinely
    sub-threshold negative."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _CLONE_MOD,
        _CLONE_OFF,
        _SCALED_TAU,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        hard_negative_mining,
    )

    rows = hard_negative_mining(spark, SF_SMOKE).collect()
    assert rows, "fixture must emit at least one triplet"
    for r in rows:
        assert r.pos_cosine > _SCALED_TAU >= r.neg_cosine
        assert len({r.anchor_id, r.pos_id, r.neg_id}) == 3
        assert r.anchor_id % _CLONE_MOD == 0
        assert r.pos_id == r.anchor_id + _CLONE_OFF


def test_neg_pool_geometry_switch_point():
    """The pool policy is IN CODE (VERDICT r5 #1): coarse 2×8 strictly
    below 500k docs, production 8×16 at/above — so a 10M-doc caller
    gets the sublinear pool by default, never the n² coarse term."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SCALED_PLANES,
        _SCALED_TABLES,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        _NEG_PLANES,
        _NEG_POOL_SWITCH,
        _NEG_TABLES,
        neg_pool_geometry,
    )

    assert _NEG_POOL_SWITCH == 500_000
    assert neg_pool_geometry(0) == (_NEG_TABLES, _NEG_PLANES)
    assert neg_pool_geometry(_NEG_POOL_SWITCH - 1) == (_NEG_TABLES, _NEG_PLANES)
    assert neg_pool_geometry(_NEG_POOL_SWITCH) == (_SCALED_TABLES, _SCALED_PLANES)
    assert neg_pool_geometry(10_000_000) == (_SCALED_TABLES, _SCALED_PLANES)


def test_hard_negative_defaults_follow_policy(spark):
    """Below the switch the no-knob call must produce EXACTLY the
    explicit-coarse output (the registered query's oracle depends on
    this staying true at every driver SF)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _CLONE_MOD,
        _CLONE_OFF,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        _NEG_PLANES,
        _NEG_TABLES,
        as_double_vec,
        hard_negative_triplets,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import (
        load_table,
    )
    from pyspark.sql import functions as F

    base = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("embedding")
    )
    clones = base.filter(F.col("vec_id") % _CLONE_MOD == 0).select(
        (F.col("vec_id") + F.lit(_CLONE_OFF)).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    emb = base.unionByName(clones)
    auto = {tuple(r) for r in hard_negative_triplets(spark, emb, tau=0.9).collect()}
    pinned = {
        tuple(r)
        for r in hard_negative_triplets(
            spark, emb, tau=0.9, neg_tables=_NEG_TABLES, neg_planes=_NEG_PLANES
        ).collect()
    }
    assert auto == pinned and auto


def test_hard_negative_ivf_pool_contract_and_hardness(spark):
    """The IVF-pool miner (≥100M path): same positives as the band
    miner, every negative honestly sub-threshold and distinct, and —
    the agreement bound — its negatives are on average at least as
    HARD as the coarse band pool's on the anchors both cover (the
    inverted list holds true near-neighbors; a 256-key band holds
    random collisions)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _CLONE_MOD,
        _CLONE_OFF,
        _SCALED_PLANES,
        _SCALED_TABLES,
        _SCALED_TAU,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        as_double_vec,
        hard_negative_triplets,
        hard_negative_triplets_ivf,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import (
        load_table,
    )
    from pyspark.sql import functions as F

    base = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("embedding")
    )
    clones = base.filter(F.col("vec_id") % _CLONE_MOD == 0).select(
        (F.col("vec_id") + F.lit(_CLONE_OFF)).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    corpus = base.unionByName(clones)
    kw = dict(tau=_SCALED_TAU, n_tables=_SCALED_TABLES, n_planes=_SCALED_PLANES)
    ivf = hard_negative_triplets_ivf(spark, corpus, **kw).collect()
    band = hard_negative_triplets(spark, corpus, **kw).collect()
    assert ivf, "IVF pool must emit triplets on the planted corpus"
    for r in ivf:
        assert r.pos_cosine > _SCALED_TAU >= r.neg_cosine
        assert len({r.anchor_id, r.pos_id, r.neg_id}) == 3
        assert r.anchor_id % _CLONE_MOD == 0
        assert r.pos_id == r.anchor_id + _CLONE_OFF
    # identical positive sets (shared _positive_pairs)
    assert {(r.anchor_id, r.pos_id) for r in ivf} == {
        (r.anchor_id, r.pos_id) for r in band
    }
    both = {r.anchor_id: r.neg_cosine for r in band}
    deltas = [r.neg_cosine - both[r.anchor_id] for r in ivf if r.anchor_id in both]
    assert deltas, "pools must overlap on some anchors"
    assert sum(deltas) / len(deltas) >= -0.02  # at least as hard on average


def test_ivf_miner_sample_training(spark):
    """r7 (VERDICT r6 directive #6): the IVF miner's quantizer can
    train on the deterministic md5-threshold sample — one corpus
    assignment instead of IVF_ITERS. Three pins: (a) at saturation
    (sample ≡ corpus) sampled and full-trained output is bit-identical
    by construction; (b) under REAL sampling the positives are
    untouched (training only moves centroids) and every triplet keeps
    the hardness contract; (c) the auto policy stays off below
    _IVF_SAMPLE_TRAIN_MIN so the measured ≤1M rungs are unchanged."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _CLONE_MOD,
        _CLONE_OFF,
        _SCALED_PLANES,
        _SCALED_TAU,
        _SCALED_TABLES,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        _IVF_SAMPLE_TRAIN_MIN,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        as_double_vec,
        hard_negative_triplets_ivf,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import (
        load_table,
    )
    from pyspark.sql import functions as F

    assert _IVF_SAMPLE_TRAIN_MIN > 1_000_000  # (c): 1M rung stays full-trained

    base = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("embedding")
    )
    clones = base.filter(F.col("vec_id") % _CLONE_MOD == 0).select(
        (F.col("vec_id") + F.lit(_CLONE_OFF)).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    kw = dict(tau=_SCALED_TAU, n_tables=_SCALED_TABLES, n_planes=_SCALED_PLANES)

    # (a) ≤8·k_min vectors: the threshold saturates, sample IS the corpus
    tiny = base.filter(F.col("vec_id") < 100).unionByName(
        clones.filter(F.col("vec_id") < _CLONE_OFF + 100)
    )
    full = {tuple(r) for r in hard_negative_triplets_ivf(spark, tiny, **kw).collect()}
    sampled = {
        tuple(r)
        for r in hard_negative_triplets_ivf(
            spark, tiny, train_on_sample=True, **kw
        ).collect()
    }
    assert full == sampled and full

    # (b) full fixture: the draw keeps ~1/8 of vectors (real sampling)
    corpus = base.unionByName(clones)
    ivf_s = hard_negative_triplets_ivf(
        spark, corpus, train_on_sample=True, **kw
    ).collect()
    ivf_f = hard_negative_triplets_ivf(spark, corpus, **kw).collect()
    assert ivf_s, "sampled training must still emit triplets"
    for r in ivf_s:
        assert r.pos_cosine > _SCALED_TAU >= r.neg_cosine
        assert len({r.anchor_id, r.pos_id, r.neg_id}) == 3
    assert {(r.anchor_id, r.pos_id) for r in ivf_s} == {
        (r.anchor_id, r.pos_id) for r in ivf_f
    }


def test_ivf_pq_residual_recovers_planted_clones_at_least_as_well(spark):
    """IVFADC proper (r7): residual codes must recover planted partners
    at least as well as raw-vector codes at the same budget — the
    Jégou §IV.A claim, checked head-to-head on the same corpus, same
    queries, same coarse quantizer construction."""
    from scripts.scale_probe import build_embeddings
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        ivf_pq_residual_topk,
        ivf_pq_topk,
    )

    n = 2000
    emb = build_embeddings(spark, n)
    queries = [2 * k for k in range(n // 2) if k % 20 == 1][:20]

    def hits(fn):
        out = fn(spark, emb, query_ids=queries).collect()
        spark.catalog.clearCache()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append((r["rn"], r["neighbor_id"]))
        h = 0
        for q in queries:
            ranked = sorted(by_q.get(q, []))
            if (q + 1) in [nb for rn, nb in ranked[:3]]:
                h += 1
        return h

    raw = hits(ivf_pq_topk)
    res = hits(ivf_pq_residual_topk)
    assert res >= 16, f"residual IVF-PQ top-3 recovery only {res}/20"
    assert res >= raw, f"residual codes recovered {res}/20 vs raw {raw}/20"
