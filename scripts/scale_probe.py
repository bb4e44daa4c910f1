"""Scale probe: measure the LLM-pipeline operators on a corpus ~10× the
bench fixture to verify the sub-quadratic scaling claims empirically.

Generates a deterministic synthetic corpus (documents + embeddings) in
/tmp with the same shape as the driver fixtures (TESTDATA.md) — same
columns, similar doc length, planted exact-dup and near-dup pairs — at
a requested size, entirely with JVM-side expressions (no Python row
loop, no RNG: every value is a function of doc_id via md5/hash, so the
corpus is reproducible bit-for-bit).

Usage: python scripts/scale_probe.py [n_docs] [out_dir]
       (defaults: 50_000 docs, /tmp/scale_probe)

Prints one JSON line per operator: {"op": ..., "n_docs": N,
"seconds": s, "rows": out_rows} — compare against the sf0.1 numbers in
BENCH_r{N}.json / docs/BENCH_NOTES.md to read the scaling exponent:
sub-quadratic candidate generation should scale ~linearly in rows at
fixed duplicate rate, while an all-pairs plan would blow up 100×.
Results for the committed fixture sizes are recorded in
docs/SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# 2 000 synthetic tokens — a REALISTIC shingle regime. The driver
# fixture's ~30-word vocabulary is degenerate for near-dup probing at
# scale: with 27 000 possible 3-grams, every document pair shares
# shingles and SimHash signatures collapse (measured: 5.2M hamming≤3
# pairs over 5 000 docs). A larger vocabulary gives df(shingle)≈1 for
# non-duplicate content — the property real corpora have and the one
# the sub-quadratic candidate-generation claims rely on.
_VOCAB_SIZE = 2000

_DOC_TOKENS = 120  # tokens per document
_DIM = 64  # embeddings.embedding is FLOAT[64] in the fixture


def build_documents(spark, n_docs: int):
    """documents(doc_id, text, lang, source, n_chars):

    * pairs (2k, 2k+1) with pmod(k, 20) == 0  → EXACT duplicates (5%)
    * pairs with pmod(k, 20) == 1             → NEAR duplicates (5%):
      same base text, one token swapped in the odd member — Jaccard on
      3-gram shingles ≈ (n-4)/(n+2) ≈ 0.97, above the 0.8 ladder
      threshold.
    Everything is a deterministic function of doc_id: token i of doc d
    is vocab[pmod(hash(seed(d), i), V)].
    """
    from pyspark.sql import functions as F

    d = F.col("id")
    k = (d / 2).cast("long")
    share = F.pmod(k, 20) < 2  # exact-dup and near-dup pair groups
    seed = F.when(share, k * 2).otherwise(d)  # pair members share a seed
    tok = lambda i: F.concat(
        F.lit("w"), F.pmod(F.hash(seed, F.lit(i)), _VOCAB_SIZE).cast("string")
    )
    toks = F.transform(F.sequence(F.lit(1), F.lit(_DOC_TOKENS)), tok)
    # near-dup member (odd doc of a pmod(k,20)==1 pair): swap token 7
    near = share & (F.pmod(k, 20) == 1) & (F.pmod(d, 2) == 1)
    toks = F.when(
        near,
        F.concat(
            F.slice(toks, 1, 6),
            F.array(F.lit("swapped")),
            F.slice(toks, 8, _DOC_TOKENS - 7),
        ),
    ).otherwise(toks)
    text = F.array_join(toks, " ")
    return spark.range(n_docs).select(
        d.alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), F.pmod(d, 20).cast("string")).alias("source"),
        F.length(text).alias("n_chars"),
    )


def build_embeddings(spark, n_vecs: int):
    """embeddings(vec_id, embedding float[], label): coordinates are
    deterministic pseudo-uniform in [-1, 1]; pair groups as in
    build_documents share coordinates, with the near member nudged by
    +0.01 on every dim (cosine ≈ 1) — candidates any sign-band LSH
    must recover."""
    from pyspark.sql import functions as F

    d = F.col("id")
    k = (d / 2).cast("long")
    share = F.pmod(k, 20) < 2
    seed = F.when(share, k * 2).otherwise(d)
    near = share & (F.pmod(k, 20) == 1) & (F.pmod(d, 2) == 1)
    coord = lambda j: (
        (F.pmod(F.hash(seed, F.lit(j + 1000)), 2001) - 1000) / 1000.0
        + F.when(near, 0.01).otherwise(0.0)
    ).cast("float")
    vec = F.array(*[coord(j) for j in range(_DIM)])
    return spark.range(n_vecs).select(
        d.alias("vec_id"),
        vec.alias("embedding"),
        F.pmod(d, 10).cast("int").alias("label"),
    )


_PROBE_OPS = [
    "dedup_exact_documents",
    "dedup_fingerprint_documents",
    "dedup_ngram_jaccard_pairs",
    "dedup_minhash_near_dup",
    "dedup_simhash_hamming_pairs",
    # The fixed-geometry 8×8 sign-band demo was deregistered in r5
    # (VERDICT r4 directive #4) and later deleted — its saturation
    # numbers are the worked geometry-contrast example in docs/SCALING.md.
    "dedup_cluster_assignment",
    "text_quality_scores",
    "text_language_id",
    "corpus_prep_pipeline",
    "knn_brute_force",
    "train_val_test_split",
    "deterministic_shuffle",
    "bm25_topk_documents",
    "tfidf_top_terms_per_doc",
    "gopher_quality_filters",
    "dedup_repeated_spans",
    # BPE training (r5): the ONE corpus-sized stage is the word-freq
    # shuffle (n·120 token rows); all k=6 merge iterations then run on
    # the ~2 001-row distinct-word table, so rung-to-rung growth should
    # track the token count linearly and nothing else.
    "bpe_learn_merges",
    "bpe_token_counts",
    "bpe_encode_documents",  # the inherently corpus-sized encode pass — expect ~linear
]


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_probe"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

    from data_lake_construction_and_querying_with_pyspark_spark import get_spark
    from data_lake_construction_and_querying_with_pyspark_spark.registry import all_queries

    # Since r4 the session itself plans every exchange at AQE
    # initialPartitionNum=512 and coalesces down at runtime, so the 1M
    # rungs no longer need a manual reducer count (r3 had to pin
    # SCALE_PROBE_SHUFFLE=128: the exploded shingle index spilled at
    # the 32-partition static default — docs/SCALING.md records the
    # no-knob AQE run landing within noise of the pinned run). The env
    # remains as an explicit override for A/B measurements only.
    shuffle = os.environ.get("SCALE_PROBE_SHUFFLE")
    spark = get_spark(
        app_name="scale_probe",
        shuffle_partitions=int(shuffle) if shuffle else None,
    )
    qs = all_queries()

    docs_path = f"{out}/documents.parquet"
    emb_path = f"{out}/embeddings.parquet"
    if not os.path.exists(docs_path):
        build_documents(spark, n_docs).write.mode("overwrite").parquet(docs_path)
    if not os.path.exists(emb_path):
        build_embeddings(spark, n_docs).write.mode("overwrite").parquet(emb_path)

    def run(df) -> None:
        # noop sink like bench.py: the full plan executes (a bare
        # .count() lets Spark shortcut pure projections to footer counts)
        df.write.mode("overwrite").format("noop").save()

    # warm the page cache + codegen once
    run(spark.read.parquet(docs_path))
    run(spark.read.parquet(emb_path))

    # ops whose output cardinality is the sanity signal (planted dup
    # rate: ~n/40 exact pairs + ~n/40 near pairs) — counted after the
    # timed run, off the same plan.
    count_rows = {
        "dedup_ngram_jaccard_pairs",
        "dedup_minhash_near_dup",
        "dedup_simhash_hamming_pairs",
        "dedup_cluster_assignment",
    }

    # SemDeDup with the REGISTERED k policy (derive_k: k = n//64, so
    # cluster size — and the Σ|cell|² pair bound — stays constant as n
    # grows) and the registered shortlist assignment (m = isqrt(k)
    # anchors, nprobe = 2 — the r4 path that replaced flat all-k
    # scoring, which the r3 probe had to skip at 1M: O(n·k·d) ≈ 1.3e11
    # multiplies/iteration there).
    def semantic_scaled(spark, sf_dir):
        from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
            derive_k,
            semantic_dedup,
        )

        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out_df = semantic_dedup(spark, emb, k=derive_k(n_docs), tau=0.95)
        # emit only flagged rows: the row count IS the planted-pair
        # recovery signal (expected ≈ n/20: one flag per planted pair)
        return out_df.filter(F.col("is_semantic_dup"))

    # Embedding near-dup with n-SCALED band selectivity at the
    # production threshold (0.9): a fixed 8×8 sign-band geometry
    # saturates its 256-key buckets as n grows (candidates ∝ Σ bucket²
    # → superlinear); production grows bits per band with n, which the
    # random-hyperplane lsh_multi_buckets_flat supports directly
    # (8 tables × 16 planes here).
    def cosine_scaled(spark, sf_dir):
        from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
            embedding_cosine_pairs_scaled,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return embedding_cosine_pairs_scaled(spark, emb, tau=0.9)

    # kNN-graph over the probe embeddings (VERDICT r4 directive #2):
    # the library knn_graph_edges at the production 8×16-bit geometry,
    # top-3 edges. Planted-neighbor recovery: members of the planted
    # pair groups ((2k, 2k+1) with pmod(k,20) < 2 — identical or
    # +0.01-nudged coordinates, cosine ≈ 1) must find their partner as
    # the rank-1 edge; any non-planted 64-dim pair tops out near
    # cosine ~0.5, so rank-1 partner recovery is a sharp signal.
    def knn_graph(spark, sf_dir):
        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
            knn_graph_edges,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return knn_graph_edges(spark, emb, k=3)

    def knn_graph_recovery(df, spark):
        from pyspark.sql import functions as F

        planted = F.pmod((F.col("vec_id") / 2).cast("long"), 20) < 2
        partner = F.col("vec_id").bitwiseXOR(F.lit(1))
        hits = (
            df.filter((F.col("edge_rank") == 1) & planted)
            .filter(F.col("nbr_id") == partner)
            .count()
        )
        expected = n_docs // 10  # 10% of vectors sit in a planted pair
        return {"planted_rank1_recovered": hits, "planted_members": expected}

    # Sample-trained SemDeDup (r5): identical k policy and dup
    # threshold, but Lloyd's trains on a ~8·k hashed-id systematic
    # sample (corpus-size-independent training cost) followed by ONE
    # full-corpus shortlist assignment — the 10M-ready escape from the
    # full-corpus shortlist's n^1.5 total. Row count remains the
    # planted-pair recovery signal, directly comparable to
    # semantic_dedup_scaled_k's.
    def semantic_sampled(spark, sf_dir):
        from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
            derive_k,
            semantic_dedup_sampled,
        )

        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out_df = semantic_dedup_sampled(spark, emb, k=derive_k(n_docs), tau=0.95)
        return out_df.filter(F.col("is_semantic_dup"))

    # Hard-negative mining over the probe embeddings (late r5): planted
    # pair groups make the positives exact ground truth; the coarse
    # 2×8-bit negative pool's Σ bucket² candidate volume is THE term
    # this rung measures (in-join CPU, no exchange growth — the map-
    # side max_by forwards one row per anchor).
    def hard_negatives(spark, sf_dir):
        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
            hard_negative_triplets,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return hard_negative_triplets(spark, emb, tau=0.9)

    def hard_negatives_recovery(df, spark):
        from pyspark.sql import functions as F

        planted = F.pmod((F.col("anchor_id") / 2).cast("long"), 20) < 2
        partner = F.col("anchor_id").bitwiseXOR(F.lit(1))
        hits = df.filter(planted & (F.col("pos_id") == partner)).count()
        return {"planted_pos_recovered": hits, "planted_pairs": n_docs // 20}

    # Same operator, FINE-pool negatives (production geometry for both
    # sides): at small corpora the 65 536-key buckets are too sparse to
    # hold sub-threshold mates (the reason the registered query mines a
    # coarse pool), but at ≥1M docs bucket density (~15/bucket) supplies
    # negatives from the SAME sublinear candidate join the dedup pass
    # already runs — the measured escape from the coarse pool's n² term.
    def hard_negatives_fine(spark, sf_dir):
        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
            hard_negative_triplets,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return hard_negative_triplets(
            spark, emb, tau=0.9, neg_tables=8, neg_planes=16
        )

    # Retrieve-then-rerank through the pandas-UDF scorer hook (late r5),
    # query terms drawn from the probe vocabulary so BM25 has matches.
    # The corpus-sized stage is BM25 candidate generation (already
    # measured per-rung as bm25_topk_documents); the model-scoring pass
    # touches exactly top_n=50 rows at ANY corpus size — this rung
    # demonstrates that corpus-independence end to end.
    def rerank_scored(spark, sf_dir):
        import pandas as pd

        from data_lake_construction_and_querying_with_pyspark_spark.operators.retrieval import (
            rerank_with_scorer,
        )

        def scorer(query: str, texts: "pd.Series") -> "pd.Series":
            terms = query.split(" ")
            return texts.map(
                lambda t: float(sum(1 for w in terms if f" {w} " in f" {t} "))
            )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return rerank_with_scorer(docs, ("w1", "w2", "w3"), scorer)

    # PCA production path (late r5): one corpus pass of per-partition
    # numpy Xᵀ·X (mapInPandas) + the package's driver-side power
    # iteration on the 64×64 result (top component only) — the
    # registered query's fixed-point explode-join twin exists for the
    # oracle; THIS is the shape a 100 TB corpus runs, and the rung
    # shows the corpus pass is the whole cost.
    def pca_fast(spark, sf_dir):
        from data_lake_construction_and_querying_with_pyspark_spark.operators.pca import (
            pca_top_components_fast,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return pca_top_components_fast(spark, emb, k=1)

    # r6: the no-knob LIBRARY path (neg_pool_geometry policy picks the
    # pool from the corpus count — must land on the fine-pool wall time
    # at ≥500k) and the IVF inverted-list pool (the ≥100M source).
    def hard_negatives_auto(spark, sf_dir):
        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
            hard_negative_triplets,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return hard_negative_triplets(spark, emb, tau=0.9)

    def hard_negatives_ivf(spark, sf_dir):
        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
            hard_negative_triplets_ivf,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return hard_negative_triplets_ivf(spark, emb, tau=0.9)

    probes = [(op, qs[op], None) for op in _PROBE_OPS] + [
        ("semantic_dedup_scaled_k", semantic_scaled, None),
        ("semantic_dedup_sampled_k", semantic_sampled, None),
        ("embedding_cosine_scaled_bits", cosine_scaled, None),
        ("knn_graph_topk_scaled", knn_graph, knn_graph_recovery),
        ("hard_negative_mining_scaled", hard_negatives, hard_negatives_recovery),
        ("hard_negative_mining_finepool", hard_negatives_fine, hard_negatives_recovery),
        ("hard_negative_mining_auto", hard_negatives_auto, hard_negatives_recovery),
        ("hard_negative_mining_ivfpool", hard_negatives_ivf, hard_negatives_recovery),
        ("rerank_bm25_pandas_scorer", rerank_scored, None),
        ("pca_gram_fast_power", pca_fast, None),
    ]
    count_rows.add("hard_negative_mining_scaled")
    count_rows.add("hard_negative_mining_finepool")
    count_rows.add("hard_negative_mining_auto")
    count_rows.add("hard_negative_mining_ivfpool")
    count_rows.add("rerank_bm25_pandas_scorer")
    count_rows.add("semantic_dedup_scaled_k")
    count_rows.add("semantic_dedup_sampled_k")
    count_rows.add("embedding_cosine_scaled_bits")
    count_rows.add("knn_graph_topk_scaled")

    for op, fn, extra in probes:
        if only and op not in only:
            continue
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        time.sleep(0.3)
        t0 = time.time()
        df = fn(spark, out)
        run(df)
        dt = time.time() - t0
        n = df.count() if op in count_rows else None
        rec = {"op": op, "n_docs": n_docs, "seconds": round(dt, 2), "rows": n}
        if extra is not None:
            rec.update(extra(df, spark))  # untimed: recovery bookkeeping
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
