"""The 10M-doc rung (VERDICT r6 directives #1, #3, #6) — the last
extrapolated claims in the scale story, measured.

Sequential, results streamed one JSON line per measurement to
``docs/rung10m_r7.jsonl`` (flushed as each lands, so a wall-clock
overrun preserves everything finished):

1. corpus build (scale_probe's deterministic generator, 10M docs —
   reused from /tmp if present),
2. ``pca_top_components_fast`` k=4 (directive #3: the fast-Gram rung
   under the top-4 redefinition — expected: the corpus pass is the
   whole cost, iterations corpus-independent),
3. fine-pool candidate-volume probe (directive #6's "measure which":
   Σ C(bucket,2) of the production 8×16 geometry at 10M — the exact
   in-join cosine-eval count a band-pool mining run would pay, from
   one cheap groupBy instead of an hours-long join),
4. ``semantic_dedup_sampled`` at derive_k(10M)=156 250 with the auto
   broadcast policy (directive #1 — the headline, multi-hour),
5. ``hard_negative_triplets_ivf`` (directive #6's production source —
   attempted only if step 4 leaves wall-clock; gate via
   RUNG10M_DEADLINE_EPOCH, default: always attempt).

Usage: SPARK_DRIVER_MEMORY=80g python scripts/measure_10m_rungs.py \
           [n_docs] [corpus_dir] [steps]
       (defaults: 10_000_000, /tmp/scale_probe_10m, all steps;
        steps is a comma list from
        {pca,volume,semantic,semanticvec,semanticvecsharded,bandpoolvec,
         ivfneg,ivfnegvec,canonvec,knngraphvec,spanscrub,dsir,draws,docs};
        spanscrub, dsir, and draws read the documents table — run the
        "docs" step first (they fail fast with that message otherwise);
        semanticvec — r7's vectorized scoring twin
        (operators/semantic_vectorized.py), the measured escape from the
        interpreted-fold wall — is NOT in the default step set: run it
        explicitly)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RESULTS = os.environ.get("RUNG_RESULTS") or os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "docs",
    "rung10m_r7.jsonl",
)


def emit(rec: dict) -> None:
    line = json.dumps(rec)
    print(line, flush=True)
    with open(RESULTS, "a") as f:
        f.write(line + "\n")


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_probe_10m"
    steps = (
        set(sys.argv[3].split(","))
        if len(sys.argv) > 3
        else {"pca", "volume", "semantic", "ivfneg"}
    )
    deadline = float(os.environ.get("RUNG10M_DEADLINE_EPOCH", "0")) or None

    from scripts.scale_probe import build_documents, build_embeddings

    from data_lake_construction_and_querying_with_pyspark_spark import get_spark

    spark = get_spark(app_name="rung10m_r7")
    from pyspark.sql import functions as F

    t0 = time.time()
    docs_path = f"{out}/documents.parquet"
    emb_path = f"{out}/embeddings.parquet"
    # Every rung step reads only the embeddings table; the documents
    # table is 4× its size (3.6 GB vs 889 MB at 10M — 36 GB at 100M)
    # and building it would burn the disk headroom the 100M shuffle
    # needs. Request it explicitly with a "docs" step if a future rung
    # ever reads documents.
    if "docs" in steps and not os.path.exists(docs_path):
        build_documents(spark, n_docs).write.mode("overwrite").parquet(docs_path)
    if not os.path.exists(emb_path):
        build_embeddings(spark, n_docs).write.mode("overwrite").parquet(emb_path)
    emit({"op": "corpus_build", "n_docs": n_docs, "seconds": round(time.time() - t0, 2)})

    def run(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def need_docs(step: str) -> None:
        """Docs-reading steps fail fast with the fix instead of a raw
        AnalysisException deep inside the step (ADVICE r9 #1)."""
        if not os.path.exists(docs_path):
            sys.exit(
                f"step '{step}' reads {docs_path}, which does not exist — "
                f"run the 'docs' step first (steps=docs,{step})"
            )

    emb = spark.read.parquet(emb_path)

    if "pca" in steps:
        from data_lake_construction_and_querying_with_pyspark_spark.operators.pca import (
            gram_matrix_fast,
            pca_top_components_fast,
        )

        # corpus pass alone first (the claim under test: Gram IS the cost)
        t0 = time.time()
        gram_matrix_fast(emb)
        gram_s = time.time() - t0
        spark.catalog.clearCache()
        t0 = time.time()
        run(pca_top_components_fast(spark, emb, k=4))
        emit(
            {
                "op": "pca_gram_fast_topk",
                "n_docs": n_docs,
                "gram_only_seconds": round(gram_s, 2),
                "seconds": round(time.time() - t0, 2),
                "k": 4,
            }
        )

    if "volume" in steps:
        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
            lsh_multi_buckets_flat,
            with_norm,
        )

        e = with_norm(emb)
        for label, tables, planes in (
            ("fine_8x16", 8, 16),
            ("coarse_2x8", 2, 8),
        ):
            t0 = time.time()
            vol = (
                lsh_multi_buckets_flat(e, n_tables=tables, n_planes=planes)
                .groupBy("tbl", "bucket")
                .count()
                .agg(
                    F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"),
                    F.max("count").alias("max_bucket"),
                )
                .first()
            )
            emit(
                {
                    "op": f"neg_pool_candidate_volume_{label}",
                    "n_docs": n_docs,
                    "seconds": round(time.time() - t0, 2),
                    "candidate_pairs": int(vol["pairs"]),
                    "max_bucket": int(vol["max_bucket"]),
                }
            )

    if "semantic" in steps:
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
            derive_k,
            semantic_dedup_sampled,
        )

        # row count rides the ONE timed action via observe — a bare
        # .count() afterwards would re-run the whole multi-hour plan
        obs = Observation("semantic_rows")
        t0 = time.time()
        flagged = (
            semantic_dedup_sampled(spark, emb, k=derive_k(n_docs), tau=0.95)
            .filter(F.col("is_semantic_dup"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        run(flagged)
        dt = time.time() - t0
        emit(
            {
                "op": "semantic_dedup_sampled_k",
                "n_docs": n_docs,
                "seconds": round(dt, 2),
                "rows": int(obs.get["n"]),
                "planted_pairs": n_docs // 20,
                "k": derive_k(n_docs),
            }
        )

    if "semanticvec" in steps:
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import derive_k
        from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic_vectorized import (
            semantic_dedup_sampled_vectorized,
        )

        obs = Observation("semanticvec_rows")
        t0 = time.time()
        flagged = (
            semantic_dedup_sampled_vectorized(spark, emb, k=derive_k(n_docs), tau=0.95)
            .filter(F.col("is_semantic_dup"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        run(flagged)
        dt = time.time() - t0
        emit(
            {
                "op": "semantic_dedup_sampled_vectorized",
                "n_docs": n_docs,
                "seconds": round(dt, 2),
                "rows": int(obs.get["n"]),
                "planted_pairs": n_docs // 20,
                "k": derive_k(n_docs),
            }
        )
        spark.catalog.clearCache()

    if "semanticvecsharded" in steps:
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import derive_k
        from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic_vectorized import (
            semantic_dedup_sampled_vectorized,
        )

        # VERDICT r8 directive #2's scale gate: the wave-sharded
        # centroid index at rung scale, with recovery counted so the
        # row can sit NEXT TO the one-piece rung in SCALING.md (values
        # are bit-identical by contract — tests pin it at 200k — so
        # recovery must match the one-piece run exactly; the number
        # under test here is the WALL of s waves over the corpus).
        shards = int(os.environ.get("SEMVEC_INDEX_SHARDS", "4"))
        planted = (F.pmod((F.col("vec_id") / 2).cast("long"), 20) < 2) & (
            F.col("vec_id") % 2 == 1
        )
        obs = Observation("semanticvecsharded_rows")
        t0 = time.time()
        flagged = (
            semantic_dedup_sampled_vectorized(
                spark, emb, k=derive_k(n_docs), tau=0.95, index_shards=shards
            )
            .filter(F.col("is_semantic_dup"))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(planted, 1)).alias("planted_hits"),
            )
        )
        run(flagged)
        dt = time.time() - t0
        emit(
            {
                "op": "semantic_dedup_sampled_vectorized_sharded",
                "n_docs": n_docs,
                "seconds": round(dt, 2),
                "rows": int(obs.get["n"]),
                "planted_recovered": int(obs.get["planted_hits"]),
                "planted_pairs": n_docs // 20,
                "k": derive_k(n_docs),
                "index_shards": shards,
            }
        )
        spark.catalog.clearCache()

    if "spanscrub" in steps:
        need_docs("spanscrub")
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
            span_shuffle_partitions,
        )

        # VERDICT r8 directive #5: the ExactSubstr APPLY path's rung.
        # Needs the documents table (run the "docs" step first). The
        # planted floor is closed-form on scale_probe's corpus: every
        # exact-dup odd member loses all 120 tokens (each of its spans
        # is outranked by the even member), every near-dup odd member
        # loses 119 (only position 7's "swapped" token has no earlier
        # occurrence), so dropped ≥ n/40·(120+119). Accidental 5-gram
        # collisions over a 2000-token vocab add a measured, bounded
        # excess (~1e-5 of total tokens at 10M) on top of the floor.
        # SPANSCRUB_BATCHES: the posting exchange + rank-window sort
        # spill measured past this box's scratch ceiling at 10M
        # single-pass (ENOSPC, docs/SCALING.md r9) — the span-hash
        # wave knob divides that peak, values exactly single-pass.
        from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
            span_scrub_documents,
        )

        docs = spark.read.parquet(docs_path)
        reducers = span_shuffle_partitions(spark, docs)
        waves = int(os.environ.get("SPANSCRUB_BATCHES", "1"))
        planted_floor = (n_docs // 40) * 120 + (n_docs // 40) * 119
        obs = Observation("spanscrub_rows")
        t0 = time.time()
        scrubbed = span_scrub_documents(spark, docs, span_batches=waves).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_dropped_tokens").alias("dropped_tokens"),
        )
        run(scrubbed)
        dt = time.time() - t0
        dropped = int(obs.get["dropped_tokens"])
        emit(
            {
                "op": "span_scrub_apply",
                "n_docs": n_docs,
                "seconds": round(dt, 2),
                "rows": int(obs.get["n"]),
                "total_tokens": int(obs.get["total_tokens"]),
                "dropped_tokens": dropped,
                "planted_floor_dropped": planted_floor,
                "floor_recovered": dropped >= planted_floor,
                "span_shuffle_partitions": reducers,
                "span_batches": waves,
            }
        )
        spark.catalog.clearCache()

    if "dsir" in steps:
        need_docs("dsir")
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.corpus_quality import (
            dsir_resample_draw,
        )

        # The DSIR family's scale rung (registered r9): the resample
        # APPLY embeds the full importance pipeline — 2 features/token
        # hashed into 4096 buckets (bounded count tables → broadcast),
        # one groupBy(doc_id) over ~2.4e8 feature rows per 1M docs,
        # one per-source window. Needs the documents table (run the
        # "docs" step first). No planted ground truth: the invariants
        # (exact integer weights, shard-order replay, conservation)
        # are pinned at test scale; the rung measures the linear
        # pipeline's wall and that the draw multiplicity behaves.
        docs_df = spark.read.parquet(docs_path)
        obs = Observation("dsir_rows")
        t0 = time.time()
        drawn = dsir_resample_draw(spark, out).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("n_draws").alias("total_draws"),
            F.max("n_draws").alias("max_draws"),
        )
        run(drawn)
        dt = time.time() - t0
        emit(
            {
                "op": "dsir_resample_draw",
                "n_docs": int(docs_df.count()),
                "seconds": round(dt, 2),
                "rows": int(obs.get["n"]),
                "total_draws": int(obs.get["total_draws"]),
                "max_draws": int(obs.get["max_draws"]),
            }
        )
        spark.catalog.clearCache()

    if "draws" in steps:
        need_docs("draws")
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.corpus_quality import (
            _DRAW_STEP,
            sequence_packing,
            weighted_systematic_draw,
        )
        from data_lake_construction_and_querying_with_pyspark_spark.operators.tokens import (
            tokens,
        )

        # The segmented-window selection/packing pair (r10 directive
        # #2's rewrite) at corpus scale. Conservation oracles computed
        # independently from one cheap aggregate each: the draw's
        # total must equal sum over shards of ceil(mass/STEP); the
        # packing's emitted tok_len mass must equal the corpus token
        # count (every token lands in exactly one span).
        docs_df = spark.read.parquet(docs_path)
        expected_draws = (
            docs_df.filter(F.col("n_chars") > 0)
            .groupBy("source")
            .agg(F.sum("n_chars").alias("mass"))
            .select(F.expr(f"(mass + {_DRAW_STEP} - 1) div {_DRAW_STEP}").alias("k"))
            .agg(F.sum("k"))
            .first()[0]
        )
        obs = Observation("draw_rows")
        t0 = time.time()
        drawn = weighted_systematic_draw(spark, out).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("n_draws").alias("total_draws"),
            F.max("n_draws").alias("max_draws"),
        )
        run(drawn)
        emit(
            {
                "op": "weighted_systematic_draw",
                "n_docs": n_docs,
                "seconds": round(time.time() - t0, 2),
                "rows": int(obs.get["n"]),
                "total_draws": int(obs.get["total_draws"]),
                "expected_draws": int(expected_draws),
                "max_draws": int(obs.get["max_draws"]),
            }
        )
        spark.catalog.clearCache()

        # reuse the operator family's own tokenizer so the expected
        # mass is definitionally identical (split-on-space + drop-empty)
        expected_tokens = docs_df.select(F.sum(F.size(tokens())).alias("t")).first()[0]
        obs2 = Observation("pack_rows")
        t0 = time.time()
        packed = sequence_packing(spark, out).observe(
            obs2,
            F.count(F.lit(1)).alias("n"),
            F.sum("tok_len").alias("token_mass"),
            F.max("seq_id").alias("max_seq"),
        )
        run(packed)
        emit(
            {
                "op": "sequence_packing",
                "n_docs": n_docs,
                "seconds": round(time.time() - t0, 2),
                "rows": int(obs2.get["n"]),
                "token_mass": int(obs2.get["token_mass"]),
                "expected_tokens": int(expected_tokens),
                "max_seq_id": int(obs2.get["max_seq"]),
            }
        )
        spark.catalog.clearCache()

    if "bandpoolvec" in steps:
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
            _CLONE_MOD,
            _CLONE_OFF,
            _SCALED_PLANES,
            _SCALED_TABLES,
            _SCALED_TAU,
        )
        from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup_vectorized import (
            embedding_cosine_pairs_vectorized,
        )
        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
            as_double_vec,
        )

        # The registered entry's own planted ground truth at 10M: every
        # 50th vector gains a +0.01-nudged clone (cosine ≈ 0.9998), so
        # the expected output is exactly n/_CLONE_MOD pairs. This is the
        # pool the fold-throughput volume probe priced at >11 h
        # (1.275e10 candidate evals) — the number under test is the
        # per-bucket GEMM's wall for the same candidate set.
        base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("embedding"))
        clones = base.filter(F.col("vec_id") % _CLONE_MOD == 0).select(
            (F.col("vec_id") + F.lit(_CLONE_OFF * 100)).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
        )
        aug = base.unionByName(clones)
        # rows also include scale_probe's own planted dup pairs (the
        # (2k, 2k+1) groups with cosine ≈ 1 — absent from the sf
        # fixtures the registered entry runs on), so clone recovery is
        # counted explicitly alongside the total.
        clone_hit = (F.col("vec_b") == F.col("vec_a") + _CLONE_OFF * 100) & (
            F.col("vec_a") % _CLONE_MOD == 0
        )
        obs = Observation("bandpool_rows")
        t0 = time.time()
        pairs = embedding_cosine_pairs_vectorized(
            spark, aug, tau=_SCALED_TAU, n_tables=_SCALED_TABLES, n_planes=_SCALED_PLANES
        ).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(clone_hit, 1)).alias("clone_hits"),
        )
        run(pairs)
        dt = time.time() - t0
        emit(
            {
                "op": "bandpool_pairs_vectorized",
                "n_docs": n_docs,
                "seconds": round(dt, 2),
                "rows": int(obs.get["n"]),
                "planted_clones_recovered": int(obs.get["clone_hits"]),
                "planted_clones": n_docs // _CLONE_MOD,
                "geometry": f"{_SCALED_TABLES}x{_SCALED_PLANES}",
            }
        )
        spark.catalog.clearCache()

    if "ivfneg" in steps and (deadline is None or time.time() < deadline):
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
            hard_negative_triplets_ivf,
        )

        planted = F.pmod((F.col("anchor_id") / 2).cast("long"), 20) < 2
        partner = F.col("anchor_id").bitwiseXOR(F.lit(1))
        obs = Observation("ivfneg_rows")
        # positives geometry scales bits with log n (the dedup family's
        # own contract): the measured 10M volume probe puts the 16-bit
        # bands at 1.275e10 candidate evals (>11 h on this box), so at
        # ≥10M the positives join runs 20-bit tables (~1M keys,
        # ~3.6e8 evals — the 1M-rung volume class). ≤1M keeps the
        # registered 16-bit geometry for comparability.
        pos_planes = 20 if n_docs >= 10_000_000 else 16
        t0 = time.time()
        trip = hard_negative_triplets_ivf(
            spark, emb, tau=0.9, n_planes=pos_planes, broadcast_buckets=False
        ).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(planted & (F.col("pos_id") == partner), 1)).alias("hits"),
        )
        run(trip)
        dt = time.time() - t0
        emit(
            {
                "op": "hard_negative_mining_ivfpool",
                "n_docs": n_docs,
                "seconds": round(dt, 2),
                "rows": int(obs.get["n"]),
                "planted_pos_recovered": int(obs.get["hits"]),
                "planted_pairs": n_docs // 20,
            }
        )

    if "canonvec" in steps:
        from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
            _CLONE_MOD,
            _CLONE_OFF,
            _SCALED_PLANES,
            _SCALED_TABLES,
            _SCALED_TAU,
        )
        from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup_vectorized import (
            canonical_corpus_embeddings_vectorized,
        )
        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
            as_double_vec,
        )

        # End-to-end deliverable at 10M: pairs → components → keep-list
        # → anti-join. Sharp invariant on this corpus: survivors are
        # exactly the even members of planted dup groups plus every
        # unpaired base vector — n − n/20 rows — with all clones and odd
        # dup members dropped.
        base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("embedding"))
        clones = base.filter(F.col("vec_id") % _CLONE_MOD == 0).select(
            (F.col("vec_id") + F.lit(_CLONE_OFF * 100)).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
        )
        aug = base.unionByName(clones)
        # ≥20M on this box the single-pass 8-table band exchange
        # (~85 GB of f64-vector shuffle scratch) exceeds the ~77 GB
        # disk ceiling — measured r8, "No space left on device" at
        # 30/64 map tasks. table_batches divides peak scratch,
        # bit-identical values (docs/SCALING.md).
        waves = int(os.environ.get("CANONVEC_TABLE_BATCHES", "1"))
        t0 = time.time()
        survivors = canonical_corpus_embeddings_vectorized(
            spark, aug, tau=_SCALED_TAU,
            n_tables=_SCALED_TABLES, n_planes=_SCALED_PLANES,
            table_batches=waves,
        ).count()
        dt = time.time() - t0
        emit(
            {
                "op": "canonical_corpus_vectorized",
                "n_docs": n_docs,
                "seconds": round(dt, 2),
                "survivors": survivors,
                "expected_survivors": n_docs - n_docs // 20,
                "table_batches": waves,
            }
        )
        spark.catalog.clearCache()

    if "ivfnegvec" in steps:
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity_vectorized import (
            hard_negative_triplets_ivf_vectorized,
        )

        planted = F.pmod((F.col("anchor_id") / 2).cast("long"), 20) < 2
        partner = F.col("anchor_id").bitwiseXOR(F.lit(1))
        obs = Observation("ivfnegvec_rows")
        # Positives keep the log-n geometry of the fold step (20-bit at
        # ≥10M); every scorer is the GEMM twin, so the fine-grained
        # band volume is no longer the constraint it was for the fold.
        pos_planes = 20 if n_docs >= 10_000_000 else 16
        # Band-exchange bytes are n·n_tables·8·(d+1) REGARDLESS of
        # plane count (every vector rides once per table), so ≥20M on
        # this box the positives stage needs scratch-bounding waves
        # exactly like canonvec (r8 finding, docs/SCALING.md).
        waves = int(os.environ.get("IVFNEGVEC_TABLE_BATCHES", "1"))
        t0 = time.time()
        trip = hard_negative_triplets_ivf_vectorized(
            spark, emb, tau=0.9, n_planes=pos_planes, table_batches=waves
        ).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(planted & (F.col("pos_id") == partner), 1)).alias("hits"),
        )
        run(trip)
        dt = time.time() - t0
        emit(
            {
                "op": "hard_negative_mining_ivfpool_vectorized",
                "n_docs": n_docs,
                "seconds": round(dt, 2),
                "rows": int(obs.get["n"]),
                "planted_pos_recovered": int(obs.get["hits"]),
                "planted_pairs": n_docs // 20,
            }
        )
        spark.catalog.clearCache()

    if "knngraphvec" in steps:
        from pyspark.sql import Observation

        from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity_vectorized import (
            knn_graph_edges_vectorized,
        )

        # The twin family's last unmeasured member (the fold rung of
        # record is 159.6 s at 1M, SCALING.md round 5). Same recovery
        # signal as the fold rung: members of planted pair groups
        # ((2k, 2k+1) with pmod(k,20) < 2, cosine ≈ 1) must find their
        # partner as the RANK-1 edge — non-planted 64-dim pairs top out
        # near cosine ~0.5, so rank-1 partner recovery is sharp.
        planted = F.pmod((F.col("vec_id") / 2).cast("long"), 20) < 2
        partner = F.col("vec_id").bitwiseXOR(F.lit(1))
        obs = Observation("knngraphvec_rows")
        # ≥20M the band exchange needs scratch-bounding waves on this
        # box (same ceiling the canonvec rung measured).
        # KNNGRAPHVEC_PLANES: default keeps the ladder's fixed 8×16 so
        # rows stay comparable; pass knn_graph_planes(n_docs) (the
        # log-n rule) to measure the production geometry (r10 rung).
        kg_waves = int(os.environ.get("KNNGRAPHVEC_TABLE_BATCHES", "1"))
        kg_planes = int(os.environ.get("KNNGRAPHVEC_PLANES", "16"))
        # Own the wave scratch and delete it after the action: mkdtemp
        # default leaks ~14 GB per 40M run, and two stale runs' scratch
        # caused a measured ENOSPC on the third (r10). The operator
        # cannot clean it (the returned frame is lazy); the rung can.
        kg_scratch = f"{out}/_knngraphvec_scratch" if kg_waves > 1 else None
        t0 = time.time()
        edges = knn_graph_edges_vectorized(
            spark, emb, k=3, n_planes=kg_planes, table_batches=kg_waves,
            scratch_dir=kg_scratch,
        ).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(planted & (F.col("edge_rank") == 1) & (F.col("nbr_id") == partner), 1)
            ).alias("hits"),
        )
        run(edges)
        dt = time.time() - t0
        emit(
            {
                "op": "knn_graph_topk_vectorized",
                "n_docs": n_docs,
                "seconds": round(dt, 2),
                "rows": int(obs.get["n"]),
                "planted_rank1_recovered": int(obs.get["hits"]),
                "planted_members": n_docs // 10,
                "table_batches": kg_waves,
                "n_planes": kg_planes,
            }
        )
        spark.catalog.clearCache()
        if kg_scratch:
            import shutil

            shutil.rmtree(kg_scratch, ignore_errors=True)

    emit({"op": "done", "n_docs": n_docs})


if __name__ == "__main__":
    main()
