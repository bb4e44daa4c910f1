"""Behavioral invariants for the retrieval and graph operators —
properties the DuckDB oracle equality can't express (it would be
satisfied by an identically-wrong pair)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def queries():
    from data_lake_construction_and_querying_with_pyspark_spark.registry import all_queries

    return all_queries()


def test_pagerank_is_a_probability_distribution(spark, queries):
    """Teleport + damping + dangling-mass redistribution conserve rank
    mass exactly: the ranks must sum to 1 at every corpus size (the
    invariant that breaks first if dangling handling is dropped or an
    edge normalization double-counts)."""
    df = queries["pagerank_trade_network"](spark, SF_SMOKE)
    total = df.agg(F.sum("pagerank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9, total
    rows = df.collect()
    assert all(r.pagerank > 0 for r in rows)


def test_pagerank_rewards_inflow(spark, queries):
    """A node's rank exceeds the teleport floor iff it has inbound
    weight; with every nation trading, all ranks sit strictly above
    0.15/N."""
    df = queries["pagerank_trade_network"](spark, SF_SMOKE)
    n = df.count()
    floor = 0.15 / n
    assert df.filter(F.col("pagerank") <= floor).count() == 0


def test_bm25_results_contain_query_terms(spark, queries):
    """Every returned document matches at least one query term (BM25
    never scores a term-free document), scores are positive, and the
    result respects the k cap."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.retrieval import (
        _QUERY_TERMS,
        _TOPK,
    )

    res = queries["bm25_topk_documents"](spark, SF_SMOKE)
    rows = res.collect()
    assert 0 < len(rows) <= _TOPK
    assert all(r.bm25_score > 0 for r in rows)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    joined = (
        docs.join(res, "doc_id")
        .select(
            F.size(
                F.array_intersect(
                    F.array_distinct(F.split("text", " ")),
                    F.array(*[F.lit(t) for t in _QUERY_TERMS]),
                )
            ).alias("hits")
        )
        .collect()
    )
    assert all(r.hits >= 1 for r in joined)


def test_bm25_score_monotone_in_rank_order(spark, queries):
    """Collected in plan order the scores are non-increasing — the
    TakeOrderedAndProject ordering survives into the result."""
    res = queries["bm25_topk_documents"](spark, SF_SMOKE).collect()
    scores = [r.bm25_score for r in res]
    assert scores == sorted(scores, reverse=True)


def test_tfidf_ranks_are_dense_per_doc(spark, queries):
    """Each document gets term_rank 1..min(3, distinct terms) with no
    gaps and no duplicate ranks."""
    res = queries["tfidf_top_terms_per_doc"](spark, SF_SMOKE)
    bad = (
        res.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("term_rank").alias("mx"),
            F.count_distinct("term_rank").alias("nd"),
        )
        .filter((F.col("mx") != F.col("n")) | (F.col("nd") != F.col("n")) | (F.col("n") > 3))
    )
    assert bad.count() == 0


def test_gopher_keep_is_conjunction_of_rules(spark, queries):
    """keep == AND of the five rule booleans, row by row, and at least
    one rule actually discriminates on the fixture (both outcomes
    present) so the pack isn't vacuous."""
    res = queries["gopher_quality_filters"](spark, SF_SMOKE)
    rules = [
        "pass_word_count",
        "pass_mean_word_len",
        "pass_alpha_frac",
        "pass_symbol_ratio",
        "pass_stopwords",
    ]
    conj = F.lit(True)
    for r in rules:
        conj = conj & F.col(r)
    assert res.filter(F.col("keep") != conj).count() == 0
    outcomes = res.select("keep").distinct().count()
    assert outcomes == 2, "fixture should exercise both keep outcomes"


def test_repeated_spans_are_disjoint_maximal_extents(spark, queries):
    """Per document: spans are non-overlapping AND non-adjacent (an
    adjacent pair would have merged), each at least the shingle width,
    inside the document's token range."""
    res = queries["dedup_repeated_spans"](spark, SF_SMOKE)
    rows = res.collect()
    assert rows, "fixture plants shared passages; result must be non-empty"
    by_doc: dict = {}
    for r in rows:
        assert r.span_end - r.span_start + 1 >= 5
        assert r.span_start >= 1
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    docs = {
        r.doc_id: r.n
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    for doc_id, spans in by_doc.items():
        spans.sort()
        assert spans[-1][1] <= docs[doc_id]
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            # disjoint with a real gap: touching extents would have merged
            assert s2 > e1 + 1, (doc_id, (s1, e1), (s2, e2))


def test_rerank_is_a_reranked_candidate_subset(spark, queries):
    """Every reranked row comes from the BM25 top-50 candidate set,
    ranks are dense 1..10, and every row matches at least one query
    term (coverage >= 1 — BM25 candidates can't be term-free)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.retrieval import (
        _QUERY_TERMS,
        _RERANK_TOP_K,
        _RERANK_TOP_N,
        bm25_scores,
    )

    res = queries["rerank_bm25_candidates"](spark, SF_SMOKE)
    rows = sorted(res.collect(), key=lambda r: r.rerank_rank)
    assert [r.rerank_rank for r in rows] == list(range(1, _RERANK_TOP_K + 1))
    assert all(r.coverage >= 1 for r in rows)

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cand = (
        bm25_scores(docs, _QUERY_TERMS)
        .orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        .limit(_RERANK_TOP_N)
    )
    cand_ids = {r.doc_id for r in cand.collect()}
    assert {r.doc_id for r in rows} <= cand_ids


def test_rerank_ordering_is_the_documented_lexicographic_rule(spark, queries):
    """rank order == (coverage desc, bigram_hits desc, span asc,
    earliest asc, bm25 desc, doc_id asc) — recomputed driver-side from
    the emitted feature columns; and the rerank actually reorders
    relative to pure BM25 on the fixture (the joint features are not
    vacuous)."""
    res = queries["rerank_bm25_candidates"](spark, SF_SMOKE)
    rows = sorted(res.collect(), key=lambda r: r.rerank_rank)
    keys = [
        (-r.coverage, -r.bigram_hits, r.span, r.earliest, -r.bm25_score, r.doc_id)
        for r in rows
    ]
    assert keys == sorted(keys)

    bm25 = queries["bm25_topk_documents"](spark, SF_SMOKE)
    bm25_prefix = [r.doc_id for r in bm25.collect()][: len(rows)]
    assert [r.doc_id for r in rows] != bm25_prefix


def test_rerank_scorer_hook_matches_jvm_feature_rule(spark):
    """The pluggable pandas-UDF scorer path emits the IDENTICAL ranking
    to the registered JVM-feature query when the callable implements
    the same rule — proving the Arrow plumbing (candidate broadcast,
    batch shape, ordering, top-k) a real cross-encoder would ride."""
    import pandas as pd

    from data_lake_construction_and_querying_with_pyspark_spark.operators.retrieval import (
        _BIGRAMS,
        _QUERY_TERMS,
        rerank_with_scorer,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.registry import all_queries

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    # Composite is order-equivalent to the lexicographic rule only while
    # span/earliest stay under their place values — assert the fixture
    # honors the bound instead of assuming it.
    max_len = docs.select(F.max(F.size(F.split("text", " ")))).first()[0]
    assert max_len < 10_000

    def fake_cross_encoder(query: str, texts: pd.Series) -> pd.Series:
        terms = query.split(" ")
        bigrams = list(_BIGRAMS)

        def score(text: str) -> float:
            toks = [t for t in text.split(" ") if t]
            pos = [toks.index(t) + 1 if t in toks else 0 for t in terms]
            present = [p for p in pos if p > 0]
            coverage = len(present)
            padded = f" {text} "
            bigram_hits = sum(1 for bg in bigrams if f" {bg} " in padded)
            span = (max(present) - min(present)) if coverage >= 2 else 0
            earliest = min(present) if coverage >= 1 else 0
            return coverage * 1e12 + bigram_hits * 1e9 - span * 1e5 - earliest

        return texts.map(score)

    got = rerank_with_scorer(docs, _QUERY_TERMS, fake_cross_encoder)
    got_ids = [r.doc_id for r in sorted(got.collect(), key=lambda r: r.rerank_rank)]

    ref = all_queries()["rerank_bm25_candidates"](spark, SF_SMOKE)
    ref_ids = [r.doc_id for r in sorted(ref.collect(), key=lambda r: r.rerank_rank)]
    assert got_ids == ref_ids
