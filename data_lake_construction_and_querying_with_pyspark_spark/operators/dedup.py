"""Deduplication operators — exact through fuzzy (SURVEY.md §7 Phase 3a).

Generalizes the reference's single dedup call (``df.dropDuplicates()``,
reference ``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:103``)
into the ladder a 100 TB training-data pipeline needs:

* exact row/key dedup (hash aggregate),
* normalized-fingerprint dedup (md5 of canonicalized text),
* n-gram Jaccard near-dup (inverted-index candidate join — exact),
* MinHash + LSH banding near-dup (sub-quadratic candidate generation),
* SimHash signatures (bit-majority sketch).

Cross-engine determinism: all hashing is md5 (identical hex in Spark
and DuckDB); MinHash "hash functions" are lexicographic minima of
``md5(i || ':' || shingle)`` strings, so the oracle reproduces the
exact signature. Jaccard thresholds compare in integer arithmetic
(``k·inter ≥ m·union``), never floats.

Scale notes: the inverted-index join explodes (doc, shingle) pairs and
self-joins on shingle — document-frequency pruning (``max_df``) drops
shingles appearing in >T docs before the self-join and computes Jaccard
over the surviving shingle universe (boilerplate carries no similarity
signal — the idf intuition); MinHash-LSH is the sub-quadratic path
whose candidate count is tunable via bands×rows. Both avoid the O(n²)
cross join the oracle uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_construction_and_querying_with_pyspark_spark.registry import register
from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import (
    fan_out_small_scan,
    input_bytes,
    load_table,
)

# --- shared shingling expressions --------------------------------------------

def _toks() -> "F.Column":
    """Word tokens (documents are single-space separated; filter empties
    so a trailing separator can't mint a '' token)."""
    return F.filter(F.split(F.col("text"), " "), lambda t: t != "")


def _shingles(toks) -> F.Column:
    """Distinct word 3-gram shingles; empty array for <3-token docs
    (guard matters: Spark's sequence(0, n-3) would go *descending* for
    n<3 instead of empty).

    Formulated over arrays_zip of three slices rather than
    element_at(toks, i) inside the lambda: lambda-indexed access defeats
    subexpression elimination, so when an optimizer rule re-inlines the
    tokenizer into this expression (CollapseProject,
    InferFiltersFromGenerate) the indexed form re-tokenizes per element
    — O(tokens²) per doc, measured 20× slower. The zip form evaluates
    each slice argument once per row regardless of inlining."""
    n = F.size(toks)
    z = F.arrays_zip(
        F.slice(toks, 1, n - 2), F.slice(toks, 2, n - 2), F.slice(toks, 3, n - 2)
    )
    grams = F.transform(z, lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"]))
    return F.when(n >= 3, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))


def _explode_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, s) inverted index. explode_outer, not explode: plain
    explode triggers InferFiltersFromGenerate, which clones the whole
    shingle expression into a Filter below the repartition Exchange —
    single-threaded re-evaluation of the heaviest expression in the
    plan. Outer generate infers nothing; the null guard is free."""
    return (
        sh.select("doc_id", F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
    )


_ORACLE_SHINGLES = """
    SELECT doc_id,
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          for i in range(1, len(toks)-1)]) AS shingles
    FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents)
"""


def shingle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles) with the token array materialized as its own
    projection first: inlining the tokenizer expression into the
    shingle lambda makes Catalyst re-evaluate split+filter inside every
    element_at — O(tokens²) per document (measured 20× slower at
    sf0.1). The repartition spreads the CPU-heavy shingle explode
    across cores when the source is a single small file; at lake scale
    many input splits make it a no-op cost-wise."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return (
        docs.repartition(par, "doc_id")
        .select("doc_id", _toks().alias("toks"))
        .select("doc_id", _shingles(F.col("toks")).alias("shingles"))
    )


# --- exact dedup --------------------------------------------------------------


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies, MIN(n_chars) AS n_chars
    FROM documents GROUP BY text
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup as a keep-first aggregation (C3 generalized to a
    keyed dedup that also reports multiplicity). One hash-agg shuffle on
    the text value; at 100 TB group on md5(text) instead so the shuffle
    key is 16 bytes, not the document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


@register(
    "dedup_fingerprint_documents",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized-fingerprint dedup: lowercase + whitespace-collapse
    + md5. Catches trivial formatting variants that exact dedup misses;
    the 16-byte digest is the shuffle key (constant-size at any doc
    length)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    return docs.groupBy(fp.alias("fingerprint")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --- n-gram Jaccard near-dup (exact, inverted index) --------------------------


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS MATERIALIZED ({_ORACLE_SHINGLES})
    SELECT i.doc_a, i.doc_b, i.inter::DOUBLE / (za.n + zb.n - i.inter) AS jaccard
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) a
        JOIN (SELECT doc_id, unnest(shingles) AS s FROM sh) b
          ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) i
    JOIN (SELECT doc_id, len(shingles) AS n FROM sh) za ON za.doc_id = i.doc_a
    JOIN (SELECT doc_id, len(shingles) AS n FROM sh) zb ON zb.doc_id = i.doc_b
    WHERE 5 * i.inter >= 4 * (za.n + zb.n - i.inter)
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs with word-3-gram Jaccard ≥ 0.8, with
    document-frequency pruning enabled at its default cap (1000 — far
    above this corpus's max shingle df of ~9, so results here equal the
    unpruned brute-force oracle — since r5 the oracle itself is the
    inverted-index form too; see _ORACLE_PAIRS)."""
    return ngram_jaccard_pairs(spark, sf_dir, max_df=_NGRAM_MAX_DF)


_NGRAM_MAX_DF = 1000


_POSTING_PREPRUNE_BYTES = 8 * 1024**3  # pre-prune hot shingles above 8 GiB of docs


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_df: int | None = None,
    prune_first: bool | None = None,
) -> DataFrame:
    """Near-dup pairs with word-3-gram Jaccard ≥ 0.8 over an inverted
    index, with optional document-frequency pruning.

    Scalable exact algorithm: invert (doc, shingle), self-join on
    shingle to find pairs sharing ≥1 shingle (complete, since any pair
    with jaccard > 0 shares a shingle), then test the threshold in
    integer arithmetic (5·inter ≥ 4·union ⇔ jaccard ≥ 0.8). The
    self-join's shuffle volume is Σ df(shingle)² — one boilerplate
    shingle shared by 1% of a 100 TB corpus creates ~10¹⁴ candidate
    pairs, so ``max_df`` drops shingles appearing in more than that
    many documents BEFORE the self-join, and Jaccard is computed over
    the PRUNED shingle universe (per-doc sizes count surviving shingles
    only). That is the semantics production corpus dedup uses:
    corpus-wide boilerplate carries no similarity signal, exactly as
    idf-weighting discounts stopwords. The plan stays single-pass — the
    self-join's group counts ARE the intersection sizes — instead of a
    candidates-then-verify second join whose volume is candidates ×
    shingles-per-doc (measured ~100× the single-pass row volume).
    Below the cap the result is identical to unpruned Jaccard, which is
    why the registered query (cap 1000, fixture max df ≈ 9) matches
    the unpruned brute-force oracle.

    ``max_df=None`` skips the df-count aggregate entirely.

    ``prune_first`` (r12, ADVICE r11 #1): the posting-list aggregate's
    per-shingle buffer is ``8·df`` bytes BEFORE the ``size ≤ max_df``
    filter can drop it — a corpus-wide boilerplate shingle in a ~1e9-doc
    corpus would build one ~8 GB ``collect_list`` buffer and OOM the
    executor. Above the byte gate (default 8 GiB of document bytes,
    where a worst-case single-shingle buffer crosses ~32 MB) a
    constant-space df-count aggregate + co-partitioned semi-join drops
    hot shingles BEFORE the list is built; the join output keeps the
    shingle partitioning, so the posting aggregate itself adds no
    exchange. Below the gate the r11 single-exchange shape is kept.
    Values are identical either way: both paths keep exactly the
    shingles with df ≤ max_df (pinned by tests/test_dedup_pruning.py).
    """
    sh = shingle_docs(spark, sf_dir)
    inv = _explode_shingles(sh).withColumnRenamed("s", "shingle")
    if max_df is not None and prune_first is None:
        docs_bytes = input_bytes(load_table(spark, sf_dir, "documents"))
        prune_first = docs_bytes > _POSTING_PREPRUNE_BYTES
    if max_df is None:
        sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
        pairs = (
            inv.alias("a")
            .join(inv.alias("b"), "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        from pyspark import StorageLevel

        # r11 (guide §2.4 "remove shuffles outright"): POSTING-LIST pair
        # generation. One groupBy(shingle) builds the sorted doc-id
        # posting list per shingle; the df cap is a length filter on it;
        # candidate pairs are a pure projection exploding each list's
        # ordered combinations. This replaces the old df-count aggregate
        # + string-keyed prune join + string-keyed self-join — three
        # exchanges of ~45-byte shingle keys collapse into one, and the
        # per-doc sizes fall out of the same persisted posting table.
        # Values are identical: each surviving shingle contributes each
        # ordered (doc_a < doc_b) pair exactly once (posting lists are
        # sorted, per-doc shingles distinct), which is precisely the
        # self-join's multiset; the threshold arithmetic is untouched.
        # Memory: a posting list is capped at max_df ids (8·max_df
        # bytes), so rows stay bounded at any corpus size.
        if prune_first:
            # Scale path (ADVICE r11 #1): constant-space df counts drop
            # hot shingles BEFORE any posting list is built; the inner
            # join is co-partitioned with the aggregate that follows,
            # so the posting build still sees one shingle exchange of
            # the (now pruned) index.
            df_ok = (
                inv.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_df)
                .select("shingle")
            )
            src = inv.join(df_ok, "shingle")
        else:
            src = inv
        posting = src.groupBy("shingle").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ds")
        )
        # Persisted: feeds both the pair explode and the per-doc sizes.
        # (The size filter is a no-op after a pre-prune — kept so both
        # paths share one plan tail.)
        keep = posting.filter(F.size("ds") <= max_df).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # Persisted too (r12): `sizes` feeds BOTH side tables of the
        # threshold join (sa and sb below); as a live subtree the
        # explode+aggregate ran once per side — the before-plan shows
        # two identical HashAggregate(doc_id) subtrees under the two
        # BroadcastExchanges. n_docs rows — driver-trivial to cache.
        sizes = (
            keep.select(F.explode("ds").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        ds = F.col("ds")
        pair_structs = F.flatten(
            F.transform(
                ds,
                lambda x, i: F.transform(
                    F.slice(ds, i + F.lit(2), F.size(ds)),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
        pairs = (
            keep.select(F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.toDF("doc_a", "n_a")
    sb = sizes.toDF("doc_b", "n_b")
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(5 * F.col("inter") >= 4 * union)
        .select("doc_a", "doc_b", (F.col("inter").cast("double") / union).alias("jaccard"))
    )


# --- MinHash + LSH banding -----------------------------------------------------

_N_HASHES = 16
_BAND_ROWS = 4  # 4 bands x 4 rows


def _oracle_minhash() -> str:
    sig_cols = ", ".join(
        f"MIN(md5('{i}:' || s)) AS h{i}" for i in range(_N_HASHES)
    )
    band_rows = []
    for b in range(_N_HASHES // _BAND_ROWS):
        cols = " || '|' || ".join(f"h{b * _BAND_ROWS + j}" for j in range(_BAND_ROWS))
        band_rows.append(f"SELECT doc_id, {b} AS band, {cols} AS band_key FROM sig")
    bands = " UNION ALL ".join(band_rows)
    return f"""
    WITH sh AS ({_ORACLE_SHINGLES}),
    sig AS (
        SELECT doc_id, {sig_cols}
        FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
        GROUP BY doc_id
    ),
    bands AS ({bands}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
             / (len(sa.shingles) + len(sb.shingles)
                - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = cand.doc_a
    JOIN sh sb ON sb.doc_id = cand.doc_b
    WHERE 5 * len(list_intersect(sa.shingles, sb.shingles))
          >= 4 * (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles)))
    """


@register("dedup_minhash_near_dup", oracle=_oracle_minhash())
def dedup_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup: 16 md5-min signatures → 4 bands × 4 rows →
    band-bucket self-join for candidates → exact Jaccard ≥ 0.8 verify.

    This is the sub-quadratic scale path (candidate count is controlled
    by the band structure, not n²); band collision probability for
    jaccard s is 1-(1-s⁴)⁴ ≈ 0.98 at s=0.8. The oracle replays the
    identical md5-based construction, so results match exactly.

    Physically everything derives from ONE persisted inverted index
    (doc_id, shingle): the 16 signature minima are partial aggregates
    over it, and candidate verification joins the index twice to count
    shared shingles — shingle ARRAYS never cross a shuffle, so rows
    stay small at any document length, and per-doc sizes broadcast
    into the final threshold check."""
    from pyspark import StorageLevel

    inv = _explode_shingles(shingle_docs(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Persisted: the band self-join below references sig on both sides,
    # and an unpersisted plan would recompute the 16-way md5 aggregate
    # once per side (measured 4s → 0.3s for the candidate step).
    sig = minhash_signatures(inv).persist(StorageLevel.MEMORY_AND_DISK)
    bands = band_rows(sig)
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return verify_jaccard_pairs(cand, inv)


def minhash_signatures(inv: DataFrame) -> DataFrame:
    """(doc_id, h0..h15): the 16 MinHash minima as partial aggregates
    over the (doc_id, shingle) inverted index. Shared by the batch
    operator and the incremental band index — single-sourced so the
    incremental≡batch equality can never drift."""
    return inv.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
            for i in range(_N_HASHES)
        ]
    )


def band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): one row per (doc, band), band_key =
    '|'-joined signature rows of that band."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"h{b * _BAND_ROWS + j}") for j in range(_BAND_ROWS)]
                ).alias("band_key"),
            )
            for b in range(_N_HASHES // _BAND_ROWS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def verify_jaccard_pairs(cand: DataFrame, inv: DataFrame) -> DataFrame:
    """Exact Jaccard ≥ 0.8 verification of candidate (doc_a, doc_b)
    pairs against the (doc_id, s) inverted index — integer-arithmetic
    threshold (5·inter ≥ 4·union) per the determinism contract."""
    inter = (
        cand.join(inv.toDF("doc_a", "s"), "doc_a")
        .join(inv.toDF("doc_b", "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    return (
        inter.join(F.broadcast(sizes.toDF("doc_a", "n_a")), "doc_a")
        .join(F.broadcast(sizes.toDF("doc_b", "n_b")), "doc_b")
        .filter(5 * F.col("inter") >= 4 * union)
        .select("doc_a", "doc_b", (F.col("inter").cast("double") / union).alias("jaccard"))
    )


# --- SimHash -------------------------------------------------------------------

_SIMHASH_BITS = 32


def _oracle_simhash() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN substring(md5(tok), {j + 1}, 1) "
        f"IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(_SIMHASH_BITS)
    )
    return f"""
    SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash
    FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
          FROM documents)
    GROUP BY doc_id
    """


@register("dedup_simhash_signatures", oracle=_oracle_simhash())
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: bit j is the majority vote of token
    md5 bits (hex digit j's top bit), so near-identical token bags land
    within small Hamming distance. Single explode + groupBy (one
    shuffle); the md5-hex-digit construction is engine-portable, unlike
    builtin hash functions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_toks()).alias("tok"))
    md5 = F.md5(F.col("tok"))
    high = set("89abcdef")
    bit_votes = [
        F.sum(
            F.when(F.substring(md5, j + 1, 1).isin(*high), 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(_SIMHASH_BITS)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_votes)
    simhash = None
    for j in range(_SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.cast("bigint").alias("simhash"))


def embedding_cosine_pairs_scaled(
    spark: SparkSession,
    emb: DataFrame,
    tau: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 16,
) -> DataFrame:
    """Embedding near-dup pairs with n-SCALED band selectivity — the
    production configuration of the embedding dedup ladder, registered
    (with planted ground truth) as ``dedup_embedding_cosine_pairs``.

    Candidates come from seeded random-hyperplane tables
    (``similarity.lsh_multi_buckets_flat``) where bits-per-table grows
    with log n (16 bits ⇒ 65 536 keys): measured SUBLINEAR (16.6 s →
    23.9 s for a 2× corpus, docs/SCALING.md) with perfect planted-pair
    recovery at the production threshold, where a fixed 256-key
    geometry saturated (23 s → 412 s). The deterministic LCG hyperplanes
    replay in the registered entry's DuckDB oracle as double literals,
    so even the probabilistic recall is cross-engine identical.

    The pairs are ``similarity._positive_pairs``: the (a < b,
    cosine > tau) rows of the bucket self-join that scores cosine in
    place (``similarity._bucket_scored_candidates``, which records the
    r5 plan change and why vectors must never ride the candidate
    exchange), then the multi-table distinct. The incremental/streaming
    index keeps the candidates-then-verify shape
    (``verify_cosine_pairs``) because its per-batch candidate sets are
    small by construction.
    """
    from pyspark import StorageLevel

    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        _positive_pairs,
        with_norm,
    )

    # r11: fan the corpus out before the norm/LSH folds (guarded
    # no-op at lake scale — fan_out_small_scan docstring).
    e = with_norm(fan_out_small_scan(emb, "vec_id")).persist(StorageLevel.MEMORY_AND_DISK)
    return _positive_pairs(e, n_tables, n_planes, tau).select(
        F.col("anchor_id").alias("vec_a"),
        F.col("pos_id").alias("vec_b"),
        F.col("pos_cosine").alias("cosine"),
    )


def verify_cosine_pairs(cand: DataFrame, e: DataFrame, tau: float) -> DataFrame:
    """Exact-cosine verification of candidate pairs: two vec_id
    equi-joins attach (v, norm) to each side, sequential-fold dot /
    norms, strict ``> tau``. Single-sourced for the batch operator
    (``dedup_embedding_cosine_pairs``) AND the incremental/streaming
    index (``incremental.embedding_neardup_incremental``) — the
    stream≡batch equality their tests pin is structural, not
    copy-paste parity (the pattern ``verify_jaccard_pairs`` set)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import dot

    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    cosine = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") > tau)
    )


_SCALED_TABLES = 8  # LSH tables (recall amplification)
_SCALED_PLANES = 16  # sign bits per table: 65 536 keys/band — the knob that scales with log n
_SCALED_TAU = 0.9  # production near-dup threshold
_CLONE_MOD = 50  # every 50th vector gets a planted near-identical clone
_CLONE_OFF = 1_000_000  # clone vec_id offset (disjoint from the corpus id space)


def planted_clone_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-clone corpus the embedding-family queries share: the
    ``embeddings`` table as double vectors plus, for every
    ``_CLONE_MOD``-th vector, a clone at ``vec_id + _CLONE_OFF`` nudged
    +0.01 per coordinate (cosine ≈ 0.9998) — known near-dup ground
    truth. The DuckDB oracles build the same union as their ``aug`` CTE."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        as_double_vec,
    )

    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("embedding")
    )
    clones = base.filter(F.col("vec_id") % _CLONE_MOD == 0).select(
        (F.col("vec_id") + F.lit(_CLONE_OFF)).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01)).alias("embedding"),
    )
    return base.unionByName(clones)


def _scaled_pairs_ctes(dim: int = 64) -> str:
    """The scaled-geometry candidate CTE chain (aug corpus with planted
    clones, normalized vectors, seeded-LCG hyperplane bands, distinct
    candidate pairs) shared by the pairs oracle and the embedding
    canonical-corpus oracle. MATERIALIZED where multiply referenced
    (DuckDB inlines plain CTEs per reference)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (
        _lsh_bands_sql,
    )

    return f"""base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    aug AS MATERIALIZED (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + {_CLONE_OFF}, list_transform(v, x -> x + 0.01)
        FROM base WHERE vec_id % {_CLONE_MOD} = 0
    ),
    e AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM aug),
    bands AS MATERIALIZED ({_lsh_bands_sql(dim, _SCALED_TABLES, _SCALED_PLANES, 7)}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b ON a.tbl = b.tbl AND a.key = b.key
        WHERE a.vec_id < b.vec_id
    )"""


def _oracle_cosine_pairs_scaled(dim: int = 64) -> str:
    """DuckDB replay of the scaled-geometry ``dedup_embedding_cosine_pairs``:
    the candidate CTEs (``_scaled_pairs_ctes``, bands from
    ``similarity._lsh_bands_sql``) replay Spark's candidate set exactly,
    and the exact-cosine verify is the already-proven bit-identical
    fold. Candidate CTEs shared with the canonical-corpus, kNN-graph and
    hard-negative oracles."""
    return f"""
    WITH {_scaled_pairs_ctes(dim)}
    SELECT vec_a, vec_b,
           list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) AS cosine
    FROM cand
    JOIN e ea ON ea.vec_id = cand.vec_a
    JOIN e eb ON eb.vec_id = cand.vec_b
    WHERE list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) > {_SCALED_TAU}
    """


@register("dedup_embedding_cosine_pairs", oracle=_oracle_cosine_pairs_scaled())
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at the PRODUCTION configuration — the
    geometry docs/SCALING.md measured sublinear: 8 random-hyperplane
    tables × 16 sign bits (65 536 keys per band, the knob that grows
    with log n), exact-cosine verify at τ=0.9. This is the PRIMARY
    name of the embedding-dedup ladder (driver-green in r3 as
    ``dedup_embedding_cosine_pairs_scaled``, renamed in r4). It runs
    ``embedding_cosine_pairs_scaled`` — the exact code path the scale
    probe measured 16.6 s → 23.9 s for a 2× step at 100k docs, with
    full planted-pair recovery, where a fixed 256-key geometry went
    superlinear (the worked contrast in docs/SCALING.md).

    Because this synthetic corpus has no natural pairs above cosine
    0.52, the query plants its own ground truth the way
    ``snapshot_diff_orders`` derives its snapshots: every 50th vector
    gains a clone (id + 1e6) nudged +0.01 per coordinate (cosine
    ≈ 0.9998). At τ=0.9 the expected output is exactly the planted
    pairs — recovered with probability 1−(1−p₁₆)⁸ ≈ 1−8×10⁻⁹ — and the
    DuckDB oracle replays the identical LCG hyperplanes (embedded as
    literals), so candidate sets match bit-for-bit, recall included."""
    return embedding_cosine_pairs_scaled(
        spark,
        planted_clone_embeddings(spark, sf_dir),
        tau=_SCALED_TAU,
        n_tables=_SCALED_TABLES,
        n_planes=_SCALED_PLANES,
    )


# --- near-dup cluster assignment (connected components) ------------------------


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", driver_gate: int = 1_000_000
) -> DataFrame:
    """Connected components by iterative min-label propagation: every
    vertex starts labeled with its own id; each round every vertex
    takes the min label in its neighborhood; stop when no label
    changes. O(diameter) rounds of one shuffle each — near-dup cluster
    graphs have tiny diameters (dup groups are near-cliques), so this
    converges in 2-3 rounds where a generic graph library would be
    overkill. ``localCheckpoint`` truncates the growing lineage so
    round N doesn't replay rounds 1..N-1.

    Size gate: a near-dup edge list is already the *filtered* output of
    the candidate join — even at 100 TB corpus scale it is frequently
    driver-sized. When the raw edge count is at or under
    ``driver_gate``, a driver union-find with path compression
    replaces the iterative plan: one collect + O(E α(E)) local work
    instead of rounds of join+aggregate jobs, with identical output.
    Pass ``driver_gate=0`` to force the distributed path.

    Returns (vertex, component) with component = min vertex id in the
    component.
    """
    from pyspark import StorageLevel

    # Persist the RAW edge list first and gate on it: building the
    # symmetric closure from unpersisted edges would execute the whole
    # upstream pair pipeline (shingling, candidate join, threshold)
    # TWICE — once per union branch (measured ~2× the operator's cost).
    raw = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Gate via limit(gate+1).count(): the count of the limited relation
    # decides the branch WITHOUT shipping rows — r11's single-action
    # limit(gate+1).collect() shipped gate+1 edge Rows (~hundreds of MB
    # of Python Row objects at the 1M default) to the driver just to
    # DISCARD them whenever the graph exceeded the gate (ADVICE r11 #2).
    # The count aggregates executor-side; the collect below then reads
    # the already-persisted edges, so the fitting branch costs one extra
    # tiny job on cached data and the over-gate branch ships nothing.
    n_probe = raw.limit(driver_gate + 1).count()
    if n_probe <= driver_gate:
        raw_rows = raw.collect()
        # Union-find needs neither symmetrization nor dedup — process
        # the raw edges straight off the cache.
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in raw_rows:
            for x in (row.u, row.v):
                if x not in parent:
                    parent[x] = x
            ru, rv = find(row.u), find(row.v)
            if ru != rv:
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru  # min root wins → component id = min vertex

        id_type = dict(edges.dtypes)[src]
        out = edges.sparkSession.createDataFrame(
            [(x, find(x)) for x in parent], f"vertex {id_type}, component {id_type}"
        )
        raw.unpersist()
        return out
    # Distributed path: symmetric closure off the cached raw edges —
    # the loop touches it every round, so it stays persisted too.
    sym = (
        raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # (id, label) kept disjoint from sym's (u, v) names so the repeated
    # self-referential joins never hit ambiguous-column resolution.
    labels = sym.select(F.col("u").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    # Labels only ever decrease, so Σlabel is a convergence certificate:
    # one cheap aggregate per round instead of a join-and-compare pass.
    prev_sum = None
    while True:
        neighbor_min = (
            sym.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("u", "id")
        )
        labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            # labels is localCheckpoint-materialized, so the edge list
            # can be released (the driver path unpersists symmetrically).
            sym.unpersist()
            raw.unpersist()
            return labels.select(F.col("id").alias("vertex"), F.col("label").alias("component"))
        prev_sum = cur_sum


# Inverted-index pair oracle (expects a CTE `sh(doc_id, shingles)` in
# scope, ideally MATERIALIZED since it is referenced four times).
# Faithful rewrite of the original all-pairs form — `shingles` is
# list_distinct, so COUNT(*) over the shingle equi-join IS
# len(list_intersect) — but Σ df(shingle)² work instead of O(n²·|sh|):
# the all-pairs form measured ~50 min PER QUERY at sf0.1 (5 000 docs →
# 12.5M list_intersect evaluations), which made the full-surface
# sf0.1 oracle sweep all but unrunnable; this form runs in seconds and
# matches hash-for-hash at sf0.001/0.01/0.1 (r5 A/B below).
_ORACLE_PAIRS = """
        SELECT i.doc_a, i.doc_b
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) a
            JOIN (SELECT doc_id, unnest(shingles) AS s FROM sh) b
              ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ) i
        JOIN (SELECT doc_id, len(shingles) AS n FROM sh) za ON za.doc_id = i.doc_a
        JOIN (SELECT doc_id, len(shingles) AS n FROM sh) zb ON zb.doc_id = i.doc_b
        WHERE 5 * i.inter >= 4 * (za.n + zb.n - i.inter)
"""


@register(
    "dedup_cluster_assignment",
    oracle=f"""
    WITH RECURSIVE sh AS MATERIALIZED ({_ORACLE_SHINGLES}),
    pairs AS ({_ORACLE_PAIRS}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    )
    SELECT u AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY u
    """,
)
def dedup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ladder's last rung: near-dup PAIRS (word-3-gram
    Jaccard ≥ 0.8) become CLUSTERS via connected components, so each
    group keeps exactly one canonical document (the min doc_id).
    Iterative DataFrame algorithm — no SQL equivalent in Spark — while
    the oracle computes the same fixpoint with a recursive CTE."""
    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, "doc_a", "doc_b")
    return cc.select(F.col("vertex").alias("doc_id"), F.col("component").cast("bigint").alias("cluster_id"))


@register(
    "dedup_canonical_corpus",
    oracle=f"""
    WITH RECURSIVE sh AS MATERIALIZED ({_ORACLE_SHINGLES}),
    pairs AS ({_ORACLE_PAIRS}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    cc AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
    WHERE cc.doc_id IS NULL OR cc.doc_id = cc.cluster_id
    """,
)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ladder's DELIVERABLE: the surviving corpus after
    near-dup suppression — every document except non-canonical cluster
    members (each near-dup cluster keeps its min doc_id; documents
    with no near-dup edges pass through untouched, which the left
    anti-join encodes without ever materializing the singleton set).

    This is the query a user actually ships to training: pairs →
    clusters → keep-list → filtered corpus, end to end. One extra
    anti-join over `dedup_cluster_assignment`; at 100 TB the drop-list
    (cluster members minus representatives ≈ the duplicate fraction)
    is far smaller than the corpus and broadcast-eligible."""
    docs = load_table(spark, sf_dir, "documents")
    cc = dedup_cluster_assignment(spark, sf_dir)
    drop = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "source", "n_chars")


@register(
    "dedup_canonical_corpus_embeddings",
    oracle=f"""
    WITH RECURSIVE {{ctes}},
    pairs AS (
        SELECT vec_a, vec_b FROM cand
        JOIN e ea ON ea.vec_id = cand.vec_a
        JOIN e eb ON eb.vec_id = cand.vec_b
        WHERE list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) > {_SCALED_TAU}
    ),
    edges AS MATERIALIZED (
        SELECT vec_a AS u, vec_b AS v FROM pairs
        UNION ALL
        SELECT vec_b AS u, vec_a AS v FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    cc AS (SELECT u AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY u)
    SELECT a.vec_id
    FROM aug a LEFT JOIN cc ON a.vec_id = cc.vec_id
    WHERE cc.vec_id IS NULL OR cc.vec_id = cc.cluster_id
    """.format(ctes=_scaled_pairs_ctes()),
)
def dedup_canonical_corpus_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING ladder's deliverable — the ngram
    ``dedup_canonical_corpus`` pipeline re-based on semantic-space
    pairs: scaled-LSH cosine pairs (τ=0.9 over the planted-clone
    corpus) → connected components → keep-min-id → surviving corpus by
    anti-join. On the planted structure the invariant is sharp: every
    clone clusters with exactly its original and the original (lower
    id) is kept, so the survivors must be precisely the 500 base
    vectors — any candidate-generation, clustering, or keep-list bug
    surfaces as a clone surviving or an original dropping, and the
    oracle hash-checks it end to end through a recursive CTE.

    Scale shape: identical to the ngram canonical corpus — the pair
    stage is the docs/SCALING.md-measured sublinear LSH construction,
    components run on the (tiny, filtered) edge list, and the final
    anti-join broadcasts the drop-list (≈ duplicate fraction), never
    shuffling the corpus."""
    pairs = dedup_embedding_cosine_pairs(spark, sf_dir).select("vec_a", "vec_b")
    cc = connected_components(pairs, "vec_a", "vec_b")
    drop = cc.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("vec_id")
    )
    return (
        planted_clone_embeddings(spark, sf_dir).select("vec_id").join(drop, "vec_id", "left_anti")
    )


@register(
    "dedup_simhash_hamming_pairs",
    oracle=f"""
    WITH sim AS ({_oracle_simhash()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sim a, sim b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ 3, found with
    pigeonhole banding: split the 32-bit signature into 4 byte-bands —
    any pair within Hamming 3 must agree on ≥1 whole band (4 bands, ≤3
    differing bits), so the band equi-join yields a COMPLETE candidate
    set and the exact bit_count(xor) check keeps no false positives.
    The oracle brute-forces all pairs; this plan joins ~n/256-sized
    buckets instead of n²."""
    sim = dedup_simhash_signatures(spark, sf_dir)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", 8 * b).bitwiseAND(F.lit(255)).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.toDF("doc_a", "sim_a", "band", "key")
    b = bands.toDF("doc_b", "sim_b", "band", "key")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .filter(hamming <= 3)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


# --- Cross-document repeated-span extraction (exact-substring dedup) -------

_SPAN_K = 5  # tokens per positional shingle
_SPAN_MIN_DF = 2  # a span is boilerplate when ≥ this many docs carry it
_SPAN_BYTES_PER_REDUCER = 3 << 20  # source bytes per posting-shuffle reducer


def span_shuffle_partitions(spark: SparkSession, docs: DataFrame) -> int:
    """Reducer count for the posting-list exchanges, derived from the
    SOURCE table's on-disk bytes (metadata-only): ~3 MB of compressed
    document parquet explodes into ~1M posting rows whose uncompressed
    sort footprint fits a reducer comfortably — the ratio the 1M-rung
    probe validated (378 MB source → 126 reducers ≈ the hand-pinned
    128 that ran 102 s, where AQE's compressed-size coalescing merged
    down to spilling reducers at 260 s and the 32-thread static default
    OOM'd; docs/SCALING.md "Reducer sizing"). Floored at default
    parallelism so small corpora keep full cores, capped at 4096 —
    past that, per-task overhead dominates any local or single-digit-
    terabyte run and a 100 TB cluster tunes the constant, not the
    rule."""
    from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import (
        input_bytes,
    )

    par = spark.sparkContext.defaultParallelism
    return max(par, min(4096, input_bytes(docs) // _SPAN_BYTES_PER_REDUCER))


@register(
    "dedup_repeated_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, CAST(i AS INT) AS p,
               array_to_string(toks[i:i+{_SPAN_K - 1}], ' ') AS s
        FROM toks, LATERAL unnest(generate_series(1, len(toks) - {_SPAN_K - 1}))
                   AS t(i)
    ),
    dfreq AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY s),
    hits AS (
        SELECT doc_id, p FROM pos JOIN dfreq USING (s)
        WHERE df >= {_SPAN_MIN_DF}
    ),
    isl AS (
        SELECT doc_id, p,
               CASE WHEN MAX(p) OVER w IS NULL
                      OR p > MAX(p) OVER w + {_SPAN_K}
                    THEN 1 ELSE 0 END AS new_island
        FROM hits
        WINDOW w AS (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    grp AS (
        SELECT doc_id, p,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY p
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
    )
    SELECT doc_id, CAST(MIN(p) AS INT) AS span_start,
           CAST(MAX(p) + {_SPAN_K - 1} AS INT) AS span_end,
           COUNT(*) AS n_shingle_hits
    FROM grp GROUP BY doc_id, island
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-PASSAGE extraction — the span-level
    exact-substring dedup of Lee et al. 2021 (arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better"),
    re-expressed with a positional shingle index instead of a suffix
    array: every 5-token span occurring in ≥2 DISTINCT documents is
    boilerplate (licenses, headers, templated text), and overlapping /
    adjacent flagged spans merge into maximal extents
    (doc_id, span_start, span_end, 1-based token positions) that a
    downstream pass can cut without re-tokenizing.

    Differs from `decontamination_overlap` (cross-SET probe against a
    tiny benchmark list — broadcast) and `doc_repetition_signals`
    (WITHIN-doc repetition): here the reference set is the corpus
    itself, so the document-frequency table is corpus-scale and the
    probe is a plain equi-join, never a broadcast.

    Determinism: pure integer arithmetic end-to-end (positions, df
    counts, interval merge) — no floats anywhere, so cross-engine
    equality is structural.

    Scale shape: positional shingles are a map-side explode (~L rows
    per doc); the df aggregate and the hit join shuffle on the shingle
    hash (AQE handles the skew of globally-common spans — exactly the
    keys `join_key_skew_profile` surfaces); the interval merge is two
    windows partitioned by doc_id — parallel at any corpus size. A
    suffix array finds repeats of ANY length but needs a global sort;
    the fixed-K shingle relaxation is the standard distributed
    trade-off (longer repeats appear as merged runs of K-grams, which
    the island merge reconstitutes)."""
    # r11: fan the doc scan out so tokenize + positional explode run on
    # every core instead of inside the single scan task feeding the
    # span-keyed exchange (guarded no-op at lake scale).
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    toked = docs.select("doc_id", _toks().alias("toks"))
    n = F.size("toks")
    starts = F.when(n >= _SPAN_K, F.sequence(F.lit(1), n - (_SPAN_K - 1))).otherwise(
        F.array().cast("array<int>")
    )
    pos = toked.select(
        "doc_id",
        F.explode(starts).alias("p"),
        F.col("toks"),
    ).select(
        "doc_id",
        F.col("p").cast("int").alias("p"),
        F.concat_ws(" ", F.slice("toks", F.col("p"), _SPAN_K)).alias("s"),
    )
    # Explicit span-keyed repartition with a SOURCE-SIZE-derived count
    # (see span_shuffle_partitions): the df aggregate AND the hit join
    # reuse this partitioning (no further exchange on s), and an
    # explicit numPartitions is exempt from AQE coalescing — which
    # targets COMPRESSED shuffle bytes and merges these ~10×-
    # compressible posting rows down to reducers whose uncompressed
    # sort spills (measured 260 s vs 102 s at the 1M rung).
    pos = pos.repartition(span_shuffle_partitions(spark, docs), "s")
    # `pos` feeds both the df aggregate and the probe side of the hit
    # join. Deliberately NOT persisted: the explode is a map-only
    # codegen pass over compressed parquet, and caching its ~L-per-doc
    # string rows costs more than recomputing them — measured at the 1M
    # rung: 170 s recomputed vs 249 s persisted (and 14 s vs 20 s at
    # 100k). Cache what is expensive to BUILD, not what is wide.
    dfreq = pos.groupBy("s").agg(F.count_distinct("doc_id").alias("df"))
    hits = (
        pos.join(dfreq.filter(F.col("df") >= _SPAN_MIN_DF), "s")
        .select("doc_id", "p")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max("p").over(w_prev)
    flagged = hits.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("p") > prev_max + _SPAN_K), 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = flagged.withColumn("island", F.sum("new_island").over(w_run))
    return grouped.groupBy("doc_id", "island").agg(
        F.min("p").cast("int").alias("span_start"),
        (F.max("p") + (_SPAN_K - 1)).cast("int").alias("span_end"),
        F.count(F.lit(1)).alias("n_shingle_hits"),
    ).select("doc_id", "span_start", "span_end", "n_shingle_hits")


@register(
    "dedup_span_scrub_documents",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, CAST(i AS INT) AS p,
               array_to_string(toks[i:i+{_SPAN_K - 1}], ' ') AS s
        FROM toks, LATERAL unnest(generate_series(1, len(toks) - {_SPAN_K - 1}))
                   AS t(i)
    ),
    occ AS (
        SELECT doc_id, p,
               ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn
        FROM pos
    ),
    drops AS (
        SELECT DISTINCT doc_id, CAST(p + i AS INT) AS q
        FROM occ, LATERAL unnest(generate_series(0, {_SPAN_K - 1})) AS t(i)
        WHERE rn >= 2
    ),
    tok_pos AS (
        SELECT doc_id, CAST(generate_subscripts(toks, 1) AS INT) AS q,
               unnest(toks) AS w
        FROM toks
    ),
    kept AS (
        SELECT t.doc_id, t.q, t.w
        FROM tok_pos t
        WHERE NOT EXISTS (SELECT 1 FROM drops d
                          WHERE d.doc_id = t.doc_id AND d.q = t.q)
    ),
    agg AS (
        SELECT doc_id, string_agg(w, ' ' ORDER BY q) AS scrubbed_text,
               CAST(COUNT(*) AS INT) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    nt AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens FROM toks)
    SELECT n.doc_id,
           n.n_tokens,
           n.n_tokens - COALESCE(a.n_kept, 0) AS n_dropped_tokens,
           COALESCE(a.scrubbed_text, '') AS scrubbed_text
    FROM nt n LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_span_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL with document reassembly — the production
    companion to `dedup_repeated_spans`: where that operator REPORTS
    repeated extents, this one applies the cut of Lee et al. 2021
    (arXiv:2107.06499 §4, ExactSubstr deduplication: every duplicated
    span keeps its first occurrence and every other occurrence is
    deleted in place) and rebuilds each document's text without the
    deleted tokens, the way a training-corpus pass actually consumes
    the dedup signal. The reference's only cleaning facility is
    ``dropDuplicates`` on whole rows (SURVEY.md §2.4, reference
    ``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:103``);
    this is that capability at sub-document granularity.

    Semantics (deterministic in both engines):
    * every {_SPAN_K}-token span occurrence is ranked by
      ``row_number() OVER (PARTITION BY span ORDER BY doc_id, p)`` —
      rank 1 is the canonical (lexicographically-first) occurrence;
    * occurrences ranked ≥2 (duplicated within OR across documents)
      mark their {_SPAN_K} covered token positions dropped;
    * a document is rebuilt from its surviving (position, token) pairs
      in original order; fully-scrubbed docs survive with empty text
      (LEFT join back, same contract as `boilerplate_token_scrub`).
    A canonical occurrence's tokens can still be dropped when a
    DIFFERENT span's non-canonical occurrence overlaps them —
    overlap resolution is positional, not span-identity-based, which
    is exactly Lee et al.'s in-place cut.

    Determinism: pure integer/string operations end-to-end (positions,
    row_number with a total (doc_id, p) order, anti-join, ordered
    string reassembly) — no floats, so cross-engine equality is
    structural.

    Scale shape (100 TB): the posting explode and span-keyed exchange
    reuse `dedup_repeated_spans`' source-sized reducer rule
    (`span_shuffle_partitions` — AQE's compressed-size coalescing
    under-provisions these ~10×-compressible rows, measured there);
    the rank window sorts each span's posting list once. Drop
    positions explode to ≤ {_SPAN_K}× the duplicated-occurrence count,
    the anti-join shuffles on (doc_id, q), and reassembly is one
    exchange keyed by doc_id with per-doc arrays never shuffled.
    All stages are linear in corpus size; nothing broadcasts at
    corpus scale. (An alternative shape — collect each doc's drop
    set into an array and filter map-side — saves the anti-join
    exchange but pays O(len × drops) per doc inside the filter
    lambda; the join form stays linear for pathological
    boilerplate-heavy documents.)"""
    return span_scrub_documents(spark, load_table(spark, sf_dir, "documents"))


def span_scrub_documents(
    spark: SparkSession,
    docs: DataFrame,
    span_batches: int = 1,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Library core of :func:`dedup_span_scrub_documents` over an
    arbitrary documents frame — same semantics and output contract
    (see the registered face's docstring).

    ``span_batches`` is the posting shuffle's scratch-bounding wave
    knob (the `table_batches` move, fourth consumer): the 10M rung
    measured the single-pass span exchange + its rank-window sort
    spill past this box's scratch ceiling ("No space left on device",
    docs/SCALING.md r9). With ``span_batches=k`` the SPAN key space is
    partitioned by ``pmod(xxhash64(s), k)`` and each wave computes
    drop positions for its spans only, staging the skinny
    (doc_id, q) INT pairs to ``scratch_dir`` parquet and releasing
    its shuffle before the next wave plans — peak posting scratch
    divides by k. Values are EXACTLY single-pass: every span's
    posting list lives wholly inside one wave (the hash partitions
    SPANS, never occurrences), so each occurrence's rank — and with
    it the drop set — is computed from the identical list, and the
    anti-join consumes drop existence, so cross-wave duplicate
    (doc_id, q) pairs (overlapping spans from different waves) need
    no re-distinct. The hash is engine-internal (wave membership
    never reaches the output), so the DuckDB oracle is untouched.
    Waves stage through ``dedup_vectorized.stage_waves`` (its
    ``scratch_dir`` caveats apply)."""
    toked = docs.select("doc_id", _toks().alias("toks"))
    n = F.size("toks")
    starts = F.when(n >= _SPAN_K, F.sequence(F.lit(1), n - (_SPAN_K - 1))).otherwise(
        F.array().cast("array<int>")
    )

    def pos_frame() -> DataFrame:
        return toked.select(
            "doc_id",
            F.explode(starts).alias("p"),
            F.col("toks"),
        ).select(
            "doc_id",
            F.col("p").cast("int").alias("p"),
            F.concat_ws(" ", F.slice("toks", F.col("p"), _SPAN_K)).alias("s"),
        )

    def drops_frame(pos: DataFrame) -> DataFrame:
        # rank ≥2 already implies the span has ≥2 occurrences — no
        # COUNT window needed alongside the row_number.
        occ = pos.select(
            "doc_id",
            "p",
            F.row_number()
            .over(Window.partitionBy("s").orderBy("doc_id", "p"))
            .alias("rn"),
        )
        return (
            occ.filter(F.col("rn") >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("p"), F.col("p") + (_SPAN_K - 1))
                ).alias("q"),
            )
            .select("doc_id", F.col("q").cast("int").alias("q"))
            .distinct()
        )

    reducers = span_shuffle_partitions(spark, docs)
    if span_batches <= 1:
        drops = drops_frame(pos_frame().repartition(reducers, "s"))
    else:
        from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup_vectorized import (
            stage_waves,
        )

        par = spark.sparkContext.defaultParallelism
        wave_red = max(par, reducers // span_batches)
        wave = F.pmod(F.xxhash64("s"), F.lit(span_batches))
        waves = (
            drops_frame(pos_frame().filter(wave == wi).repartition(wave_red, "s"))
            for wi in range(span_batches)
        )
        drops = stage_waves(spark, waves, scratch_dir, "spanscrub")
    tok_pos = toked.select("doc_id", F.posexplode("toks").alias("i0", "w")).select(
        "doc_id", (F.col("i0") + 1).cast("int").alias("q"), "w"
    )
    kept = tok_pos.join(drops, ["doc_id", "q"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("q", "w"))), lambda s: s["w"]),
            " ",
        ).alias("scrubbed_text"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    )
    base = toked.select("doc_id", F.size("toks").cast("int").alias("n_tokens"))
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped_tokens"),
        F.coalesce("scrubbed_text", F.lit("")).alias("scrubbed_text"),
    )
