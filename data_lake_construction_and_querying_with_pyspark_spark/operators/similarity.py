"""Similarity search over embedding columns (SURVEY.md §7 Phase 3b).

Brute-force cosine top-k is the correctness baseline (oracle-checked
bit-exact); random-hyperplane LSH bucketing is the sub-quadratic scale
path (probabilistic recall → rows-only driver check + a recall-vs-
brute-force assertion in tests/test_similarity.py).

All vector math stays JVM-side: ``F.zip_with`` + ``F.aggregate`` fold
the dot product inside whole-stage codegen — no Python, no UDF. The
sequential left fold is bit-identical to DuckDB's list_dot_product,
which is what makes the oracle comparison exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_construction_and_querying_with_pyspark_spark.registry import register
from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import (
    fan_out_small_scan,
    load_table,
)

_N_QUERIES = 5  # vec_id < 5 are the demo query vectors
_TOP_K = 10


def as_double_vec(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> F.Column:
    """Sequential-fold double dot product (deterministic, codegen'd)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def sq_dist(a, b) -> F.Column:
    """Squared euclidean distance as three sequential-fold dots, the
    left-associative ``(⟨a,a⟩ − 2⟨a,b⟩) + ⟨b,b⟩`` that the DuckDB
    replays (``semantic._d2_sql``, ``_pq_d2``) evaluate bit-identically."""
    return dot(a, a) - F.lit(2) * dot(a, b) + dot(b, b)


def with_norm(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Project (vec_id, v: double[], norm) — norms computed once, not
    per candidate pair."""
    v = as_double_vec(F.col(vec_col))
    return embeddings.select("vec_id", v.alias("v")).select(
        "vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("norm")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (pure-python LCG so the
    plan is reproducible without numpy state)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((state >> 11) / float(1 << 53) - 0.5)
        planes.append(row)
    return planes


def _lsh_bands_sql(dim: int, n_tables: int, n_planes: int, seed: int) -> str:
    """DuckDB replay of ``lsh_multi_buckets_flat``: one ``SELECT vec_id,
    tbl, key FROM e`` branch per table, UNION ALL'd. Each key sums the
    sign bits of ``list_dot_product`` against the same seeded-LCG
    hyperplanes, embedded as shortest-round-trip double literals
    (``repr``), so the parsed doubles are bit-identical to the ones Spark
    broadcasts and every bucket, hence every candidate, replays exactly.
    Reads a CTE ``e`` with (vec_id, v). Defined above every
    ``@register``: the oracle strings are built at module import."""
    branches = []
    for t in range(n_tables):
        key = " + ".join(
            f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in p)}]) > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(_hyperplanes(dim, n_planes, seed + 1000 * t))
        )
        branches.append(f"SELECT vec_id, {t} AS tbl, {key} AS key FROM e")
    return " UNION ALL ".join(branches)


@register(
    "knn_brute_force",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v) / (q.norm * c.norm) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_dot_product(q.v, c.v) / (q.norm * c.norm) DESC,
                                           c.vec_id) AS rn
        FROM v q JOIN v c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rn FROM scored WHERE rn <= {_TOP_K}
    """,
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for each query vector (vec_id < 5).

    The query side is tiny → broadcast; the corpus side streams through
    the scored cross join with no shuffle until the per-query top-k
    rank filter (partitioned by query). At 100 TB swap the rank filter
    for a per-partition heap aggregation, same semantics."""
    e = with_norm(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
        )
    )
    cosine = dot("qv", "v") / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        q.crossJoin(e)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )


def lsh_multi_buckets_flat(
    df: DataFrame,
    vec_col: str = "v",
    n_tables: int = 8,
    n_planes: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Multi-table sign-projection LSH (Charikar's random hyperplanes):
    ``n_tables`` independent codes of ``n_planes`` sign bits each,
    returned as flat (vec_id, tbl, bucket) rows — the shape every
    candidate equi-join on (tbl, bucket) consumes directly. Table ``t``
    draws its ``n_planes`` seeded-LCG planes (``_hyperplanes``) from
    seed + 1000·t; ``_lsh_bands_sql`` replays them in DuckDB and
    ``dedup_vectorized.lsh_buckets_vectorized`` in pandas. Candidate
    recall for neighbors at angle θ is 1 − (1 − (1−θ/π)^n_planes)^n_tables
    — tables buy recall, planes buy selectivity.

    The planes live in a broadcast (tbl, pidx, plane) DataFrame, not
    inline literals: buckets assemble via corpus × broadcast(planes) →
    per-(vec, table) bit sum. At 8 tables × 16 planes × 64 dims an
    expression form is 8 192 literals — measured 9-14 s of py4j +
    Catalyst plan construction per invocation against ~3.5 s of actual
    execution at sf0.1; as data the plan builds in milliseconds. The
    dot product is the sequential ``zip_with``/``aggregate`` fold, so
    every sign, bucket and candidate matches the DuckDB oracle exactly.
    The map-side partial ``sum`` means the bit aggregation shuffles only
    n·n_tables skinny rows."""
    spark = df.sparkSession
    first = df.select(F.size(vec_col).alias("d")).first()
    dim = first["d"] if first else 0
    rows = [
        (t, i, plane)
        for t in range(n_tables)
        for i, plane in enumerate(_hyperplanes(dim, n_planes, seed + 1000 * t))
    ]
    planes = spark.createDataFrame(rows, "tbl int, pidx int, plane array<double>")
    proj = df.select("vec_id", F.col(vec_col).alias("_v")).crossJoin(F.broadcast(planes))
    # expr form: the Python shiftleft() wrapper only takes an int
    # literal for numBits, but the SQL function accepts a column
    bit = F.when(dot("_v", "plane") > 0, F.expr("shiftleft(1, pidx)")).otherwise(F.lit(0))
    return (
        proj.select("vec_id", "tbl", bit.alias("bit"))
        .groupBy("vec_id", "tbl")
        .agg(F.sum("bit").cast("int").alias("bucket"))
    )


@register("knn_lsh_bucketed", oracle=None)
def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via multi-table sign-projection LSH (8 tables × 4
    planes, ``lsh_multi_buckets_flat``): candidates share any table's
    bucket with the query — the broadcast query rows equi-join the
    corpus's flat (vec_id, tbl, bucket) rows on (tbl, bucket) — then
    exact cosine rerank of the deduped candidate set. Probabilistic
    recall → no SQL oracle; tests/test_similarity.py asserts recall vs
    brute force (near-orthogonal random vectors are sign-LSH's worst
    case; real near-dup embeddings collide with prob ≈ 1).

    Scale path: (tbl, bucket) is a plain int pair → write the corpus
    bucketed by it and each query probes n_tables buckets as partition-
    pruned scans instead of a full pass."""
    e = with_norm(load_table(spark, sf_dir, "embeddings")).cache()
    flat = lsh_multi_buckets_flat(e).join(e, "vec_id")
    q = F.broadcast(
        flat.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            "tbl",
            "bucket",
        )
    )
    cand = (
        q.join(flat, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qv", "qnorm", F.col("vec_id").alias("neighbor_id"), "v", "norm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cosine = dot("qv", "v") / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )


@register(
    "array_ops_embeddings",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dim,
           embedding[1]::DOUBLE AS e_first,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2_norm,
           list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) / len(embedding) AS mean_sq
    FROM embeddings
    """,
)
def array_ops_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface over the vector column: size, element
    access, fold-based norm — all codegen'd, no UDF."""
    e = load_table(spark, sf_dir, "embeddings")
    v = as_double_vec(F.col("embedding"))
    d = dot(v, v)
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("e_first"),
        F.sqrt(d).alias("l2_norm"),
        (d / F.size("embedding")).alias("mean_sq"),
    )


@register("knn_ml_bucketed_projection", oracle=None)
def knn_ml_bucketed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via pyspark.ml's BucketedRandomProjectionLSH (Euclidean) —
    the library alternative to the hand-rolled sign-projection LSH:
    approxSimilarityJoin over hashed buckets, per-query top-10 by
    distance. Rows-only (seeded but engine-specific hashing);
    tests/test_similarity.py checks its neighbors against brute force.

    Trade-off vs the custom LSH: ml's variant is Euclidean-distance
    (not cosine) and builds a Vector column (an extra conversion), but
    inherits a maintained implementation with multi-table AND-OR
    amplification behind one parameter pair."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(as_double_vec(F.col("embedding"))).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=8, seed=7
    )
    model = lsh.fit(e)
    q = e.filter(F.col("vec_id") < _N_QUERIES)
    joined = model.approxSimilarityJoin(q, e, threshold=float("inf"), distCol="dist").filter(
        F.col("datasetA.vec_id") != F.col("datasetB.vec_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        joined.select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            "dist",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )


@register("knn_ivf_probe", oracle=None)
def knn_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted-file) coarse quantization: a seeded
    k-means partitions the corpus into cells; each query probes its 2
    nearest centroids and exact-reranks only those cells (~2/k of the
    corpus scanned). The third ANN strategy next to the custom LSH and
    ml-LSH — IVF wins when the corpus clusters naturally (cells align
    with data geometry; LSH cells are data-blind).

    Scale path: cell_id is a plain int → write the corpus partitioned
    by it; each query reads 2 partitions. Rows-only check (k-means is
    engine-specific); tests assert recall vs brute force."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    k = 16
    e = with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "features", array_to_vector("v")
    )
    model = KMeans(k=k, seed=7, featuresCol="features", predictionCol="cell_id").fit(e)
    # Not cached: assigned feeds two consumers (query filter + probe
    # join), but a .cache() here would pin the corpus in executor
    # storage for the session lifetime — recomputing one narrow
    # projection+predict pass is cheaper than the leak.
    assigned = model.transform(e).select("vec_id", "v", "norm", "cell_id")

    centers = model.clusterCenters()
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)], "cell_id int, centroid array<double>"
    )
    q = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    # per query: 2 nearest centroids by euclidean distance
    d2 = F.aggregate(
        F.zip_with("qv", "centroid", lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda a, x: a + x
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cd2"), F.asc("cell_id"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select("query_id", "qv", "qnorm", "cell_id", d2.alias("cd2"))
        .withColumn("crn", F.row_number().over(wq))
        .filter(F.col("crn") <= 2)
        .select("query_id", "qv", "qnorm", "cell_id")
    )
    cosine = dot("qv", "v") / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(probes)
        .join(assigned, "cell_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )


# --- approximate kNN GRAPH (top-1 neighbor per vector via LSH buckets) ---------


def _graph_scored_ctes(dim: int = 64) -> str:
    """The kNN-graph oracles' CTE chain: the scaled-geometry candidate
    CTEs (``dedup._scaled_pairs_ctes`` — planted-clone corpus, seeded-LCG
    bands, UNDIRECTED distinct ``vec_a < vec_b`` pairs), emitted in both
    directions as ``dcand`` (a vector can be its neighbor's top-k
    without the converse; both directions of the distinct ``<`` pairs
    are exactly the distinct ``<>`` pairs), and ``scored`` with the
    exact cosine of each directional edge."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _scaled_pairs_ctes,
    )

    return f"""{_scaled_pairs_ctes(dim)},
    dcand AS (
        SELECT vec_a AS vec_id, vec_b AS nbr_id FROM cand
        UNION ALL
        SELECT vec_b AS vec_id, vec_a AS nbr_id FROM cand
    ),
    scored AS (
        SELECT dcand.vec_id, dcand.nbr_id,
               list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) AS cosine
        FROM dcand
        JOIN e ea ON ea.vec_id = dcand.vec_id
        JOIN e eb ON eb.vec_id = dcand.nbr_id
    )"""


def _oracle_knn_graph(dim: int = 64) -> str:
    """DuckDB replay of ``knn_graph_top1``: the per-vector argmax over
    ``_graph_scored_ctes`` replayed as ROW_NUMBER ORDER BY cosine DESC,
    nbr_id — exactly the lexicographic ``max_by`` struct ordering the
    Spark builder aggregates with."""
    return f"""
    WITH {_graph_scored_ctes(dim)}
    SELECT vec_id, nbr_id, cosine FROM (
        SELECT vec_id, nbr_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, nbr_id) AS rn
        FROM scored) WHERE rn = 1
    """


@register("knn_graph_top1", oracle=_oracle_knn_graph())
def knn_graph_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN-GRAPH construction: for EVERY vector, its top-1
    cosine neighbor among its LSH bucket-mates — the edge list that
    feeds graph-based semantic dedup and diversity pruning (cluster the
    kNN graph instead of all-pairs similarity; SemDeDup's graph-side
    sibling). Vectors whose buckets contain no other vector emit no
    edge — the honest semantics of an approximate graph (a production
    pipeline raises n_tables to push coverage toward 1).

    Uses the SAME planted-clone corpus and 8-table × 16-sign-bit
    hyperplane geometry as ``dedup_embedding_cosine_pairs`` (every 50th
    vector has a near-identical clone, so those vectors' top-1 is
    pinned by construction and the oracle checks recall, not just
    precision), and the same data-driven broadcast plane table — zero
    literal explosion, map-side bit sums.

    Scale shape: candidates are an equi-join on (tbl, bucket) — volume
    ∝ Σ bucket², kept subquadratic by the 65 536-key bands (the
    docs/SCALING.md-measured geometry) — with cosine scored INSIDE the
    join (``_bucket_scored_candidates``: no exchange ever carries
    vectors attached to candidates); the per-vector argmax is a
    map-side ``max_by`` partial aggregate over the scored rows, so the
    final exchange carries one row per vector, never the candidate
    multiset. max_by is idempotent over the bit-identical multi-table
    duplicate rows, so this variant needs NO distinct at all — the
    top-k variant (``knn_graph_topk``) is the one that dedups before
    ranking."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SCALED_PLANES,
        _SCALED_TABLES,
        planted_clone_embeddings,
    )
    from pyspark import StorageLevel

    # r11: fan the unioned corpus out before the norm/LSH folds
    # (guarded no-op at lake scale — fan_out_small_scan docstring).
    e = with_norm(
        fan_out_small_scan(planted_clone_embeddings(spark, sf_dir), "vec_id")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    scored = _bucket_scored_candidates(e, _SCALED_TABLES, _SCALED_PLANES)
    best = F.max_by(
        F.struct("nbr_id", "cosine"), F.struct(F.col("cosine"), (-F.col("nbr_id")).alias("neg"))
    ).alias("b")
    return (
        scored.groupBy("vec_id")
        .agg(best)
        .select("vec_id", F.col("b.nbr_id").alias("nbr_id"), F.col("b.cosine").alias("cosine"))
    )


_GRAPH_TOP_K = 3


def _bucket_scored_candidates(
    e: DataFrame, n_tables: int, n_planes: int, seed: int = 7
) -> DataFrame:
    """Directional candidate edges with cosine scored INSIDE the LSH
    bucket self-join: (vec_id, nbr_id, cosine), one row per (pair,
    colliding table) — callers dedup (``distinct`` for ranked top-k,
    or nothing before an idempotent ``max_by``).

    Why in-join scoring (r5, learned at the 1M rung): the
    candidates-first shape — distinct skinny pairs, then two vec_id
    joins to re-attach vectors — re-shuffles the full ~100M-row
    candidate set WITH 64-dim vectors attached (~66 GB of exchange at
    1M docs; the probe run died on disk). Here the vectors ride the
    SMALL side instead: each vector is replicated once per table
    (n·n_tables heavy rows — ~4 GB at 1M), the (tbl, bucket) self-join
    co-locates both endpoints, and cosine is computed in the join
    projection so every downstream exchange carries only 24-byte
    scored rows. Multi-table pair collisions cost a few redundant
    64-mult dot products (pure codegen'd CPU) — the right trade
    against tens of GB of shuffle. The dedup stays value-exact:
    cosine is the same sequential fold on the same doubles in every
    colliding table, so duplicate rows are bit-identical."""
    from pyspark import StorageLevel

    heavy = (
        lsh_multi_buckets_flat(e, n_tables=n_tables, n_planes=n_planes, seed=seed)
        .join(e, "vec_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cosine = dot("a.v", "b.v") / (F.col("a.norm") * F.col("b.norm"))
    return (
        heavy.alias("a")
        .join(heavy.alias("b"), ["tbl", "bucket"])
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nbr_id"),
            cosine.alias("cosine"),
        )
    )


def knn_graph_edges(
    spark: SparkSession,
    emb: DataFrame,
    k: int = _GRAPH_TOP_K,
    n_tables: int = 8,
    n_planes: int = 16,
) -> DataFrame:
    """Library entry for approximate kNN-GRAPH construction: top-``k``
    cosine edges per vector over multi-table sign-LSH bucket candidates
    (``emb`` must carry (vec_id, embedding)). Output: (vec_id, nbr_id,
    cosine, edge_rank) with rank ties broken by nbr_id — the same
    contract as the registered ``knn_graph_topk`` query, which wraps
    this over its planted-clone corpus. Used directly by
    scripts/scale_probe.py for the 100k/1M SCALING.md rungs.

    Scale shape: candidates are an equi-join on (tbl, bucket) — volume
    ∝ Σ bucket², kept subquadratic by sizing ``n_planes`` ∝ log n
    (65 536 keys at the default 16) — scored inside the join so no
    exchange ever carries vectors attached to candidates
    (``_bucket_scored_candidates``); the multi-table dedup is a
    ``distinct`` whose map-side partial aggregate collapses duplicate
    scored rows before its exchange; the ranked filter compiles to
    WindowGroupLimit, so a per-partition top-k pass also runs BEFORE
    the exchange on vec_id — at most k rows per (vector, map
    partition) cross, never the full candidate multiset."""
    from pyspark import StorageLevel

    e = with_norm(fan_out_small_scan(emb, "vec_id")).persist(StorageLevel.MEMORY_AND_DISK)
    scored = _bucket_scored_candidates(e, n_tables, n_planes).distinct()
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return scored.withColumn("edge_rank", F.row_number().over(w).cast("int")).filter(
        F.col("edge_rank") <= k
    )


def _oracle_knn_graph_topk(dim: int = 64) -> str:
    """Top-k variant of the kNN-graph oracle: ROW_NUMBER rank ≤ k over
    ``_graph_scored_ctes``, emitted as the edge rank (the Spark
    builder's window tie-break is the same (cosine DESC, nbr_id)
    ordering)."""
    return f"""
    WITH {_graph_scored_ctes(dim)}
    SELECT vec_id, nbr_id, cosine, edge_rank FROM (
        SELECT vec_id, nbr_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, nbr_id) AS INT) AS edge_rank
        FROM scored) WHERE edge_rank <= {_GRAPH_TOP_K}
    """


@register("knn_graph_topk", oracle=_oracle_knn_graph_topk())
def knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 kNN-graph edges per vector over the same scaled-LSH
    bucket candidates as ``knn_graph_top1`` — the edge list at the
    degree a graph-clustering pass actually consumes (top-1 graphs
    fragment; degree-3 keeps components connected enough to cluster).

    Plan-shape contrast with top1 (deliberate): top1 aggregates with a
    map-side ``max_by``; here the ranked filter is a window that Spark
    compiles to WindowGroupLimit — a per-partition top-k pass runs
    BEFORE the exchange on vec_id, so the shuffle carries at most k
    rows per (vector, map partition), never the full candidate
    multiset. Same bounded-shuffle guarantee, windowed instead of
    aggregated — the pattern per-doc TF-IDF term ranking uses."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SCALED_PLANES,
        _SCALED_TABLES,
        planted_clone_embeddings,
    )

    return knn_graph_edges(
        spark,
        planted_clone_embeddings(spark, sf_dir),
        k=_GRAPH_TOP_K,
        n_tables=_SCALED_TABLES,
        n_planes=_SCALED_PLANES,
    )


# -- Product quantization (ADC) ------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (PQ_M * PQ_SUBDIM = embedding dim)
PQ_KSTAR = 16  # centroids per subspace → 4-bit codes
PQ_ITERS = 2  # Lloyd's iterations per codebook
PQ_SAMPLE_PER_CENTROID = 16  # codebooks train on ~PQ_KSTAR·this vectors


def _pq_slices(col: str) -> F.Column:
    """(j, slice) rows: the m disjoint 8-dim subspace slices of the
    vector column ``col`` — one posexplode over a literal array of
    slices, pure projection. Alias the pair at the call site."""
    return F.posexplode(
        F.array(*[F.slice(col, j * PQ_SUBDIM + 1, PQ_SUBDIM) for j in range(PQ_M)])
    )


def _pq_subvectors(base: DataFrame) -> DataFrame:
    """Long form (vec_id, j, sub) of every vector's subspace slices."""
    return base.select("vec_id", _pq_slices("v").alias("j", "sub"))


def _pq_literal_codebooks(spark: SparkSession, rows) -> DataFrame:
    return spark.createDataFrame(
        [(int(r["j"]), int(r["cell"]), [float(x) for x in r["cent"]]) for r in rows],
        "j int, cell int, cent array<double>",
    )


def _pq_assign(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Nearest codebook centroid per (vec_id, subspace): broadcast the
    m·k* codebook table, fold d2 over 8 dims, map-side min_by collapse
    — only n·m skinny rows reach the exchange."""
    d2 = sq_dist("sub", "cent").alias("d2")
    best = F.min_by(F.col("cell"), F.struct("d2", "cell")).alias("code")
    return (
        subs.join(F.broadcast(codebooks), "j")
        .select("vec_id", "j", "cell", d2)
        .groupBy("vec_id", "j")
        .agg(best)
    )


def pq_train_codebooks(
    spark: SparkSession,
    base: DataFrame,
    iters: int = PQ_ITERS,
    sample_per_centroid: int = PQ_SAMPLE_PER_CENTROID,
) -> DataFrame:
    """Deterministic per-subspace codebooks: seeds are the PQ_KSTAR
    lowest-vec_id subvectors (no RNG), updates are decimal-exact means
    (the SemDeDup machinery's contract), training runs on an
    md5-threshold sample (~sample_per_centroid·k* vectors) so codebook
    cost is corpus-size-independent. All m subspaces train
    SIMULTANEOUSLY in one keyed pipeline — the codebook table is
    (j, cell, cent), m·k* = 128 rows, driver-materialized between
    iterations like any distributed k-means."""
    n = base.count()
    target = min(n, PQ_KSTAR * sample_per_centroid)
    thr = min(65536, (target * 65536) // max(1, n))
    sample = (
        base
        if thr >= 65536
        else base.filter(
            F.substring(
                F.md5(F.concat(F.lit("pqsample:"), F.col("vec_id").cast("string"))),
                1,
                4,
            )
            < format(thr, "04x")
        )
    )
    seeds = _pq_subvectors(base.orderBy("vec_id").limit(PQ_KSTAR)).select(
        "j",
        F.col("sub").alias("cent"),
        (
            F.row_number().over(
                Window.partitionBy("j").orderBy("vec_id")
            )
            - 1
        ).alias("cell"),
    )
    codebooks = _pq_literal_codebooks(spark, seeds.collect())
    subs_s = _pq_subvectors(sample).persist()
    for _ in range(iters):
        assigned = _pq_assign(subs_s, codebooks).join(
            subs_s, ["vec_id", "j"]
        )
        means = (
            assigned.select("j", F.col("code").alias("cell"), F.posexplode("sub").alias("pos", "val"))
            .groupBy("j", "cell", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(28,18)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .groupBy("j", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("cent")
            )
        )
        codebooks = _pq_literal_codebooks(spark, means.collect())
    return codebooks


def pq_topk(
    spark: SparkSession,
    emb: DataFrame,
    query_ids,
    top_k: int = _TOP_K,
) -> DataFrame:
    """ANN top-k via PRODUCT QUANTIZATION with asymmetric distance
    computation (Jégou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"): each vector is stored as m=8 4-bit codes (8
    BYTES instead of 512 — the RAM-compression scale path; a 100 TB
    embedding corpus's codes fit a few hundred GB and stay in memory),
    and a query scores the whole corpus by summing m table lookups per
    vector instead of a 64-dim dot product.

    Plan: codebooks broadcast (m·k* = 128 rows); encoding is the same
    map-side min_by assignment as training; the query-side distance
    table (query × codebook → per-(j, cell) partial d2) is ~128 rows
    per query, broadcast into an equi-join with the code table on
    (j, cell); the per-(query, vec) sum is one partial-aggregated
    exchange of n rows per query. The ADC top-k then gets an EXACT
    cosine rerank (top_k·|queries| vectors — trivial), so emitted
    cosines are true values, ranked by the approximate distance."""
    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v")).persist()
    codebooks = pq_train_codebooks(spark, base)
    codes = _pq_assign(_pq_subvectors(base), codebooks)

    queries = base.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qsubs = queries.select("query_id", _pq_slices("qv").alias("j", "qsub"))
    qd2 = sq_dist("qsub", "cent").alias("pd2")
    qdist = qsubs.join(F.broadcast(codebooks), "j").select("query_id", "j", "cell", qd2)

    adc = (
        codes.join(
            F.broadcast(qdist),
            (codes["j"] == qdist["j"]) & (codes["code"] == qdist["cell"]),
        )
        .groupBy("query_id", "vec_id")
        # Decimal-exact ADC sum (registry determinism contract): the m=8
        # partial distances combine in partition order in Spark and
        # morsel order in DuckDB — decimal addition is associative, so
        # the oracle's SUM is bit-identical; one cast back to double.
        .agg(F.sum(F.col("pd2").cast("decimal(38,12)")).cast("double").alias("adc_d2"))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    return _adc_top_k(adc, base, top_k)


def _adc_top_k(adc: DataFrame, base: DataFrame, top_k: int) -> DataFrame:
    """The tail every PQ scorer ends in: rank each query's
    ``(query_id, vec_id, adc_d2)`` rows by (adc_d2, vec_id), keep
    ``top_k``, and attach the EXACT cosine from ``base``'s raw vectors
    (top_k·|queries| rows — trivial), so emitted cosines are true
    values ranked by the approximate distance. Output (query_id,
    neighbor_id, cosine, adc_d2, rn); ``_PQ_RERANK`` is its SQL
    replay."""
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    top = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_d2", "rn")
    )
    nm = base.select("vec_id", "v", F.sqrt(dot("v", "v")).alias("norm"))
    qn = nm.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    cosine = dot("qv", "v") / (F.col("qnorm") * F.col("norm"))
    return (
        F.broadcast(top)
        .join(nm, top["neighbor_id"] == nm["vec_id"])
        .join(F.broadcast(qn), "query_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"), "adc_d2", "rn")
    )


def _pq_d2(v: str, c: str) -> str:
    """Same three-dot-product d2 shape as semantic._d2_sql (duplicated
    two lines rather than imported — semantic.py imports this module at
    top level, so the string helper can't come back the other way
    without a cycle)."""
    return (
        f"list_dot_product({v},{v}) - 2*list_dot_product({v},{c})"
        f" + list_dot_product({c},{c})"
    )


def _pq_ctes(include_v: bool = True) -> list[str]:
    """DuckDB CTE replay of the deterministic PQ pipeline — the
    8-subspace twin of semantic's ``_shortlist_lloyds_ctes`` (ROADMAP
    r6 #3): md5-threshold training sample, lowest-vec_id seeds split
    into subvectors, ``PQ_ITERS`` decimal-exact per-subspace Lloyd's
    updates, then full-corpus encoding and the per-query distance
    table. Emits ``pcodes`` (vec_id, j, code) and ``pqdist``
    (query_id, j, cell, pd2) for the caller's ADC stage. All
    MATERIALIZED for the same reason as the semantic chain: plain CTEs
    re-inline the whole Lloyd's prefix at every reference.

    ``include_v=False`` composes with ``_shortlist_lloyds_ctes``,
    which already emits the shared ``v`` base CTE; every other name is
    ``p``-prefixed to stay collision-free."""
    sd, m, ks = PQ_SUBDIM, PQ_M, PQ_KSTAR
    target_cap = PQ_KSTAR * PQ_SAMPLE_PER_CENTROID

    def subs(src: str, idc: str, vc: str, out: str) -> str:
        return (
            f"SELECT {idc}, CAST(j AS INT) AS j,"
            f" list_slice({vc}, j*{sd}+1, j*{sd}+{sd}) AS {out}"
            f" FROM {src}, range(0, {m}) r(j)"
        )

    def assign(sub_src: str, cb: str) -> str:
        return f"""SELECT vec_id, j, cell AS code FROM (
            SELECT s.vec_id, s.j, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                       ORDER BY {_pq_d2('s.sub', 'c.cent')}, c.cell) AS rn
            FROM {sub_src} s JOIN {cb} c ON c.j = s.j) WHERE rn = 1"""

    ctes = (
        ["v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
        if include_v
        else []
    )
    ctes += [
        "pnn AS (SELECT COUNT(*) AS n FROM v)",
        f"""pth AS (SELECT LEAST(65536,
            (LEAST((SELECT n FROM pnn), {target_cap}) * 65536)
            // GREATEST(1, (SELECT n FROM pnn))) AS thr)""",
        """ps AS MATERIALIZED (
        SELECT vec_id, v FROM v
        WHERE (SELECT thr FROM pth) >= 65536
           OR substr(md5('pqsample:' || CAST(vec_id AS VARCHAR)), 1, 4)
              < printf('%04x', (SELECT thr FROM pth)))""",
        f"psub AS MATERIALIZED ({subs('ps', 'vec_id', 'v', 'sub')})",
        f"""pcb0 AS MATERIALIZED (
        SELECT CAST(j AS INT) AS j,
               CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS cell,
               list_slice(v, j*{sd}+1, j*{sd}+{sd}) AS cent
        FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT {ks}), range(0, {m}) r(j))""",
    ]
    for t in range(1, PQ_ITERS + 1):
        ctes.append(f"pas{t} AS MATERIALIZED ({assign('psub', f'pcb{t - 1}')})")
        ctes.append(
            f"""pcb{t} AS MATERIALIZED (
            SELECT j, cell, list(m ORDER BY pos) AS cent FROM (
                SELECT j, cell, pos,
                       CAST(SUM(CAST(val AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
                FROM (SELECT a.j, a.code AS cell,
                             generate_subscripts(s.sub, 1) AS pos, unnest(s.sub) AS val
                      FROM pas{t} a JOIN psub s ON s.vec_id = a.vec_id AND s.j = a.j)
                GROUP BY j, cell, pos) GROUP BY j, cell)"""
        )
    final_cb = f"pcb{PQ_ITERS}"
    ctes += [
        f"pallsub AS MATERIALIZED ({subs('v', 'vec_id', 'v', 'sub')})",
        f"pcodes AS MATERIALIZED ({assign('pallsub', final_cb)})",
        f"pq AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < {_N_QUERIES})",
        f"pqsub AS ({subs('pq', 'query_id', 'qv', 'sub')})",
        f"""pqdist AS MATERIALIZED (
        SELECT s.query_id, c.j, c.cell, {_pq_d2('s.sub', 'c.cent')} AS pd2
        FROM pqsub s JOIN {final_cb} c ON c.j = s.j)""",
    ]
    return ctes


_PQ_RERANK = f"""
    ptop AS (SELECT query_id, vec_id AS neighbor_id, adc_d2, rn FROM (
        SELECT query_id, vec_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc_d2, vec_id) AS rn FROM padc) WHERE rn <= {_TOP_K}),
    pnm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM v)
    SELECT t.query_id, t.neighbor_id,
           list_dot_product(q.v, n.v) / (q.norm * n.norm) AS cosine,
           t.adc_d2, t.rn
    FROM ptop t JOIN pnm n ON n.vec_id = t.neighbor_id
                JOIN pnm q ON q.vec_id = t.query_id
"""


def _oracle_pq() -> str:
    """Full PQ-ADC replay: codebook chain, full-corpus codes, per-query
    distance tables, decimal-exact ADC sums (the same DECIMAL(38,12)
    partial-sum contract the Spark builder applies), rank, and exact
    cosine rerank on the top-k ids."""
    ctes = _pq_ctes(include_v=True)
    return f"""
    WITH {','.join(ctes)},
    padc AS MATERIALIZED (
        SELECT d.query_id, k.vec_id,
               CAST(SUM(CAST(d.pd2 AS DECIMAL(38,12))) AS DOUBLE) AS adc_d2
        FROM pcodes k JOIN pqdist d ON d.j = k.j AND d.cell = k.code
        WHERE d.query_id <> k.vec_id
        GROUP BY d.query_id, k.vec_id),
    {_PQ_RERANK}
    """


@register("knn_pq_adc", oracle=_oracle_pq())
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for the 5 demo queries via product quantization, with
    an exact DuckDB oracle (r6 ROADMAP #3): codebook training is
    RNG-free (lowest-vec_id seeds, md5-threshold sample, decimal-exact
    means), encoding/ADC use the same fold arithmetic both engines
    evaluate bit-identically, and the ADC sum goes through
    DECIMAL(38,12) so partial-aggregation order cannot flip a rank.
    Recall vs brute force and planted-clone recovery are additionally
    pinned in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(spark, emb, query_ids=range(_N_QUERIES))


IVFPQ_NPROBE = 2  # coarse cells probed per query (as knn_ivf_deterministic)


def ivf_pq_topk(
    spark: SparkSession,
    emb: DataFrame,
    query_ids,
    nprobe: int = IVFPQ_NPROBE,
    top_k: int = _TOP_K,
) -> DataFrame:
    """IVF-PQ — the full billion-scale ANN architecture (Jégou et al.
    2011 §IV): a coarse quantizer restricts each query to ``nprobe``
    inverted lists (~nprobe/k of the corpus), and PRODUCT-QUANTIZED
    codes score those candidates by m table lookups apiece. The two
    compressions compose: at 100 TB the inverted lists are partition
    pruning (write the corpus partitioned by cell_id) and the codes
    are the in-memory scan — 8 bytes/vector of the probed lists, no
    raw-vector I/O until the final exact rerank of top_k ids.

    Both trainings reuse the engine's deterministic machinery: the
    coarse quantizer is the SemDeDup shortlist-Lloyd's build
    (seed-by-lowest-id, decimal-exact means — the same construction
    ``knn_ivf_deterministic`` oracle-replays), the codebooks are
    ``pq_train_codebooks``'s md5-threshold-sampled per-subspace
    k-means."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        IVF_ITERS,
        IVF_MIN_CELLS,
        derive_k,
        lloyds,
        shortlist_scorer,
    )

    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v")).persist()
    k_cells = derive_k(base.count(), IVF_MIN_CELLS)
    centroids, assigned = lloyds(spark, base, k_cells, IVF_ITERS, shortlist_scorer())
    cells = assigned.select("vec_id", "cell")

    codebooks = pq_train_codebooks(spark, base)
    codes = _pq_assign(_pq_subvectors(base), codebooks).join(cells, "vec_id")

    queries = base.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cd2 = sq_dist("qv", "cent").alias("cd2")
    wq = Window.partitionBy("query_id").orderBy(F.asc("cd2"), F.asc("cell"))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select("query_id", "qv", "cell", cd2)
        .withColumn("crn", F.row_number().over(wq))
        .filter(F.col("crn") <= nprobe)
        .select("query_id", "cell")
    )
    qsubs = queries.select("query_id", _pq_slices("qv").alias("j", "qsub"))
    pd2 = sq_dist("qsub", "cent").alias("pd2")
    qdist = qsubs.join(F.broadcast(codebooks), "j").select("query_id", "j", "cell", pd2)

    # restrict to probed inverted lists, THEN ADC-score the survivors
    adc = (
        codes.alias("c")
        .join(F.broadcast(probes).alias("p"), F.col("c.cell") == F.col("p.cell"))
        .join(
            F.broadcast(qdist).alias("q"),
            (F.col("c.j") == F.col("q.j"))
            & (F.col("c.code") == F.col("q.cell"))
            & (F.col("p.query_id") == F.col("q.query_id")),
        )
        .groupBy(F.col("p.query_id").alias("query_id"), F.col("c.vec_id").alias("vec_id"))
        # Decimal-exact ADC sum — same cross-engine contract as pq_topk.
        .agg(F.sum(F.col("pd2").cast("decimal(38,12)")).cast("double").alias("adc_d2"))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    return _adc_top_k(adc, base, top_k)


def ivf_pq_residual_topk(
    spark: SparkSession,
    emb: DataFrame,
    query_ids,
    nprobe: int = IVFPQ_NPROBE,
    top_k: int = _TOP_K,
) -> DataFrame:
    """IVFADC proper (Jégou et al. 2011 §IV.A): product-quantize the
    RESIDUAL ``r = v − q1(v)`` instead of the raw vector. The coarse
    centroid already explains the vector's position in space, so the
    codebooks only have to cover the (much tighter) within-cell
    displacement distribution — the paper's measured accuracy win at
    the same code budget, and the variant a real billion-scale
    deployment runs. Library + pytest (recall vs the non-residual
    ``ivf_pq_topk`` on planted clones); the REGISTERED ``knn_ivf_pq``
    keeps raw-vector codes because its exact chained-CTE oracle replays
    that contract.

    Cost shape vs ``ivf_pq_topk``: identical corpus passes (coarse
    build, one residual projection riding the encode scan) with ONE
    extra small table — the per-(query, probed-cell) distance tables
    are nprobe× the flat version's, still
    queries·nprobe·m·k* ≈ tiny, broadcast. At 100 TB: inverted lists
    as partition pruning, 8-byte codes as the scan, residual
    geometry for free."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        IVF_ITERS,
        IVF_MIN_CELLS,
        derive_k,
        lloyds,
        shortlist_scorer,
    )

    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v")).persist()
    k_cells = derive_k(base.count(), IVF_MIN_CELLS)
    centroids, assigned = lloyds(spark, base, k_cells, IVF_ITERS, shortlist_scorer())
    cells = assigned.select("vec_id", "cell")

    # residuals: one broadcast join + zip_with projection on the scan
    residual = F.zip_with("v", "cent", lambda x, c: x - c).alias("v")
    rbase = (
        base.join(cells, "vec_id")
        .join(F.broadcast(centroids), "cell")
        .select("vec_id", "cell", residual)
        .persist()
    )
    codebooks = pq_train_codebooks(spark, rbase.select("vec_id", "v"))
    codes = _pq_assign(_pq_subvectors(rbase.select("vec_id", "v")), codebooks).join(
        cells, "vec_id"
    )

    queries = base.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cd2 = sq_dist("qv", "cent").alias("cd2")
    wq = Window.partitionBy("query_id").orderBy(F.asc("cd2"), F.asc("cell"))
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select("query_id", "qv", "cell", "cent", cd2)
        .withColumn("crn", F.row_number().over(wq))
        .filter(F.col("crn") <= nprobe)
        .select("query_id", "qv", "cell", "cent")
    )
    # per-(query, probed cell) RESIDUAL distance tables: the query's
    # residual differs per probed cell, so the table carries the cell
    # key — still queries·nprobe·m·k* rows, broadcast
    qres = probes.select(
        "query_id",
        "cell",
        F.zip_with("qv", "cent", lambda x, c: x - c).alias("qr"),
    )
    qsubs = qres.select("query_id", "cell", _pq_slices("qr").alias("j", "qsub"))
    pd2 = sq_dist("qsub", "cent").alias("pd2")
    qdist = (
        qsubs.join(F.broadcast(codebooks.withColumnRenamed("cell", "code")), "j")
        .select("query_id", F.col("cell").alias("pcell"), "j", "code", pd2)
    )

    adc = (
        codes.alias("c")
        .join(
            F.broadcast(qdist).alias("q"),
            (F.col("c.cell") == F.col("q.pcell"))
            & (F.col("c.j") == F.col("q.j"))
            & (F.col("c.code") == F.col("q.code")),
        )
        .groupBy(F.col("q.query_id").alias("query_id"), F.col("c.vec_id").alias("vec_id"))
        .agg(F.sum(F.col("pd2").cast("decimal(38,12)")).cast("double").alias("adc_d2"))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    return _adc_top_k(adc, base, top_k)


def _oracle_ivf_pq() -> str:
    """Composed replay: the shared shortlist-Lloyd's chain builds the
    coarse quantizer (identical to the knn_ivf_deterministic oracle —
    one generator, ``semantic._shortlist_lloyds_ctes``), the PQ chain
    builds codes and query distance tables over the same ``v``, then
    the ADC sum runs only inside each query's ``IVFPQ_NPROBE`` probed
    cells. Imported lazily: semantic.py imports this module at top
    level, and by the time this registration line executes the names
    semantic needs (``as_double_vec``/``dot``) are already bound, so
    the one-way late import is cycle-safe in either import order."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        IVF_ITERS,
        IVF_MIN_CELLS,
        SEM_NPROBE,
        _shortlist_lloyds_ctes,
    )

    ctes = _shortlist_lloyds_ctes(IVF_MIN_CELLS, None, IVF_ITERS, SEM_NPROBE)
    ctes += _pq_ctes(include_v=False)
    return f"""
    WITH {','.join(ctes)},
    iprobes AS MATERIALIZED (
        SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY {_pq_d2('q.qv', 'c.cent')}, c.cell) AS crn
            FROM pq q, c{IVF_ITERS - 1} c) WHERE crn <= {IVFPQ_NPROBE}),
    padc AS MATERIALIZED (
        SELECT p.query_id, k.vec_id,
               CAST(SUM(CAST(d.pd2 AS DECIMAL(38,12))) AS DOUBLE) AS adc_d2
        FROM pcodes k
        JOIN a{IVF_ITERS} cells ON cells.vec_id = k.vec_id
        JOIN iprobes p ON p.cell = cells.cell
        JOIN pqdist d ON d.j = k.j AND d.cell = k.code
                     AND d.query_id = p.query_id
        WHERE p.query_id <> k.vec_id
        GROUP BY p.query_id, k.vec_id),
    {_PQ_RERANK}
    """


@register("knn_ivf_pq", oracle=_oracle_ivf_pq())
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 for the 5 demo queries, with an exact DuckDB
    oracle composing the two deterministic chains (coarse shortlist
    Lloyd's + per-subspace PQ codebooks); planted-clone recovery
    through the composed index is additionally pinned in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(spark, emb, query_ids=range(_N_QUERIES))


# -- Hard-negative mining (contrastive training triplets) -----------------


# Negative-pool band geometry: deliberately COARSE (2 tables × 8 sign
# bits → 256 keys/table) and seeded independently of the dedup tables.
# Duplicate detection wants selective buckets (65 536 keys — near-dups
# still collide, random pairs don't); negative MINING at SMALL corpora
# wants the opposite: a rich pool of merely-nearby candidates, which
# is exactly what coarse buckets hold. The coarse pool's candidate
# volume grows ~n² though (measured: 3× corpus → 8.2× wall), so the
# DEFAULT geometry is size-aware (neg_pool_geometry): production
# 8×16-bit bands at ≥500k docs, where bucket density delivers both
# coverage and the sublinear cost the dedup ladder measures; the
# ≥100M path swaps the pool source for the IVF inverted lists
# (hard_negative_triplets_ivf) and keeps the threshold-split + argmax
# contract unchanged.
_NEG_TABLES = 2
_NEG_PLANES = 8
_NEG_SEED = 424_243
# Corpus-size switch for the automatic pool policy (VERDICT r5 #1):
# below this, the coarse 2×8-bit pool (coverage needs dense buckets;
# its n² candidate term is cheap — measured 116 s @100k, 948 s @300k);
# at/above, the production 8×16-bit geometry (bucket density ≈
# n/65 536 ≥ ~8 supplies sub-threshold mates from the SAME sublinear
# candidate join the dedup ladder runs — measured 396.6 s @1M with
# 50 000/50 000 anchor coverage, vs ~10 500 s extrapolated coarse).
_NEG_POOL_SWITCH = 500_000
# Above this, hard_negative_triplets_ivf trains its coarse quantizer
# on the md5-threshold sample instead of the full corpus (the
# semantic_dedup_sampled move): the 1M rung is measured full-trained,
# everything larger pays one corpus assignment instead of IVF_ITERS.
_IVF_SAMPLE_TRAIN_MIN = 2_000_000


def neg_pool_geometry(n_docs: int) -> "tuple[int, int]":
    """(neg_tables, neg_planes) for a corpus of ``n_docs`` — the
    measured crossover policy (docs/SCALING.md "Hard negatives at 1M"):
    coarse below ``_NEG_POOL_SWITCH``, production geometry above. In
    code, not prose, so a 10M-doc caller gets the sublinear pool by
    default instead of the coarse pool's quadratic candidate volume."""
    if n_docs < _NEG_POOL_SWITCH:
        return _NEG_TABLES, _NEG_PLANES
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SCALED_PLANES,
        _SCALED_TABLES,
    )

    return _SCALED_TABLES, _SCALED_PLANES


def _positive_pairs(e: DataFrame, n_tables: int, n_planes: int, tau: float) -> DataFrame:
    """(anchor_id, pos_id, pos_cosine): the (a < b, cosine > tau) rows
    of the production-geometry candidate join after the multi-table
    distinct — the near-duplicate pairs every triplet miner anchors
    on (shared by the band-pool and IVF-pool variants)."""
    return (
        _bucket_scored_candidates(e, n_tables, n_planes)
        .filter((F.col("vec_id") < F.col("nbr_id")) & (F.col("cosine") > tau))
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("nbr_id").alias("pos_id"),
            F.col("cosine").alias("pos_cosine"),
        )
        .distinct()
    )


def _hardest_neg() -> F.Column:
    """Idempotent per-anchor argmax (cosine DESC, nbr_id tie-break) —
    built lazily: classic-mode Column construction needs an active
    SparkSession, so no module-level expressions."""
    return F.max_by(
        F.struct("nbr_id", "cosine"),
        F.struct(F.col("cosine"), (-F.col("nbr_id")).alias("neg")),
    ).alias("b")


def hard_negative_triplets(
    spark: SparkSession,
    emb: DataFrame,
    tau: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 16,
    neg_tables: int | None = None,
    neg_planes: int | None = None,
) -> DataFrame:
    """Contrastive-training triplet mining: for every near-duplicate
    pair (anchor, positive) — cosine > ``tau``, the same contract and
    band geometry as the embedding dedup ladder — attach the anchor's
    HARDEST NEGATIVE: its highest-cosine candidate at or below ``tau``
    from a second band pool. ``neg_tables``/``neg_planes`` default to
    the corpus-size POLICY (:func:`neg_pool_geometry`): deliberately
    COARSE 2×8-bit below 500k docs, the production 8×16-bit geometry
    above — both configurations measured, the switch is what keeps the
    default off the coarse pool's n² candidate term at scale (VERDICT
    r5 #1). Output ``(anchor_id, pos_id, pos_cosine, neg_id,
    neg_cosine)``; anchors whose pool buckets hold no sub-threshold
    mate emit no triplet (honest approximate-candidate semantics —
    production raises ``neg_tables`` or moves to
    :func:`hard_negative_triplets_ivf` to push coverage up).

    This is the data an embedding model's contrastive fine-tune
    consumes: in-batch negatives are easy; the pairs that move the
    loss are the near-misses, and a bucket pool tuned for RECALL OF
    THE MERELY-SIMILAR surfaces them for free.

    Scale shape: positives are the (a < b, cosine > tau) rows of the
    production-geometry candidate join after the multi-table distinct
    (a few thousand at any rung — the dedup measurement); negatives
    are a map-side idempotent ``max_by`` over the pool's
    (cosine <= tau) rows (duplicate multi-table rows are bit-identical,
    the ``knn_graph_top1`` argument), so the exchange carries one row
    per anchor; the final join is positives-sized."""
    from pyspark import StorageLevel

    e = with_norm(fan_out_small_scan(emb, "vec_id")).persist(StorageLevel.MEMORY_AND_DISK)
    if neg_tables is None or neg_planes is None:
        auto_t, auto_p = neg_pool_geometry(e.count())
        neg_tables = neg_tables if neg_tables is not None else auto_t
        neg_planes = neg_planes if neg_planes is not None else auto_p
    pos = _positive_pairs(e, n_tables, n_planes, tau)
    neg = (
        _bucket_scored_candidates(e, neg_tables, neg_planes, seed=_NEG_SEED)
        .filter(F.col("cosine") <= tau)
        .groupBy(F.col("vec_id").alias("anchor_id"))
        .agg(_hardest_neg())
        .select(
            "anchor_id",
            F.col("b.nbr_id").alias("neg_id"),
            F.col("b.cosine").alias("neg_cosine"),
        )
    )
    return pos.join(neg, "anchor_id")


def hard_negative_triplets_ivf(
    spark: SparkSession,
    emb: DataFrame,
    tau: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 16,
    broadcast_buckets: bool = True,
    train_on_sample: bool | None = None,
) -> DataFrame:
    """The ≥100M-doc triplet miner (VERDICT r5 #6): same positives and
    the same threshold-split + argmax contract as
    :func:`hard_negative_triplets`, but negatives come from the IVF
    coarse quantizer's INVERTED LISTS — each anchor's candidates are
    the vectors assigned to its own cell (the ``knn_ivf_pq`` coarse
    stage: deterministic seed-by-lowest-id Lloyd's through the
    coarse-anchor shortlist), cosine scored inside the cell self-join,
    hardest sub-threshold mate per anchor via the idempotent map-side
    ``max_by``.

    Why this is the billion-scale shape: a band pool's candidate
    volume is Σ bucket² with bucket sizes the DATA chooses (hot
    directions → hot buckets); the IVF cell population is k-means
    balanced around ``TARGET_CELL`` (~64), so candidate volume is
    ~TARGET_CELL·n — LINEAR in n — and at 100 TB the cells are the
    table's physical partitioning (partition-pruned scan, no shuffle:
    the same layout knn_ivf_pq already documents). Negatives are also
    HARDER on average: a same-cell mate is a true near-neighbor by
    construction, not a 256-key band collision.

    ``broadcast_buckets=False`` selects the shuffled shortlist
    assignment (the measured 10M broadcast-ceiling escape, semantic.py).
    ``train_on_sample`` moves the Lloyd's TRAINING passes onto the
    deterministic md5-threshold draw (``semantic.training_sample`` —
    the same corpus-size-independent trick as
    ``semantic_dedup_sampled``), so the corpus pays ONE shortlist
    assignment instead of ``IVF_ITERS``; ``None`` auto-enables it at
    ≥ ``_IVF_SAMPLE_TRAIN_MIN`` docs (above the measured full-train 1M
    rung), and below the saturation threshold the sample IS the corpus
    so the two paths are bit-identical by construction.
    Coverage note: an anchor alone in its cell emits no triplet — the
    same honest approximate semantics as the band pools; at ≥1M docs
    cell population makes that vanishingly rare."""
    from pyspark import StorageLevel

    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        IVF_ITERS,
        IVF_MIN_CELLS,
        derive_k,
        lloyds,
        shortlist_scorer,
        training_sample,
    )

    e = with_norm(fan_out_small_scan(emb, "vec_id")).persist(StorageLevel.MEMORY_AND_DISK)
    pos = _positive_pairs(e, n_tables, n_planes, tau)

    base = e.select("vec_id", "v")
    n = base.count()
    k_cells = derive_k(n, IVF_MIN_CELLS)
    if train_on_sample is None:
        train_on_sample = n >= _IVF_SAMPLE_TRAIN_MIN
    train = training_sample(base, n, k_cells) if train_on_sample else base
    if train is not base:
        train = train.persist(StorageLevel.MEMORY_AND_DISK)
    _, assigned = lloyds(
        spark,
        base,
        k_cells,
        IVF_ITERS,
        shortlist_scorer(broadcast_buckets=broadcast_buckets),
        train=train,
    )
    cells = assigned.select("vec_id", "cell")

    ec = e.join(cells, "vec_id")
    a, b = ec.alias("a"), ec.alias("b")
    cosine = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    neg = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nbr_id"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") <= tau)
        .groupBy(F.col("vec_id").alias("anchor_id"))
        .agg(_hardest_neg())
        .select(
            "anchor_id",
            F.col("b.nbr_id").alias("neg_id"),
            F.col("b.cosine").alias("neg_cosine"),
        )
    )
    return pos.join(neg, "anchor_id")


def _oracle_hard_negatives(dim: int = 64) -> str:
    """DuckDB replay of ``hard_negative_mining``: the shared
    scaled-geometry candidate CTEs (seeded-LCG hyperplanes as double
    literals) for the positives, an independent coarse band CTE (the
    ``_NEG_*`` geometry, its own seeds as literals) for the negative
    pool, hardest negative via ROW_NUMBER with the same (cosine DESC,
    nbr_id) tie-break as the Spark ``max_by`` struct ordering."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SCALED_TAU,
        _scaled_pairs_ctes,
    )

    return f"""
    WITH {_scaled_pairs_ctes(dim)},
    pos AS (
        SELECT cand.vec_a AS anchor_id, cand.vec_b AS pos_id,
               list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) AS pos_cosine
        FROM cand
        JOIN e ea ON ea.vec_id = cand.vec_a
        JOIN e eb ON eb.vec_id = cand.vec_b
        WHERE list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) > {_SCALED_TAU}
    ),
    negbands AS MATERIALIZED ({_lsh_bands_sql(dim, _NEG_TABLES, _NEG_PLANES, _NEG_SEED)}),
    negcand AS (
        SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id
        FROM negbands a JOIN negbands b ON a.tbl = b.tbl AND a.key = b.key
        WHERE a.vec_id <> b.vec_id
    ),
    negscored AS (
        SELECT negcand.vec_id, negcand.nbr_id,
               list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) AS cosine
        FROM negcand
        JOIN e ea ON ea.vec_id = negcand.vec_id
        JOIN e eb ON eb.vec_id = negcand.nbr_id
        WHERE list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) <= {_SCALED_TAU}
    ),
    hardneg AS (
        SELECT vec_id AS anchor_id, nbr_id AS neg_id, cosine AS neg_cosine
        FROM (SELECT vec_id, nbr_id, cosine,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cosine DESC, nbr_id) AS rn
              FROM negscored) WHERE rn = 1
    )
    SELECT p.anchor_id, p.pos_id, p.pos_cosine, h.neg_id, h.neg_cosine
    FROM pos p JOIN hardneg h ON p.anchor_id = h.anchor_id
    """


@register("hard_negative_mining", oracle=_oracle_hard_negatives())
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative triplets over the planted-clone corpus (same aug
    as ``dedup_embedding_cosine_pairs`` / ``knn_graph_topk``): every
    50th vector's clone pins the positive by construction, and the
    hardest negative is the anchor's best sub-threshold bucket-mate —
    the contrastive fine-tuning dataset mined from the dedup pass's
    own rejected candidates. The DuckDB oracle replays hyperplanes,
    candidates, threshold split, and the argmax tie-break end-to-end,
    so recall and the exact negative choice are both cross-engine
    pinned.

    No reference counterpart (the reference's query layer stops at SQL
    pass-through, reference
    ``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:113``);
    north-star LLM-pipeline operator per the rebuild charter."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.dedup import (
        _SCALED_PLANES,
        _SCALED_TABLES,
        _SCALED_TAU,
        planted_clone_embeddings,
    )

    return hard_negative_triplets(
        spark,
        planted_clone_embeddings(spark, sf_dir),
        tau=_SCALED_TAU,
        n_tables=_SCALED_TABLES,
        n_planes=_SCALED_PLANES,
    )
