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
    replays (``semantic._d2_sql``) evaluate bit-identically."""
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


def _pq_long(base: DataFrame) -> DataFrame:
    """The PQ trainer's points: one ``(vec_id = src·PQ_M + j, j, v)``
    row per (vector ``src``, subspace ``j``), ``v`` the j-th slice.
    Ordering by this key is ordering by (src, j), so the
    ``PQ_M·PQ_KSTAR`` lowest ids are the ``PQ_KSTAR`` lowest vectors'
    slices and ``semantic._seed_centroids`` numbers codeword i of
    subspace j as cell ``i·PQ_M + j``."""
    return base.select(F.col("vec_id").alias("src"), _pq_slices("v").alias("j", "v")).select(
        (F.col("src") * PQ_M + F.col("j")).alias("vec_id"), "j", "v"
    )


def _pq_assign(frame: DataFrame, centroids: DataFrame, m: int, step: int) -> DataFrame:
    """The PQ codebook scorer for ``semantic.lloyds``: every
    :func:`_pq_long` row against the ``PQ_KSTAR`` cells of its own
    subspace (``j = cell % PQ_M``, broadcast equi-join), nearest by the
    fold d2 with a map-side ``min_by`` over (d2, cell) — only one row
    per point reaches the exchange. For a fixed j the composite cell
    grows with the codeword, so the tie-break is the codeword's, as in
    the ``_pq_ctes`` replay. ``m`` and ``step`` are unused."""
    cents = centroids.withColumn("j", (F.col("cell") % PQ_M).cast("int"))
    best = F.min_by(F.struct("cell", "v"), F.struct("d2", "cell")).alias("b")
    return (
        frame.join(F.broadcast(cents), "j")
        .select("vec_id", "v", "cell", sq_dist("v", "cent").alias("d2"))
        .groupBy("vec_id")
        .agg(best)
        .select("vec_id", F.col("b.cell").alias("cell"), F.col("b.v").alias("v"))
    )


def pq_train(spark: SparkSession, base: DataFrame, n: int) -> tuple[DataFrame, DataFrame]:
    """Deterministic per-subspace codebooks and the full-corpus codes
    of the ``(vec_id, v)`` frame ``base`` of ``n`` vectors:
    ``semantic.lloyds`` over the :func:`_pq_long` points with
    ``k = PQ_M·PQ_KSTAR`` composite cells and :func:`_pq_assign` as
    the scorer, so all m subspaces train
    SIMULTANEOUSLY in one keyed pipeline. Seeds are the PQ_KSTAR
    lowest-vec_id vectors' slices (no RNG), updates are lloyds'
    decimal-exact means per composite cell, i.e. per (j, codeword), and
    the ``PQ_ITERS`` training rounds run on ``semantic.training_sample``'s
    md5-threshold draw (~PQ_SAMPLE_PER_CENTROID·PQ_KSTAR vectors, salt
    ``pqsample:``), so codebook cost is corpus-size-independent. lloyds'
    final assignment is the encode. Returns ``codebooks`` (j, code,
    cent), m·k* = 128 rows, and ``codes`` (vec_id, j, code); ``_pq_ctes``
    replays both."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        lloyds,
        training_sample,
    )

    sample = training_sample(base, n, PQ_KSTAR, PQ_SAMPLE_PER_CENTROID, salt="pqsample:")
    train = None if sample is base else _pq_long(sample).persist()
    centroids, assigned = lloyds(
        spark, _pq_long(base), PQ_M * PQ_KSTAR, PQ_ITERS + 1, _pq_assign, train=train
    )
    j = (F.col("cell") % PQ_M).cast("int").alias("j")
    code = F.expr(f"cell div {PQ_M}").cast("int")
    codebooks = centroids.select(j, code.alias("code"), "cent")
    codes = assigned.select(F.expr(f"vec_id div {PQ_M}").alias("vec_id"), j, code.alias("code"))
    return codebooks, codes


def _query_rows(base: DataFrame, query_ids) -> DataFrame:
    """(query_id, qv): the rows of ``base`` whose vec_id is a query."""
    return base.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def _pq_distances(queries: DataFrame, codebooks: DataFrame, *keys: str) -> DataFrame:
    """The per-query ADC lookup table: every ``(query_id, *keys, qv)``
    row's PQ_M slices against its subspace's codewords, as
    ``(query_id, *keys, j, code, pd2)`` — m·k* = 128 rows per query
    row, small enough to broadcast into the join with the codes."""
    return (
        queries.select("query_id", *keys, _pq_slices("qv").alias("j", "qsub"))
        .join(F.broadcast(codebooks), "j")
        .select("query_id", *keys, "j", "code", sq_dist("qsub", "cent").alias("pd2"))
    )


def _adc_top_k(pd2: DataFrame, base: DataFrame) -> DataFrame:
    """The tail every PQ scorer ends in. ``pd2`` holds one
    ``(query_id, vec_id, pd2)`` row per (query, candidate, subspace);
    the ADC distance is their decimal-exact sum (registry determinism
    contract: the m=8 partial distances combine in partition order in
    Spark and morsel order in DuckDB — decimal addition is associative,
    so the oracle's SUM is bit-identical; one cast back to double).
    A query is never its own candidate. Rank each query's candidates by
    (adc_d2, vec_id), keep ``_TOP_K``, and attach the EXACT cosine from
    ``base``'s raw vectors (top_k·|queries| rows — trivial), so emitted
    cosines are true values ranked by the approximate distance. Output
    (query_id, neighbor_id, cosine, adc_d2, rn); ``_PQ_ADC_RERANK`` is
    its SQL replay."""
    adc = (
        pd2.groupBy("query_id", "vec_id")
        .agg(F.sum(F.col("pd2").cast("decimal(38,12)")).cast("double").alias("adc_d2"))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    top = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
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


def pq_topk(spark: SparkSession, emb: DataFrame, query_ids) -> DataFrame:
    """ANN top-10 via PRODUCT QUANTIZATION with asymmetric distance
    computation (Jégou et al. 2011, "Product Quantization for Nearest
    Neighbor Search"): each vector is stored as m=8 4-bit codes (8
    BYTES instead of 512 — the RAM-compression scale path; a 100 TB
    embedding corpus's codes fit a few hundred GB and stay in memory),
    and a query scores the whole corpus by summing m table lookups per
    vector instead of a 64-dim dot product.

    Plan: :func:`pq_train` trains the codebooks (broadcast, m·k* = 128
    rows) and encodes the corpus in the same ``semantic.lloyds`` run;
    the query-side distance table (:func:`_pq_distances`, ~128 rows per
    query) is broadcast into an equi-join with the code table on
    (j, code); :func:`_adc_top_k` sums per (query, vec) in one
    partial-aggregated exchange of n rows per query, ranks, and
    reranks the top_k by EXACT cosine, so emitted cosines are true
    values, ranked by the approximate distance."""
    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v")).persist()
    codebooks, codes = pq_train(spark, base, base.count())
    qdist = _pq_distances(_query_rows(base, query_ids), codebooks)
    return _adc_top_k(codes.join(F.broadcast(qdist), ["j", "code"]), base)


def _pq_ctes(include_v: bool = True) -> list[str]:
    """DuckDB CTE replay of :func:`pq_train` and the query distance
    table — the 8-subspace twin of semantic's ``_shortlist_lloyds_ctes``
    (ROADMAP r6 #3): md5-threshold training sample, lowest-vec_id seeds
    split into subvectors, ``PQ_ITERS`` decimal-exact per-(j, codeword)
    Lloyd's updates, then full-corpus encoding and the per-query
    distance table. It keeps (j, codeword) as two columns where the
    Spark trainer packs them into one lloyds cell ``codeword·PQ_M + j``;
    seeds, means and (d2, codeword) tie-breaks are the same. Emits
    ``pcodes`` (vec_id, j, code) and ``pqdist`` (query_id, j, cell, pd2)
    for the caller's ADC stage. All MATERIALIZED for the same reason as
    the semantic chain: plain CTEs re-inline the whole Lloyd's prefix
    at every reference.

    ``include_v=False`` composes with ``_shortlist_lloyds_ctes``,
    which already emits the shared ``v`` base CTE; every other name is
    ``p``-prefixed to stay collision-free."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        _d2_sql,
    )

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
                       ORDER BY {_d2_sql('s.sub', 'c.cent')}, c.cell) AS rn
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
        SELECT s.query_id, c.j, c.cell, {_d2_sql('s.sub', 'c.cent')} AS pd2
        FROM pqsub s JOIN {final_cb} c ON c.j = s.j)""",
    ]
    return ctes


# SQL replay of _adc_top_k over the caller's ``ppd2`` CTE (query_id,
# vec_id, pd2): decimal-exact ADC sum without self-matches, rank, and
# exact cosine rerank on the top-k ids.
_PQ_ADC_RERANK = f"""
    padc AS MATERIALIZED (
        SELECT query_id, vec_id,
               CAST(SUM(CAST(pd2 AS DECIMAL(38,12))) AS DOUBLE) AS adc_d2
        FROM ppd2 WHERE query_id <> vec_id
        GROUP BY query_id, vec_id),
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
    distance tables, every code's lookup as a ``ppd2`` row, then the
    shared ADC sum, rank and exact cosine rerank."""
    ctes = _pq_ctes(include_v=True)
    return f"""
    WITH {','.join(ctes)},
    ppd2 AS (
        SELECT d.query_id, k.vec_id, d.pd2
        FROM pcodes k JOIN pqdist d ON d.j = k.j AND d.cell = k.code),
    {_PQ_ADC_RERANK}
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


def _ivf_pq_topk(spark: SparkSession, emb: DataFrame, query_ids, residual: bool) -> DataFrame:
    """The shared body of :func:`ivf_pq_topk` and
    :func:`ivf_pq_residual_topk`: ``semantic.ivf_quantizer`` builds the
    inverted lists, ``semantic.probe_cells`` picks each query's
    ``IVF_NPROBE`` lists, :func:`pq_train` encodes the raw vectors or,
    with ``residual``, their offsets ``v − q1(v)`` from their cell's
    centroid (the query side then uses ``qv − centroid`` per probed
    cell), and the ADC sum runs over the probed lists' codes only: the
    per-(query, probed cell) distance tables join the codes on
    (cell, j, code)."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        ivf_quantizer,
        probe_cells,
        shortlist_scorer,
    )

    base = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v")).persist()
    n = base.count()
    centroids, assigned = ivf_quantizer(spark, base, n, shortlist_scorer(), False)
    cells = assigned.select("vec_id", "cell")
    probes = probe_cells(_query_rows(base, query_ids), centroids)
    if residual:

        def offset(v: str) -> F.Column:
            return F.zip_with(v, "cent", lambda x, c: x - c)

        encoded = (
            base.join(cells, "vec_id")
            .join(F.broadcast(centroids), "cell")
            .select("vec_id", offset("v").alias("v"))
            .persist()
        )
        probes = probes.select("query_id", "cell", offset("qv").alias("qv"))
    else:
        encoded = base
    codebooks, codes = pq_train(spark, encoded, n)
    qdist = _pq_distances(probes, codebooks, "cell")
    return _adc_top_k(
        codes.join(cells, "vec_id").join(F.broadcast(qdist), ["cell", "j", "code"]), base
    )


def ivf_pq_topk(spark: SparkSession, emb: DataFrame, query_ids) -> DataFrame:
    """IVF-PQ — the full billion-scale ANN architecture (Jégou et al.
    2011 §IV): a coarse quantizer restricts each query to
    ``semantic.IVF_NPROBE`` inverted lists (~nprobe/k of the corpus),
    and PRODUCT-QUANTIZED codes score those candidates by m table
    lookups apiece. The two compressions compose: at 100 TB the
    inverted lists are partition pruning (write the corpus partitioned
    by cell_id) and the codes are the in-memory scan — 8 bytes/vector
    of the probed lists, no raw-vector I/O until the final exact rerank
    of top_k ids.

    Both trainings are ``semantic.lloyds`` runs: the coarse quantizer
    is ``semantic.ivf_quantizer`` (the SemDeDup shortlist-Lloyd's
    build that ``knn_ivf_deterministic`` oracle-replays), the codebooks
    are :func:`pq_train`'s md5-threshold-sampled per-subspace k-means.
    Body: :func:`_ivf_pq_topk`."""
    return _ivf_pq_topk(spark, emb, query_ids, residual=False)


def ivf_pq_residual_topk(spark: SparkSession, emb: DataFrame, query_ids) -> DataFrame:
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
    build, one residual projection riding the encode scan) and the
    same per-(query, probed-cell) distance tables,
    queries·nprobe·m·k* ≈ tiny, broadcast. At 100 TB: inverted lists
    as partition pruning, 8-byte codes as the scan, residual
    geometry for free. Body: :func:`_ivf_pq_topk`."""
    return _ivf_pq_topk(spark, emb, query_ids, residual=True)


def _oracle_ivf_pq() -> str:
    """Composed replay: the shared shortlist-Lloyd's chain builds the
    coarse quantizer (identical to the knn_ivf_deterministic oracle —
    one generator, ``semantic._shortlist_lloyds_ctes``), the PQ chain
    builds codes and query distance tables over the same ``v``, the
    shared ``semantic._ivf_probes_sql`` picks each query's probed
    cells, and the ADC rows come only from codes inside them.
    Imported lazily: semantic.py imports this module at top level, and
    by the time this registration line executes the names semantic
    needs (``as_double_vec``/``dot``/``sq_dist``/``_N_QUERIES``/
    ``_TOP_K``) are already bound, so the one-way late import is
    cycle-safe in either import order."""
    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        IVF_ITERS,
        IVF_MIN_CELLS,
        SEM_NPROBE,
        _ivf_probes_sql,
        _shortlist_lloyds_ctes,
    )

    ctes = _shortlist_lloyds_ctes(IVF_MIN_CELLS, None, IVF_ITERS, SEM_NPROBE)
    ctes += _pq_ctes(include_v=False)
    return f"""
    WITH {','.join(ctes)},
    {_ivf_probes_sql('pq')},
    ppd2 AS (
        SELECT p.query_id, k.vec_id, d.pd2
        FROM pcodes k
        JOIN a{IVF_ITERS} cells ON cells.vec_id = k.vec_id
        JOIN iprobes p ON p.cell = cells.cell
        JOIN pqdist d ON d.j = k.j AND d.cell = k.code
                     AND d.query_id = p.query_id),
    {_PQ_ADC_RERANK}
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
    deterministic md5-threshold draw (``semantic.ivf_quantizer`` — the
    same corpus-size-independent trick as ``semantic_dedup_sampled``),
    so the corpus pays ONE shortlist assignment instead of
    ``IVF_ITERS``; ``None`` auto-enables it at
    ≥ ``semantic._IVF_SAMPLE_TRAIN_MIN`` docs (above the measured
    full-train 1M rung), and below the saturation threshold the sample
    IS the corpus so the two paths are bit-identical by construction.
    Coverage note: an anchor alone in its cell emits no triplet — the
    same honest approximate semantics as the band pools; at ≥1M docs
    cell population makes that vanishingly rare."""
    from pyspark import StorageLevel

    from data_lake_construction_and_querying_with_pyspark_spark.operators.semantic import (
        ivf_quantizer,
        shortlist_scorer,
    )

    e = with_norm(fan_out_small_scan(emb, "vec_id")).persist(StorageLevel.MEMORY_AND_DISK)
    pos = _positive_pairs(e, n_tables, n_planes, tau)

    base = e.select("vec_id", "v")
    _, assigned = ivf_quantizer(
        spark,
        base,
        base.count(),
        shortlist_scorer(broadcast_buckets=broadcast_buckets),
        train_on_sample,
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
