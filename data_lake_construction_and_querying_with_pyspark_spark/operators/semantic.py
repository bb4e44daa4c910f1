"""Semantic (embedding-space) corpus clustering and dedup.

SemDeDup-shaped pipeline (Abbas et al. 2023, arXiv:2303.09540): cluster
the embedding table with k-means, then mark within-cluster near
duplicates by exact cosine — the sub-quadratic alternative to global
all-pairs comparison (pairs are only scored inside a cluster, so the
pair count is Σ|cell|² with |cell| ≈ n/k, not n²; production picks
k ∝ n to bound cell size).

What makes this implementation oracle-checkable (unusual for k-means):
every step is DETERMINISTIC and cross-engine exact, so DuckDB can
replay the identical iterations and hash-match the result:

* Init: centroids are the ``k`` lowest ``vec_id`` vectors — no RNG.
* Assignment: argmin of ``⟨v,v⟩ − 2⟨v,c⟩ + ⟨c,c⟩`` where every dot
  product is the same sequential left fold in both engines (Spark
  ``F.aggregate``/``zip_with`` vs DuckDB ``list_dot_product`` —
  bit-identical, proven by the knn_brute_force oracle), with cell id as
  the tie-break — restricted to a COARSE-ANCHOR SHORTLIST
  (``shortlist_assign``: m = isqrt(k) anchors, nprobe = 3) that the
  oracle replays step-for-step, so the approximation itself is
  deterministic and hash-checked.
* Update: per-(cell, position) means go through
  ``CAST(val AS DECIMAL(28,18))`` before ``SUM`` — decimal addition is
  exact and associative, so partial-aggregation order (Spark partitions
  vs DuckDB morsels) cannot change the centroid; one cast back to
  DOUBLE and one division are each correctly rounded. This is the
  registry's money-sum determinism contract applied to vector means.
* Fixed iteration count (no convergence test → no float compare).

Scale notes (100 TB): the per-iteration plan is the canonical
distributed Lloyd's step — corpus × broadcast(k centroids) for
assignment (map-side, no shuffle), then one aggregation keyed by
(cell, position) for the update (k·dim groups — tiny). The long-format
(cell, pos, val) centroid update is what keeps the reduction exact AND
partial: decimal partial sums combine map-side before the exchange.
The argmin here uses a row_number window (mirrors the oracle 1:1); on
a real cluster swap it for ``min_by(struct(cell), struct(d2, cell))``
in the same groupBy — identical semantics, but the argmin reduces
map-side instead of shuffling n·k scored rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_construction_and_querying_with_pyspark_spark.registry import register
from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

K_CELLS = 8  # minimum cluster count (floor of the derived k)
TARGET_CELL = 64  # target vectors per cell; k grows ∝ n above the floor
N_ITERS = 3  # fixed Lloyd's iterations (determinism: no convergence test)
TAU = 0.4  # within-cluster cosine threshold (fixture has no natural 0.9+ pairs)
SEM_NPROBE = 3  # coarse anchors probed per vector (docs/SCALING.md: best planted-pair recovery per cost at the 100k rung)
IVF_MIN_CELLS = 16  # floor of the derived IVF cell count
IVF_ITERS = 2  # Lloyd's iterations for the coarse quantizer
IVF_NPROBE = 2  # cells probed per query
# Above this, ivf_quantizer(train_on_sample=None) trains on the
# md5-threshold sample instead of the full corpus (the
# semantic_dedup_sampled move): the 1M rung is measured full-trained,
# everything larger pays one corpus assignment instead of IVF_ITERS.
_IVF_SAMPLE_TRAIN_MIN = 2_000_000


def derive_k(n: int, k_floor: int = K_CELLS) -> int:
    """k ∝ n with a floor: ``max(k_floor, n // TARGET_CELL)`` (the IVF
    quantizers pass ``IVF_MIN_CELLS``). Keeping
    cell size bounded at ~TARGET_CELL is what holds the within-cluster
    pair stage at Σ|cell|² ≈ n·TARGET_CELL — linear in n — instead of
    the n²/k degradation a fixed k suffers at 100× data. The oracle
    computes the identical expression in SQL (``GREATEST``/``//`` are
    floor semantics in both engines for positive operands), so the
    registered query and its oracle always agree on k at any SF."""
    return max(k_floor, n // TARGET_CELL)


def coarse_m(k: int) -> int:
    """Anchor count for the shortlist assignment: ``max(1, isqrt(k))``.
    √k anchors balance the two stages — probing costs n·m·d, shortlist
    scoring n·nprobe·(k/m)·d, so m = √k minimizes their sum at
    ~2·nprobe·√k·d per vector vs the flat assignment's k·d. Exact
    INTEGER sqrt (``math.isqrt``), replayed in SQL as
    ``MAX(i) WHERE i*i <= k`` — never ``FLOOR(SQRT(k))``, whose double
    rounding could disagree off-by-one at perfect squares. The SQL
    replay enumerates ``range(1, 4096)``, capping its answer at 4095;
    assert rather than silently diverge if a derived k ever reaches
    4095² (~16.8M cells ⇒ n > ~1e9 docs — raise the oracle's range
    bound alongside this guard)."""
    assert k < 4095**2, (
        f"coarse_m(k={k}): the DuckDB oracle's isqrt replay enumerates "
        "range(1, 4096) and would cap at 4095 — raise the range bound in "
        "_shortlist_lloyds_ctes before clustering at this k"
    )
    return max(1, math.isqrt(k))


def _d2_sql(v: str, c: str) -> str:
    """Squared euclidean distance via three dot products — the exact
    arithmetic shape both engines evaluate identically:
    ``(a - 2*b) + c`` with left-associative parsing."""
    return (
        f"list_dot_product({v},{v}) - 2*list_dot_product({v},{c})"
        f" + list_dot_product({c},{c})"
    )


def _shortlist_lloyds_ctes(
    k_floor: int,
    k: int | None,
    iters: int,
    nprobe: int,
    sample_per_cell: int | None = None,
) -> list[str]:
    """The shortlist-Lloyd's CTE chain shared by the SemDeDup oracle
    and the IVF oracle (single-sourced: both engines' quantizer builds
    are one construction, so their replays are one generator).

    ``k=None`` derives k in SQL (``GREATEST(k_floor, COUNT(*) //
    TARGET_CELL)``) and m as the exact integer sqrt of that k; explicit
    k inlines both as literals. Emits kk/mm/v/c0 then per iteration
    an{t} (anchors) / ca{t} (centroid buckets) / pr{t} (vector probes)
    / a{t} (restricted argmin) and, between iterations, the
    decimal-exact update c{t}. All MATERIALIZED: DuckDB inlines plain
    CTEs at every reference, and the shortlist chain references c{t-1}
    and an{t} multiply per iteration — inlining re-expands the whole
    Lloyd's prefix ~4× per iteration (measured ~200 s vs 0.7 s at
    sf0.1). Values are unaffected — only evaluation count.

    ``sample_per_cell`` switches to the SAMPLE-TRAINED replay
    (``semantic_dedup_sampled``): iterations 1..iters-1 probe and
    argmin over the md5-threshold sample ``s`` (the same
    fixed-point-free threshold the Spark builder computes —
    ``substr(md5('semsample:' || vec_id), 1, 4) < printf('%04x', thr)``
    with ``thr = LEAST(65536, target·65536 // n)``; fixed-width
    lowercase hex compares exactly as its numeric value in both
    engines, the splits.py portability trick), while the FINAL
    iteration assigns the full corpus ``v``. Seeds stay the k lowest
    vec_ids of the FULL corpus in both modes."""
    if k is not None:
        limit, m_expr = str(k), str(coarse_m(k))
    else:
        limit = "(SELECT k FROM kk)"
        m_expr = "(SELECT m FROM mm)"
    ctes = [
        f"kk AS (SELECT GREATEST({k_floor}, COUNT(*) // {TARGET_CELL}) AS k FROM embeddings)",
        "mm AS (SELECT GREATEST(1, (SELECT MAX(i) FROM range(1, 4096) t(i)"
        " WHERE i*i <= (SELECT k FROM kk))) AS m)",
        "v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cent
        FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT {limit}))""",
    ]
    if sample_per_cell is not None:
        ctes += [
            "nn AS (SELECT COUNT(*) AS n FROM v)",
            f"""tt AS (SELECT LEAST((SELECT n FROM nn),
                GREATEST((SELECT k FROM kk),
                         {sample_per_cell} * (SELECT k FROM kk))) AS target)""",
            """th AS (SELECT LEAST(65536,
                ((SELECT target FROM tt) * 65536) // (SELECT n FROM nn)) AS thr)""",
            """s AS MATERIALIZED (
            SELECT vec_id, v FROM v
            WHERE (SELECT thr FROM th) >= 65536
               OR substr(md5('semsample:' || CAST(vec_id AS VARCHAR)), 1, 4)
                  < printf('%04x', (SELECT thr FROM th)))""",
        ]
    for t in range(1, iters + 1):
        # Sample-trained mode probes/argmins the sample for the
        # training iterations and the full corpus for the final one.
        src = "s" if (sample_per_cell is not None and t < iters) else "v"
        ctes.append(
            f"""an{t} AS MATERIALIZED (
            SELECT cell AS acell, cent AS acent FROM (
                SELECT cell, cent, ROW_NUMBER() OVER (ORDER BY cell) AS ar
                FROM c{t - 1}) WHERE ar <= {m_expr})"""
        )
        ctes.append(
            f"""ca{t} AS MATERIALIZED (
            SELECT cell, cent, acell FROM (
                SELECT c.cell, c.cent, a.acell,
                       ROW_NUMBER() OVER (PARTITION BY c.cell
                           ORDER BY {_d2_sql('c.cent', 'a.acent')}, a.acell) AS rn
                FROM c{t - 1} c, an{t} a) WHERE rn = 1)"""
        )
        ctes.append(
            f"""pr{t} AS MATERIALIZED (
            SELECT vec_id, acell FROM (
                SELECT q.vec_id, a.acell,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY {_d2_sql('q.v', 'a.acent')}, a.acell) AS rn
                FROM {src} q, an{t} a) WHERE rn <= {nprobe})"""
        )
        ctes.append(
            f"""a{t} AS MATERIALIZED (
            SELECT vec_id, v, cell FROM (
                SELECT q.vec_id, q.v, b.cell,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY {_d2_sql('q.v', 'b.cent')}, b.cell) AS rn
                FROM {src} q JOIN pr{t} p ON p.vec_id = q.vec_id
                         JOIN ca{t} b ON b.acell = p.acell) WHERE rn = 1)"""
        )
        if t < iters:
            ctes.append(
                f"""c{t} AS MATERIALIZED (
                SELECT cell, list(m ORDER BY pos) AS cent FROM (
                    SELECT cell, pos,
                           CAST(SUM(CAST(val AS DECIMAL(28,18))) AS DOUBLE) / COUNT(*) AS m
                    FROM (SELECT cell, generate_subscripts(v,1) AS pos, unnest(v) AS val
                          FROM a{t})
                    GROUP BY cell, pos) GROUP BY cell)"""
            )
    return ctes


def _ivf_probes_sql(q: str) -> str:
    """SQL replay of :func:`probe_cells`: the ``iprobes`` CTE of
    (query_id, cell), each (query_id, qv) row of CTE ``q`` with its
    ``IVF_NPROBE`` nearest cells of the final IVF centroid table
    ``c{IVF_ITERS - 1}``, ordered by (d2, cell)."""
    return f"""iprobes AS MATERIALIZED (
        SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY {_d2_sql('q.qv', 'c.cent')}, c.cell) AS crn
            FROM {q} q, c{IVF_ITERS - 1} c) WHERE crn <= {IVF_NPROBE})"""


# Imported HERE, not at the top of the file: similarity.py's module
# body registers knn_pq_adc and knn_ivf_pq with oracles built from THIS
# module's quantizer contract (_d2_sql / IVF_ITERS / IVF_MIN_CELLS /
# SEM_NPROBE / _shortlist_lloyds_ctes / _ivf_probes_sql). Placing the
# similarity import after those definitions makes the circular import
# safe in EITHER entry order — importing semantic first used to die at
# similarity.py's registration line because this module had only
# executed its header (the r7 test_semantic*-standalone failure; the
# full suite passed by import-order luck via all_queries()).
from data_lake_construction_and_querying_with_pyspark_spark.operators.similarity import (  # noqa: E402
    _N_QUERIES,
    _TOP_K,
    as_double_vec,
    dot,
    sq_dist,
)


def _oracle_semantic(
    k: int | None = None,
    iters: int = N_ITERS,
    tau: float = TAU,
    nprobe: int = SEM_NPROBE,
    sample_per_cell: int | None = None,
) -> str:
    """Chained-CTE replay of the deterministic Lloyd's iterations with
    the COARSE-ANCHOR SHORTLIST assignment (the path the Spark builder
    runs — replaying flat all-k scoring against a shortlist builder
    would hash-diverge the moment a shortlist misses a true argmin, so
    the oracle reproduces the shortlist itself: anchors, centroid
    buckets, per-vector probes, and the restricted argmin, every step
    the same d2 expression and tie-break as the builder).

    ``k=None`` (the registered default) derives k from the corpus size
    inside the SQL itself — ``GREATEST(K_CELLS, COUNT(*) // TARGET_CELL)``
    as a scalar-subquery LIMIT — and m as the exact integer sqrt of
    that k (``MAX(i) WHERE i*i <= k``), so the oracle tracks
    ``derive_k``/``coarse_m`` at every scale factor without
    regeneration.

    ``sample_per_cell`` replays the SAMPLE-TRAINED variant
    (``semantic_dedup_sampled``) instead: training iterations run over
    the md5-threshold sample, the final assignment over the full
    corpus — see ``_shortlist_lloyds_ctes``."""
    ctes = _shortlist_lloyds_ctes(K_CELLS, k, iters, nprobe, sample_per_cell)
    final = f"a{iters}"
    return f"""
    WITH {','.join(ctes)},
    nm AS (SELECT vec_id, v, cell,
                  sqrt(list_dot_product(v, v)) AS norm FROM {final}),
    dups AS (
        SELECT DISTINCT i.vec_id
        FROM nm i JOIN nm j
          ON i.cell = j.cell AND j.vec_id < i.vec_id
         AND list_dot_product(i.v, j.v) / (i.norm * j.norm) >= {tau})
    SELECT n.vec_id, CAST(n.cell AS INT) AS cell_id,
           (d.vec_id IS NOT NULL) AS is_semantic_dup
    FROM nm n LEFT JOIN dups d ON n.vec_id = d.vec_id
    """


def _with_vsq(base: DataFrame) -> DataFrame:
    """Attach the per-vector squared norm ``vsq = ⟨v,v⟩`` once (r11
    optimization, guide §1.2 "per-task work"): every d2 the assignment
    evaluates needs ⟨v,v⟩, and the sequential fold it comes from is the
    dominant per-row cost of the whole Lloyd's step (the
    ``aggregate``/``zip_with`` fold is interpreted, ~6 µs per 64-dim
    evaluation — measured in OPTIMIZATION_r11.md). Computing it per
    (vector, anchor) and per (vector, shortlisted centroid) triples the
    fold count; computing it once per vector and reusing the COLUMN is
    bit-identical (the reused value IS the fold's value) and ~3×
    cheaper. No-op when the caller already carries ``vsq``."""
    return base if "vsq" in base.columns else base.withColumn("vsq", dot("v", "v"))


def kmeans_assign(base: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd's assignment: nearest centroid per vector (cell-id
    tie-break). ``centroids`` is k rows → broadcast. The argmin is a
    ``min_by`` over struct(d2, cell) — lexicographic struct ordering is
    exactly the oracle's ``ORDER BY d2, cell`` with ``rn = 1``, but as
    an aggregation it collapses the k scored copies of each vector
    map-side (the cross join never repartitions, so all k live in one
    partition) and only n rows reach the exchange — the 100 TB shape,
    vs a window that would shuffle all n·k scored rows.

    d2 reuses precomputed squared norms (``vsq`` per vector, ``csq``
    per centroid — k folds once, not k folds per vector): identical
    arithmetic, one fold per (vector, centroid) instead of three."""
    base = _with_vsq(base)
    cents = centroids.withColumn("csq", dot("cent", "cent"))
    d2 = (F.col("vsq") - F.lit(2) * dot("v", "cent") + F.col("csq")).alias("d2")
    best = F.min_by(F.struct("cell", "v", "vsq"), F.struct("d2", "cell")).alias("b")
    return (
        base.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "vsq", "cell", d2)
        .groupBy("vec_id")
        .agg(best)
        .select(
            "vec_id",
            F.col("b.v").alias("v"),
            F.col("b.cell").alias("cell"),
            F.col("b.vsq").alias("vsq"),
        )
    )


def _d2_pre(vsq, v, cent, csq) -> F.Column:
    """``similarity.sq_dist`` with both squared norms precomputed: the
    identical left-associative ``(vsq − 2⟨v,c⟩) + csq`` where
    ``vsq``/``csq`` are columns holding exactly the values the inline
    folds would produce — one fold per evaluation instead of three,
    same bits (a reused column value is the fold's value; IEEE ops on
    identical operands in the identical order round identically)."""
    return vsq - F.lit(2) * dot(v, cent) + csq


SHUFFLED_ASSIGN_SALT = 32  # salt fan-out for the shuffled acell join (replicates only the k-row centroid side)

# Driver-side anchor bucketing engages while k·m·dim stays under this
# op budget (pure-Python sequential folds, ~0.5 s at the cap; sf-scale
# corpora are ~10⁴ ops, the 100k rung ~4M). Above it the distributed
# bucketing subtree runs unchanged.
_DRIVER_BUCKET_OPS = 2_000_000

# Single-collect seed selection while k stays driver-trivial with
# vectors attached (~2 MB at dim 64); the two-pass id-then-filter shape
# handles everything larger (see _seed_centroids).
_SEED_COLLECT_GATE_K = 4096


def _seq_dot(a: list[float], b: list[float]) -> float:
    """Python replay of :func:`similarity.dot`'s sequential left fold —
    ``acc = (…((0.0 + a₀b₀) + a₁b₁)…)``. Python floats are IEEE
    doubles and each ``*``/``+`` is one correctly-rounded op, so the
    result is BIT-IDENTICAL to the interpreted Spark fold on the same
    values (the PageRank driver gate's argument; pinned by
    tests/test_semantic.py's gate-equality test)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _driver_anchor_buckets(rows: list, m: int):
    """Anchors and centroid→anchor bucketing computed on the DRIVER
    from the materialized centroid rows (r12; guide §1.2/§5 —
    vocabulary-sized state). Returns (aarr_rows, bucketed_rows) where
    aarr_rows = [(acell, acent, asq)] sorted by acell (the collect_list
    + array_sort the distributed subtree produced) and bucketed_rows =
    [(cell, cent, csq, acell)] replicating
    ``anchor_scores(cent, csq)[0]['acell']`` — the lexicographic
    (d2, acell) argmin with d2 = (csq − 2·⟨c,a⟩) + asq, every dot the
    same sequential fold (:func:`_seq_dot`), every add/sub in the same
    order. Spark's struct ordering and Python tuple comparison agree on
    doubles here (both treat -0.0 == 0.0; no NaNs can arise from finite
    embeddings), so the argmin ties break identically."""
    by_cell = sorted(rows, key=lambda r: r[0])
    anchors = [
        (int(cell), list(cent), _seq_dot(cent, cent)) for cell, cent in by_cell[:m]
    ]
    bucketed = []
    for cell, cent in rows:
        csq = _seq_dot(cent, cent)
        best = min(
            ((csq - 2 * _seq_dot(cent, acent)) + asq, acell)
            for acell, acent, asq in anchors
        )
        bucketed.append((int(cell), list(cent), csq, best[1]))
    return anchors, bucketed


def _anchor_array_literal(anchors: list) -> F.Column:
    """The broadcast anchor array as a LITERAL column — the exact
    (acell, acent, asq) structs ``aarr`` held, so the per-vector probe
    projection needs no crossJoin, no broadcast exchange, and no
    collect_list job. m·(dim+2) literal nodes — driver-gate-bounded."""
    return F.array(
        *[
            F.struct(
                F.lit(acell).alias("acell"),
                F.array(*[F.lit(x) for x in acent]).alias("acent"),
                F.lit(asq).alias("asq"),
            )
            for acell, acent, asq in anchors
        ]
    )


def shortlist_assign(
    base: DataFrame,
    centroids: DataFrame,
    m: int,
    nprobe: int = SEM_NPROBE,
    broadcast_buckets: bool = True,
) -> DataFrame:
    """One Lloyd's assignment through a COARSE-ANCHOR SHORTLIST — the
    100 TB replacement for flat all-k scoring (VERDICT r3 directive #2:
    flat assignment is O(n·k·d), ≈1.3·10¹¹ multiplies/iteration at the
    1M rung with k ∝ n; this is O(n·(m + nprobe·k/m)·d) ≈ 2·nprobe·√k·d
    per vector — ~30× fewer at k=15 625).

    Anchors are the m smallest surviving cell ids of the CURRENT
    centroid table (deterministic, no RNG); every centroid is bucketed
    under its nearest anchor (tie-break acell — k·m fold work, one tiny
    JVM projection); every vector probes its nprobe nearest anchors and
    argmins only over the centroids in those buckets (tie-break cell).
    Every anchor buckets itself (d2=0), so no probed bucket is empty
    and the shortlist is never empty. The assignment is APPROXIMATE —
    a vector's true nearest centroid can hide in an unprobed bucket —
    but deterministically so: the oracle replays anchors, buckets,
    probes, and the restricted argmin exactly (``_oracle_semantic``),
    and docs/SCALING.md measures assignment agreement vs flat.

    Plan shape (the point): the anchor table rides along as ONE
    broadcast row holding an array of (acell, acent) structs — probes
    are a pure projection (transform → array_sort → slice → explode),
    zero shuffle, no n·m window; the shortlist scoring is a broadcast
    equi-join on acell (k rows) and the argmin is the same map-side
    ``min_by`` collapse as flat assignment, so the only exchange in the
    whole step still carries exactly n rows.

    ``broadcast_buckets=False`` swaps the bucketed-centroid broadcast
    for a shuffled equi-join on acell — the escape hatch for k large
    enough that k×dim doubles strains the broadcast budget (VERDICT r4
    finding #3: ~80 MB at a 10M-doc rung's k=156 250). The shuffled
    form re-partitions probed (n·nprobe skinny rows) and bucketed (k
    rows) on acell; the min_by argmin then combines map-side partials
    per vec_id, so the final exchange carries ≤ n·nprobe partial rows
    instead of the broadcast form's exactly-n — bounded either way.
    Values are identical: the join key and the d2/tie-break arithmetic
    do not depend on the join strategy.

    The shuffled join is SALTED (r7, measured at the 10M rung): acell
    has only m ≈ √k distinct values, and per-key join OUTPUT is
    (probes in acell) × (centroids in acell) — quadratic in anchor
    popularity, invisible to AQE's skew split (which triggers on input
    partition BYTES; the skinny probed inputs sit under the 256 MB
    threshold while two hot anchors pinned the stage for ~70 task-
    minutes each with 30 cores idle). The classic recipe from
    ``operators/joins.py::join_salted``: probes carry
    ``pmod(hash(vec_id), S)``, the k-row centroid side replicates ×S
    (~80 MB × S of cheap shuffle), the join key becomes (acell, salt),
    and every hot anchor's work splits S ways. The per-vec_id min_by
    runs AFTER the join, so the candidate set — and therefore every
    value and the DuckDB oracle — is untouched by the salt."""
    base = _with_vsq(base)
    # r11: squared norms ride the anchor structs (asq, m folds once) and
    # the bucketed-centroid table (csq, k folds once) so every d2 below
    # — n·m anchor probes plus n·nprobe·(k/m) shortlist scores — costs
    # ONE fold instead of three. Values are bit-identical (_d2_pre).

    def anchor_scores(aarr_expr, v, vsq) -> F.Column:
        # sorted (d2, acell) structs — lexicographic struct ordering IS
        # the oracle's ORDER BY d2, acell
        return F.array_sort(
            F.transform(
                aarr_expr,
                lambda a: F.struct(
                    _d2_pre(vsq, v, a["acent"], a["asq"]).alias("d2"),
                    a["acell"].alias("acell"),
                ),
            )
        )

    # r12 (guide §1.2/§5): `centroids` is driver state between
    # iterations (_materialize_centroids), so the anchor table and the
    # centroid→anchor bucketing — pure functions of it — are computed
    # on the DRIVER while k·m·dim fits the op budget: the anchor array
    # becomes a literal in the probe projection (no crossJoin, no
    # broadcast exchange, no collect_list job) and the bucketed table a
    # local relation whose broadcast build runs without a job. Plan
    # effect at sf0.1: ~2 jobs + 2 broadcast subtrees fewer per Lloyd's
    # iteration; values bit-identical (_driver_anchor_buckets) and
    # pinned by the gate-equality test. Centroid tables without
    # materialized rows (or above the budget) keep the r11 distributed
    # subtree unchanged.
    rows = getattr(centroids, "_centroid_rows", None)
    dim = len(rows[0][1]) if rows else 0
    if rows is not None and len(rows) * max(m, 1) * max(dim, 1) <= _DRIVER_BUCKET_OPS:
        anchor_rows, bucketed_rows = _driver_anchor_buckets(rows, m)
        aarr_expr = _anchor_array_literal(anchor_rows)
        bucketed = centroids.sparkSession.createDataFrame(
            bucketed_rows, "cell int, cent array<double>, csq double, acell int"
        )
        probed = (
            base.select(
                "vec_id",
                "v",
                "vsq",
                F.explode(
                    F.slice(anchor_scores(aarr_expr, F.col("v"), F.col("vsq")), 1, nprobe)
                ).alias("p"),
            )
            .select("vec_id", "v", "vsq", F.col("p.acell").alias("acell"))
        )
    else:
        anchors = (
            centroids.orderBy("cell")
            .limit(m)
            .select(
                F.col("cell").alias("acell"),
                F.col("cent").alias("acent"),
                dot("cent", "cent").alias("asq"),
            )
        )
        aarr = anchors.agg(
            F.array_sort(F.collect_list(F.struct("acell", "acent", "asq"))).alias("aarr")
        )
        bucketed = (
            centroids.withColumn("csq", dot("cent", "cent"))
            .crossJoin(F.broadcast(aarr))
            .select(
                "cell",
                "cent",
                "csq",
                anchor_scores(F.col("aarr"), F.col("cent"), F.col("csq"))[0]["acell"].alias("acell"),
            )
        )
        probed = (
            base.crossJoin(F.broadcast(aarr))
            .select(
                "vec_id",
                "v",
                "vsq",
                F.explode(
                    F.slice(anchor_scores(F.col("aarr"), F.col("v"), F.col("vsq")), 1, nprobe)
                ).alias("p"),
            )
            .select("vec_id", "v", "vsq", F.col("p.acell").alias("acell"))
        )
    best = F.min_by(F.struct("cell", "v", "vsq"), F.struct("d2", "cell")).alias("b")
    if broadcast_buckets:
        joined = probed.join(F.broadcast(bucketed), "acell")
    else:
        s = SHUFFLED_ASSIGN_SALT
        probed_s = probed.withColumn("salt", F.pmod(F.hash("vec_id"), F.lit(s)))
        bucketed_s = bucketed.withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(s)]))
        )
        joined = probed_s.join(bucketed_s, ["acell", "salt"])
    return (
        joined
        .select(
            "vec_id",
            "v",
            "vsq",
            "cell",
            _d2_pre(F.col("vsq"), F.col("v"), F.col("cent"), F.col("csq")).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(best)
        .select(
            "vec_id",
            F.col("b.v").alias("v"),
            F.col("b.cell").alias("cell"),
            F.col("b.vsq").alias("vsq"),
        )
    )


def kmeans_update(assigned: DataFrame, dim: int | None = None) -> DataFrame:
    """Exact centroid update: per-(cell, position) decimal mean,
    reassembled into an ordered array. k·dim groups — tiny.

    With ``dim`` known (r12 — it always is when centroids are driver
    state; see ``_centroid_dim``) the update is ONE wide aggregation:
    64 per-position ``SUM(CAST(v[i] AS DECIMAL(28,18)))`` columns in a
    single ``groupBy(cell)`` — one exchange instead of the long-format
    posexplode's two ((cell,pos) then (cell)), no 64×n exploded rows,
    and the partials still combine map-side. Values are identical:
    the same decimal addends per (cell, position) — decimal addition
    is exact and order-independent — the same single count per cell,
    and the same cast-to-double division; only the grouping layout
    changes. ``dim=None`` keeps the long format (callers without
    driver-resident centroid state)."""
    if dim:
        n = F.count(F.lit(1))
        means = [
            (F.sum(F.element_at("v", i + 1).cast("decimal(28,18)")).cast("double") / n).alias(
                f"_m{i}"
            )
            for i in range(dim)
        ]
        return (
            assigned.groupBy("cell")
            .agg(*means)
            .select("cell", F.array(*[F.col(f"_m{i}") for i in range(dim)]).alias("cent"))
        )
    long = assigned.select("cell", F.posexplode("v").alias("pos", "val"))
    means = long.groupBy("cell", "pos").agg(
        (F.sum(F.col("val").cast("decimal(28,18)")).cast("double") / F.count(F.lit(1))).alias("m")
    )
    return means.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cent")
    )


def _centroid_dim(centroids: DataFrame) -> int | None:
    """Vector dimensionality from driver-resident centroid rows
    (zero Spark work); None when the frame has no materialized rows."""
    rows = getattr(centroids, "_centroid_rows", None)
    return len(rows[0][1]) if rows else None


def _materialize_centroids(spark: SparkSession, centroids: DataFrame) -> DataFrame:
    """Collect the k×dim centroid table to the driver and rebuild it as
    a literal DataFrame. This is the real distributed-k-means shape —
    centroids are driver state between iterations (k·dim values, ~KB),
    so iteration t+1's plan starts from literals instead of re-deriving
    every prior iteration inside its broadcast subtree (which turns a
    3-pass algorithm into a 6-pass plan). Python floats round-trip
    doubles exactly, so materialization cannot perturb determinism."""
    rows = centroids.collect()
    data = [(int(r["cell"]), [float(x) for x in r["cent"]]) for r in rows]
    out = spark.createDataFrame(data, "cell int, cent array<double>")
    # r12: keep the collected values WITH the frame — shortlist_assign
    # derives its anchor table and centroid bucketing from them on the
    # driver (pure functions of this k·dim state; see
    # _driver_anchor_buckets) instead of re-aggregating the local
    # relation on executors every iteration.
    out._centroid_rows = data
    return out


def semantic_dedup(
    spark: SparkSession,
    emb: DataFrame,
    k: int = K_CELLS,
    iters: int = N_ITERS,
    tau: float = TAU,
    nprobe: int = SEM_NPROBE,
    flat_assign: bool = False,
) -> DataFrame:
    """Parameterized SemDeDup core over an ``(vec_id, embedding)``
    frame. Production picks ``k ∝ n`` so cluster size — and with it the
    Σ|cell|² pair bound — stays constant as the corpus grows; the
    registered query derives that k from the corpus and its oracle
    computes the identical k in SQL.

    Assignment goes through the coarse-anchor shortlist
    (``shortlist_assign``, m = isqrt(k) anchors, nprobe probes) — the
    path that survives k ∝ n at the 1M rung where flat Lloyd's is
    O(n·k·d). ``flat_assign=True`` keeps the all-k scorer available as
    the agreement baseline docs/SCALING.md measures the shortlist
    against (and for micro-corpora where k ≈ m anyway)."""
    # Session-owned persist (repo convention — callers clearCache):
    # `base` feeds every iteration's assignment. Seed-centroid details
    # (constant non-foldable window key, driver materialization):
    # _seed_centroids. vsq is persisted WITH the vectors so its fold
    # runs once per vector total, not once per iteration (_with_vsq).
    base = _with_vsq(
        emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    ).persist()
    assign = (
        (lambda frame, centroids, m, step: kmeans_assign(frame, centroids))
        if flat_assign
        else shortlist_scorer(nprobe)
    )
    _, assigned = lloyds(spark, base, k, iters, assign)
    return mark_within_cell_dups(assigned, tau)


def mark_within_cell_dups(assigned: DataFrame, tau: float) -> DataFrame:
    """SemDeDup's pair stage over a final assignment (vec_id, v, cell):
    exact cosine inside each cell only (candidates bounded by Σ|cell|²,
    clusters independent → per-cell parallelism, no cross-cell data
    movement), emitting (vec_id, cell_id, is_semantic_dup) where a
    vector is a dup iff a LOWER-id cell-mate has cosine ≥ tau.

    ``norm`` reuses the assignment's precomputed ``vsq`` when the frame
    carries it — ``sqrt(vsq)`` is bit-identical to ``sqrt(⟨v,v⟩)``
    (same fold value, same correctly-rounded sqrt) and saves one
    64-element fold per vector."""
    normsq = F.col("vsq") if "vsq" in assigned.columns else dot("v", "v")
    nm = assigned.withColumn("norm", F.sqrt(normsq)).persist()
    i, j = nm.alias("i"), nm.alias("j")
    cosine = dot("i.v", "j.v") / (F.col("i.norm") * F.col("j.norm"))
    dups = (
        i.join(
            j,
            (F.col("i.cell") == F.col("j.cell")) & (F.col("j.vec_id") < F.col("i.vec_id")),
        )
        .filter(cosine >= tau)
        .select(F.col("i.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        nm.alias("n")
        .join(dups.alias("d"), F.col("n.vec_id") == F.col("d.vec_id"), "left")
        .select(
            F.col("n.vec_id").alias("vec_id"),
            F.col("n.cell").cast("int").alias("cell_id"),
            F.col("d.vec_id").isNotNull().alias("is_semantic_dup"),
        )
    )


SAMPLE_PER_CELL = 8  # training vectors per centroid in the sample-trained path
_BROADCAST_BUCKET_BYTES_CAP = 64 * 1024 * 1024  # auto-shuffle above 64 MB of centroids


def _seed_centroids(spark: SparkSession, base: DataFrame, k: int) -> DataFrame:
    """Deterministic seed centroid table: the k lowest-vec_id vectors,
    numbered 0..k-1, materialized to driver literals (the shortlist
    reads the centroid table from three places; as a live subtree the
    k-row LIMIT sort would re-execute per reference). The constant
    non-foldable partition key keeps the k-row window warning-free —
    see semantic_dedup for the full rationale.

    Selection is two-pass so the sort-limit only ever touches 8-byte
    ids, never vectors: ``orderBy(v).limit(k)`` over WIDE rows is a
    TakeOrderedAndProject whose single merge task holds k rows from
    EVERY partition — at the 100M rung's k=1 562 500 that is 71×813 MB
    of 64-dim arrays in one task, a measured driver OOM (r8). The id
    pass finds the exact k-th smallest vec_id (ids are unique), the
    wide pass is a plain filter; selected rows and numbering are
    value-identical to the one-pass form, so every oracle is
    untouched.

    r12 driver gate: when k is small enough that the TakeOrdered merge
    holds only driver-trivial state even with vectors attached
    (k ≤ 4096 — ~2 MB of 64-dim doubles per contributing partition),
    ONE wide ``orderBy(vec_id).limit(k)`` collect replaces the two-pass
    chain's two jobs (cutoff action + windowed collect). Selected rows
    and the 0..k-1 numbering are identical by construction: both forms
    pick the k lowest unique vec_ids and number them in ascending
    vec_id order; the collected doubles round-trip exactly. The
    two-pass path stays for large k (the r8 OOM regime)."""
    if k <= _SEED_COLLECT_GATE_K:
        seed_rows = base.select("vec_id", "v").orderBy("vec_id").limit(k).collect()
        seed_rows.sort(key=lambda r: r["vec_id"])
        data = [(i, [float(x) for x in r["v"]]) for i, r in enumerate(seed_rows)]
        out = spark.createDataFrame(data, "cell int, cent array<double>")
        out._centroid_rows = data
        return out
    id_topk = base.select("vec_id").orderBy("vec_id").limit(k)
    cutoff_row = id_topk.agg(F.max("vec_id").alias("c")).first()
    cutoff = cutoff_row["c"] if cutoff_row else None
    seeds = base.filter(F.col("vec_id") <= F.lit(cutoff)) if cutoff is not None else base.limit(0)
    init_w = Window.partitionBy(
        F.substring(F.col("vec_id").cast("string"), 1, 0)
    ).orderBy("vec_id")
    centroids = seeds.select(
        (F.row_number().over(init_w) - 1).cast("int").alias("cell"),
        F.col("v").alias("cent"),
    )
    return _materialize_centroids(spark, centroids)


def lloyds(
    spark: SparkSession,
    base: DataFrame,
    k: int,
    iters: int,
    assign,
    train: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The one deterministic Lloyd's trainer behind every k-means in
    the embedding operators: seed with :func:`_seed_centroids` (the k
    lowest vec_ids of ``base``), run ``iters − 1`` rounds of assign
    ``train`` (default ``base``) → decimal-exact :func:`kmeans_update`
    → :func:`_materialize_centroids`, then assign ``base`` once with the
    trained table. Returns ``(centroids, assigned)``, where
    ``centroids`` is the table that produced the final assignment
    (IVF probes must score against the cells the corpus was put in).

    ``assign(frame, centroids, m, step)`` is the scorer — the fold
    shortlist (:func:`shortlist_scorer`), flat :func:`kmeans_assign`,
    or a vectorized twin; ``m = coarse_m(k)`` and ``step`` counts
    0 … iters − 1 (the final full assignment is ``iters − 1``). With
    ``train`` = ``base`` this is exactly "assign, and update while
    t < iters" — the sequence the DuckDB replays
    (``_shortlist_lloyds_ctes``) step through."""
    train = base if train is None else train
    centroids = _seed_centroids(spark, base, k)
    m = coarse_m(k)
    for step in range(iters - 1):
        assigned = assign(train, centroids, m, step)
        centroids = _materialize_centroids(
            spark, kmeans_update(assigned, dim=_centroid_dim(centroids))
        )
    return centroids, assign(base, centroids, m, iters - 1)


def shortlist_scorer(nprobe: int = SEM_NPROBE, broadcast_buckets: bool = True):
    """:func:`shortlist_assign` as a :func:`lloyds` scorer."""

    def assign(frame, centroids, m, step):
        return shortlist_assign(frame, centroids, m, nprobe, broadcast_buckets)

    return assign


def training_sample(
    base: DataFrame,
    n: int,
    k: int,
    sample_per_cell: int = SAMPLE_PER_CELL,
    salt: str = "semsample:",
) -> DataFrame:
    """The deterministic ~``sample_per_cell·k``-vector training draw
    shared by :func:`semantic_dedup_sampled`, the sampled IVF
    quantizer (:func:`ivf_quantizer`) and the PQ codebooks
    (``similarity.pq_train``, ``salt="pqsample:"``):
    keep vec_id iff ``substr(md5(salt || vec_id), 1, 4) <
    thr_hex`` with ``thr = min(65536, target·65536 // n)`` — RNG-free,
    partitioning-independent, cross-engine replayable (fixed-width
    lowercase hex compares as its numeric value in both engines; the
    xxhash64 stride it replaced had no DuckDB twin). Returns ``base``
    itself when the threshold saturates (sample ≡ corpus), which makes
    sampled and full-trained paths bit-identical by construction —
    the property the sampled tests pin."""
    target = min(n, max(k, sample_per_cell * k))
    thr = min(65536, (target * 65536) // max(1, n))
    if thr >= 65536:
        return base
    return base.filter(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col("vec_id").cast("string"))),
            1,
            4,
        )
        < format(thr, "04x")
    )


def semantic_dedup_sampled(
    spark: SparkSession,
    emb: DataFrame,
    k: int = K_CELLS,
    iters: int = N_ITERS,
    tau: float = TAU,
    nprobe: int = SEM_NPROBE,
    sample_per_cell: int = SAMPLE_PER_CELL,
    broadcast_buckets: bool | None = None,
) -> DataFrame:
    """SemDeDup with SAMPLE-TRAINED centroids — the 10M-ready escape
    from the full-corpus shortlist's n^1.5 total (VERDICT r4 directive
    #3 / docs/SCALING.md "beyond 1M"). Semantics mirror
    ``semantic_dedup`` exactly except WHERE the Lloyd's updates learn
    from: instead of iters full-corpus assignment passes (each
    O(n·√k·d)), the centroid table trains on a fixed-rate deterministic
    sample of ~``sample_per_cell·k`` vectors (hashed-id md5-threshold
    draw, RNG-free, scan-time projection — see below), and the FULL
    corpus is assigned ONCE with the trained table. Total cost: (iters−1)·O(s·√k·d) training + one O(n·√k·d)
    assignment — the n^1.5 term is paid once, not per iteration, and
    training is corpus-size-independent at fixed sample_per_cell.

    Alignment with ``semantic_dedup``: seeds are the SAME k lowest
    vec_id vectors of the FULL corpus, so cell labels track the same
    seed lineage and per-vector assignments are directly comparable —
    tests/test_semantic_sampled.py measures the agreement (and when the
    threshold saturates at 65536 the sample IS the corpus, making the
    two paths bit-identical by construction).

    The sample is an md5-THRESHOLD draw, not an xxhash64 stride (r5:
    the stride form was not cross-engine replayable — DuckDB has no
    xxhash64 — so the registered query's oracle could not exist):
    keep vec_id iff ``substr(md5('semsample:' || vec_id), 1, 4) <
    thr_hex`` where ``thr = min(65536, target·65536 // n)``. Same
    splits.py portability trick (fixed-width lowercase hex compares as
    its numeric value in both engines), same scan-time-projection cost
    (one md5 per row, RNG-free, partitioning-independent); the draw is
    binomial around ``target`` instead of exactly ``n // stride`` —
    immaterial for a training sample.

    ``broadcast_buckets=None`` auto-sizes the shortlist's bucketed-
    centroid join: broadcast while k·dim doubles fit the 64 MB budget,
    shuffled equi-join on acell above it (the r4 finding-#3 ceiling —
    ~80 MB at k=156 250, dim 64). The decision is logged in the plan,
    not silent: .explain shows BroadcastHashJoin vs SortMerge/
    ShuffledHashJoin on acell."""
    base = _with_vsq(
        emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    ).persist()
    n = base.count()
    if broadcast_buckets is None:
        first = base.select(F.size("v").alias("d")).first()
        dim = first["d"] if first else 0
        broadcast_buckets = k * dim * 8 <= _BROADCAST_BUCKET_BYTES_CAP
    sample = training_sample(base, n, k, sample_per_cell)
    if sample is not base:
        sample = sample.persist()
    _, final = lloyds(
        spark, base, k, iters, shortlist_scorer(nprobe, broadcast_buckets), train=sample
    )
    return mark_within_cell_dups(final, tau)


def ivf_quantizer(
    spark: SparkSession,
    base: DataFrame,
    n: int,
    assign,
    train_on_sample: bool | None,
) -> tuple[DataFrame, DataFrame]:
    """The one IVF coarse-quantizer build behind every IVF operator:
    :func:`lloyds` with ``k = derive_k(n, IVF_MIN_CELLS)`` cells and
    ``IVF_ITERS`` iterations over the ``(vec_id, v)`` frame ``base`` of
    ``n`` vectors, scored by ``assign`` (a lloyds scorer). Returns
    lloyds' ``(centroids, assigned)``.

    ``train_on_sample`` moves the training passes onto
    :func:`training_sample`'s md5-threshold draw, so the corpus pays
    one assignment instead of ``IVF_ITERS``; ``None`` turns it on at
    ≥ ``_IVF_SAMPLE_TRAIN_MIN`` vectors (the triplet miners' policy).
    Below the saturation threshold the sample IS the corpus, so the two
    paths are bit-identical by construction. ``False`` is the
    full-corpus build the ``_shortlist_lloyds_ctes`` replays step
    through."""
    k = derive_k(n, IVF_MIN_CELLS)
    if train_on_sample is None:
        train_on_sample = n >= _IVF_SAMPLE_TRAIN_MIN
    train = training_sample(base, n, k) if train_on_sample else base
    if train is not base:
        train = train.persist()
    return lloyds(spark, base, k, IVF_ITERS, assign, train=train)


def probe_cells(queries: DataFrame, centroids: DataFrame) -> DataFrame:
    """The one IVF query probe: every ``(query_id, qv, …)`` row crossed
    with the broadcast ``(cell, cent)`` table, keeping its
    ``IVF_NPROBE`` nearest cells by (d2, cell) — the same d2 fold and
    tie-break both engines evaluate (``_ivf_probes_sql`` is the SQL
    replay). Queries are few, so flat scoring of all k centroids per
    query is the right shape at any k. Returns the query columns plus
    ``cell`` and ``cent``."""
    w = Window.partitionBy("query_id").orderBy(F.asc("cd2"), F.asc("cell"))
    return (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("cd2", sq_dist("qv", "cent"))
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= IVF_NPROBE)
        .drop("cd2", "crn")
    )


def _oracle_ivf() -> str:
    """Chained-CTE DuckDB replay of the deterministic IVF: the SAME
    shortlist-Lloyd's CTE chain as the SemDeDup oracle
    (``_shortlist_lloyds_ctes`` — quantizer build single-sourced, r4),
    then the probe CTE shared with ``knn_ivf_pq``'s oracle
    (``_ivf_probes_sql``), and exact-cosine top-k inside the probed
    cells only."""
    ctes = _shortlist_lloyds_ctes(IVF_MIN_CELLS, None, IVF_ITERS, SEM_NPROBE)
    return f"""
    WITH {','.join(ctes)},
    nm AS (SELECT vec_id, v, cell,
                  sqrt(list_dot_product(v, v)) AS norm FROM a{IVF_ITERS}),
    q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm
          FROM nm WHERE vec_id < {_N_QUERIES}),
    {_ivf_probes_sql('q')},
    scored AS (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               list_dot_product(q.qv, n.v) / (q.qnorm * n.norm) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qv, n.v) / (q.qnorm * n.norm) DESC,
                            n.vec_id) AS rn
        FROM iprobes p
        JOIN nm n ON n.cell = p.cell
        JOIN q ON q.query_id = p.query_id
        WHERE n.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cosine, rn FROM scored WHERE rn <= {_TOP_K}
    """


@register("knn_ivf_deterministic", oracle=_oracle_ivf())
def knn_ivf_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via a DETERMINISTIC IVF coarse quantizer — the
    similarity-search scale path with an exact DuckDB oracle (the
    engine-seeded ``knn_ivf_probe`` twin is rows-only; here the
    quantizer is the same deterministic decimal-exact Lloyd's machinery
    as SemDeDup, so both engines derive identical cells, identical
    probes, and identical top-k).

    Index build: :func:`ivf_quantizer` — k = max(16, n // 64) cells,
    2 Lloyd's iterations, assignment via the same coarse-anchor
    shortlist as semantic_dedup (m = isqrt(k), nprobe = 3 — r4; the
    oracle replays it). Query: :func:`probe_cells` — each of the 5 demo
    vectors probes its IVF_NPROBE=2 nearest centroids — then an
    exact-cosine rerank of only those cells, ~nprobe/k of the corpus
    scanned per query instead of a full pass.

    Scale shape: assignment is corpus × broadcast(k centroids) with a
    map-side min_by argmin (no n·k shuffle); the probe table is
    queries × nprobe rows, broadcast into an equi-join on cell_id; at
    100 TB write the corpus partitioned by cell_id so each query reads
    nprobe partitions (partition pruning does the cell restriction for
    free)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = _with_vsq(
        emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    ).persist()
    centroids, assigned = ivf_quantizer(spark, base, emb.count(), shortlist_scorer(), False)
    # norm = sqrt(vsq): the assignment carried the squared norm through,
    # so no per-vector re-fold here (bit-identical — see _with_vsq).
    nm = assigned.withColumn("norm", F.sqrt(F.col("vsq"))).persist()
    q = nm.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    probes = probe_cells(q, centroids).select("query_id", "qv", "qnorm", "cell")
    cosine = dot("qv", "v") / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(probes)
        .join(nm, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
    )


@register("semantic_dedup_embeddings", oracle=_oracle_semantic())
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: deterministic k-means (k = max(8, n//64) — derived
    from the corpus size, 3 iterations, assignment via the
    coarse-anchor SHORTLIST with m = isqrt(k) anchors and nprobe = 3 —
    the registered path IS the scale path, r3 directive #2) over the
    embedding table, then mark each vector a semantic duplicate if a
    lower-id vector in the SAME cluster has cosine ≥ 0.4 with it.
    Returns (vec_id, cell_id, is_semantic_dup) for every vector.

    The within-cluster pair scan is the SemDeDup trick: candidate pairs
    are bounded by Σ|cell|² instead of n², and clusters are independent
    so the pair stage parallelizes per cell with no cross-cell data
    movement. Deriving k ∝ n keeps |cell| ≈ TARGET_CELL constant as the
    corpus grows, so the pair bound stays LINEAR in n — the same k
    policy the scale probe measured (docs/SCALING.md); the oracle's
    scalar-subquery LIMIT computes the identical k, so query and oracle
    agree at any SF. The n-count that feeds k is one parquet metadata
    scan — negligible against the 3 Lloyd's passes."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(spark, emb, k=derive_k(emb.count()))


@register(
    "semantic_dedup_sampled",
    oracle=_oracle_semantic(sample_per_cell=SAMPLE_PER_CELL),
)
def semantic_dedup_sampled_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with SAMPLE-TRAINED centroids — the 10M-ready
    configuration (docs/SCALING.md "Sample-trained SemDeDup": 0.40×
    wall-clock at 50k, 0.43× at 1M vs the full-corpus-trained path,
    planted recovery within 0.2 pp) registered as a first-class query
    with an exact oracle. Same k = max(8, n//64) policy and output
    contract (vec_id, cell_id, is_semantic_dup) as
    ``semantic_dedup_embeddings``; the difference is WHERE Lloyd's
    learns from — an md5-threshold sample of ~8·k vectors for the
    training iterations, then ONE full-corpus shortlist assignment —
    so training cost is corpus-size-independent and the O(n·√k·d)
    term is paid once, not per iteration.

    The oracle replays everything: the threshold draw (cross-engine
    md5-hex comparison), the sample-trained Lloyd's chain, the final
    full-corpus shortlist assignment, and the within-cell pair scan —
    hash-exact at every SF, making the scale path itself
    driver-verifiable rather than only agreement-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_sampled(spark, emb, k=derive_k(emb.count()))
