"""Graph analytics over lake tables: weighted PageRank on the
nation-to-nation trade network.

The graph is AGGREGATED OUT OF THE FACT DATA — edges are (supplier
nation → customer nation, weight = exact decimal trade revenue) from
the same 6-relation join tree as TPC-H Q7 (`two_nation_trade_q7`,
reference capability: arbitrary SQL pass-through, reference
``scripts/aws-hackathon-glue-data-lake-querying-pyspark.py:113``).
That split is the 100 TB shape: the expensive part (fact scan + joins
+ edge aggregation) is one distributed pass whose output is
vocabulary-sized (≤ |nations|² = 625 rows on ANY input, because edges
are grouped by nation pair), and the iterative part runs on the
driver over that collected edge list — iteration cost is INDEPENDENT
of corpus size, and no input makes the graph large enough to need a
distributed rank loop.

Determinism contract (how an ITERATIVE float algorithm stays
cross-engine hash-identical):

* Edge weights and out-strengths are exact DECIMAL sums; the
  normalized weight is one double division of two exactly-agreed
  decimals.
* Each iteration's inflow terms ``rank × w_norm`` are individually
  cast to DECIMAL(38,12) BEFORE the per-node SUM (the
  ``unigram_rarity_scores`` contract: the 12-digit cut sits far above
  double's relative noise floor, and decimal addition is
  order-independent so partition count can't move the result).
* Dangling mass, the teleport term, and the damping combine in a
  fixed chain of individually-rounded double ops written identically
  in the driver loop and the SQL oracle.
* Three fixed iterations: a driver loop here, unrolled in the oracle
  (a chained-CTE replay, like the SemDeDup k-means oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_construction_and_querying_with_pyspark_spark.registry import register
from data_lake_construction_and_querying_with_pyspark_spark.sources.readers import load_table

_DAMP = 0.85
_TELEPORT = 0.15  # 1 - _DAMP, written literally so both engines parse the same constant
_N_ITER = 3

_ORACLE_EDGES = """
    edges AS (
        SELECT n1.n_name AS src, n2.n_name AS dst,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS w
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        GROUP BY n1.n_name, n2.n_name
    ),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    enorm AS (
        SELECT src, dst, CAST(w AS DOUBLE) / CAST(ow AS DOUBLE) AS wn
        FROM edges JOIN outw USING (src)
    ),
    nodes AS (
        SELECT DISTINCT nation
        FROM (SELECT src AS nation FROM edges
              UNION SELECT dst AS nation FROM edges)
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    it0 AS (SELECT nation, 1.0 / n AS rank FROM nodes, nn)"""


def _oracle_iteration(k: int) -> str:
    prev = f"it{k - 1}"
    return f"""
    inf{k} AS (
        SELECT e.dst AS nation,
               CAST(SUM(CAST(r.rank * e.wn AS DECIMAL(38,12))) AS DOUBLE) AS inflow
        FROM {prev} r JOIN enorm e ON e.src = r.nation
        GROUP BY e.dst
    ),
    dang{k} AS (
        SELECT CAST(SUM(CAST(r.rank AS DECIMAL(38,12))) AS DOUBLE) AS dm
        FROM {prev} r LEFT JOIN outw o ON o.src = r.nation
        WHERE o.src IS NULL
    ),
    it{k} AS (
        SELECT nd.nation,
               {_TELEPORT} / nn.n
                 + {_DAMP} * (COALESCE(i.inflow, 0.0)
                              + COALESCE(d.dm, 0.0) / nn.n) AS rank
        FROM nodes nd LEFT JOIN inf{k} i ON i.nation = nd.nation, nn, dang{k} d
    )"""


@register(
    "pagerank_trade_network",
    oracle=(
        "    WITH "
        + _ORACLE_EDGES
        + ","
        + ",".join(_oracle_iteration(k) for k in range(1, _N_ITER + 1))
        + f"""
    SELECT nation, rank AS pagerank FROM it{_N_ITER}
    """
    ),
)
def pagerank_trade_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, 3 unrolled iterations, dangling-mass
    redistribution) over the nation trade graph aggregated from the
    fact tables. See module docstring for the scale split and the
    cross-engine determinism contract.

    The distributed pass (fact scan + joins + edge aggregation) ends in
    ONE collect of the ≤|nations|² normalized edges (src, dst, wn); the
    three iterations then run on the driver with the oracle's
    arithmetic replicated bit-for-bit:

    * ``rank·wn`` / the teleport-damping chain are plain IEEE-double
      ops — Python floats ARE doubles, same ops, same order.
    * ``CAST(x AS DECIMAL(38,12))`` is ``BigDecimal.valueOf`` (shortest
      decimal repr, then setScale HALF_UP); Python's
      ``Decimal(repr(x)).quantize(1e-12, HALF_UP)`` is the same
      construction (repr is the same shortest round-trip string) —
      verified exhaustively on 2M random doubles (zero mismatches,
      both cast directions; OPTIMIZATION_r11.md). The equality is
      pinned on the fixture by the hash-exact DuckDB oracle test
      (tests/test_queries_oracle.py), which fails loudly on any
      runtime whose formatting diverges near a HALF_UP boundary.
    * Decimal sums are exact in both engines (context precision 60
      here, far above the 38-digit type)."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(
        nation.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("src"))
    )
    n2 = F.broadcast(
        nation.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("dst"))
    )
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")

    edges = (
        s.join(li, s["s_suppkey"] == li["l_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .groupBy("src", "dst")
        .agg(F.sum(volume).alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    erows = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w").cast("double") / F.col("ow").cast("double")).alias("wn"))
        .collect()
    )

    nodes_l = sorted({r["src"] for r in erows} | {r["dst"] for r in erows})
    srcs = {r["src"] for r in erows}
    n = len(nodes_l)
    q12 = Decimal("1e-12")
    with localcontext() as ctx:
        ctx.prec = 60

        def dec12(x: float) -> Decimal:
            # Spark Cast(double → DECIMAL(38,12)): shortest decimal
            # repr, then HALF_UP at 12 fractional digits.
            return Decimal(repr(x)).quantize(q12, rounding=ROUND_HALF_UP)

        rank = {nd: 1.0 / n for nd in nodes_l}
        for _ in range(_N_ITER):
            inflow_sum: dict = {}
            for r in erows:
                term = dec12(rank[r["src"]] * r["wn"])
                inflow_sum[r["dst"]] = inflow_sum.get(r["dst"], Decimal(0)) + term
            dang_terms = [dec12(rank[nd]) for nd in nodes_l if nd not in srcs]
            dm = float(sum(dang_terms, Decimal(0))) if dang_terms else 0.0
            inflow = {d: float(s) for d, s in inflow_sum.items()}
            rank = {
                nd: _TELEPORT / n
                + _DAMP * (inflow.get(nd, 0.0) + dm / n)
                for nd in nodes_l
            }
    return spark.createDataFrame(
        [(nd, rank[nd]) for nd in nodes_l], "nation string, pagerank double"
    )
