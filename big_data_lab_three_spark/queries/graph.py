"""Graph-analytics query family beyond connected components.

The dedup family already ships two distributed connected-components
implementations (``operators/dedup.py``); this module adds the other
canonical distributed graph computation — triangle counting — over a
co-occurrence graph derived from the relational data (parts appearing
in the same order form an edge, the classic market-basket projection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_lab_three_spark.operators.iterate import Rounds
from big_data_lab_three_spark.queries import register
from big_data_lab_three_spark.sources import table


@register(
    "triangle_census",
    ids="graph: distributed triangle count + clustering coefficient (degree-ordered edges)",
    oracle="""
WITH li AS (
    SELECT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l
    JOIN orders r ON l.l_orderkey = r.o_orderkey
    WHERE r.o_orderdate >= TIMESTAMP '1995-03-01'
      AND r.o_orderdate <  TIMESTAMP '1995-04-01'
), e AS (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), deg AS (
    SELECT x AS vertex, count(*) AS d
    FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
    GROUP BY x
), tri AS (
    SELECT count(*) AS t
    FROM e e1
    JOIN e e2 ON e1.v = e2.u
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_vertices,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT sum(d * (d - 1) / 2) FROM deg) AS BIGINT) AS n_wedges,
       CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
       round(3.0 * (SELECT t FROM tri)
             / (SELECT sum(d * (d - 1) / 2) FROM deg), 6)
           AS clustering_coeff
""",
)
def triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and global clustering coefficient of the
    part-co-occurrence graph (parts sharing an order in March 1995 —
    the month filter keeps the projection bounded at every SF; a
    market-basket affinity graph in miniature).

    Scale algorithm — NOT the oracle's naive triple self-join: edges
    are DIRECTED from the (degree, id)-smaller endpoint to the larger
    (Cohen's MapReduce triangle algorithm / node-iterator++).  Each
    triangle is then counted exactly once at its minimum-order apex,
    and — the actual point — every wedge enumeration happens at the
    LOWEST-degree vertex of the pair, so a celebrity vertex of degree D
    generates O(D) directed wedges instead of O(D²): the quadratic
    blowup a power-law graph inflicts on the naive join moves to the
    bounded low-degree side.  Shuffles: edge dedup, the two
    degree-annotation joins, the wedge join on src, and the closure
    join on the (b,c) key.  The degree joins deliberately carry NO
    broadcast hint: ``deg`` is |V|-sized (part-key cardinality — beyond
    any broadcast threshold on a 100 TB co-occurrence graph), so they
    shuffle on the vertex key and AQE is free to promote them only when
    the realized size is actually small.  ``n_wedges`` comes from the
    closed-form Σd(d−1)/2 on
    the tiny degree table, and the coefficient is 3·triangles/wedges."""
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    ).select("o_orderkey")
    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("o_orderkey"), "l_partkey"
        )
        .join(o, "o_orderkey")
        .distinct()
    )
    a = li.select(
        F.col("o_orderkey").alias("o"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("o_orderkey").alias("o"), F.col("l_partkey").alias("v")
    )
    edges = (
        a.join(b, "o")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    edges.persist()
    deg = (
        edges.select(F.col("u").alias("vertex"))
        .unionAll(edges.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg.persist()
    # direct each edge low→high by the (degree, id) total order
    ed = (
        edges.join(
            deg.withColumnRenamed("vertex", "u").withColumnRenamed("d", "du"),
            "u",
        )
        .join(
            deg.withColumnRenamed("vertex", "v").withColumnRenamed("d", "dv"),
            "v",
        )
        .select(
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"), F.col("u")
            ).otherwise(F.col("v")).alias("src"),
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"), F.col("v")
            ).otherwise(F.col("u")).alias("dst"),
            F.when(
                F.struct("du", "u") < F.struct("dv", "v"), F.col("dv")
            ).otherwise(F.col("du")).alias("ddst"),
        )
    )
    ed.persist()
    e1 = ed.select("src", F.col("dst").alias("b"), F.col("ddst").alias("db"))
    e2 = ed.select("src", F.col("dst").alias("c"), F.col("ddst").alias("dc"))
    wedges = e1.join(e2, "src").where(
        F.struct("db", "b") < F.struct("dc", "c")
    )
    closing = ed.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).agg(
        F.count(F.lit(1)).alias("t")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias(
            "n_wedges"
        ),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            F.col("t").alias("n_triangles"),
            F.round(
                F.lit(3.0) * F.col("t") / F.col("n_wedges"), 6
            ).alias("clustering_coeff"),
        )
    )


@register(
    "pagerank_check",
    ids="graph: 3-iteration damped PageRank over the part-co-occurrence graph (iterative distributed algorithm)",
    oracle="""
WITH li AS (
    SELECT l.l_orderkey AS o, l.l_partkey AS p
    FROM lineitem l
    JOIN orders r ON l.l_orderkey = r.o_orderkey
    WHERE r.o_orderdate >= TIMESTAMP '1995-03-01'
      AND r.o_orderdate <  TIMESTAMP '1995-04-01'
), e0 AS (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
), e AS (
    SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
), deg AS (
    SELECT u AS vertex, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY u
), nn AS (
    SELECT CAST(count(*) AS DOUBLE) AS n FROM deg
), r0 AS (
    SELECT vertex, d, 1.0 / n AS r FROM deg CROSS JOIN nn
), r1 AS (
    SELECT deg.vertex, deg.d, 0.15 / nn.n + 0.85 * c.contrib AS r
    FROM deg CROSS JOIN nn
    JOIN (SELECT e.v AS vertex, sum(r0.r / r0.d) AS contrib
          FROM e JOIN r0 ON e.u = r0.vertex GROUP BY e.v) c
      ON c.vertex = deg.vertex
), r2 AS (
    SELECT deg.vertex, deg.d, 0.15 / nn.n + 0.85 * c.contrib AS r
    FROM deg CROSS JOIN nn
    JOIN (SELECT e.v AS vertex, sum(r1.r / r1.d) AS contrib
          FROM e JOIN r1 ON e.u = r1.vertex GROUP BY e.v) c
      ON c.vertex = deg.vertex
), r3 AS (
    SELECT deg.vertex, deg.d, 0.15 / nn.n + 0.85 * c.contrib AS r
    FROM deg CROSS JOIN nn
    JOIN (SELECT e.v AS vertex, sum(r2.r / r2.d) AS contrib
          FROM e JOIN r2 ON e.u = r2.vertex GROUP BY e.v) c
      ON c.vertex = deg.vertex
)
SELECT vertex, CAST(d AS BIGINT) AS degree, round(r, 8) AS pagerank
FROM r3
ORDER BY vertex
""",
)
def pagerank_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85), exactly 3 synchronous iterations, over
    the same bounded part-co-occurrence graph as ``triangle_census`` —
    the canonical ITERATIVE distributed graph computation (the one
    MapReduce/Pregel papers open with), here expressed as a DataFrame
    loop: each iteration is one edges⋈ranks equi-join shuffled on the
    vertex key plus a partial-aggregating contribution rollup.  The
    fixed iteration count makes the result closed-form enough for a
    full DuckDB oracle (three chained CTEs), so an ITERATIVE algorithm
    rides the exact value hash — rare among graph queries.

    Scale notes: the undirected graph has no dangling vertices (every
    vertex sits on an edge), so no dangling-mass redistribution term is
    needed; ranks/degrees stay (vertex, double) pairs — the per-
    iteration shuffle carries 16 bytes per edge endpoint; lineage is
    truncated per iteration by the shared loop driver's checkpoint
    (``operators.iterate.Rounds``) so the 3-join plan never compounds;
    |V| comes from one driver-side aggregate (a scalar, not a collect).
    Rank sums accumulate in engine order → round(8) absorbs last-bit
    drift (values are Θ(1/|V|), error Θ(1e-15))."""
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    ).select("o_orderkey")
    li = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o_orderkey"), "l_partkey")
        .join(o, "o_orderkey")
        .distinct()
    )
    a = li.select(F.col("o_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("o_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e0 = (
        a.join(b, "o").where(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    edges = e0.unionAll(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    edges.persist()
    deg = (
        edges.groupBy(F.col("u").alias("vertex"))
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    deg.persist()
    n = deg.count()
    ranks = deg.select("vertex", "d", (F.lit(1.0) / F.lit(float(n))).alias("r"))
    rounds = Rounds(spark, "pagerank", 3)
    for _ in rounds:
        contrib = (
            edges.join(
                ranks.select(
                    F.col("vertex").alias("u"), (F.col("r") / F.col("d")).alias("w")
                ),
                "u",
            )
            .groupBy(F.col("v").alias("vertex"))
            .agg(F.sum("w").alias("contrib"))
        )
        ranks = rounds.checkpoint(
            deg.join(contrib, "vertex").select(
                "vertex",
                "d",
                (F.lit(0.15 / float(n)) + F.lit(0.85) * F.col("contrib"))
                .alias("r"),
            )
        )
    return ranks.select(
        "vertex",
        F.col("d").cast("long").alias("degree"),
        F.round("r", 8).alias("pagerank"),
    ).orderBy("vertex")
