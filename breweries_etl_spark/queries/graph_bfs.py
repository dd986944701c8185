"""Iterative BFS levels, alone in its JVM (see ``dedup_minhash``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.sources.tables import load_table

query = family("graph_bfs")


@query(oracle="""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
), reach AS (
  SELECT CAST((SELECT min(src) FROM e0) AS BIGINT) AS node, 0 AS level
  UNION
  SELECT e.dst AS node, r.level + 1 AS level
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.level < 6
), dist AS (
  SELECT node, min(level) AS lvl FROM reach GROUP BY node
)
SELECT CAST(lvl AS BIGINT) AS level, count(*) AS n_nodes
FROM dist GROUP BY lvl
""")
def q_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance distribution over the customer–supplier bipartite
    graph (nodes encoded 2·custkey / 2·suppkey+1) from the minimum
    customer node — BFS as min-plus relaxation, one barrier per block
    of 4 rounds, oracled by a DuckDB recursive CTE (integer levels are
    engine-deterministic)."""
    from breweries_etl_spark.operators.graph import bfs_levels

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # seed = min customer node, derived from bfs_levels' own edge
    # relation (callable form), so it shares that relation's exchange —
    # deriving it from the edges plan here would re-run the
    # orders⋈lineitem join + distinct a second time (the dunn
    # uncached-multi-consumer class)
    levels = bfs_levels(
        edges, lambda e: e.agg(F.min("src").alias("node")), max_hops=6
    )
    return (
        levels.groupBy(F.col("level").cast("long").alias("level"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
