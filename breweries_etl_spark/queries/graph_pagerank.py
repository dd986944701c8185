"""Iterative PageRank, alone in its JVM (see ``dedup_minhash``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import _pagerank_oracle
from breweries_etl_spark.sources.tables import load_table

query = family("graph_pagerank")


@query(oracle=_pagerank_oracle())
def q_graph_pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank nodes of the directed customer→supplier purchase
    graph (all suppliers dangling — exercises the mass-redistribution
    path). Oracled by a fixed-5-iteration UNROLLED power iteration in
    DuckDB; ranks round to 9 decimals on both sides (absolute float
    divergence from summation order is ~1e-15, far below the rounding),
    and the top-20 cut orders by the ROUNDED rank + node so both engines
    select the same rows. Accuracy is additionally pinned by the 1e-9
    numpy comparison in test_graph.py."""
    from breweries_etl_spark.operators.graph import pagerank

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
    ranks = pagerank(edges, iterations=5).select(
        "node", F.round("rank", 9).alias("rank")
    )
    return ranks.orderBy(F.col("rank").desc(), F.col("node")).limit(20)
