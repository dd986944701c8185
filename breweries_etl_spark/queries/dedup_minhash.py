"""MinHash near-duplicate pairs, alone in its JVM.

Near-dup pipelines and iterative graph loops each get a JVM to
themselves: measured in-session interference (pinned shingle caches,
localCheckpoint block churn, context-cleaner backlog) inflates
whichever of them runs second by 1.5-2x, e.g. pagerank 5.0 s fresh vs
9.8 s after BFS in the same JVM, incremental Jaccard 2.8 s fresh vs
6.4 s after minhash. On a cluster these run as separate applications;
benching them that way attributes plan cost, not neighbour hygiene.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from breweries_etl_spark.operators import dedup
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.sources.tables import load_table

query = family("dedup_minhash")


@query()
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dups (approximate candidate generation; exact
    verification). Not SQL-expressible → rows-only driver check."""
    return dedup.minhash_near_duplicates(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )
