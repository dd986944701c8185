"""Incremental prefix-filtered Jaccard, alone in its JVM (see
``dedup_minhash``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import dedup
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.sources.tables import load_table

query = family("dedup_incremental")


# Incremental prefix-filtered Jaccard: exact ground truth over the
# incoming (every 7th doc, id-offset) x base (id not multiple of 5)
# cross-set -- candidate generation differs (persisted prefix index),
# the verified pair set provably cannot.
@query(oracle="""
WITH
norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS nt FROM documents),
words AS (SELECT doc_id, string_split(nt, ' ') AS w FROM norm),
sh AS (
  SELECT doc_id,
    list_distinct([array_to_string(w[i:i+2], ' ')
                   FOR i IN range(1, len(w)-1)]) AS s
  FROM words
),
base AS (SELECT doc_id AS base_id, s FROM sh WHERE doc_id % 5 <> 0 AND len(s) > 0),
inc AS (SELECT doc_id + 1000000 AS incoming_id, s FROM sh WHERE doc_id % 7 = 0 AND len(s) > 0),
inv_b AS (SELECT base_id, unnest(s) AS shingle FROM base),
inv_i AS (SELECT incoming_id, unnest(s) AS shingle FROM inc),
cand AS (
  SELECT DISTINCT i.incoming_id, b.base_id
  FROM inv_i i JOIN inv_b b ON i.shingle = b.shingle
),
j AS (
  SELECT incoming_id, base_id,
    round(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE), 6) AS jaccard
  FROM cand JOIN inc x USING (incoming_id) JOIN base y USING (base_id)
)
SELECT incoming_id, base_id, jaccard FROM j WHERE jaccard >= 0.5
""")
def q_dedup_incremental_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact near-dup vs a persisted base index: every 7th
    doc re-arrives with an offset id and is matched against the base
    corpus (docs not ≡0 mod 5) by prefix-filtered Jaccard ≥ 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    incoming = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return dedup.prefix_jaccard_incremental(base, incoming, threshold=0.5)
