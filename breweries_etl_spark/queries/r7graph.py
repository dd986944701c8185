"""Graph joins (see ``r7stats`` for the split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import _ddw
from breweries_etl_spark.sources.tables import load_table

query = family("r7graph")


@query(oracle=f"""
WITH e0 AS (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e0 WHERE src <> dst
), comm AS (
  SELECT CAST(c_custkey * 2 AS BIGINT) AS node,
         CAST(c_nationkey AS VARCHAR) AS comm FROM customer
  UNION ALL
  SELECT CAST(s_suppkey * 2 + 1 AS BIGINT) AS node,
         CAST(s_nationkey AS VARCHAR) AS comm FROM supplier
), ends AS (
  SELECT a AS node FROM canon UNION ALL SELECT b AS node FROM canon
), deg AS (SELECT node, count(*) AS deg FROM ends GROUP BY node),
deg_c AS (
  SELECT coalesce(comm, '__singleton:' || CAST(deg.node AS VARCHAR)) AS c, SUM(deg) AS d_c
  FROM deg LEFT JOIN comm ON deg.node = comm.node
  GROUP BY 1
), within AS (
  SELECT SUM(CASE WHEN coalesce(ca.comm, '__singleton:' || CAST(canon.a AS VARCHAR))
                     = coalesce(cb.comm, '__singleton:' || CAST(canon.b AS VARCHAR))
             THEN 1 ELSE 0 END) AS e_in,
    count(*) AS m
  FROM canon
  LEFT JOIN comm ca ON canon.a = ca.node
  LEFT JOIN comm cb ON canon.b = cb.node
), folded AS (
  SELECT count(*) AS n_comm,
    SUM(CAST(CAST(d_c AS DECIMAL(19,0)) * CAST(d_c AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS sum_d2
  FROM deg_c
), nn AS (SELECT count(*) AS n_nodes FROM deg)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
  CAST(m AS BIGINT) AS n_edges,
  CAST(n_comm AS BIGINT) AS n_communities,
  CASE WHEN m > 0 THEN
    round((4.0 * CAST(m AS DOUBLE) * CAST(e_in AS DOUBLE)
           - {_ddw('sum_d2')})
          / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)
  END AS modularity
FROM within CROSS JOIN folded CROSS JOIN nn
""")
def q_graph_modularity_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the
    customer-supplier purchase graph — is purchasing nation-assortative
    (operators/graph.py:partition_modularity)."""
    from breweries_etl_spark.operators.graph import partition_modularity

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    comm = c.select(
        (F.col("c_custkey") * 2).alias("node"),
        F.col("c_nationkey").cast("string").alias("comm"),
    ).unionAll(
        s.select(
            (F.col("s_suppkey") * 2 + 1).alias("node"),
            F.col("s_nationkey").cast("string").alias("comm"),
        )
    )
    return partition_modularity(edges, comm)


@query(oracle=f"""
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
), folded AS (
  SELECT count(*) AS n_reached, max(lvl) AS max_level,
    SUM(CAST(1000000000000 // lvl AS DECIMAL(38,0))) AS h_fp
  FROM dist WHERE lvl > 0
)
SELECT CAST(n_reached AS BIGINT) AS n_reached,
  CAST(max_level AS BIGINT) AS max_level,
  round({_ddw("coalesce(h_fp, CAST(0 AS DECIMAL(38,0)))")} / 1e12, 6)
    AS harmonic_centrality
FROM folded
""")
def q_graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality of the minimum customer node over the
    purchase graph — 1/distance fold over the same BFS levels as
    graph_bfs_levels (operators/graph.py:harmonic_centrality_from)."""
    from breweries_etl_spark.operators.graph import harmonic_centrality_from

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
    # seed from bfs_levels' own edge relation (callable form): the
    # eager seed aggregate was a SECOND full orders⋈lineitem scan —
    # the judge-r10 driver-vs-solo gap suspect for this query
    return harmonic_centrality_from(
        edges, lambda e: e.agg(F.min("src").alias("node")), max_hops=6
    )


@query(oracle="""
WITH e0 AS (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e0 WHERE src <> dst
), ends AS (
  SELECT a AS n FROM canon UNION ALL SELECT b AS n FROM canon
), deg AS (SELECT n, count(*) AS deg FROM ends GROUP BY n),
ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
n_k0 AS (
  SELECT k, count(*) AS n_nodes FROM deg CROSS JOIN ks
  WHERE deg > k GROUP BY k
), n_k AS (
  SELECT ks.k, coalesce(n_nodes, 0) AS n_nodes
  FROM ks LEFT JOIN n_k0 ON ks.k = n_k0.k
), e_k AS (
  SELECT k, count(*) AS n_edges
  FROM canon
  JOIN deg da ON canon.a = da.n
  JOIN deg db ON canon.b = db.n
  CROSS JOIN ks
  WHERE least(da.deg, db.deg) > k
  GROUP BY k
)
SELECT CAST(n_k.k AS BIGINT) AS k,
  CAST(n_nodes AS BIGINT) AS n_nodes_above,
  CAST(coalesce(n_edges, 0) AS BIGINT) AS n_edges_within,
  CASE WHEN n_nodes > 1 THEN
    round(2.0 * CAST(coalesce(n_edges, 0) AS DOUBLE)
          / (CAST(n_nodes AS DOUBLE) * (CAST(n_nodes AS DOUBLE) - 1.0)), 6)
  END AS rich_club_phi
FROM n_k LEFT JOIN e_k ON n_k.k = e_k.k
""")
def q_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficients over the purchase graph at degree
    thresholds 2/4/8/16 (operators/graph.py:rich_club_coefficients)."""
    from breweries_etl_spark.operators.graph import rich_club_coefficients

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return rich_club_coefficients(edges)


@query(oracle=f"""
WITH e0 AS (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), both_ AS MATERIALIZED (
  SELECT DISTINCT src AS u, dst AS v FROM e0
  UNION SELECT dst AS u, src AS v FROM e0
), deg AS (SELECT u, count(*) AS deg FROM both_ GROUP BY u),
per_node AS (
  SELECT b.u, SUM(dv.deg) AS snd, max(du.deg) AS deg
  FROM both_ b
  JOIN deg dv ON b.v = dv.u
  JOIN deg du ON b.u = du.u
  GROUP BY b.u
), per_bucket AS (
  SELECT CAST(floor(log2(CAST(deg AS DOUBLE))) AS BIGINT) AS deg_bucket,
    count(*) AS n_nodes,
    SUM(CAST(floor(1e6 * CAST(snd AS DOUBLE) / CAST(deg AS DOUBLE))
             AS DECIMAL(38,0))) AS s_fp
  FROM per_node GROUP BY 1
)
SELECT deg_bucket,
  CAST(pow(2.0, CAST(deg_bucket AS DOUBLE)) AS BIGINT) AS lo_degree,
  CAST(n_nodes AS BIGINT) AS n_nodes,
  round({_ddw('s_fp')} / 1e6 / CAST(n_nodes AS DOUBLE), 6)
    AS avg_neighbor_degree
FROM per_bucket
""")
def q_graph_knn_degree_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-neighbor-degree curve (log2 degree buckets) over the
    purchase graph (operators/graph.py:avg_neighbor_degree_curve)."""
    from breweries_etl_spark.operators.graph import avg_neighbor_degree_curve

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return avg_neighbor_degree_curve(edges)


@query(bench=False, oracle="""
WITH m AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), ok AS (
  SELECT o FROM m GROUP BY o HAVING count(*) BETWEEN 2 AND 50
), e AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM m a JOIN m b ON a.o = b.o AND a.p < b.p
  JOIN ok ON a.o = ok.o
), deg AS (
  SELECT n, count(*) AS deg FROM (
    SELECT src AS n FROM e UNION ALL SELECT dst AS n FROM e
  ) GROUP BY n
)
SELECT
  (SELECT count(*) FROM deg) AS n_nodes,
  (SELECT count(*) FROM e) AS n_edges,
  (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
  (SELECT count(*) FROM e e1
     JOIN e e2 ON e1.dst = e2.src
     JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst) AS n_triangles,
  round(3.0 * (SELECT count(*) FROM e e1
     JOIN e e2 ON e1.dst = e2.src
     JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)
    / (SELECT SUM(deg * (deg - 1) // 2) FROM deg), 6) AS clustering
""")
def q_graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the part co-purchase graph (parts are
    adjacent when some order contains both; orders with >50 distinct
    parts dropped — same cap as the oracle). Degree-ordered-orientation
    counting; DuckDB oracle uses the count-identical canonical (src<dst)
    orientation."""
    from breweries_etl_spark.operators.dedup import bucket_candidate_pairs
    from breweries_etl_spark.operators.graph import triangle_stats

    li = load_table(spark, sf_dir, "lineitem")
    membership = li.select("l_orderkey", "l_partkey").distinct()
    edges = bucket_candidate_pairs(membership, ["l_orderkey"], "l_partkey", 50)
    return triangle_stats(edges, "id_a", "id_b")
