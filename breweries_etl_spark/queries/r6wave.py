"""Rank and parametric tests, daily-series trend operators, link
prediction and k-core. The graph queries are join-heavy but not
iterative (no BFS/PageRank-style JIT warm-up cliff), so they share
this JVM. The statistics run on the sortless prefix-count and
exact-decimal discipline of ``operators/hypotests.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import text
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _ANOVA_S_CTE, _O2, _O2C1Y, _O2C2Y, _O2N, _O2SST, _OLS2_MOM, _R2B1, _R2B2,
    _SPEAR_RANKS, _anova_tail_sql, _ddwf,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("r6wave")


@query(oracle=f"""
WITH {_SPEAR_RANKS},
r AS (
  SELECT xc.u, yc.w FROM t
  JOIN xc ON t.x = xc.v JOIN yc ON t.y = yc.v
), s AS (
  SELECT count(*) AS n,
    SUM(CAST(u AS DECIMAL(38,0))) AS su,
    SUM(CAST(w AS DECIMAL(38,0))) AS sw,
    SUM(CAST(CAST(u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS suu,
    SUM(CAST(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS sww,
    SUM(CAST(CAST(u AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS suw
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN sqrt(CAST(n AS DOUBLE) * (CAST(CAST((suu) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((suu) AS HUGEINT) % 1000000000 AS DOUBLE))
                 - (CAST(CAST((su) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((su) AS HUGEINT) % 1000000000 AS DOUBLE)) * (CAST(CAST((su) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((su) AS HUGEINT) % 1000000000 AS DOUBLE))) > 0
        AND sqrt(CAST(n AS DOUBLE) * (CAST(CAST((sww) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((sww) AS HUGEINT) % 1000000000 AS DOUBLE))
                 - (CAST(CAST((sw) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((sw) AS HUGEINT) % 1000000000 AS DOUBLE)) * (CAST(CAST((sw) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((sw) AS HUGEINT) % 1000000000 AS DOUBLE))) > 0 THEN
    round((CAST(n AS DOUBLE) * (CAST(CAST((suw) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((suw) AS HUGEINT) % 1000000000 AS DOUBLE))
           - (CAST(CAST((su) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((su) AS HUGEINT) % 1000000000 AS DOUBLE)) * (CAST(CAST((sw) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((sw) AS HUGEINT) % 1000000000 AS DOUBLE)))
          / (sqrt(CAST(n AS DOUBLE) * (CAST(CAST((suu) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((suu) AS HUGEINT) % 1000000000 AS DOUBLE))
                  - (CAST(CAST((su) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((su) AS HUGEINT) % 1000000000 AS DOUBLE)) * (CAST(CAST((su) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((su) AS HUGEINT) % 1000000000 AS DOUBLE)))
             * sqrt(CAST(n AS DOUBLE) * (CAST(CAST((sww) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((sww) AS HUGEINT) % 1000000000 AS DOUBLE))
                    - (CAST(CAST((sw) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((sw) AS HUGEINT) % 1000000000 AS DOUBLE)) * (CAST(CAST((sw) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((sw) AS HUGEINT) % 1000000000 AS DOUBLE)))), 6)
  END AS rho
FROM s
""")
def q_spearman_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation (average ranks for ties) between
    lineitem price and quantity — doubled integer ranks from the
    bucketed prefix-count primitive, no global sort."""
    from breweries_etl_spark.operators.hypotests import spearman_rho

    return spearman_rho(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", "l_quantity"
    )


@query(oracle="""
WITH vals AS (
  SELECT l_returnflag AS g, l_extendedprice AS val FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
), vv AS (SELECT val AS v, count(*) AS c FROM vals GROUP BY 1),
uu AS (
  SELECT v, c,
    2 * SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c + 1 AS u
  FROM vv
), gv AS (SELECT g, val AS v, count(*) AS c_gv FROM vals GROUP BY 1, 2),
pg AS (
  SELECT g, SUM(c_gv) AS n_g,
    SUM(CAST(CAST(c_gv AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS r2
  FROM gv JOIN uu USING (v) GROUP BY g
), ag AS (
  SELECT SUM(n_g) AS n, count(*) AS k,
    SUM(CAST(floor(((CAST(CAST((r2) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((r2) AS HUGEINT) % 1000000000 AS DOUBLE)) / 2.0) * ((CAST(CAST((r2) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((r2) AS HUGEINT) % 1000000000 AS DOUBLE)) / 2.0)
                   / CAST(n_g AS DOUBLE) * 100.0) AS DECIMAL(38,0))) AS t_sum
  FROM pg
), tie AS (
  SELECT SUM(CAST(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
                  * CAST(c AS DECIMAL(19,0)) - c AS DECIMAL(38,0))) AS tie_sum
  FROM vv
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        * ((CAST(CAST((t_sum) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((t_sum) AS HUGEINT) % 1000000000 AS DOUBLE)) / 100.0)
        - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h,
  CASE WHEN 1.0 - (CAST(CAST((tie_sum) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((tie_sum) AS HUGEINT) % 1000000000 AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               - CAST(n AS DOUBLE)) > 0 THEN
    round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
           * ((CAST(CAST((t_sum) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((t_sum) AS HUGEINT) % 1000000000 AS DOUBLE)) / 100.0)
           - 3.0 * (CAST(n AS DOUBLE) + 1.0))
          / (1.0 - (CAST(CAST((tie_sum) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9 + CAST(CAST((tie_sum) AS HUGEINT) % 1000000000 AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(n AS DOUBLE))), 6)
  END AS h_tie_corrected
FROM ag CROSS JOIN tie
""")
def q_kruskal_wallis_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the three return flags on price, with the
    standard tie correction; fixed-point per-group terms."""
    from breweries_etl_spark.operators.hypotests import kruskal_wallis

    return kruskal_wallis(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(oracle=f"""
WITH per_g AS (
  SELECT l_returnflag AS g, count(*) AS n_g,
    SUM(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS s_g,
    SUM(CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS q_g
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1
), s AS (
{_ANOVA_S_CTE}
)
{_anova_tail_sql("f_stat")}
""")
def q_anova_f_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F and eta-squared of price across return flags —
    one conditional-moment pass, 6dp-rounded SSW terms."""
    from breweries_etl_spark.operators.hypotests import anova_oneway

    return anova_oneway(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(oracle=f"""
WITH s AS (
  SELECT
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS na,
    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS nb,
    SUM(CASE WHEN l_returnflag = 'R'
         THEN CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
         ELSE CAST(0 AS DECIMAL(18,2)) END) AS sa,
    SUM(CASE WHEN l_returnflag = 'R'
         THEN CAST(0 AS DECIMAL(18,2))
         ELSE CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) END) AS sb,
    SUM(CASE WHEN l_returnflag = 'R'
         THEN CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
                   * CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))
         ELSE CAST(0 AS DECIMAL(38,4)) END) AS qa,
    SUM(CASE WHEN l_returnflag = 'R'
         THEN CAST(0 AS DECIMAL(38,4))
         ELSE CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
                   * CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))
         END) AS qb
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), m AS (
  -- the EXACT double sequence the engine uses: ma reused inside va;
  -- moment sums through the wide fraction-aware split (_ddwf)
  SELECT na, nb,
    {_ddwf('sa')} / CAST(na AS DOUBLE) AS ma,
    {_ddwf('sb')} / CAST(nb AS DOUBLE) AS mb,
    ({_ddwf('qa')} - {_ddwf('sa')}
       * ({_ddwf('sa')} / CAST(na AS DOUBLE)))
      / (CAST(na AS DOUBLE) - 1.0) AS va,
    ({_ddwf('qb')} - {_ddwf('sb')}
       * ({_ddwf('sb')} / CAST(nb AS DOUBLE)))
      / (CAST(nb AS DOUBLE) - 1.0) AS vb
  FROM s
), e AS (
  SELECT na, nb, ma, mb,
    va / CAST(na AS DOUBLE) AS sea,
    vb / CAST(nb AS DOUBLE) AS seb
  FROM m
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(ma, 6) AS mean_a,
  round(mb, 6) AS mean_b,
  CASE WHEN na > 1 AND nb > 1 AND sea + seb > 0 THEN
    round((ma - mb) / sqrt(sea + seb), 6)
  END AS t_stat,
  CASE WHEN na > 1 AND nb > 1 AND sea + seb > 0 THEN
    round((sea + seb) * (sea + seb)
          / (sea * sea / (CAST(na AS DOUBLE) - 1.0)
             + seb * seb / (CAST(nb AS DOUBLE) - 1.0)), 6)
  END AS df
FROM e
""")
def q_welch_t_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch unequal-variance t test of price, returned vs not, with
    Welch-Satterthwaite degrees of freedom."""
    from breweries_etl_spark.operators.hypotests import welch_t_test

    return welch_t_test(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle="""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events GROUP BY 1
), tot AS (
  SELECT count(*) AS n,
    SUM(CAST(y AS DECIMAL(38,2))) AS s,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS q
  FROM daily
), lags AS (SELECT unnest(range(1, 8)) AS lag),
pairs AS (
  SELECT lags.lag, a.y AS y, b.y AS y2
  FROM daily a CROSS JOIN lags JOIN daily b ON b.day = a.day + lags.lag
), per_lag AS (
  SELECT lag, count(*) AS n_pairs,
    SUM(CAST(y * y2 AS DECIMAL(38,4))) AS p,
    SUM(CAST(y AS DECIMAL(38,2))) AS a,
    SUM(CAST(y2 AS DECIMAL(38,2))) AS b
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
  CASE WHEN (CAST(CAST(floor(q) AS BIGINT) AS DOUBLE) + CAST(q - floor(q) AS DOUBLE))
            - (CAST(CAST(floor(s) AS BIGINT) AS DOUBLE) + CAST(s - floor(s) AS DOUBLE)) * ((CAST(CAST(floor(s) AS BIGINT) AS DOUBLE) + CAST(s - floor(s) AS DOUBLE)) / CAST(n AS DOUBLE)) > 0
  THEN
    round(((CAST(CAST(floor(p) AS BIGINT) AS DOUBLE) + CAST(p - floor(p) AS DOUBLE))
           - ((CAST(CAST(floor(s) AS BIGINT) AS DOUBLE) + CAST(s - floor(s) AS DOUBLE)) / CAST(n AS DOUBLE))
             * ((CAST(CAST(floor(a) AS BIGINT) AS DOUBLE) + CAST(a - floor(a) AS DOUBLE)) + (CAST(CAST(floor(b) AS BIGINT) AS DOUBLE) + CAST(b - floor(b) AS DOUBLE)))
           + CAST(n_pairs AS DOUBLE)
             * ((CAST(CAST(floor(s) AS BIGINT) AS DOUBLE) + CAST(s - floor(s) AS DOUBLE)) / CAST(n AS DOUBLE))
             * ((CAST(CAST(floor(s) AS BIGINT) AS DOUBLE) + CAST(s - floor(s) AS DOUBLE)) / CAST(n AS DOUBLE)))
          / ((CAST(CAST(floor(q) AS BIGINT) AS DOUBLE) + CAST(q - floor(q) AS DOUBLE))
             - (CAST(CAST(floor(s) AS BIGINT) AS DOUBLE) + CAST(s - floor(s) AS DOUBLE)) * ((CAST(CAST(floor(s) AS BIGINT) AS DOUBLE) + CAST(s - floor(s) AS DOUBLE)) / CAST(n AS DOUBLE))), 6)
  END AS acf
FROM per_lag CROSS JOIN tot
ORDER BY lag
""")
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag 1..7 autocorrelation of the daily event-value series —
    calendar-bounded daily relation, exact decimal moment expansion,
    no per-term rounding."""
    from breweries_etl_spark.operators.temporal import acf_daily

    return acf_daily(load_events(spark, sf_dir))


@query(oracle="""
WITH daily AS MATERIALIZED (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events GROUP BY 1
), slopes AS (
  SELECT (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
         / CAST(b.day - a.day AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON a.day < b.day
), med AS (
  SELECT count(*) AS n_pairs, quantile_disc(slope, 0.5) AS slope_med
  FROM slopes
), resid AS (
  SELECT CAST(d.y AS DOUBLE) - med.slope_med * CAST(d.day AS DOUBLE) AS r
  FROM daily d CROSS JOIN med
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
  CAST(med.n_pairs AS BIGINT) AS n_pairs,
  round(med.slope_med, 6) AS slope_per_day,
  round((SELECT quantile_disc(r, 0.5) FROM resid), 4) AS intercept
FROM med
""")
def q_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of daily event value: median of the
    calendar-bounded pairwise-slope set via percentile_disc picks."""
    from breweries_etl_spark.operators.temporal import theil_sen_daily_trend

    return theil_sen_daily_trend(load_events(spark, sf_dir))


@query(oracle=f"""
WITH s AS ({_OLS2_MOM})
SELECT l_returnflag, n,
  round({_R2B1}, 6) AS b1,
  round({_R2B2}, 6) AS b2,
  round(({_O2['sy']} - {_R2B1} * {_O2['s1']} - {_R2B2} * {_O2['s2']})
        / {_O2N}, 6) AS intercept,
  CASE WHEN {_O2SST} > 0 THEN
    round(({_R2B1} * {_O2C1Y} + {_R2B2} * {_O2C2Y}) / {_O2SST}, 6)
  END AS explained
FROM s
""")
def q_ridge2_price_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form 2-feature ridge regression (lambda=1e6) per
    returnflag — penalized twin of ols2_price_qty_discount."""
    from breweries_etl_spark.operators.mltrain import ridge2_fit

    return ridge2_fit(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        "l_discount",
        "l_extendedprice",
    )


@query(oracle="""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
  FROM documents
), uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
s AS (
  SELECT SUM(c) AS n_tokens, count(*) AS vocab,
    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
    SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS dis
  FROM uni
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(vocab AS BIGINT) AS vocab_size,
  CAST(hapax AS BIGINT) AS hapax_count,
  CAST(dis AS BIGINT) AS dis_count,
  round(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6) AS hapax_fraction,
  round(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS type_token_ratio
FROM s
""")
def q_hapax_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus vocabulary fingerprint: token/vocab totals, hapax
    and dis legomena, type-token ratio."""
    return text.vocab_stats(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH rels AS (
  SELECT 'lineitem.orderkey->orders' AS relationship,
    (SELECT count(*) FROM lineitem) AS n_child_rows,
    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_keys,
    (SELECT count(*) FROM lineitem c WHERE c.l_orderkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.l_orderkey))
      AS n_orphan_rows,
    (SELECT count(DISTINCT c.l_orderkey) FROM lineitem c
      WHERE c.l_orderkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.l_orderkey))
      AS n_orphan_keys
  UNION ALL
  SELECT 'lineitem.partkey->part',
    (SELECT count(*) FROM lineitem),
    (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
    (SELECT count(*) FROM lineitem c WHERE c.l_partkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.l_partkey)),
    (SELECT count(DISTINCT c.l_partkey) FROM lineitem c
      WHERE c.l_partkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.l_partkey))
  UNION ALL
  SELECT 'lineitem.suppkey->supplier',
    (SELECT count(*) FROM lineitem),
    (SELECT count(*) FROM lineitem WHERE l_suppkey IS NULL),
    (SELECT count(*) FROM lineitem c WHERE c.l_suppkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.l_suppkey)),
    (SELECT count(DISTINCT c.l_suppkey) FROM lineitem c
      WHERE c.l_suppkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM supplier p WHERE p.s_suppkey = c.l_suppkey))
  UNION ALL
  SELECT 'orders.custkey->customer',
    (SELECT count(*) FROM orders),
    (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
    (SELECT count(*) FROM orders c WHERE c.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.o_custkey)),
    (SELECT count(DISTINCT c.o_custkey) FROM orders c
      WHERE c.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.o_custkey))
)
SELECT relationship, CAST(n_child_rows AS BIGINT) AS n_child_rows,
  CAST(n_null_keys AS BIGINT) AS n_null_keys,
  CAST(n_orphan_rows AS BIGINT) AS n_orphan_rows,
  CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys
FROM rels
""")
def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK orphan audit over the four TPC-H-ish relationships — one
    left-anti join each, AQE free to broadcast genuinely small
    parents."""
    from breweries_etl_spark.operators.quality import (
        referential_integrity_audit,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    return referential_integrity_audit(
        [
            ("lineitem.orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
            ("lineitem.partkey->part", li, "l_partkey", part, "p_partkey"),
            ("lineitem.suppkey->supplier", li, "l_suppkey", supplier, "s_suppkey"),
            ("orders.custkey->customer", orders, "o_custkey", customer, "c_custkey"),
        ]
    )


@query(oracle="""
WITH m AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), ok AS (
  SELECT o FROM m GROUP BY o HAVING count(*) BETWEEN 2 AND 50
), e AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM m a JOIN m b ON a.o = b.o AND a.p < b.p
  JOIN ok ON a.o = ok.o
), adj AS (
  SELECT src AS a, dst AS c FROM e UNION ALL SELECT dst AS a, src AS c FROM e
), deg AS (SELECT a AS n, count(*) AS deg FROM adj GROUP BY 1),
cn AS (
  SELECT e.src AS x, e.dst AS y, a1.c AS o
  FROM e
  JOIN adj a1 ON a1.a = e.src
  JOIN adj a2 ON a2.a = e.dst AND a2.c = a1.c
), pe AS (
  SELECT x, y, count(*) AS cn,
    SUM(CAST(round(1.0 / ln(dc.deg), 6) AS DECIMAL(18,6))) AS aa
  FROM cn JOIN deg dc ON cn.o = dc.n GROUP BY 1, 2
)
SELECT e.src AS id_a, e.dst AS id_b,
  CAST(COALESCE(pe.cn, 0) AS BIGINT) AS common_neighbors,
  CASE WHEN dx.deg + dy.deg - 2 - COALESCE(pe.cn, 0) > 0 THEN
    round(CAST(COALESCE(pe.cn, 0) AS DOUBLE)
          / (CAST(dx.deg AS DOUBLE) + CAST(dy.deg AS DOUBLE) - 2.0
             - CAST(COALESCE(pe.cn, 0) AS DOUBLE)), 6)
  END AS jaccard,
  COALESCE(CAST(pe.aa AS DOUBLE), 0.0) AS adamic_adar
FROM e
LEFT JOIN pe ON e.src = pe.x AND e.dst = pe.y
JOIN deg dx ON e.src = dx.n
JOIN deg dy ON e.dst = dy.n
ORDER BY common_neighbors DESC, id_a ASC, id_b ASC LIMIT 20
""")
def q_graph_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part co-purchase edges by embeddedness (common-neighbor
    count = triangles through the edge) with neighbor-Jaccard and
    Adamic-Adar — triangles enumerated once under degree-ordered
    orientation, never per-pair adjacency joins."""
    from breweries_etl_spark.operators.dedup import bucket_candidate_pairs
    from breweries_etl_spark.operators.graph import edge_embeddedness_topk

    li = load_table(spark, sf_dir, "lineitem")
    membership = li.select("l_orderkey", "l_partkey").distinct()
    edges = bucket_candidate_pairs(membership, ["l_orderkey"], "l_partkey", 50)
    return edge_embeddedness_topk(edges, "id_a", "id_b", k=20)


@query(oracle="""WITH m AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), ok AS MATERIALIZED (
  SELECT o FROM m GROUP BY o HAVING count(*) BETWEEN 2 AND 50
), e0 AS MATERIALIZED (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM m a JOIN m b ON a.o = b.o AND a.p < b.p
  JOIN ok ON a.o = ok.o
), n0 AS MATERIALIZED (
  SELECT count(DISTINCT n) AS nn FROM
    (SELECT src AS n FROM e0 UNION ALL SELECT dst FROM e0)
),
k1 AS MATERIALIZED (
  SELECT n FROM (SELECT src AS n FROM e0 UNION ALL SELECT dst FROM e0)
  GROUP BY n HAVING count(*) >= 4
), e1 AS MATERIALIZED (
  SELECT src, dst FROM e0
  WHERE src IN (SELECT n FROM k1) AND dst IN (SELECT n FROM k1)
), n1 AS MATERIALIZED (
  SELECT count(DISTINCT n) AS nn FROM
    (SELECT src AS n FROM e1 UNION ALL SELECT dst FROM e1)
),
k2 AS MATERIALIZED (
  SELECT n FROM (SELECT src AS n FROM e1 UNION ALL SELECT dst FROM e1)
  GROUP BY n HAVING count(*) >= 4
), e2 AS MATERIALIZED (
  SELECT src, dst FROM e1
  WHERE src IN (SELECT n FROM k2) AND dst IN (SELECT n FROM k2)
), n2 AS MATERIALIZED (
  SELECT count(DISTINCT n) AS nn FROM
    (SELECT src AS n FROM e2 UNION ALL SELECT dst FROM e2)
),
k3 AS MATERIALIZED (
  SELECT n FROM (SELECT src AS n FROM e2 UNION ALL SELECT dst FROM e2)
  GROUP BY n HAVING count(*) >= 4
), e3 AS MATERIALIZED (
  SELECT src, dst FROM e2
  WHERE src IN (SELECT n FROM k3) AND dst IN (SELECT n FROM k3)
), n3 AS MATERIALIZED (
  SELECT count(DISTINCT n) AS nn FROM
    (SELECT src AS n FROM e3 UNION ALL SELECT dst FROM e3)
),
k4 AS MATERIALIZED (
  SELECT n FROM (SELECT src AS n FROM e3 UNION ALL SELECT dst FROM e3)
  GROUP BY n HAVING count(*) >= 4
), e4 AS MATERIALIZED (
  SELECT src, dst FROM e3
  WHERE src IN (SELECT n FROM k4) AND dst IN (SELECT n FROM k4)
), n4 AS MATERIALIZED (
  SELECT count(DISTINCT n) AS nn FROM
    (SELECT src AS n FROM e4 UNION ALL SELECT dst FROM e4)
),
k5 AS MATERIALIZED (
  SELECT n FROM (SELECT src AS n FROM e4 UNION ALL SELECT dst FROM e4)
  GROUP BY n HAVING count(*) >= 4
), e5 AS MATERIALIZED (
  SELECT src, dst FROM e4
  WHERE src IN (SELECT n FROM k5) AND dst IN (SELECT n FROM k5)
), n5 AS MATERIALIZED (
  SELECT count(DISTINCT n) AS nn FROM
    (SELECT src AS n FROM e5 UNION ALL SELECT dst FROM e5)
),
k6 AS MATERIALIZED (
  SELECT n FROM (SELECT src AS n FROM e5 UNION ALL SELECT dst FROM e5)
  GROUP BY n HAVING count(*) >= 4
), e6 AS MATERIALIZED (
  SELECT src, dst FROM e5
  WHERE src IN (SELECT n FROM k6) AND dst IN (SELECT n FROM k6)
), n6 AS MATERIALIZED (
  SELECT count(DISTINCT n) AS nn FROM
    (SELECT src AS n FROM e6 UNION ALL SELECT dst FROM e6)
),
k7 AS MATERIALIZED (
  SELECT n FROM (SELECT src AS n FROM e6 UNION ALL SELECT dst FROM e6)
  GROUP BY n HAVING count(*) >= 4
), e7 AS MATERIALIZED (
  SELECT src, dst FROM e6
  WHERE src IN (SELECT n FROM k7) AND dst IN (SELECT n FROM k7)
), n7 AS MATERIALIZED (
  SELECT count(DISTINCT n) AS nn FROM
    (SELECT src AS n FROM e7 UNION ALL SELECT dst FROM e7)
),
k8 AS MATERIALIZED (
  SELECT n FROM (SELECT src AS n FROM e7 UNION ALL SELECT dst FROM e7)
  GROUP BY n HAVING count(*) >= 4
), e8 AS MATERIALIZED (
  SELECT src, dst FROM e7
  WHERE src IN (SELECT n FROM k8) AND dst IN (SELECT n FROM k8)
), n8 AS MATERIALIZED (
  SELECT count(DISTINCT n) AS nn FROM
    (SELECT src AS n FROM e8 UNION ALL SELECT dst FROM e8)
)
SELECT CAST(4 AS BIGINT) AS k,
  CAST((SELECT nn FROM n0) AS BIGINT) AS n_nodes_initial,
  CAST((SELECT count(*) FROM e0) AS BIGINT) AS n_edges_initial,
  CAST(CASE WHEN (SELECT nn FROM n1) < (SELECT nn FROM n0) THEN 1 ELSE 0 END + CASE WHEN (SELECT nn FROM n2) < (SELECT nn FROM n1) THEN 1 ELSE 0 END + CASE WHEN (SELECT nn FROM n3) < (SELECT nn FROM n2) THEN 1 ELSE 0 END + CASE WHEN (SELECT nn FROM n4) < (SELECT nn FROM n3) THEN 1 ELSE 0 END + CASE WHEN (SELECT nn FROM n5) < (SELECT nn FROM n4) THEN 1 ELSE 0 END + CASE WHEN (SELECT nn FROM n6) < (SELECT nn FROM n5) THEN 1 ELSE 0 END + CASE WHEN (SELECT nn FROM n7) < (SELECT nn FROM n6) THEN 1 ELSE 0 END + CASE WHEN (SELECT nn FROM n8) < (SELECT nn FROM n7) THEN 1 ELSE 0 END AS BIGINT) AS n_peel_rounds,
  CAST((SELECT nn FROM n8) AS BIGINT) AS n_nodes_core,
  CAST((SELECT count(*) FROM e8) AS BIGINT) AS n_edges_core
""")
def q_graph_kcore_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the part co-purchase graph by iterative peeling
    (<= 8 rounds, early-stopped at the fixed point); oracled by an
    8-iteration unrolled SQL replay where post-convergence iterations
    are no-ops."""
    from breweries_etl_spark.operators.dedup import bucket_candidate_pairs
    from breweries_etl_spark.operators.graph import kcore_summary

    li = load_table(spark, sf_dir, "lineitem")
    membership = li.select("l_orderkey", "l_partkey").distinct()
    edges = bucket_candidate_pairs(membership, ["l_orderkey"], "l_partkey", 50)
    return kcore_summary(edges, "id_a", "id_b", k=4, max_rounds=8)


@query(oracle="""
WITH daily AS MATERIALIZED (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events GROUP BY 1
), s AS (
  SELECT SUM(CAST(sign(b.y - a.y) AS BIGINT)) AS s
  FROM daily a JOIN daily b ON a.day < b.day
), nt AS (SELECT count(*) AS n FROM daily),
ties AS (
  SELECT SUM(CAST(CAST(c AS DECIMAL(19,0)) * (CAST(c AS DECIMAL(19,0)) - 1)
                  * (2 * CAST(c AS DECIMAL(19,0)) + 5) AS DECIMAL(38,0)))
    AS tie_sum
  FROM (SELECT y, count(*) AS c FROM daily GROUP BY y)
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS s_stat,
  round(CAST(CAST(CAST(n AS DECIMAL(19,0)) * (CAST(n AS DECIMAL(19,0)) - 1)
                  * (2 * CAST(n AS DECIMAL(19,0)) + 5) AS DECIMAL(38,0))
             - tie_sum AS DOUBLE) / 18.0, 4) AS var_s,
  CASE WHEN CAST(CAST(CAST(n AS DECIMAL(19,0)) * (CAST(n AS DECIMAL(19,0)) - 1)
                  * (2 * CAST(n AS DECIMAL(19,0)) + 5) AS DECIMAL(38,0))
             - tie_sum AS DOUBLE) / 18.0 > 0 THEN
    round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
                / sqrt(CAST(CAST(CAST(n AS DECIMAL(19,0))
                       * (CAST(n AS DECIMAL(19,0)) - 1)
                       * (2 * CAST(n AS DECIMAL(19,0)) + 5) AS DECIMAL(38,0))
                       - tie_sum AS DOUBLE) / 18.0)
               WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
                / sqrt(CAST(CAST(CAST(n AS DECIMAL(19,0))
                       * (CAST(n AS DECIMAL(19,0)) - 1)
                       * (2 * CAST(n AS DECIMAL(19,0)) + 5) AS DECIMAL(38,0))
                       - tie_sum AS DOUBLE) / 18.0)
               ELSE 0.0 END, 6)
  END AS z
FROM nt CROSS JOIN s CROSS JOIN ties
""")
def q_mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the daily event-value series
    (tie-corrected variance, continuity-corrected z)."""
    from breweries_etl_spark.operators.temporal import mann_kendall_daily

    return mann_kendall_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH base AS (
  SELECT l_returnflag AS g, CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
), meds AS (
  SELECT g, CAST(quantile_disc(v, 0.5) AS DECIMAL(18,2)) AS med
  FROM base GROUP BY g
), z AS (
  SELECT base.g, CAST(abs(base.v - meds.med) AS DECIMAL(18,2)) AS zv
  FROM base JOIN meds USING (g)
), per_g AS (
  SELECT g, count(*) AS n_g,
    SUM(CAST(zv AS DECIMAL(18,2))) AS s_g,
    SUM(CAST(CAST(zv AS DECIMAL(18,2))
             * CAST(zv AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS q_g
  FROM z GROUP BY 1
), s AS (
{_ANOVA_S_CTE}
)
{_anova_tail_sql("bf_w")}
""")
def q_brown_forsythe_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality W across return flags: ANOVA on
    absolute deviations from per-group medians."""
    from breweries_etl_spark.operators.hypotests import brown_forsythe

    return brown_forsythe(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(oracle="""
WITH cells AS (
  SELECT l_linestatus AS a, l_returnflag AS b, count(*) AS o
  FROM lineitem
  WHERE l_linestatus IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1, 2
), ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
cb AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
tot AS (
  SELECT SUM(o) AS n, count(DISTINCT a) AS ka, count(DISTINCT b) AS kb
  FROM cells
), grid AS (
  SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(cells.o, 0) AS o
  FROM ra CROSS JOIN cb LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b
), chi AS (
  SELECT SUM(CAST(floor(
    (CAST(o AS DOUBLE)
     - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tot.n AS DOUBLE))
    * (CAST(o AS DOUBLE)
       - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tot.n AS DOUBLE))
    / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(tot.n AS DOUBLE))
    * 1000000.0) AS DECIMAL(38,0))) AS chi_fp
  FROM grid CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n,
  CAST(ka AS BIGINT) AS n_cat_a, CAST(kb AS BIGINT) AS n_cat_b,
  round(CAST(chi_fp AS DOUBLE) / 1e6, 4) AS chi2,
  CASE WHEN least(ka - 1, kb - 1) > 0 THEN
    round(sqrt((CAST(chi_fp AS DOUBLE) / 1e6)
               / (CAST(n AS DOUBLE)
                  * CAST(least(ka - 1, kb - 1) AS DOUBLE))), 6)
  END AS cramers_v
FROM tot CROSS JOIN chi
""")
def q_cramers_v_status_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association between linestatus and returnflag from one
    contingency aggregate."""
    from breweries_etl_spark.operators.hypotests import cramers_v

    return cramers_v(
        load_table(spark, sf_dir, "lineitem"), "l_linestatus", "l_returnflag"
    )


@query(oracle="""
WITH s AS (
  SELECT count(*) AS n,
    SUM(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS sx,
    SUM(CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS sy,
    SUM(CAST((CASE WHEN l_discount < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_discount AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS sz,
    SUM(CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
    SUM(CAST(CAST((CASE WHEN l_discount < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_discount AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_discount < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_discount AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS szz,
    SUM(CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy,
    SUM(CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_discount < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_discount AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxz,
    SUM(CAST(CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_discount < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_discount AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syz
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_discount IS NOT NULL
)
SELECT CAST(n AS BIGINT) AS n,
  round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE))) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))), 6) AS r_xy,
  round(((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE))) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))), 6) AS r_xz,
  round(((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))), 6) AS r_yz,
  CASE WHEN sqrt((1.0 - ((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE))) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))) * ((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE))) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))))) * (1.0 - ((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))) * ((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))))) > 0 THEN
    round((((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE))) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) - ((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE))) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))) * ((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))))
          / sqrt((1.0 - ((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE))) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))) * ((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE))) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))))) * (1.0 - ((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))) * ((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))))), 6)
  END AS partial_r
FROM s
""")
def q_partial_corr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of price and quantity controlling for
    discount - one moment pass, fixed double combination."""
    from breweries_etl_spark.operators.hypotests import partial_corr

    return partial_corr(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        "l_quantity",
        "l_discount",
    )


@query(oracle="""
WITH e AS (
  SELECT event_type AS cur,
    lead(event_type, 1) OVER (PARTITION BY user_id
      ORDER BY ts ASC, event_id ASC) AS nxt
  FROM events
), p AS (
  SELECT cur, nxt, count(*) AS c FROM e WHERE nxt IS NOT NULL GROUP BY 1, 2
), t AS (SELECT cur, SUM(c) AS ct FROM p GROUP BY cur),
s AS (
  SELECT p.cur, p.nxt, p.c,
    CAST(p.c AS DOUBLE) / CAST(t.ct AS DOUBLE) AS pr
  FROM p JOIN t USING (cur)
), h AS (
  SELECT cur, SUM(CAST(round(-pr * ln(pr), 6) AS DECIMAL(18,6))) AS h
  FROM s GROUP BY cur
)
SELECT s.cur AS cur_type, s.nxt AS next_type,
  CAST(s.c AS BIGINT) AS n_transitions,
  round(pr, 6) AS p_next,
  CAST(h.h AS DOUBLE) AS cur_entropy
FROM s JOIN h USING (cur)
""")
def q_event_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition table over user event streams with
    per-source-state conditional entropy."""
    from breweries_etl_spark.operators.behavior import event_transition_stats

    return event_transition_stats(load_events(spark, sf_dir))


@query(oracle="""
WITH d AS (
  SELECT lang,
    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS b
  FROM documents WHERE lang IS NOT NULL
), pl AS (
  SELECT lang,
    SUM(CASE WHEN b < 32768 THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN b >= 32768 THEN 1 ELSE 0 END) AS cb
  FROM d GROUP BY lang
), tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM pl),
terms AS (
  SELECT
    CASE WHEN ca > 0 THEN
      round((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
            * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                 / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                     + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0)), 6)
    ELSE 0.0 END AS ta,
    CASE WHEN cb > 0 THEN
      round((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
            * ln((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
                 / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                     + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0)), 6)
    ELSE 0.0 END AS tb,
    na, nb
  FROM pl CROSS JOIN tot
)
SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
  CAST(count(*) AS BIGINT) AS n_labels,
  round(CAST(SUM(CAST(ta AS DECIMAL(18,6)) + CAST(tb AS DECIMAL(18,6)))
             AS DOUBLE) / 2.0, 6) AS js_divergence
FROM terms
""")
def q_js_divergence_docs_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of the language mix between two
    md5-hash halves of the corpus (portable split, bounded label
    domain)."""
    from breweries_etl_spark.operators.hypotests import js_divergence_split

    return js_divergence_split(
        load_table(spark, sf_dir, "documents"), "doc_id", "lang"
    )


@query(oracle=f"""
WITH per_key AS (
  SELECT n.n_name AS g, o.o_custkey AS k,
    SUM(CAST((CASE WHEN o_totalprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS r
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), vc AS (
  SELECT g, r AS v, count(*) AS c FROM per_key WHERE r IS NOT NULL
  GROUP BY 1, 2
), cum AS (
  SELECT g, v, c,
    SUM(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cm
  FROM vc
), s AS (
  SELECT g, SUM(c) AS n_keys,
    SUM(CAST(v * CAST(c AS DECIMAL(19,0)) AS DECIMAL(38,2))) AS total,
    SUM(CAST(v * CAST(c AS DECIMAL(19,0))
             * (2 * CAST(cm AS DECIMAL(19,0)) - CAST(c AS DECIMAL(19,0)) + 1)
             AS DECIMAL(38,2))) AS num2
  FROM cum GROUP BY g
)
SELECT g AS n_name, CAST(n_keys AS BIGINT) AS n_keys,
  {_ddwf('total')} AS total_value,
  CASE WHEN {_ddwf('total')} > 0 THEN
    round({_ddwf('num2')} / (CAST(n_keys AS DOUBLE) * {_ddwf('total')})
          - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE), 6)
  END AS gini
FROM s
""")
def q_gini_by_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini of customer revenue: group-partitioned rank-sum
    windows over the collapsed value relation."""
    from breweries_etl_spark.operators.hypotests import gini_by_group

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).join(nation, customer.c_nationkey == nation.n_nationkey)
    return gini_by_group(joined, "n_name", "o_custkey", "o_totalprice")


@query(oracle="""
WITH per_g AS (
  SELECT l_returnflag AS g, count(*) AS n_g,
    SUM(CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS sx,
    SUM(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS sy,
    SUM(CAST(CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(CAST((CASE WHEN l_quantity < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_quantity AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy,
    SUM(CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
             * CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_returnflag IS NOT NULL
  GROUP BY 1
), s AS (
  SELECT SUM(n_g) AS n, count(*) AS k,
    SUM(CAST(sx AS DECIMAL(38,2))) AS tsx,
    SUM(CAST(sy AS DECIMAL(38,2))) AS tsy,
    SUM(CAST(sxx AS DECIMAL(38,4))) AS tsxx,
    SUM(CAST(sxy AS DECIMAL(38,4))) AS tsxy,
    SUM(CAST(syy AS DECIMAL(38,4))) AS tsyy,
    SUM(CAST(floor(CASE WHEN n_g > 2 AND ((CAST(CAST(floor(sxx) AS BIGINT) AS DOUBLE) + CAST(sxx - floor(sxx) AS DOUBLE)) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) / CAST(n_g AS DOUBLE)) > 0
                   THEN (((CAST(CAST(floor(syy) AS BIGINT) AS DOUBLE) + CAST(syy - floor(syy) AS DOUBLE)) - (CAST(CAST(floor(sy) AS BIGINT) AS DOUBLE) + CAST(sy - floor(sy) AS DOUBLE)) * (CAST(CAST(floor(sy) AS BIGINT) AS DOUBLE) + CAST(sy - floor(sy) AS DOUBLE)) / CAST(n_g AS DOUBLE)) - ((CAST(CAST(floor(sxy) AS BIGINT) AS DOUBLE) + CAST(sxy - floor(sxy) AS DOUBLE)) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sy) AS BIGINT) AS DOUBLE) + CAST(sy - floor(sy) AS DOUBLE)) / CAST(n_g AS DOUBLE)) * ((CAST(CAST(floor(sxy) AS BIGINT) AS DOUBLE) + CAST(sxy - floor(sxy) AS DOUBLE)) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sy) AS BIGINT) AS DOUBLE) + CAST(sy - floor(sy) AS DOUBLE)) / CAST(n_g AS DOUBLE)) / ((CAST(CAST(floor(sxx) AS BIGINT) AS DOUBLE) + CAST(sxx - floor(sxx) AS DOUBLE)) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) / CAST(n_g AS DOUBLE))) ELSE 0.0 END * 100.0)
             AS DECIMAL(38,0))) AS ssw_fp
  FROM per_g
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  floor((((CAST(CAST(floor(tsyy) AS BIGINT) AS DOUBLE) + CAST(tsyy - floor(tsyy) AS DOUBLE)) - (CAST(CAST(floor(tsy) AS BIGINT) AS DOUBLE) + CAST(tsy - floor(tsy) AS DOUBLE)) * (CAST(CAST(floor(tsy) AS BIGINT) AS DOUBLE) + CAST(tsy - floor(tsy) AS DOUBLE)) / CAST(n AS DOUBLE)) - ((CAST(CAST(floor(tsxy) AS BIGINT) AS DOUBLE) + CAST(tsxy - floor(tsxy) AS DOUBLE)) - (CAST(CAST(floor(tsx) AS BIGINT) AS DOUBLE) + CAST(tsx - floor(tsx) AS DOUBLE)) * (CAST(CAST(floor(tsy) AS BIGINT) AS DOUBLE) + CAST(tsy - floor(tsy) AS DOUBLE)) / CAST(n AS DOUBLE)) * ((CAST(CAST(floor(tsxy) AS BIGINT) AS DOUBLE) + CAST(tsxy - floor(tsxy) AS DOUBLE)) - (CAST(CAST(floor(tsx) AS BIGINT) AS DOUBLE) + CAST(tsx - floor(tsx) AS DOUBLE)) * (CAST(CAST(floor(tsy) AS BIGINT) AS DOUBLE) + CAST(tsy - floor(tsy) AS DOUBLE)) / CAST(n AS DOUBLE)) / ((CAST(CAST(floor(tsxx) AS BIGINT) AS DOUBLE) + CAST(tsxx - floor(tsxx) AS DOUBLE)) - (CAST(CAST(floor(tsx) AS BIGINT) AS DOUBLE) + CAST(tsx - floor(tsx) AS DOUBLE)) * (CAST(CAST(floor(tsx) AS BIGINT) AS DOUBLE) + CAST(tsx - floor(tsx) AS DOUBLE)) / CAST(n AS DOUBLE))) * 100.0) / 100.0 AS sse_pooled,
  ((CAST(CAST(floor(ssw_fp) AS BIGINT) AS DOUBLE) + CAST(ssw_fp - floor(ssw_fp) AS DOUBLE)) / 100.0) AS sse_within,
  CASE WHEN k > 1 AND ((CAST(CAST(floor(ssw_fp) AS BIGINT) AS DOUBLE) + CAST(ssw_fp - floor(ssw_fp) AS DOUBLE)) / 100.0) > 0 THEN
    round((((((CAST(CAST(floor(tsyy) AS BIGINT) AS DOUBLE) + CAST(tsyy - floor(tsyy) AS DOUBLE)) - (CAST(CAST(floor(tsy) AS BIGINT) AS DOUBLE) + CAST(tsy - floor(tsy) AS DOUBLE)) * (CAST(CAST(floor(tsy) AS BIGINT) AS DOUBLE) + CAST(tsy - floor(tsy) AS DOUBLE)) / CAST(n AS DOUBLE)) - ((CAST(CAST(floor(tsxy) AS BIGINT) AS DOUBLE) + CAST(tsxy - floor(tsxy) AS DOUBLE)) - (CAST(CAST(floor(tsx) AS BIGINT) AS DOUBLE) + CAST(tsx - floor(tsx) AS DOUBLE)) * (CAST(CAST(floor(tsy) AS BIGINT) AS DOUBLE) + CAST(tsy - floor(tsy) AS DOUBLE)) / CAST(n AS DOUBLE)) * ((CAST(CAST(floor(tsxy) AS BIGINT) AS DOUBLE) + CAST(tsxy - floor(tsxy) AS DOUBLE)) - (CAST(CAST(floor(tsx) AS BIGINT) AS DOUBLE) + CAST(tsx - floor(tsx) AS DOUBLE)) * (CAST(CAST(floor(tsy) AS BIGINT) AS DOUBLE) + CAST(tsy - floor(tsy) AS DOUBLE)) / CAST(n AS DOUBLE)) / ((CAST(CAST(floor(tsxx) AS BIGINT) AS DOUBLE) + CAST(tsxx - floor(tsxx) AS DOUBLE)) - (CAST(CAST(floor(tsx) AS BIGINT) AS DOUBLE) + CAST(tsx - floor(tsx) AS DOUBLE)) * (CAST(CAST(floor(tsx) AS BIGINT) AS DOUBLE) + CAST(tsx - floor(tsx) AS DOUBLE)) / CAST(n AS DOUBLE))) - ((CAST(CAST(floor(ssw_fp) AS BIGINT) AS DOUBLE) + CAST(ssw_fp - floor(ssw_fp) AS DOUBLE)) / 100.0)) / (2.0 * (CAST(k AS DOUBLE) - 1.0)))
          / (((CAST(CAST(floor(ssw_fp) AS BIGINT) AS DOUBLE) + CAST(ssw_fp - floor(ssw_fp) AS DOUBLE)) / 100.0) / (CAST(n AS DOUBLE) - 2.0 * CAST(k AS DOUBLE))), 6)
  END AS chow_f
FROM s
""")
def q_chow_test_price_qty_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow-style slope-heterogeneity F across return flags for
    price ~ quantity (pooled vs per-group SSE from one moment pass)."""
    from breweries_etl_spark.operators.hypotests import chow_test

    return chow_test(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    )


@query(oracle="""
WITH m AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), ok AS (
  SELECT o FROM m GROUP BY o HAVING count(*) BETWEEN 2 AND 50
), e AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM m a JOIN m b ON a.o = b.o AND a.p < b.p
  JOIN ok ON a.o = ok.o
), adj AS (
  SELECT src AS a, dst AS c FROM e UNION ALL SELECT dst AS a, src AS c FROM e
), deg AS (SELECT a AS n, count(*) AS deg FROM adj GROUP BY 1),
rows_ AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM adj JOIN deg da ON adj.a = da.n JOIN deg db ON adj.c = db.n
), s AS (
  SELECT count(*) AS m2,
    SUM(CAST(dx AS DECIMAL(38,0))) AS sx,
    SUM(CAST(dy AS DECIMAL(38,0))) AS sy,
    SUM(CAST(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS syy,
    SUM(CAST(CAST(dx AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS sxy
  FROM rows_
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
  CAST(m2 // 2 AS BIGINT) AS n_edges,
  CASE WHEN sqrt(CAST(m2 AS DOUBLE) * (CAST(CAST(floor(sxx) AS BIGINT) AS DOUBLE) + CAST(sxx - floor(sxx) AS DOUBLE)) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE))) > 0
        AND sqrt(CAST(m2 AS DOUBLE) * (CAST(CAST(floor(syy) AS BIGINT) AS DOUBLE) + CAST(syy - floor(syy) AS DOUBLE)) - (CAST(CAST(floor(sy) AS BIGINT) AS DOUBLE) + CAST(sy - floor(sy) AS DOUBLE)) * (CAST(CAST(floor(sy) AS BIGINT) AS DOUBLE) + CAST(sy - floor(sy) AS DOUBLE))) > 0 THEN
    round((CAST(m2 AS DOUBLE) * (CAST(CAST(floor(sxy) AS BIGINT) AS DOUBLE) + CAST(sxy - floor(sxy) AS DOUBLE)) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sy) AS BIGINT) AS DOUBLE) + CAST(sy - floor(sy) AS DOUBLE)))
          / (sqrt(CAST(m2 AS DOUBLE) * (CAST(CAST(floor(sxx) AS BIGINT) AS DOUBLE) + CAST(sxx - floor(sxx) AS DOUBLE)) - (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)) * (CAST(CAST(floor(sx) AS BIGINT) AS DOUBLE) + CAST(sx - floor(sx) AS DOUBLE)))
             * sqrt(CAST(m2 AS DOUBLE) * (CAST(CAST(floor(syy) AS BIGINT) AS DOUBLE) + CAST(syy - floor(syy) AS DOUBLE)) - (CAST(CAST(floor(sy) AS BIGINT) AS DOUBLE) + CAST(sy - floor(sy) AS DOUBLE)) * (CAST(CAST(floor(sy) AS BIGINT) AS DOUBLE) + CAST(sy - floor(sy) AS DOUBLE)))), 6)
  END AS assortativity
FROM s
""")
def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (Pearson over
    edge-endpoint degree pairs, both orientations)."""
    from breweries_etl_spark.operators.dedup import bucket_candidate_pairs
    from breweries_etl_spark.operators.graph import degree_assortativity

    li = load_table(spark, sf_dir, "lineitem")
    membership = li.select("l_orderkey", "l_partkey").distinct()
    edges = bucket_candidate_pairs(membership, ["l_orderkey"], "l_partkey", 50)
    return degree_assortativity(edges, "id_a", "id_b")


@query(oracle="""
WITH m AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), ok AS (
  SELECT o FROM m GROUP BY o HAVING count(*) BETWEEN 2 AND 50
), e AS MATERIALIZED (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM m a JOIN m b ON a.o = b.o AND a.p < b.p
  JOIN ok ON a.o = ok.o
), deg AS (
  SELECT n, count(*) AS deg FROM (
    SELECT src AS n FROM e UNION ALL SELECT dst AS n FROM e
  ) GROUP BY n
), tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1 JOIN e e2 ON e1.dst = e2.src
  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
), nt AS (
  SELECT node, count(*) AS t FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
), pn AS (
  SELECT deg.n, deg.deg, COALESCE(nt.t, 0) AS t
  FROM deg LEFT JOIN nt ON deg.n = nt.node
  WHERE deg.deg >= 2
), f AS (
  SELECT count(*) AS n2,
    SUM(CAST(round(2.0 * CAST(t AS DOUBLE)
                   / (CAST(deg AS DOUBLE) * (CAST(deg AS DOUBLE) - 1.0)), 6)
             AS DECIMAL(18,6))) AS csum,
    SUM(t) AS t3
  FROM pn
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
  CAST(n2 AS BIGINT) AS n_deg2plus,
  CAST(t3 // 3 AS BIGINT) AS n_triangles,
  CASE WHEN n2 > 0 THEN
    round((CAST(CAST(floor(csum) AS BIGINT) AS DOUBLE) + CAST(csum - floor(csum) AS DOUBLE)) / CAST(n2 AS DOUBLE), 6)
  END AS avg_clustering
FROM f
""")
def q_graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Watts-Strogatz local clustering of the co-purchase graph
    from one oriented triangle enumeration."""
    from breweries_etl_spark.operators.dedup import bucket_candidate_pairs
    from breweries_etl_spark.operators.graph import local_clustering_summary

    li = load_table(spark, sf_dir, "lineitem")
    membership = li.select("l_orderkey", "l_partkey").distinct()
    edges = bucket_candidate_pairs(membership, ["l_orderkey"], "l_partkey", 50)
    return local_clustering_summary(edges, "id_a", "id_b")
