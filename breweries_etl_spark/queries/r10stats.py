"""Omnibus two-sample tests and changepoint and records series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _AB_S2V, _DAILY_EVENTS, _JB_BASE, _ddw, _ddwf,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("r10stats")


@query(oracle=f"""
WITH {_DAILY_EVENTS},
walked AS (
  SELECT y,
    row_number() OVER (ORDER BY day) AS t,
    max(y) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
    min(y) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
  FROM daily
), flagged AS (SELECT * FROM walked WHERE t >= 2),
folded AS (
  SELECT
    SUM(CASE WHEN y > pmax THEN 1 ELSE 0 END) AS u,
    SUM(CASE WHEN y < pmin THEN 1 ELSE 0 END) AS l,
    SUM(CAST(round(2.0 / CAST(t AS DOUBLE), 12) AS DECIMAL(38,12)))
      AS vd12,
    SUM(CAST(round(2.0 / CAST(t AS DOUBLE)
          - 4.0 / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 12)
        AS DECIMAL(38,12))) AS vs12
  FROM flagged
), tot AS (SELECT count(*) AS n FROM daily),
final AS (SELECT * FROM folded CROSS JOIN tot)
SELECT CAST(n AS BIGINT) AS n_days,
  CAST(u AS BIGINT) AS n_upper,
  CAST(l AS BIGINT) AS n_lower,
  CAST(u - l AS BIGINT) AS d_stat,
  CAST(u + l AS BIGINT) AS s_stat,
  CASE WHEN CAST(vd12 AS DOUBLE) > 0 THEN
    round((CAST(u AS DOUBLE) - CAST(l AS DOUBLE))
          / sqrt(CAST(vd12 AS DOUBLE)), 6) END AS z_trend,
  CASE WHEN CAST(vs12 AS DOUBLE) > 0 THEN
    round((CAST(u AS DOUBLE) + CAST(l AS DOUBLE) - CAST(vd12 AS DOUBLE))
          / sqrt(CAST(vs12 AS DOUBLE)), 6) END AS z_disp
FROM final
""")
def q_foster_stuart_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Foster-Stuart records trend/dispersion test over the daily
    value series (operators/temporal.py:foster_stuart_records)."""
    from breweries_etl_spark.operators.temporal import (
        foster_stuart_records,
    )

    return foster_stuart_records(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
trip AS (
  SELECT y AS a,
    lead(y, 1) OVER (ORDER BY day) AS b,
    lead(y, 2) OVER (ORDER BY day) AS c
  FROM daily QUALIFY lead(y, 2) OVER (ORDER BY day) IS NOT NULL
), pats AS (
  SELECT
    ((CASE WHEN b < a THEN 1 ELSE 0 END + CASE WHEN c < a THEN 1 ELSE 0 END)
       * 100
     + (CASE WHEN a <= b THEN 1 ELSE 0 END
        + CASE WHEN c < b THEN 1 ELSE 0 END) * 10
     + (CASE WHEN a <= c THEN 1 ELSE 0 END
        + CASE WHEN b <= c THEN 1 ELSE 0 END)) AS pattern
  FROM trip
), hist AS (
  SELECT pattern, count(*) AS cnt FROM pats GROUP BY pattern
), tot AS (SELECT SUM(cnt) AS n FROM hist),
folded AS (
  SELECT max(n) AS n, count(*) AS k,
    SUM(CAST(round(-(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
        * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS DECIMAL(18,6))) AS h
  FROM hist CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_triples, CAST(k AS BIGINT) AS n_patterns,
  CASE WHEN n > 0 THEN round(CAST(h AS DOUBLE), 6) END AS perm_entropy,
  CASE WHEN n > 0 THEN
    round(CAST(h AS DOUBLE) / 1.791759469228055, 6) END AS normalized_pe
FROM folded
""")
def q_permutation_entropy_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-3 Bandt-Pompe permutation entropy of the daily value
    series (operators/temporal.py:permutation_entropy_daily)."""
    from breweries_etl_spark.operators.temporal import (
        permutation_entropy_daily,
    )

    return permutation_entropy_daily(load_events(spark, sf_dir))


@query(oracle="""
WITH per AS (
  SELECT
    (CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END
     + CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9_]+')) >= 30
            THEN 1 ELSE 0 END
     + CASE WHEN contains(lower(text), ' the ') THEN 1 ELSE 0 END)
    AS np
  FROM documents
), sums AS (
  SELECT count(*) AS n,
    SUM(CAST(np AS DECIMAL(38,0))) AS s1,
    SUM(CAST(CAST(np AS DECIMAL(19,0)) * CAST(np AS DECIMAL(19,0))
        AS DECIMAL(38,0))) AS s2
  FROM per
), d AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d
  FROM sums
), k AS (
  SELECT n, nd, 3.0 AS md,
    s1d / (3.0 * nd) AS p_pass,
    ((2.0 * s2d - 2.0 * 3.0 * s1d + 3.0 * 3.0 * nd) - 3.0 * nd)
      / (nd * 3.0 * (3.0 - 1.0)) AS p_bar
  FROM d
), e AS (
  SELECT *, p_pass * p_pass + (1.0 - p_pass) * (1.0 - p_pass) AS p_e
  FROM k
)
SELECT CAST(n AS BIGINT) AS n_subjects, CAST(3 AS BIGINT) AS m_raters,
  CASE WHEN n > 0 THEN round(p_pass, 6) END AS p_pass,
  CASE WHEN n > 0 THEN round(p_bar, 6) END AS p_bar,
  CASE WHEN n > 0 THEN round(p_e, 6) END AS p_e,
  CASE WHEN n > 0 AND 1.0 - p_e > 0 THEN
    round((p_bar - p_e) / (1.0 - p_e), 6) END AS fleiss_kappa
FROM e
""")
def q_fleiss_kappa_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across three deterministic doc-quality raters
    (length, token count, stopword hit) — inter-heuristic agreement
    before trusting a label ensemble
    (operators/profiling.py:fleiss_kappa_binary)."""
    from breweries_etl_spark.operators.profiling import fleiss_kappa_binary

    docs = load_table(spark, sf_dir, "documents")
    return fleiss_kappa_binary(
        docs,
        [
            F.length("text") >= 200,
            F.size(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9_]+"), 0
                )
            )
            >= 30,
            F.lower(F.col("text")).contains(" the "),
        ],
    )


@query(oracle=f"""
WITH {_DAILY_EVENTS},
yc AS (
  SELECT y, count(*) AS c FROM daily GROUP BY y
), ycum AS (
  SELECT y, c,
    SUM(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS cum
  FROM yc
), joined AS (
  SELECT day, CAST(2 * cum - c + 1 AS BIGINT) AS u
  FROM daily JOIN ycum USING (y)
), tot AS (SELECT count(*) AS n FROM daily),
stepped AS (
  SELECT day,
    SUM(u) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      - CAST(row_number() OVER (ORDER BY day) AS BIGINT) * (n + 1) AS ut
  FROM joined CROSS JOIN tot
  QUALIFY row_number() OVER (ORDER BY day) < n
), kk AS (SELECT max(abs(ut)) AS k_stat FROM stepped),
arg AS (
  SELECT min(day) AS change_day
  FROM stepped CROSS JOIN kk WHERE abs(ut) = k_stat
), final AS (
  SELECT n, k_stat, change_day FROM tot CROSS JOIN kk CROSS JOIN arg
)
SELECT CAST(n AS BIGINT) AS n_days,
  CAST(k_stat AS BIGINT) AS k_stat,
  CAST(change_day AS BIGINT) AS change_day,
  CASE WHEN n > 1 THEN
    round(least(1.0, 2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE)
      * CAST(k_stat AS DOUBLE)
      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 6) END AS p_approx
FROM final
""")
def q_pettitt_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank change-point over the daily value series
    (operators/temporal.py:pettitt_changepoint)."""
    from breweries_etl_spark.operators.temporal import pettitt_changepoint

    return pettitt_changepoint(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_JB_BASE},
d AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_ddw('s1')} / 1e12 AS s1d, {_ddw('s2')} / 1e14 AS s2d,
    {_ddw('s3')} / 1e15 AS s3d, {_ddw('s4')} / 1e16 AS s4d
  FROM m
), c AS (SELECT *, s1d / nd AS mu FROM d),
cm AS (
  SELECT n, nd,
    s2d / nd - mu * mu AS m2,
    s3d / nd - 3.0 * mu * (s2d / nd) + 2.0 * mu * mu * mu AS m3,
    s4d / nd - 4.0 * mu * (s3d / nd) + 6.0 * mu * mu * (s2d / nd)
      - 3.0 * mu * mu * mu * mu AS m4
  FROM c
), g AS (
  SELECT n, nd, m2,
    m3 / pow(m2, 1.5) AS g1,
    m4 / (m2 * m2) - 3.0 AS g2
  FROM cm
), z1c AS (
  -- n >= 20 guard INSIDE the chain: DuckDB evaluates CTE expressions
  -- eagerly, and at n < 20 the w2 radicand goes negative (empty-table
  -- sweep r10); NULLs propagate through the rest of the chain
  SELECT *,
    CASE WHEN nd >= 20 THEN
      g1 * sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0))) END AS y,
    CASE WHEN nd >= 20 THEN
      -1.0 + sqrt(2.0 * (3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0)
        * (nd + 3.0) / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
        - 1.0)) END AS w2
  FROM g
), z1 AS (
  SELECT n, nd, m2, g2,
    (1.0 / sqrt(ln(sqrt(w2))))
      * ln(y / sqrt(2.0 / (w2 - 1.0))
           + sqrt((y / sqrt(2.0 / (w2 - 1.0)))
                  * (y / sqrt(2.0 / (w2 - 1.0))) + 1.0)) AS z_skew
  FROM z1c
), z2c AS (
  SELECT *,
    CASE WHEN nd >= 20 THEN
      (g2 + 6.0 / (nd + 1.0))
        / sqrt(24.0 * nd * (nd - 2.0) * (nd - 3.0)
               / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))) END
      AS x,
    CASE WHEN nd >= 20 THEN
      (6.0 * (nd * nd - 5.0 * nd + 2.0) / ((nd + 7.0) * (nd + 9.0)))
        * sqrt(6.0 * (nd + 3.0) * (nd + 5.0)
               / (nd * (nd - 2.0) * (nd - 3.0))) END AS bb
  FROM z1
), z2a AS (
  SELECT *,
    6.0 + (8.0 / bb) * (2.0 / bb + sqrt(1.0 + 4.0 / (bb * bb))) AS aa
  FROM z2c
), z2b AS (
  SELECT *,
    1.0 + x * sqrt(2.0 / (aa - 4.0)) AS den_inner
  FROM z2a
), z2 AS (
  SELECT n, nd, m2, z_skew,
    CASE WHEN den_inner <> 0 THEN
      ((1.0 - 2.0 / (9.0 * aa))
       - (CASE WHEN (1.0 - 2.0 / aa) / den_inner = 0 THEN 0.0
          ELSE (CASE WHEN (1.0 - 2.0 / aa) / den_inner < 0
                THEN -1.0 ELSE 1.0 END)
               * exp(ln(abs((1.0 - 2.0 / aa) / den_inner)) / 3.0) END))
      / sqrt(2.0 / (9.0 * aa))
    END AS z_kurt
  FROM z2b
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN n >= 20 AND m2 > 0 THEN round(z_skew, 6) END AS z_skew,
  CASE WHEN n >= 20 AND m2 > 0 THEN round(z_kurt, 6) END AS z_kurt,
  CASE WHEN n >= 20 AND m2 > 0 THEN
    round(z_skew * z_skew + z_kurt * z_kurt, 6) END AS k2_stat,
  CASE WHEN n >= 20 AND m2 > 0 THEN
    round(exp(-round(z_skew * z_skew + z_kurt * z_kurt, 6) / 2.0), 6)
  END AS p_value
FROM z2
""")
def q_dagostino_k2_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K^2 omnibus normality on l_extendedprice —
    small-sample-corrected skew/kurtosis z-scores
    (operators/hypotests.py:dagostino_k2)."""
    from breweries_etl_spark.operators.hypotests import dagostino_k2

    return dagostino_k2(load_table(spark, sf_dir, "lineitem"), "l_extendedprice")


@query(oracle=f"""
WITH vc AS MATERIALIZED (
  SELECT l_extendedprice AS v,
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS cb
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
    SUM(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), tot AS (
  SELECT SUM(ca) AS n_a, SUM(cb) AS n_b, SUM(ca + cb) AS nn FROM vc
), geom AS (
  SELECT ca, cb, n_a, n_b, nn,
    CAST(ca + cb AS DECIMAL(19,0)) AS c,
    CAST(2 AS DECIMAL(19,0)) * CAST(cum AS DECIMAL(19,0))
      - CAST(ca + cb AS DECIMAL(19,0)) + 1 AS u,
    CAST(cum AS DECIMAL(19,0)) - CAST(ca + cb AS DECIMAL(19,0)) + 1 AS lo,
    CAST(cum AS DECIMAL(19,0)) AS hi,
    CAST((nn + 1) // 2 AS DECIMAL(19,0)) AS t,
    CAST(nn + 1 AS DECIMAL(19,0)) AS np1
  FROM cum CROSS JOIN tot
), series AS (
  SELECT ca, n_a, n_b, nn, c, u, lo, hi, np1,
    least(hi, t) AS b1,
    greatest(least(hi, t) - lo + 1, CAST(0 AS DECIMAL(19,0))) AS len1,
    greatest(lo, t + 1) AS a2,
    greatest(hi - greatest(lo, t + 1) + 1, CAST(0 AS DECIMAL(19,0))) AS len2
  FROM geom
), folded AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b, max(nn) AS nn,
    SUM(CAST(CAST(ca AS DECIMAL(19,0)) * u AS DECIMAL(38,0))) AS r2a,
    SUM(CAST(c * c * c - c AS DECIMAL(38,0))) AS ties,
    SUM(CAST(floor(1e6 * CAST(ca AS DOUBLE)
                   * (({_ddw(_AB_S2V)} / 2.0) / CAST(c AS DOUBLE)))
             AS DECIMAL(38,0))) AS w_fp,
    SUM({_AB_S2V}) AS s2_sum,
    SUM(CAST(floor(1e6 * ({_ddw(_AB_S2V)} / 2.0)
                   * (({_ddw(_AB_S2V)} / 2.0) / CAST(c AS DOUBLE)))
             AS DECIMAL(38,0))) AS aa_fp
  FROM series
), d AS (
  SELECT n_a, n_b, nn,
    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
    CAST(nn AS DOUBLE) AS n,
    {_ddw('r2a')} / 2.0 AS wa,
    {_ddw('ties')} AS tiesum,
    {_ddw('w_fp')} / 1e6 AS w,
    {_ddw('s2_sum')} / 2.0 AS sa,
    {_ddw('aa_fp')} / 1e6 AS saa
  FROM folded
), z AS (
  SELECT n_a, n_b,
    (wa - na * (n + 1.0) / 2.0)
      / sqrt(na * nb / 12.0 * ((n + 1.0) - tiesum / (n * (n - 1.0))))
      AS zw,
    (w - na * (sa / n))
      / sqrt(na * nb * (n * saa - sa * sa) / (n * n * (n - 1.0))) AS zab,
    (n_a > 0 AND n_b > 0
     AND na * nb / 12.0 * ((n + 1.0) - tiesum / (n * (n - 1.0))) > 0
     AND na * nb * (n * saa - sa * sa) / (n * n * (n - 1.0)) > 0) AS ok
  FROM d
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CASE WHEN ok THEN round(zw, 6) END AS z_wilcoxon,
  CASE WHEN ok THEN round(zab, 6) END AS z_ansari,
  CASE WHEN ok THEN round(zw * zw + zab * zab, 6) END AS lepage_l,
  CASE WHEN ok THEN
    round(exp(-round(zw * zw + zab * zab, 6) / 2.0), 6) END AS p_value
FROM z
""")
def q_lepage_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage location-or-scale omnibus on price, returned vs other —
    one prefix-count pass serving both the Wilcoxon and Ansari parts
    (operators/hypotests.py:lepage_test)."""
    from breweries_etl_spark.operators.hypotests import lepage_test

    return lepage_test(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle="""
WITH counts AS (
  SELECT source AS cat, count(*) AS c FROM documents GROUP BY source
), tot AS (SELECT SUM(c) AS n FROM counts),
folded AS (
  SELECT max(n) AS n, count(*) AS k,
    SUM(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS DECIMAL(18,6))) AS h,
    SUM(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS DECIMAL(18,6))) AS p2,
    max(c) AS cmax
  FROM counts CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS n_categories,
  CASE WHEN n > 0 THEN round(CAST(h AS DOUBLE), 6) END AS shannon_h,
  CASE WHEN n > 0 THEN round(1.0 - CAST(p2 AS DOUBLE), 6) END AS simpson_d,
  CASE WHEN k > 1 THEN
    round(CAST(h AS DOUBLE) / ln(CAST(k AS DOUBLE)), 6) END AS pielou_j,
  CASE WHEN n > 0 THEN
    round(CAST(cmax AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS berger_parker
FROM folded
""")
def q_diversity_sources_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon/Simpson/Pielou/Berger-Parker diversity of the corpus
    source mix (operators/corpus.py:diversity_indices)."""
    from breweries_etl_spark.operators.corpus import diversity_indices

    return diversity_indices(load_table(spark, sf_dir, "documents"), "source")


@query(oracle=f"""
WITH {_DAILY_EVENTS},
tot AS (
  SELECT count(*) AS n,
    SUM(CAST(y AS DECIMAL(38,2))) AS s,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS ss
  FROM daily
), cum AS (
  SELECT SUM(CAST(y AS DECIMAL(38,2)))
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
    row_number() OVER (ORDER BY day) AS k
  FROM daily
), sk AS (
  SELECT n, s, ss,
    {_ddwf('cum')} - CAST(k AS DOUBLE) * ({_ddwf('s')} / CAST(n AS DOUBLE))
      AS skv
  FROM cum CROSS JOIN tot
), folded AS (
  SELECT max(n) AS n, max(s) AS s, max(ss) AS ss,
    max(abs(skv)) AS q_stat, max(skv) AS s_max, min(skv) AS s_min
  FROM sk
), d AS (
  SELECT n, q_stat, s_max, s_min, CAST(n AS DOUBLE) AS nd,
    {_ddwf('ss')} / CAST(n AS DOUBLE)
      - ({_ddwf('s')} / CAST(n AS DOUBLE))
        * ({_ddwf('s')} / CAST(n AS DOUBLE)) AS var
  FROM folded
)
SELECT CAST(n AS BIGINT) AS n_days,
  CASE WHEN n > 0 THEN round(q_stat, 6) END AS q_stat,
  CASE WHEN n > 0 THEN round(s_max - s_min, 6) END AS r_stat,
  CASE WHEN n > 1 AND var > 0 THEN
    round(q_stat / (sqrt(var) * sqrt(nd)), 6) END AS q_scaled,
  CASE WHEN n > 1 AND var > 0 THEN
    round((s_max - s_min) / (sqrt(var) * sqrt(nd)), 6) END AS r_scaled
FROM d
""")
def q_buishand_range_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buishand rescaled-range level-shift test on the daily value
    series (operators/temporal.py:buishand_range_daily)."""
    from breweries_etl_spark.operators.temporal import buishand_range_daily

    return buishand_range_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
lagged AS (
  SELECT y,
    lag(y, 1) OVER (ORDER BY day) AS y1,
    lag(y, 5) OVER (ORDER BY day) AS yq
  FROM daily
), tot AS (
  SELECT count(*) AS n_days, count(y1) AS nr,
    SUM(CAST(y - y1 AS DECIMAL(38,2))) AS sr
  FROM lagged
), j AS (
  SELECT y, y1, yq, n_days, nr,
    {_ddwf('sr')} / CAST(nr AS DOUBLE) AS mu
  FROM lagged CROSS JOIN tot
), folded AS (
  SELECT max(n_days) AS n_days, max(nr) AS nr,
    SUM(CASE WHEN y1 IS NOT NULL THEN
      CAST(round((CAST(y - y1 AS DOUBLE) - mu)
                 * (CAST(y - y1 AS DOUBLE) - mu), 6) AS DECIMAL(38,6))
    END) AS d1,
    SUM(CASE WHEN yq IS NOT NULL THEN
      CAST(round((CAST(y - yq AS DOUBLE) - mu * 5.0)
                 * (CAST(y - yq AS DOUBLE) - mu * 5.0), 6)
          AS DECIMAL(38,6))
    END) AS dq
  FROM j
), d AS (
  SELECT n_days, nr, CAST(nr AS DOUBLE) AS n,
    {_ddwf('d1')} AS d1d, {_ddwf('dq')} AS dqd
  FROM folded
), v AS (
  SELECT n_days, nr, n,
    d1d / (n - 1.0) AS var1,
    5.0 * (n - 5.0 + 1.0) * (1.0 - 5.0 / n) AS mq,
    dqd AS dqd
  FROM d
)
SELECT CAST(n_days AS BIGINT) AS n_days, CAST(nr AS BIGINT) AS n_returns,
  CASE WHEN nr > 5 AND var1 > 0 AND mq > 0 THEN
    round((dqd / mq) / (5.0 * var1), 6) END AS vr_stat,
  CASE WHEN nr > 5 AND var1 > 0 AND mq > 0 THEN
    round(((dqd / mq) / (5.0 * var1) - 1.0)
          / sqrt({2.0 * (2 * 5 - 1) * (5 - 1) / (3.0 * 5)} / n), 6)
  END AS z_score
FROM v
""")
def q_variance_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay VR(5) random-walk test on the daily value series
    (operators/temporal.py:variance_ratio_daily)."""
    from breweries_etl_spark.operators.temporal import variance_ratio_daily

    return variance_ratio_daily(load_events(spark, sf_dir))
