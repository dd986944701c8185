"""Fact-scan statistics (cheap) before the prefix-count pipelines;
jonckheere runs three of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _B, _D, _HB_CUTS_SQL, _QQ_PICKS, _adk_group_cte, _dd, _ddw, _ddwf, _empty_anchored,
    _jt_pair_cte, _qm8,
)
from breweries_etl_spark.sources.tables import load_table

query = family("r8stats")


@query(oracle="""
WITH counts AS (
  SELECT
    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS n_b,
    SUM(CASE WHEN o_orderstatus = 'F' AND o_totalprice > 150000
        THEN 1 ELSE 0 END) AS k_a,
    SUM(CASE WHEN o_orderstatus <> 'F' AND o_totalprice > 150000
        THEN 1 ELSE 0 END) AS k_b
  FROM orders
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round(CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) END AS p_a,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round(CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) END AS p_b,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round(2.0 * asin(sqrt(CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
          - 2.0 * asin(sqrt(CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE))), 6)
  END AS cohens_h
FROM counts
""")
def q_cohens_h_status_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h for the high-value-order rate between finished and
    unfinished orders (operators/hypotests.py:cohens_h)."""
    from breweries_etl_spark.operators.hypotests import cohens_h

    o = load_table(spark, sf_dir, "orders")
    return cohens_h(
        o, F.col("o_orderstatus") == "F", F.col("o_totalprice") > 150000
    )


@query(oracle=f"""
WITH base AS (
  SELECT CAST({_qm8('l_extendedprice')} AS DECIMAL(12,2)) AS x,
    CAST({_qm8('l_quantity')} AS DECIMAL(12,2)) AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
), mom AS (
  SELECT count(*) AS n,
    SUM(CAST(x AS DECIMAL(38,2))) AS sx,
    SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS syy,
    SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy
  FROM base
), d AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_dd('sx')} AS sxd, {_dd('sy')} AS syd,
    {_dd('sxx')} AS sxxd, {_dd('syy')} AS syyd, {_dd('sxy')} AS sxyd
  FROM mom
), c AS (
  SELECT n, nd,
    sxxd - sxd * sxd / nd AS sxx_c,
    syyd - syd * syd / nd AS syy_c,
    sxyd - sxd * syd / nd AS sxy_c,
    sxd / nd - syd / nd AS dbar
  FROM d
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN sxx_c > 0 AND syy_c > 0 THEN
    round(sxy_c / sqrt(sxx_c * syy_c), 6) END AS pearson_r,
  CASE WHEN sxx_c + syy_c + nd * dbar * dbar > 0 THEN
    round(2.0 * sxy_c / (sxx_c + syy_c + nd * dbar * dbar), 6)
  END AS ccc,
  CASE WHEN sxx_c > 0 AND syy_c > 0 THEN
    round(sqrt(sxx_c / nd) / sqrt(syy_c / nd), 6) END AS scale_shift,
  CASE WHEN sxx_c > 0 AND syy_c > 0 THEN
    round(dbar / sqrt(sqrt(sxx_c / nd) * sqrt(syy_c / nd)), 6)
  END AS location_shift
FROM c
""")
def q_lin_ccc_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation between l_extendedprice and
    l_quantity (operators/hypotests.py:lin_ccc)."""
    from breweries_etl_spark.operators.hypotests import lin_ccc

    return lin_ccc(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", "l_quantity"
    )


@query(oracle=f"""
WITH per_k AS (
  SELECT o_orderpriority AS s,
    SUM(CASE WHEN o_orderstatus = 'F' AND o_totalprice > 150000
        THEN 1 ELSE 0 END) AS a,
    SUM(CASE WHEN o_orderstatus = 'F' AND NOT o_totalprice > 150000
        THEN 1 ELSE 0 END) AS b,
    SUM(CASE WHEN o_orderstatus <> 'F' AND o_totalprice > 150000
        THEN 1 ELSE 0 END) AS c,
    SUM(CASE WHEN o_orderstatus <> 'F' AND NOT o_totalprice > 150000
        THEN 1 ELSE 0 END) AS d
  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1
), folded AS (
  SELECT SUM(CAST(a + b + c + d AS DECIMAL(38,0))) AS n, count(*) AS k,
    SUM(CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                   / CAST(a + b + c + d AS DOUBLE), 6)
             AS DECIMAL(28,6))) AS num,
    SUM(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                   / CAST(a + b + c + d AS DOUBLE), 6)
             AS DECIMAL(28,6))) AS den
  FROM per_k
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_strata,
  CASE WHEN num > 0 AND den > 0 THEN
    round({_ddwf('num')} / {_ddwf('den')}, 6) END AS or_mh,
  CASE WHEN num > 0 AND den > 0 THEN
    round(ln({_ddwf('num')} / {_ddwf('den')}), 6) END AS log_or_mh
FROM folded
""")
def q_mantel_haenszel_status_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio of finished-status vs
    high-value orders across priority strata
    (operators/hypotests.py:mantel_haenszel_or)."""
    from breweries_etl_spark.operators.hypotests import mantel_haenszel_or

    return mantel_haenszel_or(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        F.col("o_orderstatus") == "F",
        F.col("o_totalprice") > 150000,
    )


@query(oracle=f"""
WITH per_g AS (
  SELECT o_orderpriority AS g, count(*) AS n_g,
    SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS y_g,
    CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS s
  FROM orders WHERE o_orderpriority IN
    ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
  GROUP BY 1
), folded AS (
  SELECT SUM(n_g) AS n, count(*) AS k, SUM(y_g) AS y,
    SUM(CAST(CAST(s AS DECIMAL(19,0)) * y_g AS DECIMAL(38,0))) AS sy,
    SUM(CAST(CAST(s AS DECIMAL(19,0)) * n_g AS DECIMAL(38,0))) AS sn,
    SUM(CAST(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)) * n_g
             AS DECIMAL(38,0))) AS ssn
  FROM per_g
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  CASE WHEN n > 0 THEN
    round(CAST(y AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS p_pooled,
  CASE WHEN (CAST(y AS DOUBLE) / CAST(n AS DOUBLE))
       * (1.0 - CAST(y AS DOUBLE) / CAST(n AS DOUBLE))
       * ({_ddw('ssn')} - {_ddw('sn')} * {_ddw('sn')} / CAST(n AS DOUBLE))
       > 0 THEN
    round(({_ddw('sy')}
           - (CAST(y AS DOUBLE) / CAST(n AS DOUBLE)) * {_ddw('sn')})
          / sqrt((CAST(y AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(y AS DOUBLE) / CAST(n AS DOUBLE))
                 * ({_ddw('ssn')}
                    - {_ddw('sn')} * {_ddw('sn')} / CAST(n AS DOUBLE))), 6)
  END AS z_score
FROM folded
""")
def q_cochran_armitage_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage trend in the high-value-order rate along the
    priority order (operators/hypotests.py:cochran_armitage_trend)."""
    from breweries_etl_spark.operators.hypotests import cochran_armitage_trend

    return cochran_armitage_trend(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        F.col("o_totalprice") > 150000,
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    )


@query(oracle=f"""
WITH per_g AS (
  SELECT l_returnflag AS g, count(*) AS n_g,
    SUM(CAST({_qm8('l_extendedprice')} AS DECIMAL(38,2))) AS s,
    SUM(CAST({_qm8('l_extendedprice')} * {_qm8('l_extendedprice')}
             AS DECIMAL(38,4))) AS q
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1
), scored AS (
  SELECT n_g,
    round(({_ddwf('q')} - {_ddwf('s')}
           * ({_ddwf('s')} / CAST(n_g AS DOUBLE)))
          / (CAST(n_g AS DOUBLE) - 1.0), 6) AS v
  FROM per_g WHERE n_g > 1
), folded AS (
  SELECT SUM(n_g) AS n, count(*) AS k, max(v) AS vmax, min(v) AS vmin,
    SUM(CAST(v AS DECIMAL(28,6))) AS vsum
  FROM scored WHERE v IS NOT NULL
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  vmax AS max_var, vmin AS min_var,
  CASE WHEN vsum > 0 THEN round(vmax / {_ddwf('vsum')}, 6) END AS cochran_c,
  CASE WHEN k > 1 AND vmin > 0 THEN round(vmax / vmin, 6) END AS hartley_fmax
FROM folded
""")
def q_variance_homogeneity_price_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran's C + Hartley F_max across returnflag groups on
    l_extendedprice (operators/hypotests.py:variance_homogeneity)."""
    from breweries_etl_spark.operators.hypotests import variance_homogeneity

    return variance_homogeneity(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(oracle="""
WITH vc AS (
  SELECT l_extendedprice AS v, count(*) AS c FROM lineitem
  WHERE l_extendedprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), tot AS (SELECT SUM(c) AS n FROM vc),
agg AS (
  SELECT max(n) AS n,
    min(CASE WHEN 8 * cum >= 1 * n THEN v END) AS e1,
    min(CASE WHEN 8 * cum >= 2 * n THEN v END) AS e2,
    min(CASE WHEN 8 * cum >= 3 * n THEN v END) AS e3,
    min(CASE WHEN 8 * cum >= 4 * n THEN v END) AS e4,
    min(CASE WHEN 8 * cum >= 5 * n THEN v END) AS e5,
    min(CASE WHEN 8 * cum >= 6 * n THEN v END) AS e6,
    min(CASE WHEN 8 * cum >= 7 * n THEN v END) AS e7
  FROM cum CROSS JOIN tot
), d AS (
  SELECT n,
    CAST(e1 AS DOUBLE) AS e1, CAST(e2 AS DOUBLE) AS e2,
    CAST(e3 AS DOUBLE) AS e3, CAST(e4 AS DOUBLE) AS e4,
    CAST(e5 AS DOUBLE) AS e5, CAST(e6 AS DOUBLE) AS e6,
    CAST(e7 AS DOUBLE) AS e7
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n, e2 AS q1, e4 AS median, e6 AS q3,
  CASE WHEN e6 - e2 > 0 THEN
    round((e6 + e2 - 2.0 * e4) / (e6 - e2), 6) END AS bowley_skew,
  CASE WHEN e6 - e2 > 0 THEN
    round(((e7 - e5) + (e3 - e1)) / (e6 - e2), 6) END AS moors_kurtosis,
  CASE WHEN e6 + e2 <> 0 THEN
    round((e6 - e2) / (e6 + e2), 6) END AS quartile_dispersion
FROM d
""")
def q_robust_shape_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley skew / Moors kurtosis / quartile dispersion of
    l_extendedprice (operators/hypotests.py:robust_shape_profile)."""
    from breweries_etl_spark.operators.hypotests import robust_shape_profile

    return robust_shape_profile(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice"
    )


@query(oracle=_empty_anchored("""
WITH dd AS (
  SELECT CAST(floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)
              AS BIGINT) % 10 AS digit,
    count(*) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), w AS (SELECT digit, c, SUM(c) OVER () AS n FROM dd),
chi AS (
  SELECT max(n) AS n, count(*) AS n_digits_seen,
    round(CAST(SUM(CAST(round(
      (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / 10.0)
      * (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / 10.0)
      / (CAST(n AS DOUBLE) / 10.0), 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
      AS chi2
  FROM w
), top AS (
  SELECT digit AS max_digit, c AS top_c FROM w
  ORDER BY c DESC, digit ASC LIMIT 1
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_digits_seen AS BIGINT) AS n_digits_seen,
  chi2, CAST(max_digit AS BIGINT) AS max_digit,
  round(CAST(top_c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS max_digit_share
FROM chi CROSS JOIN top
""", (
    f"SELECT {_B} AS n, CAST(0 AS BIGINT) AS n_digits_seen, "
    f"{_D} AS chi2, {_B} AS max_digit, {_D} AS max_digit_share"
)))
def q_last_digit_uniformity_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-cent-digit uniformity chi2 of l_extendedprice
    (operators/quality.py:last_digit_uniformity)."""
    from breweries_etl_spark.operators.quality import last_digit_uniformity

    return last_digit_uniformity(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice"
    )


@query(oracle="""
WITH sigs AS (
  SELECT regexp_replace(regexp_replace(
           CAST(CAST(abs(o_totalprice) AS DECIMAL(12,2)) AS VARCHAR),
           '\\.', ''), '^0+', '') AS sig
  FROM orders WHERE o_totalprice IS NOT NULL
), base AS (
  SELECT CAST(substring(sig, 2, 1) AS INTEGER) AS digit, count(*) AS n
  FROM sigs WHERE len(sig) >= 2 GROUP BY 1
), w AS (
  SELECT digit, n, SUM(n) OVER () AS tot,
    CAST(([0.119679, 0.11389, 0.108821, 0.10433, 0.100308, 0.096677, 0.093375, 0.090352, 0.08757, 0.084997])[digit + 1] AS DOUBLE) AS exp_f
  FROM base
)
SELECT digit, n,
  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS observed_freq,
  round(exp_f, 6) AS benford_freq,
  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) - exp_f, 6) AS deviation
FROM w
""")
def q_benford_second_digit_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Second-significant-digit Benford profile of o_totalprice
    (operators/quality.py:benford_second_digit)."""
    from breweries_etl_spark.operators.quality import benford_second_digit

    return benford_second_digit(
        load_table(spark, sf_dir, "orders"), "o_totalprice"
    )


@query(oracle=f"""
WITH base AS (
  SELECT l_returnflag AS g, {_qm8('l_extendedprice')} AS y
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
), ntot AS (SELECT count(*) AS n_total FROM base),
pos AS (SELECT g, y FROM base WHERE y > 0),
means AS (
  SELECT g, count(*) AS ng, SUM(CAST(y AS DECIMAL(38,2))) AS s
  FROM pos GROUP BY g
), mu AS (
  SELECT g, {_ddwf('s')} / CAST(ng AS DOUBLE) AS mu FROM means
), terms AS (
  SELECT CAST(y AS DOUBLE) AS yd, mu FROM pos JOIN mu USING (g)
), folded AS (
  SELECT count(*) AS n,
    SUM(CAST(round(yd * ln(yd / mu) - (yd - mu), 6)
             AS DECIMAL(28,6))) AS dp,
    SUM(CAST(round(-ln(yd / mu) + (yd - mu) / mu, 6)
             AS DECIMAL(28,6))) AS dg
  FROM terms
), kk AS (SELECT count(*) AS k FROM means)
SELECT CAST(n_total AS BIGINT) AS n_total, CAST(n AS BIGINT) AS n,
  CAST(k AS BIGINT) AS k_groups,
  CASE WHEN n > 0 THEN
    round(2.0 * {_ddwf('dp')} / CAST(n AS DOUBLE), 6)
  END AS poisson_deviance,
  CASE WHEN n > 0 THEN
    round(2.0 * {_ddwf('dg')} / CAST(n AS DOUBLE), 6)
  END AS gamma_deviance
FROM folded CROSS JOIN ntot CROSS JOIN kk
""")
def q_deviance_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Poisson/Gamma deviance of the per-returnflag-mean predictor
    for l_extendedprice (operators/hypotests.py:group_deviance)."""
    from breweries_etl_spark.operators.hypotests import group_deviance

    return group_deviance(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(oracle="""
WITH vc AS (
  SELECT l_extendedprice AS v,
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS cb
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
    SUM(ca + cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM vc),
cells AS (
  SELECT ((cum - 1) * 10) // (na + nb) AS bin,
    SUM(ca) AS ca, SUM(cb) AS cb, max(na) AS na, max(nb) AS nb
  FROM cum CROSS JOIN tot GROUP BY 1
), folded AS (
  SELECT max(na) AS n_a, max(nb) AS n_b, count(*) AS n_bins_used,
    SUM(CAST(round(sqrt((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                        * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))), 6)
             AS DECIMAL(18,6))) AS bc
  FROM cells
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(n_bins_used AS BIGINT) AS n_bins_used,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round(CAST(bc AS DOUBLE), 6) END AS bhattacharyya,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round(sqrt(greatest(0.0, 1.0 - CAST(bc AS DOUBLE))), 6)
  END AS hellinger
FROM folded
""".replace("__CUTS__", _HB_CUTS_SQL))
def q_hellinger_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger/Bhattacharyya distance between returnflag-R and other
    price distributions over global deciles
    (operators/hypotests.py:hellinger_bhattacharyya)."""
    from breweries_etl_spark.operators.hypotests import hellinger_bhattacharyya

    return hellinger_bhattacharyya(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle="""
WITH ca AS (
  SELECT l_quantity AS va, count(*) AS ca FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_returnflag = 'R' GROUP BY 1
), cb AS (
  SELECT l_quantity AS vb, count(*) AS cb FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_returnflag <> 'R' GROUP BY 1
), cells AS (
  SELECT va - vb AS d,
    SUM(CAST(CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS w
  FROM ca CROSS JOIN cb GROUP BY 1
), tot AS (
  SELECT SUM(w) AS wtot, count(*) AS n_cells FROM cells
), cum AS (
  SELECT d, SUM(w) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cumw
  FROM cells
), picked AS (
  SELECT min(d) AS hl, max(n_cells) AS n_cells
  FROM cum CROSS JOIN tot
  WHERE CAST(2 AS DECIMAL(38,0)) * CAST(cumw AS DECIMAL(38,0))
        >= CAST(wtot AS DECIMAL(38,0))
), sizes AS (
  SELECT SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS n_b
  FROM lineitem WHERE l_quantity IS NOT NULL
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(n_cells AS BIGINT) AS n_cells,
  CAST(hl AS DOUBLE) AS hl_shift
FROM picked CROSS JOIN sizes
""")
def q_hodges_lehmann_qty_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift of l_quantity between returnflag R and the
    rest (operators/hypotests.py:hodges_lehmann_shift; bounded
    quantity domain)."""
    from breweries_etl_spark.operators.hypotests import hodges_lehmann_shift

    return hodges_lehmann_shift(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH base AS (
  SELECT CAST({_qm8('n_chars')} - {_qm8('CAST(len(text) AS DOUBLE)')}
              AS DECIMAL(18,2)) AS d
  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
), mom AS (
  SELECT count(*) AS n,
    SUM(CAST(d AS DECIMAL(38,2))) AS s,
    SUM(CAST(d * d AS DECIMAL(38,4))) AS q
  FROM base
), c AS (
  SELECT n,
    {_ddwf('s')} / CAST(n AS DOUBLE) AS mu,
    sqrt(greatest(({_ddwf('q')} - {_ddwf('s')}
                   * ({_ddwf('s')} / CAST(n AS DOUBLE)))
                  / (CAST(n AS DOUBLE) - 1.0), 0.0)) AS sd
  FROM mom
), c2 AS (
  SELECT n, mu, sd, mu - 1.96 * sd AS lo, mu + 1.96 * sd AS hi FROM c
), outside AS (
  SELECT SUM(CASE WHEN CAST(d AS DOUBLE) < lo OR CAST(d AS DOUBLE) > hi
             THEN 1 ELSE 0 END) AS n_out
  FROM base CROSS JOIN c2
)
SELECT CAST(n AS BIGINT) AS n,
  round(mu, 6) AS mean_diff,
  CASE WHEN n > 1 THEN round(sd, 6) END AS sd_diff,
  CASE WHEN n > 1 THEN round(lo, 6) END AS loa_low,
  CASE WHEN n > 1 THEN round(hi, 6) END AS loa_high,
  CASE WHEN n > 0 THEN
    round(CAST(n_out AS DOUBLE) / CAST(n AS DOUBLE), 6)
  END AS pct_outside
FROM c2 CROSS JOIN outside
""")
def q_bland_altman_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement between the RECORDED n_chars column and
    the recomputed text length (operators/hypotests.py:bland_altman) —
    a data-quality audit of a stored derived column."""
    from breweries_etl_spark.operators.hypotests import bland_altman

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "len_actual", F.length(F.col("text")).cast("double")
    )
    return bland_altman(docs, "n_chars", "len_actual")


@query(oracle=f"""
WITH preds AS (
  SELECT l_returnflag AS g,
    quantile_disc(l_extendedprice, 0.5) AS q0,
    quantile_disc(l_extendedprice, 0.9) AS q1
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1
), kk AS (SELECT count(*) AS k FROM preds),
base AS (
  SELECT l_returnflag AS g,
    CAST({_qm8('l_extendedprice')} AS DOUBLE) AS y
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
), j AS (
  SELECT y, CAST(q0 AS DOUBLE) AS q0, CAST(q1 AS DOUBLE) AS q1
  FROM base JOIN preds USING (g)
), rows_ AS (
  SELECT CAST(0.5 AS DOUBLE) AS tau, y, q0 AS q FROM j
  UNION ALL
  SELECT CAST(0.9 AS DOUBLE) AS tau, y, q1 AS q FROM j
), folded AS (
  SELECT tau, count(*) AS n,
    SUM(CAST(round(CASE WHEN y >= q THEN tau * (y - q)
                   ELSE (1.0 - tau) * (q - y) END, 6)
             AS DECIMAL(28,6))) AS ls
  FROM rows_ GROUP BY 1
)
SELECT tau, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  CASE WHEN n > 0 THEN
    round({_ddwf('ls')} / CAST(n AS DOUBLE), 6)
  END AS mean_pinball
FROM folded CROSS JOIN kk
""")
def q_pinball_loss_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pinball loss of the per-returnflag exact-quantile predictor
    at tau 0.5/0.9 (operators/hypotests.py:pinball_loss)."""
    from breweries_etl_spark.operators.hypotests import pinball_loss

    return pinball_loss(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(oracle="""
WITH per_c AS (
  SELECT o_orderpriority AS c, count(*) AS n_c,
    SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS y_c
  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1
), t AS (
  SELECT c, n_c, y_c, SUM(n_c) OVER () AS n, SUM(y_c) OVER () AS yt
  FROM per_c
), folded AS (
  SELECT max(n) AS n, max(yt) AS yt, count(*) AS k,
    SUM(CAST(round(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE)
      * ((CASE WHEN CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE) > 0 THEN
            -(CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE))
            * ln(CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN 1.0 - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE) > 0
            THEN -(1.0 - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE))
            * ln(1.0 - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE))
            ELSE 0.0 END)), 6) AS DECIMAL(18,6))) AS ch,
    SUM(CAST(round(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE)
      * (1.0 - (CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE))
              * (CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE))
            - (1.0 - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE))
              * (1.0 - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE))),
      6) AS DECIMAL(18,6))) AS cg
  FROM t
), p AS (
  SELECT n, yt, k, ch, cg,
    CAST(yt AS DOUBLE) / CAST(n AS DOUBLE) AS pp FROM folded
), p2 AS (
  SELECT n, k, ch, cg,
    (CASE WHEN pp > 0 THEN -pp * ln(pp) ELSE 0.0 END)
    + (CASE WHEN 1.0 - pp > 0 THEN -(1.0 - pp) * ln(1.0 - pp)
       ELSE 0.0 END) AS ph,
    1.0 - pp * pp - (1.0 - pp) * (1.0 - pp) AS pg
  FROM p
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_categories,
  round(ph, 6) AS parent_entropy,
  round(ph - CAST(ch AS DOUBLE), 6) AS info_gain,
  round(pg, 6) AS parent_gini,
  round(pg - CAST(cg AS DOUBLE), 6) AS gini_gain
FROM p2
""")
def q_split_gain_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information/Gini gain of the priority column predicting
    high-value orders (operators/profiling.py:categorical_split_gain)."""
    from breweries_etl_spark.operators.profiling import categorical_split_gain

    return categorical_split_gain(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        F.col("o_totalprice") > 150000,
    )


@query(oracle="""
WITH base AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
  WHERE o_totalprice > 0
), nn AS (SELECT count(*) AS n FROM base),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x DESC) AS rank FROM base
), xk1 AS (
  SELECT MAX(CASE WHEN rank = 101 THEN x END) AS xk1 FROM ranked
),
lsum AS (
  SELECT SUM(CAST(round(ln(x / xk1), 6) AS DECIMAL(18,6))) AS ls
  FROM ranked CROSS JOIN xk1 WHERE rank <= 100
)
SELECT CAST(n AS BIGINT) AS n, CAST(100 AS BIGINT) AS k,
  xk1 AS x_k1,
  CASE WHEN CAST(ls AS DOUBLE) > 0 THEN
    round(100.0 / CAST(ls AS DOUBLE), 6) END AS hill_alpha
FROM lsum CROSS JOIN nn CROSS JOIN xk1
""")
def q_hill_tail_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill power-law tail index of o_totalprice over the top-100
    order statistics (operators/profiling.py:hill_tail_index)."""
    from breweries_etl_spark.operators.profiling import hill_tail_index

    return hill_tail_index(
        load_table(spark, sf_dir, "orders"), "o_totalprice"
    )


@query(oracle="""
WITH per_key AS (
  SELECT c_nationkey AS k,
    SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,2))) AS ma,
    CAST(count(*) AS DECIMAL(38,0)) AS mb
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_nationkey IS NOT NULL GROUP BY 1
), pairs AS (
  SELECT CASE
    WHEN (a.ma < b.ma AND a.mb > b.mb) OR (a.ma > b.ma AND a.mb < b.mb)
    THEN 2
    WHEN a.ma = b.ma AND a.mb = b.mb THEN 0
    WHEN a.ma = b.ma OR a.mb = b.mb THEN 1
    ELSE 0 END AS d2
  FROM per_key a JOIN per_key b ON a.k < b.k
), folded AS (
  SELECT SUM(CAST(d2 AS DECIMAL(19,0))) AS d2s FROM pairs
), kk AS (SELECT count(*) AS n_keys FROM per_key)
SELECT CAST(n_keys AS BIGINT) AS n_keys,
  CAST(d2s AS BIGINT) AS n_discordant2,
  CASE WHEN n_keys > 1 THEN
    round(1.0 - 4.0 * (CAST(d2s AS DOUBLE) / 2.0)
          / (CAST(n_keys AS DOUBLE) * (CAST(n_keys AS DOUBLE) - 1.0)), 6)
  END AS kendall_tau
FROM folded CROSS JOIN kk
""")
def q_ranking_stability_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau between nations ranked by customer revenue vs by
    order count (operators/profiling.py:ranking_stability)."""
    from breweries_etl_spark.operators.profiling import ranking_stability

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey", "o_totalprice"
    )
    return ranking_stability(
        joined,
        "c_nationkey",
        F.sum(
            F.col("o_totalprice").cast("decimal(18,2)").cast("decimal(38,2)")
        ),
        F.count(F.lit(1)).cast("decimal(38,0)"),
    )


@query(oracle=f"""
WITH per_key AS (
  SELECT o_custkey AS k, SUM({_qm8('o_totalprice')}) AS r
  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
), tot AS (
  SELECT count(*) AS n_keys, SUM(CAST(r AS DECIMAL(38,2))) AS total
  FROM per_key
), ranked AS (
  SELECT r, row_number() OVER (ORDER BY r DESC, k) AS rank FROM per_key
), tops AS (
  SELECT kk AS k,
    (SELECT SUM(CAST(r AS DECIMAL(38,2))) FROM ranked
     WHERE rank <= kk) AS top_sum
  FROM (SELECT unnest([4, 8, 20]) AS kk)
)
SELECT CAST(k AS BIGINT) AS k, CAST(n_keys AS BIGINT) AS n_keys,
  {_ddwf('total')} AS total_value,
  CASE WHEN total > 0 THEN
    round({_ddwf('top_sum')} / {_ddwf('total')}, 6)
  END AS top_share
FROM tops CROSS JOIN tot
""")
def q_concentration_customer_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CR-4/8/20 revenue concentration across customers
    (operators/profiling.py:concentration_ratios)."""
    from breweries_etl_spark.operators.profiling import concentration_ratios

    return concentration_ratios(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    )


@query(oracle=f"""
WITH vc AS (
  SELECT l_extendedprice AS v,
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS cb
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
    SUM(ca) OVER () AS n_a, SUM(cb) OVER () AS n_b
  FROM vc
), grid AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b,
    {_QQ_PICKS}
  FROM cum
), pts AS (
  SELECT n_a, n_b,
    round(CAST(qa AS DOUBLE), 6) AS ly, round(CAST(qb AS DOUBLE), 6) AS lx
  FROM grid, (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) t(k),
  LATERAL (SELECT CASE k WHEN 1 THEN qa1 WHEN 2 THEN qa2 WHEN 3 THEN qa3
                  WHEN 4 THEN qa4 WHEN 5 THEN qa5 WHEN 6 THEN qa6
                  WHEN 7 THEN qa7 WHEN 8 THEN qa8 ELSE qa9 END AS qa,
             CASE k WHEN 1 THEN qb1 WHEN 2 THEN qb2 WHEN 3 THEN qb3
                  WHEN 4 THEN qb4 WHEN 5 THEN qb5 WHEN 6 THEN qb6
                  WHEN 7 THEN qb7 WHEN 8 THEN qb8 ELSE qb9 END AS qb)
), mom AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b, count(*) AS np,
    SUM(CAST(lx AS DECIMAL(28,6))) AS sx,
    SUM(CAST(ly AS DECIMAL(28,6))) AS sy,
    SUM(CAST(round(lx * lx, 12) AS DECIMAL(38,12))) AS sxx,
    SUM(CAST(round(lx * ly, 12) AS DECIMAL(38,12))) AS sxy,
    SUM(CAST(round(ly * ly, 12) AS DECIMAL(38,12))) AS syy
  FROM pts
), c AS (
  SELECT n_a, n_b, np, CAST(np AS DOUBLE) AS npd,
    {_ddwf('sx')} AS sxd, {_ddwf('sy')} AS syd,
    {_ddwf('sxx')} AS sxxd, {_ddwf('sxy')} AS sxyd, {_ddwf('syy')} AS syyd
  FROM mom
), cc AS (
  SELECT n_a, n_b, np, npd, sxd, syd,
    sxxd - sxd * sxd / npd AS sxx_c,
    sxyd - sxd * syd / npd AS sxy_c,
    syyd - syd * syd / npd AS syy_c
  FROM c
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(np AS BIGINT) AS n_points,
  CASE WHEN np > 1 AND sxx_c > 0 THEN round(sxy_c / sxx_c, 6)
  END AS slope,
  CASE WHEN np > 1 AND sxx_c > 0 THEN
    round((syd - (sxy_c / sxx_c) * sxd) / npd, 6) END AS intercept,
  CASE WHEN np > 1 AND sxx_c > 0 AND syy_c > 0 THEN
    round(sxy_c * sxy_c / (sxx_c * syy_c), 6) END AS r2
FROM cc
""")
def q_qq_fit_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q line (scale/shift) between returnflag-R and other price
    distributions over the decile grid
    (operators/hypotests.py:qq_fit)."""
    from breweries_etl_spark.operators.hypotests import qq_fit

    return qq_fit(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH vc AS (
  SELECT l_quantity AS v,
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS cb
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
    lead(v) OVER (ORDER BY v) AS v_next
  FROM vc
), tot AS (SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM vc),
folded AS (
  SELECT
    SUM(CAST(CAST(abs(CAST(cum_a AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0))
                      - CAST(cum_b AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0)))
                  AS DECIMAL(38,0))
             * (CAST(v_next AS DECIMAL(18,2)) - CAST(v AS DECIMAL(18,2)))
             AS DECIMAL(38,2))) AS w_sum
  FROM cum CROSS JOIN tot WHERE v_next IS NOT NULL
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round({_ddwf("COALESCE(w_sum, CAST(0 AS DECIMAL(38,2)))")}
          / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
  END AS wasserstein_1
FROM folded CROSS JOIN tot
""")
def q_wasserstein_qty_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-Wasserstein distance of l_quantity between returnflag R
    and the rest (operators/hypotests.py:wasserstein_1; bounded
    quantity domain)."""
    from breweries_etl_spark.operators.hypotests import wasserstein_1

    return wasserstein_1(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH base AS (
  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS v,
    (l_returnflag = 'R') AS in_a
  FROM lineitem WHERE l_quantity IS NOT NULL
), ca AS (
  SELECT v AS va, count(*) AS ca FROM base WHERE in_a GROUP BY 1
), cb AS (
  SELECT v AS vb, count(*) AS cb FROM base WHERE NOT in_a GROUP BY 1
), sxy AS (
  SELECT SUM(CAST(CAST(CAST(CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0))
                            AS DECIMAL(38,0)) AS DECIMAL(38,2))
                  * CAST(abs(va - vb) AS DECIMAL(18,2))
             AS DECIMAL(38,2))) AS sxy
  FROM ca CROSS JOIN cb
), sxx AS (
  SELECT SUM(CAST(CAST(CAST(CAST(a1.ca AS DECIMAL(19,0)) * CAST(a2.ca AS DECIMAL(19,0))
                            AS DECIMAL(38,0)) AS DECIMAL(38,2))
                  * CAST(abs(a1.va - a2.va) AS DECIMAL(18,2))
             AS DECIMAL(38,2))) AS sxx
  FROM ca a1 CROSS JOIN ca a2
), syy AS (
  SELECT SUM(CAST(CAST(CAST(CAST(b1.cb AS DECIMAL(19,0)) * CAST(b2.cb AS DECIMAL(19,0))
                            AS DECIMAL(38,0)) AS DECIMAL(38,2))
                  * CAST(abs(b1.vb - b2.vb) AS DECIMAL(18,2))
             AS DECIMAL(38,2))) AS syy
  FROM cb b1 CROSS JOIN cb b2
), sizes AS (
  SELECT SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS n_b
  FROM base
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round({_ddwf('sxy')} / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
  END AS e_xy,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round({_ddwf('sxx')} / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)), 6)
  END AS e_xx,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round({_ddwf('syy')} / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
  END AS e_yy,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round(sqrt(greatest(
      2.0 * ({_ddwf('sxy')} / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
      - {_ddwf('sxx')} / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
      - {_ddwf('syy')} / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)),
      0.0)), 6)
  END AS energy_distance
FROM sxy CROSS JOIN sxx CROSS JOIN syy CROSS JOIN sizes
""")
def q_energy_distance_qty_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szekely energy distance of l_quantity between returnflag R and
    the rest (operators/hypotests.py:energy_distance; bounded
    domain)."""
    from breweries_etl_spark.operators.hypotests import energy_distance

    return energy_distance(
        load_table(spark, sf_dir, "lineitem"),
        "l_quantity",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH per_h AS (
  SELECT l_returnflag AS stratum, count(*) AS n_rows,
    SUM(CAST({_qm8('l_extendedprice')} AS DECIMAL(38,2))) AS s,
    SUM(CAST({_qm8('l_extendedprice')} * {_qm8('l_extendedprice')}
             AS DECIMAL(38,4))) AS q
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1
), scored AS (
  SELECT stratum, n_rows,
    round(CASE WHEN n_rows > 1 THEN
      sqrt(greatest(({_ddwf('q')} - {_ddwf('s')}
                     * ({_ddwf('s')} / CAST(n_rows AS DOUBLE)))
                    / (CAST(n_rows AS DOUBLE) - 1.0), 0.0)) END, 6) AS sd,
    round(CAST(n_rows AS DOUBLE)
          * CASE WHEN n_rows > 1 THEN
              sqrt(greatest(({_ddwf('q')} - {_ddwf('s')}
                             * ({_ddwf('s')} / CAST(n_rows AS DOUBLE)))
                            / (CAST(n_rows AS DOUBLE) - 1.0), 0.0)) END,
          6) AS w
  FROM per_h
), tot AS (SELECT SUM(CAST(w AS DECIMAL(28,6))) AS wsum FROM scored)
SELECT stratum, CAST(n_rows AS BIGINT) AS n_rows, sd,
  CASE WHEN wsum > 0 THEN round(w / {_ddwf('wsum')}, 6) END AS share,
  CASE WHEN wsum > 0 THEN
    CAST(floor(w / {_ddwf('wsum')} * 1000.0) AS BIGINT) END AS alloc_n
FROM scored CROSS JOIN tot
""")
def q_neyman_allocation_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation across returnflag
    strata on l_extendedprice
    (operators/sampling.py:neyman_allocation)."""
    from breweries_etl_spark.operators.sampling import neyman_allocation

    return neyman_allocation(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag",
        "l_extendedprice",
    )


@query(oracle=f"""
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
), tie AS (
  SELECT SUM(CAST(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
                  * CAST(c AS DECIMAL(19,0)) - c AS DECIMAL(38,0))) AS tie_sum
  FROM vv
), tot AS (SELECT SUM(n_g) AS n FROM pg)
SELECT a.g AS group_a, b.g AS group_b,
  CAST(a.n_g AS BIGINT) AS n_a, CAST(b.n_g AS BIGINT) AS n_b,
  round({_ddw('a.r2')} / (2.0 * CAST(a.n_g AS DOUBLE)), 6) AS mean_rank_a,
  round({_ddw('b.r2')} / (2.0 * CAST(b.n_g AS DOUBLE)), 6) AS mean_rank_b,
  CASE WHEN sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                  - {_ddw('tie_sum')} / (CAST(n AS DOUBLE) - 1.0)) / 12.0
                 * (1.0 / CAST(a.n_g AS DOUBLE)
                    + 1.0 / CAST(b.n_g AS DOUBLE))) > 0
  THEN round(({_ddw('a.r2')} / (2.0 * CAST(a.n_g AS DOUBLE))
              - {_ddw('b.r2')} / (2.0 * CAST(b.n_g AS DOUBLE)))
             / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                     - {_ddw('tie_sum')} / (CAST(n AS DOUBLE) - 1.0)) / 12.0
                    * (1.0 / CAST(a.n_g AS DOUBLE)
                       + 1.0 / CAST(b.n_g AS DOUBLE))), 6)
  END AS z_score
FROM pg a JOIN pg b ON a.g < b.g CROSS JOIN tot CROSS JOIN tie
""")
def q_dunn_pairwise_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn post-hoc pairwise z over returnflag groups on
    l_extendedprice (operators/hypotests.py:dunn_pairwise_z)."""
    from breweries_etl_spark.operators.hypotests import dunn_pairwise_z

    return dunn_pairwise_z(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(oracle=f"""
WITH {_jt_pair_cte('p1', 'A', 'N')},
{_jt_pair_cte('p2', 'A', 'R')},
{_jt_pair_cte('p3', 'N', 'R')},
jt AS (
  SELECT SUM(u2) AS jt2 FROM (
    SELECT u2 FROM p1 UNION ALL SELECT u2 FROM p2 UNION ALL SELECT u2 FROM p3
  )
), sizes AS (
  SELECT l_returnflag AS g, count(*) AS n_g FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
    AND l_returnflag IN ('A', 'N', 'R') GROUP BY 1
), mom AS (
  SELECT SUM(n_g) AS n, count(*) AS k,
    SUM(CAST(CAST(n_g AS DECIMAL(19,0)) * n_g AS DECIMAL(38,0))) AS sn2,
    SUM(CAST(CAST(n_g AS DECIMAL(19,0)) * CAST(n_g AS DECIMAL(19,0))
             * (2 * CAST(n_g AS DECIMAL(19,0)) + 3) AS DECIMAL(38,0))) AS sn23
  FROM sizes
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  round({_ddw('jt2')} / 2.0, 6) AS jt_stat,
  CASE WHEN (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             * (2.0 * CAST(n AS DOUBLE) + 3.0) - {_ddw('sn23')}) / 72.0 > 0
  THEN round(({_ddw('jt2')} / 2.0
              - (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - {_ddw('sn2')}) / 4.0)
             / sqrt((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * (2.0 * CAST(n AS DOUBLE) + 3.0) - {_ddw('sn23')})
                    / 72.0), 6)
  END AS z_score
FROM jt CROSS JOIN mom
""")
def q_jonckheere_qty_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test of l_quantity
    across the returnflag order A < N < R
    (operators/hypotests.py:jonckheere_terpstra)."""
    from breweries_etl_spark.operators.hypotests import jonckheere_terpstra

    return jonckheere_terpstra(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        ["A", "N", "R"],
    )


@query(oracle=f"""
WITH {_adk_group_cte('ga', 'A')},
{_adk_group_cte('gn', 'N')},
{_adk_group_cte('gr', 'R')},
allp AS (
  SELECT nn, n_i, a_i FROM ga UNION ALL SELECT nn, n_i, a_i FROM gn
  UNION ALL SELECT nn, n_i, a_i FROM gr
), folded AS (
  -- k counts PRESENT groups (n_i > 0): each group CTE is a 1-row
  -- aggregate that emits NULLs when its sample is absent, and a bare
  -- count(*) read 3 on an empty table (empty-table sweep r10)
  SELECT max(nn) AS n, count(CASE WHEN n_i > 0 THEN 1 END) AS k,
    SUM(CAST(round(a_i, 6) AS DECIMAL(28,6))) AS a
  FROM allp
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  round({_ddwf('a')}, 6) AS ad_ksample
FROM folded
""")
def q_ad_ksample_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scholz-Stephens k-sample Anderson-Darling across the three
    returnflag groups on l_extendedprice
    (operators/hypotests.py:ad_ksample)."""
    from breweries_etl_spark.operators.hypotests import ad_ksample

    return ad_ksample(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        ["A", "N", "R"],
    )
