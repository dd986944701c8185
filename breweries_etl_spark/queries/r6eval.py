"""Classifier-evaluation rank statistics, outlier and variance screens
and daily-series diagnostics, in their own JVM once ``r6wave`` reached
21 queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _ANOVA_S_CTE, _AUC_VC, _B, _D, _DAILY_EVENTS, _DW_DEN, _DW_ICEPT, _DW_SLOPE,
    _GRB_MEAN, _GRB_VAR, _KTB_DEN, _LEV_MU, _RS_DEN, _RS_SLOPE, _anova_tail_sql, _ddw,
    _ddwf, _empty_anchored,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("r6eval")


@query(oracle=f"""
WITH {_AUC_VC},
s AS (
  SELECT SUM(ca) AS n_pos, SUM(cb) AS n_neg,
    SUM(CAST(2 * CAST(ca AS DECIMAL(19,0)) * CAST(cum_b - cb AS DECIMAL(19,0))
             + CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS u2
  FROM cum
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
    round({_ddw('u2')}
          / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
  END AS auc,
  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
    round({_ddw('u2')}
          / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
          * 2.0 - 1.0, 6)
  END AS gini_coef
FROM s
""")
def q_roc_auc_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC of order price as a predictor of
    finished status — Mann-Whitney normalization over bucketed prefix
    counts, no global sort (operators/hypotests.py:roc_auc)."""
    from breweries_etl_spark.operators.hypotests import roc_auc

    o = load_table(spark, sf_dir, "orders")
    return roc_auc(o, "o_totalprice", F.col("o_orderstatus") == "F")


@query(oracle=f"""
WITH {_AUC_VC},
tot AS (SELECT SUM(ca) AS tp, SUM(ca) + SUM(cb) AS tn FROM vc),
tiles AS (
  SELECT (((cum_a + cum_b - 1) * 10) // tn) + 1 AS tile,
    SUM(ca + cb) AS n, SUM(ca) AS n_pos, max(tp) AS tp, max(tn) AS tn
  FROM cum CROSS JOIN tot GROUP BY 1
)
SELECT CAST(tile AS BIGINT) AS tile, CAST(n AS BIGINT) AS n,
  CAST(n_pos AS BIGINT) AS n_pos,
  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
  CASE WHEN tp > 0 THEN
    round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6)
  END AS lift,
  CASE WHEN tp > 0 THEN
    round(CAST(SUM(n_pos) OVER (ORDER BY tile DESC ROWS UNBOUNDED PRECEDING)
               AS DOUBLE) / CAST(tp AS DOUBLE), 6)
  END AS cum_gain
FROM tiles
""")
def q_score_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gain table of order price vs finished status —
    closed-form integer tiling from exact cumulative counts, no ntile
    global sort (operators/hypotests.py:score_decile_lift)."""
    from breweries_etl_spark.operators.hypotests import score_decile_lift

    o = load_table(spark, sf_dir, "orders")
    return score_decile_lift(o, "o_totalprice", F.col("o_orderstatus") == "F")


@query(oracle="""
WITH f AS (
  SELECT (n_chars >= 300) AS fa,
    ((length(text) - length(replace(text, ' ', '')) + 1) >= 50) AS fb
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
), s AS (
  SELECT count(*) AS n,
    SUM(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS n_both,
    SUM(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END) AS n_a_only,
    SUM(CASE WHEN NOT fa AND fb THEN 1 ELSE 0 END) AS n_b_only,
    SUM(CASE WHEN NOT fa AND NOT fb THEN 1 ELSE 0 END) AS n_neither
  FROM f
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_both AS BIGINT) AS n_both,
  CAST(n_a_only AS BIGINT) AS n_a_only,
  CAST(n_b_only AS BIGINT) AS n_b_only,
  CAST(n_neither AS BIGINT) AS n_neither,
  CASE WHEN n_a_only + n_b_only > 0 THEN
    round((CAST(n_a_only AS DOUBLE) - CAST(n_b_only AS DOUBLE))
          * (CAST(n_a_only AS DOUBLE) - CAST(n_b_only AS DOUBLE))
          / (CAST(n_a_only AS DOUBLE) + CAST(n_b_only AS DOUBLE)), 6)
  END AS mcnemar_chi2
FROM s
""")
def q_mcnemar_doc_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test between two document quality filters (char
    floor vs word floor) scored on the same corpus
    (operators/hypotests.py:mcnemar_test)."""
    from breweries_etl_spark.operators.hypotests import mcnemar_test

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    words = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    )
    return mcnemar_test(d, F.col("n_chars") >= 300, words >= 50)


@query(oracle=f"""
WITH s AS (
  SELECT
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS na,
    SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS nb,
    SUM(CASE WHEN l_returnflag = 'R'
        THEN CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
        ELSE CAST(0 AS DECIMAL(18,2)) END) AS sa,
    SUM(CASE WHEN l_returnflag <> 'R'
        THEN CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
        ELSE CAST(0 AS DECIMAL(18,2)) END) AS sb,
    SUM(CASE WHEN l_returnflag = 'R'
        THEN CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
                  * CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))
        ELSE CAST(0 AS DECIMAL(38,4)) END) AS qa,
    SUM(CASE WHEN l_returnflag <> 'R'
        THEN CAST(CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))
                  * CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS DECIMAL(38,4))
        ELSE CAST(0 AS DECIMAL(38,4)) END) AS qb
  FROM lineitem WHERE l_extendedprice IS NOT NULL
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round({_ddwf('sa')} / CAST(na AS DOUBLE), 6) AS mean_a,
  round({_ddwf('sb')} / CAST(nb AS DOUBLE), 6) AS mean_b,
  CASE WHEN na + nb > 2 AND na > 0 AND nb > 0
        AND (({_ddwf('qa')} - {_ddwf('sa')} * ({_ddwf('sa')} / CAST(na AS DOUBLE)))
             + ({_ddwf('qb')} - {_ddwf('sb')} * ({_ddwf('sb')} / CAST(nb AS DOUBLE))))
            / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) > 0 THEN
    round(sqrt((({_ddwf('qa')} - {_ddwf('sa')} * ({_ddwf('sa')} / CAST(na AS DOUBLE)))
                + ({_ddwf('qb')} - {_ddwf('sb')} * ({_ddwf('sb')} / CAST(nb AS DOUBLE))))
               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0)), 6)
  END AS pooled_sd,
  CASE WHEN na + nb > 2 AND na > 0 AND nb > 0
        AND (({_ddwf('qa')} - {_ddwf('sa')} * ({_ddwf('sa')} / CAST(na AS DOUBLE)))
             + ({_ddwf('qb')} - {_ddwf('sb')} * ({_ddwf('sb')} / CAST(nb AS DOUBLE))))
            / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) > 0 THEN
    round(({_ddwf('sa')} / CAST(na AS DOUBLE)
           - {_ddwf('sb')} / CAST(nb AS DOUBLE))
          / sqrt((({_ddwf('qa')} - {_ddwf('sa')} * ({_ddwf('sa')} / CAST(na AS DOUBLE)))
                  + ({_ddwf('qb')} - {_ddwf('sb')} * ({_ddwf('sb')} / CAST(nb AS DOUBLE))))
                 / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0)), 6)
  END AS cohens_d
FROM s
""")
def q_cohens_d_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size of returned vs other lineitems' extended
    price — the magnitude companion to welch_t_price_returnflag
    (operators/hypotests.py:cohens_d)."""
    from breweries_etl_spark.operators.hypotests import cohens_d

    li = load_table(spark, sf_dir, "lineitem")
    return cohens_d(li, "l_extendedprice", F.col("l_returnflag") == "R")


@query(oracle=_empty_anchored(f"""
WITH base AS (
  SELECT o_orderkey AS k, CAST((CASE WHEN o_totalprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS x
  FROM orders WHERE o_totalprice IS NOT NULL
), m AS (
  SELECT count(*) AS n,
    SUM(CAST(x AS DECIMAL(38,2))) AS s,
    SUM(CAST(CAST(x AS DECIMAL(24,2)) * CAST(x AS DECIMAL(24,2))
             AS DECIMAL(38,4))) AS q
  FROM base
), top AS (
  SELECT k, x,
    CAST(floor(abs(CAST(x AS DOUBLE) - {_GRB_MEAN}) * 1000000.0) AS BIGINT) AS d
  FROM base CROSS JOIN m
  ORDER BY d DESC, k ASC LIMIT 1
)
SELECT CAST(n AS BIGINT) AS n,
  round({_GRB_MEAN}, 6) AS mean_value,
  CASE WHEN n > 2 AND {_GRB_VAR} > 0 THEN round(sqrt({_GRB_VAR}), 6) END
    AS sd_value,
  CAST(k AS BIGINT) AS outlier_key,
  CAST(x AS DOUBLE) AS outlier_value,
  CASE WHEN n > 2 AND {_GRB_VAR} > 0 THEN
    round(CAST(d AS DOUBLE) / 1000000.0 / sqrt({_GRB_VAR}), 6)
  END AS grubbs_g
FROM top CROSS JOIN m
""", (
    f"SELECT {_B} AS n, {_D} AS mean_value, {_D} AS sd_value, "
    f"{_B} AS outlier_key, {_D} AS outlier_value, {_D} AS grubbs_g"
)))
def q_grubbs_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs max-outlier screen on order totals: exact moments + one
    struct-argmax, no sort (operators/hypotests.py:grubbs_max_outlier)."""
    from breweries_etl_spark.operators.hypotests import grubbs_max_outlier

    return grubbs_max_outlier(
        load_table(spark, sf_dir, "orders"), "o_orderkey", "o_totalprice"
    )


@query(oracle=f"""
WITH base AS (
  SELECT l_returnflag AS g, CAST((CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2)) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
), means AS (
  SELECT g, count(*) AS gn, SUM(CAST(v AS DECIMAL(38,2))) AS gs
  FROM base GROUP BY g
), z AS (
  SELECT base.g,
    CAST(CAST(floor(abs(CAST(v AS DOUBLE) - {_LEV_MU}) * 100.0)
              AS DECIMAL(18,2)) / 100 AS DECIMAL(18,2)) AS zv
  FROM base JOIN means USING (g)
), per_g AS (
  SELECT g, count(*) AS n_g,
    SUM(CAST(zv AS DECIMAL(18,2))) AS s_g,
    SUM(CAST(CAST(zv AS DECIMAL(18,2))
             * CAST(zv AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS q_g
  FROM z GROUP BY 1
), s AS (
{_ANOVA_S_CTE}
)
{_anova_tail_sql("levene_w")}
""")
def q_levene_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-centered Levene equality-of-variances across return flags —
    the classical companion to brown_forsythe_price_flag
    (operators/hypotests.py:levene_test)."""
    from breweries_etl_spark.operators.hypotests import levene_test

    return levene_test(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )


@query(oracle=f"""
WITH {_DAILY_EVENTS},
mn AS (SELECT min(day) AS d0 FROM daily),
based AS (
  SELECT day, y, CAST(day - d0 AS BIGINT) AS x FROM daily CROSS JOIN mn
), mom AS (
  SELECT count(*) AS n,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(CAST(y AS DECIMAL(38,2))) AS sy,
    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(CAST(y AS DECIMAL(24,2)) * x AS DECIMAL(38,4))) AS sxy
  FROM based
), resid AS (
  SELECT day,
    CAST(y AS DOUBLE) - ({_DW_ICEPT} + {_DW_SLOPE} * CAST(x AS DOUBLE)) AS e
  FROM based CROSS JOIN mom
), lagged AS (
  SELECT e, lag(e, 1) OVER (ORDER BY day) AS ep FROM resid
), sums AS (
  -- fixed-point at 1e6 (sub-unit daily residuals floored to 0 at unit
  -- granularity); wide conversion below since the scaled sums pass 2^63
  SELECT count(*) AS n_days,
    SUM(CAST(floor(e * e * 1e6) AS DECIMAL(38,0))) AS den_fp,
    SUM(CASE WHEN ep IS NOT NULL THEN
      CAST(floor((e - ep) * (e - ep) * 1e6) AS DECIMAL(38,0)) END) AS num_fp
  FROM lagged
)
SELECT CAST(n_days AS BIGINT) AS n_days,
  CASE WHEN {_DW_DEN} > 0 THEN round({_DW_SLOPE}, 6) END AS slope,
  CASE WHEN {_DW_DEN} > 0 THEN floor({_DW_ICEPT} * 10000.0) / 10000.0 END
    AS intercept,
  CASE WHEN den_fp > 0 AND n_days > 2 THEN
    round({_ddw('num_fp')} / {_ddw('den_fp')}, 6)
  END AS dw_stat
FROM sums CROSS JOIN mom
""")
def q_durbin_watson_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the daily event-value series around
    its OLS trend (operators/temporal.py:durbin_watson_daily)."""
    from breweries_etl_spark.operators.temporal import durbin_watson_daily

    return durbin_watson_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
diffed AS (
  SELECT day, y - lag(y, 1) OVER (ORDER BY day) AS d FROM daily
), signs AS (
  SELECT day, CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 END AS sgn
  FROM diffed WHERE d IS NOT NULL AND d <> 0
), flips AS (
  SELECT sgn,
    CASE WHEN lag(sgn, 1) OVER (ORDER BY day) IS NULL
           OR sgn <> lag(sgn, 1) OVER (ORDER BY day) THEN 1 ELSE 0 END
      AS is_start
  FROM signs
), s AS (
  SELECT count(*) AS n,
    SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS n_plus,
    SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS n_minus,
    SUM(is_start) AS n_runs
  FROM flips
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_plus AS BIGINT) AS n_plus,
  CAST(n_minus AS BIGINT) AS n_minus, CAST(n_runs AS BIGINT) AS n_runs,
  CASE WHEN n_plus > 0 AND n_minus > 0 AND n > 1 THEN
    round(2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
          / CAST(n AS DOUBLE) + 1.0, 6)
  END AS expected_runs,
  CASE WHEN n_plus > 0 AND n_minus > 0 AND n > 1
        AND (2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE))
            * ((2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)) - CAST(n AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0 THEN
    round((CAST(n_runs AS DOUBLE)
           - (2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
              / CAST(n AS DOUBLE) + 1.0))
          / sqrt((2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE))
                 * ((2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)) - CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6)
  END AS z_score
FROM s
""")
def q_runs_test_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on day-over-day sign changes of the
    daily event-value series (operators/temporal.py:runs_test_daily)."""
    from breweries_etl_spark.operators.temporal import runs_test_daily

    return runs_test_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
agg AS (
  SELECT day,
    count(*) OVER w AS nw,
    SUM(CAST(day AS DECIMAL(38,0))) OVER w AS sx,
    SUM(CAST(y AS DECIMAL(38,2))) OVER w AS sy,
    SUM(CAST(day * day AS DECIMAL(38,0))) OVER w AS sxx,
    SUM(CAST(CAST(y AS DECIMAL(24,2)) * day AS DECIMAL(38,4))) OVER w AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT CAST(day AS BIGINT) AS day,
  CASE WHEN {_RS_DEN} > 0 THEN floor({_RS_SLOPE} * 100.0) / 100.0 END
    AS slope_w
FROM agg WHERE nw = 7
""")
def q_rolling_slope_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling OLS slope per day of the daily
    event-value series (operators/temporal.py:rolling_ols_slope_daily)."""
    from breweries_etl_spark.operators.temporal import rolling_ols_slope_daily

    return rolling_ols_slope_daily(load_events(spark, sf_dir))


@query(oracle="""
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
), s AS (
  SELECT count(*) AS n_nodes,
    SUM(CASE WHEN deg >= 2 THEN 1 ELSE 0 END) AS n_tail,
    SUM(CAST(CASE WHEN deg >= 2
        THEN round(ln(CAST(deg AS DOUBLE) / 2.0), 6) ELSE 0.0 END
        AS DECIMAL(18,6))) AS lsum
  FROM deg
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_tail AS BIGINT) AS n_tail,
  CAST(2 AS BIGINT) AS d_min,
  CASE WHEN CAST(lsum AS DOUBLE) > 0 THEN
    round(1.0 + CAST(n_tail AS DOUBLE) / CAST(lsum AS DOUBLE), 6)
  END AS alpha
FROM s
""")
def q_graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clauset-Shalizi-Newman continuous power-law exponent MLE over
    the co-purchase graph's degree distribution
    (operators/graph.py:degree_powerlaw_alpha)."""
    from breweries_etl_spark.operators.dedup import bucket_candidate_pairs
    from breweries_etl_spark.operators.graph import degree_powerlaw_alpha

    li = load_table(spark, sf_dir, "lineitem")
    membership = li.select("l_orderkey", "l_partkey").distinct()
    edges = bucket_candidate_pairs(membership, ["l_orderkey"], "l_partkey", 50)
    return degree_powerlaw_alpha(edges, "id_a", "id_b")


@query(oracle="""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents
), st AS (
  SELECT source, term, count(*) AS a FROM toks GROUP BY 1, 2
), term_tot AS (SELECT term, SUM(a) AS t FROM st GROUP BY term),
src_tot AS (SELECT source, SUM(a) AS s FROM st GROUP BY source),
tot AS (SELECT SUM(a) AS nn FROM st),
base AS (
  SELECT st.source, st.term,
    CAST(st.a AS DOUBLE) AS a,
    CAST(term_tot.t - st.a AS DOUBLE) AS b,
    CAST(src_tot.s - st.a AS DOUBLE) AS c,
    CAST(tot.nn AS DOUBLE) - CAST(st.a AS DOUBLE)
      - CAST(term_tot.t - st.a AS DOUBLE)
      - CAST(src_tot.s - st.a AS DOUBLE) AS d,
    CAST(tot.nn AS DOUBLE) AS nn,
    st.a AS a_raw, term_tot.t - st.a AS rest_raw
  FROM st JOIN term_tot USING (term) JOIN src_tot USING (source)
  CROSS JOIN tot
  WHERE st.a >= 5
), scored AS (
  SELECT source, term, a_raw AS n_source, rest_raw AS n_rest,
    round(2.0 * (
      (CASE WHEN a > 0 THEN a * ln(a / ((a + b) * (a + c) / nn)) ELSE 0.0 END)
      + (CASE WHEN b > 0 THEN b * ln(b / ((a + b) * (nn - (a + c)) / nn)) ELSE 0.0 END)
      + (CASE WHEN c > 0 THEN c * ln(c / ((nn - (a + b)) * (a + c) / nn)) ELSE 0.0 END)
      + (CASE WHEN d > 0 THEN d * ln(d / ((nn - (a + b)) * (nn - (a + c)) / nn)) ELSE 0.0 END)
    ), 6) AS g2,
    CASE WHEN a * (nn - (a + c)) > b * (a + c) THEN 1 ELSE 0 END AS enriched
  FROM base
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY g2 DESC, term ASC) AS rank
  FROM scored
)
SELECT source, term, CAST(n_source AS BIGINT) AS n_source,
  CAST(n_rest AS BIGINT) AS n_rest, g2, CAST(enriched AS INTEGER) AS enriched,
  CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
""")
def q_keyness_llr_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 keyness terms per document source by Dunning's
    log-likelihood G² vs the rest of the corpus
    (operators/text.py:keyness_llr_top_terms)."""
    from breweries_etl_spark.operators.text import keyness_llr_top_terms

    return keyness_llr_top_terms(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH cells AS MATERIALIZED (
  SELECT l_quantity AS x, l_discount AS y, count(*) AS c
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
  GROUP BY 1, 2
), pairs AS (
  SELECT
    SUM(CASE WHEN a.y < b.y THEN
      CAST(CAST(a.c AS DECIMAL(19,0)) * CAST(b.c AS DECIMAL(19,0))
           AS DECIMAL(38,0)) END) AS nc0,
    SUM(CASE WHEN a.y > b.y THEN
      CAST(CAST(a.c AS DECIMAL(19,0)) * CAST(b.c AS DECIMAL(19,0))
           AS DECIMAL(38,0)) END) AS nd0
  FROM cells a JOIN cells b ON a.x < b.x
), tx AS (SELECT x, SUM(c) AS t FROM cells GROUP BY x),
ty AS (SELECT y, SUM(c) AS t FROM cells GROUP BY y),
tiex AS (
  SELECT SUM(CAST(CAST(t AS DECIMAL(19,0)) * (CAST(t AS DECIMAL(19,0)) - 1)
                  AS DECIMAL(38,0))) AS tie2x FROM tx
), tiey AS (
  SELECT SUM(CAST(CAST(t AS DECIMAL(19,0)) * (CAST(t AS DECIMAL(19,0)) - 1)
                  AS DECIMAL(38,0))) AS tie2y FROM ty
), tot AS (SELECT SUM(c) AS n, count(*) AS n_cells FROM cells),
f AS (
  SELECT n, n_cells,
    COALESCE(nc0, CAST(0 AS DECIMAL(38,0))) AS nc,
    COALESCE(nd0, CAST(0 AS DECIMAL(38,0))) AS nd,
    tie2x, tie2y
  FROM tot CROSS JOIN pairs CROSS JOIN tiex CROSS JOIN tiey
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
  CAST(nc AS DECIMAL(38,0)) AS n_concordant,
  CAST(nd AS DECIMAL(38,0)) AS n_discordant,
  CASE WHEN {_KTB_DEN} > 0 THEN
    round(({_ddw('nc')} - {_ddw('nd')}) / {_KTB_DEN}, 6)
  END AS tau_b
FROM f
""")
def q_kendall_tau_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-adjusted Kendall tau-b between quantity and discount —
    bounded value domains make the cell-pair enumeration cheap
    (operators/hypotests.py:kendall_tau_b)."""
    from breweries_etl_spark.operators.hypotests import kendall_tau_b

    return kendall_tau_b(
        load_table(spark, sf_dir, "lineitem"), "l_quantity", "l_discount"
    )


@query(oracle="""
WITH f AS (
  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS fa,
    CASE WHEN (length(text) - length(replace(text, ' ', '')) + 1) >= 50
         THEN 1 ELSE 0 END AS fb,
    CASE WHEN instr(lower(text), 'the') > 0 THEN 1 ELSE 0 END AS fc
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
), s AS (
  SELECT count(*) AS n, SUM(fa) AS ca, SUM(fb) AS cb, SUM(fc) AS cc,
    SUM(fa + fb + fc) AS t,
    SUM((fa + fb + fc) * (fa + fb + fc)) AS r2
  FROM f
)
SELECT CAST(n AS BIGINT) AS n, CAST(ca AS BIGINT) AS c_a,
  CAST(cb AS BIGINT) AS c_b, CAST(cc AS BIGINT) AS c_c,
  CASE WHEN 3.0 * CAST(t AS DOUBLE) - CAST(r2 AS DOUBLE) > 0 THEN
    round(3.0 * 2.0 * (
      (CAST(ca AS DOUBLE) - CAST(t AS DOUBLE) / 3.0) * (CAST(ca AS DOUBLE) - CAST(t AS DOUBLE) / 3.0)
      + (CAST(cb AS DOUBLE) - CAST(t AS DOUBLE) / 3.0) * (CAST(cb AS DOUBLE) - CAST(t AS DOUBLE) / 3.0)
      + (CAST(cc AS DOUBLE) - CAST(t AS DOUBLE) / 3.0) * (CAST(cc AS DOUBLE) - CAST(t AS DOUBLE) / 3.0)
    ) / (3.0 * CAST(t AS DOUBLE) - CAST(r2 AS DOUBLE)), 6)
  END AS cochran_q
FROM s
""")
def q_cochran_q_doc_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three paired document filters (char floor,
    word floor, marker token) — the k=3 McNemar generalization
    (operators/hypotests.py:cochran_q)."""
    from breweries_etl_spark.operators.hypotests import cochran_q

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    words = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    )
    return cochran_q(
        d,
        F.col("n_chars") >= 300,
        words >= 50,
        F.instr(F.lower(F.col("text")), "the") > 0,
    )


@query(oracle=_empty_anchored("""
WITH base AS MATERIALIZED (
  -- explicit half-up integer cents (the _batch_cents discipline):
  -- a bare DECIMAL(18,2) cast diverges on negative half-cent ties
  SELECT l_returnflag AS g,
    CAST(CASE WHEN l_extendedprice < 0 THEN -1.0 ELSE 1.0 END
         * floor(abs(CAST(l_extendedprice AS DOUBLE)) * 100.0 + 0.5)
         AS BIGINT) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
), vc AS (
  SELECT v, count(*) AS c FROM base GROUP BY v
), cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), nn AS (SELECT max(cum) AS nn FROM cum),
med AS (
  SELECT min(v) AS med FROM cum CROSS JOIN nn WHERE 2 * cum >= nn
), per_g AS (
  SELECT g, max(med) AS med,
    SUM(CASE WHEN v > med THEN 1 ELSE 0 END) AS above,
    SUM(CASE WHEN v <= med THEN 1 ELSE 0 END) AS below
  FROM base CROSS JOIN med GROUP BY g
), tot AS (
  SELECT SUM(above + below) AS n, count(*) AS k,
    SUM(above) AS ta, SUM(below) AS tb, max(med) AS med
  FROM per_g
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  CAST(tot.med AS DOUBLE) / 100.0 AS grand_median,
  CASE WHEN least(ta, tb) > 0 THEN
    round(CAST(SUM(
      CAST(floor(((CAST(above AS DOUBLE) - CAST(above + below AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(above AS DOUBLE) - CAST(above + below AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(above + below AS DOUBLE) * CAST(ta AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0)
           AS DECIMAL(38,0))
      + CAST(floor(((CAST(below AS DOUBLE) - CAST(above + below AS DOUBLE) * CAST(tb AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(below AS DOUBLE) - CAST(above + below AS DOUBLE) * CAST(tb AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(above + below AS DOUBLE) * CAST(tb AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0)
             AS DECIMAL(38,0))
    ) AS DOUBLE) / 1000000.0, 4)
  END AS chi2
FROM per_g CROSS JOIN tot
GROUP BY n, k, tot.med, ta, tb
""", (
    f"SELECT {_B} AS n, {_B} AS k_groups, {_D} AS grand_median, "
    f"{_D} AS chi2"
)))
def q_moods_median_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test of extended price across return flags — the
    grand median read off the prefix-count primitive, no global
    percentile buffer (operators/hypotests.py:moods_median_test)."""
    from breweries_etl_spark.operators.hypotests import moods_median_test

    return moods_median_test(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )
