"""Model diagnostics and sortless rank statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import temporal, text
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _B, _CLF_SCORE_SQL, _D, _GREATEST, _HEUR_QUALITY_SQL, _KS_GAP, _KS_VC, _MWU_MEAN,
    _MWU_U, _MWU_VAR, _O2, _O2B1, _O2B2, _O2C1Y, _O2C2Y, _O2DET, _O2N, _O2SST,
    _OLS2_MOM, _TH_RATIO, _ZT_OK, _ZT_PA, _ZT_PB, _ZT_Z, _ddw, _ddwf, _empty_anchored,
    _marker_hits,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("stats")


@query(oracle=f"""
WITH scored AS (
  SELECT {_CLF_SCORE_SQL} AS pred,
    CASE WHEN {_HEUR_QUALITY_SQL} >= 0.5 THEN 1 ELSE 0 END AS pos
  FROM documents
), binned AS (
  SELECT least(CAST(9 AS BIGINT),
               CAST(round(pred * 1000000.0) AS BIGINT) // 100000) AS bin,
         pred, pos
  FROM scored
)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
  round(CAST(SUM(CAST(pred AS DECIMAL(18,6))) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS mean_pred,
  CAST(SUM(pos) AS BIGINT) AS n_positive,
  round(CAST(SUM(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS frac_positive,
  round(abs(
    round(CAST(SUM(CAST(pred AS DECIMAL(18,6))) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6)
    - round(CAST(SUM(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)), 6) AS abs_gap
FROM binned GROUP BY bin
""")
def q_score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (Guo et al. 2017 ECE terms) for the
    hashed-linear quality classifier vs the independent heuristic
    label — one scan, one 10-row aggregate."""
    from breweries_etl_spark.operators.filtering import calibration_bins

    return calibration_bins(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH per_x AS (
  SELECT l_returnflag, l_quantity AS threshold, count(*) AS nx,
    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy_x,
    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy_x
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, threshold,
    SUM(nx) OVER wcum AS cn, SUM(sy_x) OVER wcum AS csy,
    SUM(syy_x) OVER wcum AS csyy,
    SUM(nx) OVER wtot AS tn, SUM(sy_x) OVER wtot AS tsy,
    SUM(syy_x) OVER wtot AS tsyy
  FROM per_x
  WINDOW wcum AS (PARTITION BY l_returnflag ORDER BY threshold ASC
                  ROWS UNBOUNDED PRECEDING),
         wtot AS (PARTITION BY l_returnflag)
), sc AS (
  SELECT l_returnflag, threshold,
    CAST(cn AS BIGINT) AS n_left, CAST(tn - cn AS BIGINT) AS n_right,
    round(({_ddwf('csy')}) / CAST(cn AS DOUBLE), 6) AS mean_left,
    round((({_ddwf('tsy')}) - ({_ddwf('csy')}))
          / (CAST(tn AS DOUBLE) - CAST(cn AS DOUBLE)), 6) AS mean_right,
    -- 2-dp fixed-point half-up (see mltrain.decision_stump: round(.,6)
    -- diverges between engines at SSE magnitudes)
    (CASE WHEN
      ((({_ddwf('tsyy')}) - ({_ddwf('tsy')}) * ({_ddwf('tsy')})
                              / CAST(tn AS DOUBLE))
      - (({_ddwf('csyy')}) - ({_ddwf('csy')}) * ({_ddwf('csy')})
                                / CAST(cn AS DOUBLE))
      - ((({_ddwf('tsyy')}) - ({_ddwf('csyy')}))
         - (({_ddwf('tsy')}) - ({_ddwf('csy')}))
           * (({_ddwf('tsy')}) - ({_ddwf('csy')}))
           / (CAST(tn AS DOUBLE) - CAST(cn AS DOUBLE)))) < 0
     THEN -1.0 ELSE 1.0 END
     * floor(abs(
      (({_ddwf('tsyy')}) - ({_ddwf('tsy')}) * ({_ddwf('tsy')})
                              / CAST(tn AS DOUBLE))
      - (({_ddwf('csyy')}) - ({_ddwf('csy')}) * ({_ddwf('csy')})
                                / CAST(cn AS DOUBLE))
      - ((({_ddwf('tsyy')}) - ({_ddwf('csyy')}))
         - (({_ddwf('tsy')}) - ({_ddwf('csy')}))
           * (({_ddwf('tsy')}) - ({_ddwf('csy')}))
           / (CAST(tn AS DOUBLE) - CAST(cn AS DOUBLE)))) * 100.0 + 0.5))
     / 100.0 + 0.0 AS sse_reduction
  FROM cum WHERE cn < tn
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY l_returnflag
    ORDER BY sse_reduction DESC, threshold ASC) AS rn
  FROM sc
)
SELECT l_returnflag, threshold, n_left, n_right, mean_left, mean_right,
       sse_reduction
FROM ranked WHERE rn = 1
""")
def q_decision_stump_price_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag best SSE-reducing binary split of extended price
    on quantity — the CART/GBDT building block as two aggregations."""
    from breweries_etl_spark.operators.mltrain import decision_stump

    return decision_stump(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    )


@query(oracle=f"""
WITH s AS ({_OLS2_MOM})
SELECT l_returnflag, n,
  CASE WHEN {_O2DET} > 0 THEN round({_O2B1}, 6) END AS b1,
  CASE WHEN {_O2DET} > 0 THEN round({_O2B2}, 6) END AS b2,
  CASE WHEN {_O2DET} > 0 THEN
    round(({_O2['sy']} - {_O2B1} * {_O2['s1']} - {_O2B2} * {_O2['s2']})
          / {_O2N}, 6) END AS intercept,
  CASE WHEN {_O2DET} > 0 AND {_O2SST} > 0 THEN
    round(({_O2B1} * {_O2C1Y} + {_O2B2} * {_O2C2Y}) / {_O2SST}, 6)
  END AS r2
FROM s
""")
def q_ols2_price_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature closed-form regression (price ~ quantity + discount)
    per returnflag via explicit 2×2 normal equations."""
    from breweries_etl_spark.operators.mltrain import ols2_fit

    return ols2_fit(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        "l_discount",
        "l_extendedprice",
    )


@query(oracle="""
WITH e AS (
  SELECT user_id, value, event_id,
    row_number() OVER (PARTITION BY user_id
      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rd,
    count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), t AS (
  SELECT user_id, n, rd, value,
    CASE WHEN rd = n THEN power(0.5, CAST(n - 1 AS DOUBLE))
         ELSE 0.5 * power(0.5, CAST(rd - 1 AS DOUBLE)) END AS coef
  FROM e
)
SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
  max(CASE WHEN rd = 1 THEN CAST(value AS DOUBLE) END) AS last_value,
  CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * coef * 1000000.0) AS BIGINT))
       AS DOUBLE) / 1000000.0 AS ewma
FROM t GROUP BY user_id
""")
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-history EWMA (α=0.5 — dyadic weights are bit-portable) of
    each user's value sequence, closed form in one window pass."""
    return temporal.ewma_user_value(load_events(spark, sf_dir))


@query(oracle=f"""
WITH hits AS (
  SELECT lang, text,
    {_marker_hits("en")} AS h_en,
    {_marker_hits("es")} AS h_es,
    {_marker_hits("de")} AS h_de,
    {_marker_hits("fr")} AS h_fr
  FROM documents
), p AS (
  SELECT lang AS a,
    CASE WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
         WHEN {_GREATEST} = 0 THEN 'unknown'
         WHEN h_en = {_GREATEST} THEN 'en'
         WHEN h_es = {_GREATEST} THEN 'es'
         WHEN h_de = {_GREATEST} THEN 'de'
         ELSE 'fr' END AS b
  FROM hits
), cells AS (
  SELECT a, b, count(*) AS nab FROM p
  WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2
), ma AS (SELECT a AS cls, SUM(nab) AS na FROM cells GROUP BY 1),
mb AS (SELECT b AS cls, SUM(nab) AS nb FROM cells GROUP BY 1),
marg AS (
  SELECT coalesce(ma.na, 0) AS na, coalesce(mb.nb, 0) AS nb
  FROM ma FULL OUTER JOIN mb USING (cls)
), pe_t AS (
  SELECT SUM(CAST(na * nb AS DECIMAL(28,0))) AS pe_num FROM marg
), tot AS (
  SELECT SUM(nab) AS n,
    SUM(CASE WHEN a = b THEN nab ELSE 0 END) AS n_agree
  FROM cells
)
SELECT CAST(n AS BIGINT) AS n_rows, CAST(n_agree AS BIGINT) AS n_agree,
  round(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
  round(CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
  CASE WHEN CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
    THEN round(
      (CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)
       - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
      / (1.0 - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
  END AS kappa
FROM tot CROSS JOIN pe_t
""")
def q_cohens_kappa_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between the corpus `lang` labels and the heuristic
    language-ID prediction — chance-corrected labeler agreement."""
    from breweries_etl_spark.operators import profiling

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        F.col("lang"), text.lang_pred_expr(F.col("text")).alias("lang_pred")
    )
    return profiling.cohens_kappa(labeled, "lang", "lang_pred")


@query(oracle=_empty_anchored(f"""
WITH {_KS_VC},
tot AS (SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM vc)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round({_ddw(_KS_GAP)}
        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks_stat
FROM cum CROSS JOIN tot GROUP BY n_a, n_b
""", f"SELECT {_B} AS n_a, {_B} AS n_b, {_D} AS ks_stat"))
def q_ks_test_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between returned ('R') and other
    lineitems' extended price — distributed prefix counts, no global
    sort (operators/hypotests.py)."""
    from breweries_etl_spark.operators.hypotests import ks_test_2samp

    li = load_table(spark, sf_dir, "lineitem")
    return ks_test_2samp(li, "l_extendedprice", F.col("l_returnflag") == "R")


@query(oracle=f"""
WITH {_KS_VC},
s AS (
  SELECT SUM(ca) AS n_a, SUM(cb) AS n_b,
    SUM(CAST(2 * CAST(ca AS DECIMAL(19,0)) * CAST(cum_b - cb AS DECIMAL(19,0))
             + CAST(ca AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS u2,
    SUM(CAST(CAST(ca + cb AS DECIMAL(19,0)) * CAST(ca + cb AS DECIMAL(19,0))
               * CAST(ca + cb AS DECIMAL(19,0))
             - CAST(ca + cb AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS ties3
  FROM cum
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  {_MWU_U} AS u_stat,
  CASE WHEN {_MWU_VAR} > 0 THEN
    round(({_MWU_U} - {_MWU_MEAN}) / sqrt({_MWU_VAR}), 6)
  END AS z_score
FROM s
""")
def q_mann_whitney_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U between returned and other
    lineitems' extended price."""
    from breweries_etl_spark.operators.hypotests import mann_whitney_u

    li = load_table(spark, sf_dir, "lineitem")
    return mann_whitney_u(li, "l_extendedprice", F.col("l_returnflag") == "R")


@query(oracle=f"""
WITH per_key AS (
  SELECT o_custkey,
    SUM(CAST((CASE WHEN o_totalprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS r
  FROM orders GROUP BY 1
), vc AS (
  SELECT CAST(r AS DECIMAL(18,2)) AS v, count(*) AS ca
  FROM per_key WHERE r IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a
  FROM vc
), s AS (
  SELECT SUM(ca) AS n_keys,
    SUM(CAST(v * CAST(ca AS DECIMAL(19,0)) AS DECIMAL(38,2))) AS total,
    SUM(CAST(v * CAST(ca AS DECIMAL(19,0))
             * (2 * CAST(cum_a AS DECIMAL(19,0)) - CAST(ca AS DECIMAL(19,0)) + 1)
             AS DECIMAL(38,2))) AS num2,
    -- v is a PER-CUSTOMER revenue sum: under a hot key it reaches
    -- 11+ digits and a bare DECIMAL(18) x DECIMAL(18) multiply
    -- overflows in DuckDB (skew-axis sweep r11); widen before
    -- squaring (grubbs idiom — Spark widens automatically)
    SUM(CAST(CAST(v AS DECIMAL(24,2)) * CAST(v AS DECIMAL(24,2))
             * CAST(ca AS DECIMAL(19,0)) AS DECIMAL(38,4))) AS sumsq
  FROM cum
)
SELECT CAST(n_keys AS BIGINT) AS n_keys, {_ddwf('total')} AS total_value,
  CASE WHEN {_ddwf('total')} > 0 THEN
    round({_ddwf('num2')}
          / (CAST(n_keys AS DOUBLE) * {_ddwf('total')})
          - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE), 6)
  END AS gini,
  CASE WHEN {_ddwf('total')} > 0 THEN
    round({_ddwf('sumsq')}
          / ({_ddwf('total')} * {_ddwf('total')}), 6)
  END AS hhi
FROM s
""")
def q_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini + HHI of order revenue across customers — closed-form rank
    sum from bucketed prefix counts, no rank column materialized."""
    from breweries_etl_spark.operators.hypotests import gini_concentration

    return gini_concentration(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    )


@query(oracle="""
WITH vc AS (
  SELECT l_extendedprice AS v, count(*) AS ca
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a
  FROM vc
), tot AS (SELECT SUM(ca) AS n FROM vc)
SELECT v, CAST(ca AS BIGINT) AS n_rows, CAST(cum_a AS BIGINT) AS cum_n,
  round(CAST(cum_a AS DOUBLE) / CAST(n AS DOUBLE), 6) AS ecdf,
  CASE WHEN n > 1 THEN
    round(CAST(cum_a - ca AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0), 6)
  ELSE 0.0 END AS percent_rank
FROM cum CROSS JOIN tot
""")
def q_lineitem_price_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global ECDF / percent-rank per distinct price — prefix
    counts, no single-partition global window."""
    from breweries_etl_spark.operators.hypotests import global_ecdf

    return global_ecdf(load_table(spark, sf_dir, "lineitem"), "l_extendedprice")


@query(oracle=f"""
WITH pu AS (
  SELECT user_id,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), armed AS (
  SELECT CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT)
           % 2 AS arm,
         conv
  FROM pu
), c AS (
  SELECT
    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
    SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS conv_a,
    SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS conv_b
  FROM armed
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
  CASE WHEN n_a > 0 THEN round({_ZT_PA}, 6) END AS rate_a,
  CASE WHEN n_b > 0 THEN round({_ZT_PB}, 6) END AS rate_b,
  CASE WHEN {_ZT_OK} THEN round({_ZT_Z}, 6) END AS z_score,
  CASE WHEN {_ZT_OK} THEN abs({_ZT_Z}) >= 1.96 END AS significant
FROM c
""")
def q_conversion_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a hash-assigned user split: purchase
    conversion rate arm B vs arm A."""
    from breweries_etl_spark.operators.behavior import conversion_ab_ztest

    return conversion_ab_ztest(load_events(spark, sf_dir))


@query(oracle="""
WITH us AS (
  SELECT user_id,
    min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
  FROM events GROUP BY 1
), mx AS (SELECT max(last_us) AS max_us FROM us),
per AS (
  SELECT (last_us - first_us) // 86400000000 AS day,
    CASE WHEN last_us < max_us - 604800000000 THEN 1 ELSE 0 END AS churn
  FROM us CROSS JOIN mx
), pd AS (
  SELECT day, SUM(churn) AS n_churned, count(*) AS ends FROM per GROUP BY 1
), ar AS (
  SELECT day, n_churned, ends,
    SUM(ends) OVER (ORDER BY day DESC ROWS UNBOUNDED PRECEDING) AS n_at_risk
  FROM pd
), t AS (
  SELECT day, n_at_risk, n_churned,
    SUM(CAST(CASE WHEN n_churned > 0 AND n_churned < n_at_risk
      THEN round(ln(1.0 - CAST(n_churned AS DOUBLE)
                         / CAST(n_at_risk AS DOUBLE)), 6)
      ELSE 0.0 END AS DECIMAL(18,6)))
      OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING) AS cum_term,
    SUM(CASE WHEN n_churned > 0 AND n_churned >= n_at_risk THEN 1 ELSE 0 END)
      OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING) AS cum_dead
  FROM ar
)
SELECT day, CAST(n_at_risk AS BIGINT) AS n_at_risk,
  CAST(n_churned AS BIGINT) AS n_churned,
  CASE WHEN cum_dead > 0 THEN 0.0
       ELSE round(exp(CAST(cum_term AS DOUBLE)), 6) END AS survival
FROM t
""")
def q_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-lifetime survival curve with right-censoring of
    still-active users."""
    from breweries_etl_spark.operators.behavior import kaplan_meier_retention

    return kaplan_meier_retention(load_events(spark, sf_dir))


@query(oracle=_empty_anchored(f"""
WITH per_key AS (
  SELECT o_custkey, SUM(CAST((CASE WHEN o_totalprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS r
  FROM orders GROUP BY 1
), tot AS (SELECT count(*) AS n, SUM(r) AS total FROM per_key)
SELECT CAST(n AS BIGINT) AS n_keys, CAST(total AS DOUBLE) AS total_value,
  CASE WHEN CAST(total AS DOUBLE) > 0 THEN
    round(CAST(SUM(CAST(
      CASE WHEN CAST(r AS DOUBLE) > 0
        THEN round({_TH_RATIO} * ln({_TH_RATIO}), 6)
        ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
      / CAST(n AS DOUBLE), 6)
  END AS theil_t
FROM per_key CROSS JOIN tot GROUP BY n, total
""", f"SELECT {_B} AS n_keys, {_D} AS total_value, {_D} AS theil_t"))
def q_theil_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of order revenue across customers — the
    decomposable complement of the Gini query."""
    from breweries_etl_spark.operators.hypotests import theil_index

    return theil_index(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    )


@query(oracle="""
WITH per_key AS (
  SELECT o_custkey, SUM(CAST((CASE WHEN o_totalprice < 0 THEN -1.0 ELSE 1.0 END * floor(abs(CAST(o_totalprice AS DOUBLE)) * 100.0 + 0.5)) / 100.0 AS DECIMAL(18,2))) AS r
  FROM orders GROUP BY 1
), vc AS (
  SELECT CAST(r AS DECIMAL(18,2)) AS v, count(*) AS ca
  FROM per_key WHERE r IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a
  FROM vc
), tot AS (
  SELECT SUM(ca) AS n,
    SUM(CAST(v * CAST(ca AS DECIMAL(19,0)) AS DECIMAL(38,2))) AS total
  FROM vc
), binned AS (
  SELECT ((cum_a - 1) * 10) // n AS decile, ca,
    CAST(v * CAST(ca AS DECIMAL(19,0)) AS DECIMAL(38,2)) AS mass, n, total
  FROM cum CROSS JOIN tot
), pb AS (
  SELECT decile, SUM(ca) AS n_keys, SUM(mass) AS mass,
    max(n) AS n, max(total) AS total
  FROM binned GROUP BY 1
)
SELECT CAST(decile AS BIGINT) AS decile, CAST(n_keys AS BIGINT) AS n_keys,
  round(CAST(SUM(n_keys) OVER wo AS DOUBLE) / CAST(n AS DOUBLE), 6)
    AS cum_pop_share,
  CASE WHEN CAST(total AS DOUBLE) > 0 THEN
    round(CAST(SUM(mass) OVER wo AS DOUBLE) / CAST(total AS DOUBLE), 6)
  END AS cum_value_share
FROM pb
WINDOW wo AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
""")
def q_lorenz_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile resolution: cumulative population vs
    revenue share, from bucketed prefix counts (no rank column)."""
    from breweries_etl_spark.operators.hypotests import lorenz_deciles

    return lorenz_deciles(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    )


@query(oracle="""
WITH gv AS (
  SELECT l_returnflag AS g, l_extendedprice AS v, count(*) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
), within AS (
  SELECT g, v, c,
    SUM(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_g,
    SUM(c) OVER (PARTITION BY g) AS n_g
  FROM gv
), pooled AS (
  SELECT v, SUM(c) AS cp FROM gv GROUP BY 1
), pcum AS (
  SELECT v, cp,
    SUM(cp) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM pooled
), tot AS (SELECT SUM(cp) AS n FROM pooled),
grid AS (
  SELECT k, min(v) AS qv
  FROM pcum CROSS JOIN tot
       CROSS JOIN (SELECT unnest(range(1, 11)) AS k) ks
  WHERE cum >= (k * n + 9) // 10 AND cum - cp < (k * n + 9) // 10
  GROUP BY k
)
SELECT g, v, CAST(c AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS k,
  qv AS normalized
FROM within JOIN grid ON (10 * cum_g + n_g - 1) // n_g = k
""")
def q_quantile_normalize_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag quantile normalization of extended price onto the
    pooled decile grid — integer-exact, no percentile function, no
    single-partition windows."""
    from breweries_etl_spark.operators.hypotests import quantile_normalize

    return quantile_normalize(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )
