"""Fact-scan statistics and bounded-grid tests first, then the
vocabulary and day-grid shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.operators import text
from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _B, _D, _DAILY_EVENTS, _GREATEST, _JK_PAIRS, _MARDIA_MX, _MARDIA_MY, _adk_group_cte,
    _bws_side_cte, _dd, _ddw, _ddwf, _empty_anchored, _jk_pair_sql, _marker_hits,
    _norm_ppf_sql, _norm_sf_sql, _qm8,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("r9wave")


@query(oracle=f"""
WITH base AS (
  SELECT {_qm8('l_quantity')} AS x0, {_qm8('l_extendedprice')} AS x1,
    {_qm8('l_discount')} AS x2, {_qm8('l_tax')} AS x3
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL AND l_tax IS NOT NULL
), folded AS (
  SELECT count(*) AS n,
    SUM(CAST(x0 AS DECIMAL(38,2))) AS s0,
    SUM(CAST(CAST(x0 AS DECIMAL(24,2)) * x0 AS DECIMAL(38,4))) AS q0,
    SUM(CAST(x1 AS DECIMAL(38,2))) AS s1,
    SUM(CAST(CAST(x1 AS DECIMAL(24,2)) * x1 AS DECIMAL(38,4))) AS q1,
    SUM(CAST(x2 AS DECIMAL(38,2))) AS s2,
    SUM(CAST(CAST(x2 AS DECIMAL(24,2)) * x2 AS DECIMAL(38,4))) AS q2,
    SUM(CAST(x3 AS DECIMAL(38,2))) AS s3,
    SUM(CAST(CAST(x3 AS DECIMAL(24,2)) * x3 AS DECIMAL(38,4))) AS q3,
    SUM(CAST(CAST(x0 + x1 + x2 + x3 AS DECIMAL(18,2))
        AS DECIMAL(38,2))) AS st,
    SUM(CAST(CAST(CAST(x0 + x1 + x2 + x3 AS DECIMAL(18,2))
        AS DECIMAL(24,2)) * CAST(x0 + x1 + x2 + x3 AS DECIMAL(18,2))
        AS DECIMAL(38,4))) AS qt
  FROM base
), v AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    ({_ddwf('q0')} - {_ddwf('s0')} * {_ddwf('s0')} / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0)
    + ({_ddwf('q1')} - {_ddwf('s1')} * {_ddwf('s1')} / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0)
    + ({_ddwf('q2')} - {_ddwf('s2')} * {_ddwf('s2')} / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0)
    + ({_ddwf('q3')} - {_ddwf('s3')} * {_ddwf('s3')} / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0) AS item_var_sum,
    ({_ddwf('qt')} - {_ddwf('st')} * {_ddwf('st')} / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0) AS total_var
  FROM folded
)
SELECT CAST(n AS BIGINT) AS n, CAST(4 AS BIGINT) AS k_items,
  CASE WHEN n > 1 AND total_var > 0 THEN
    round(CAST(4.0 / 3.0 AS DOUBLE) * (1.0 - item_var_sum / total_var), 6)
  END AS alpha
FROM v
""")
def q_cronbach_alpha_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha across the four lineitem value columns
    (operators/profiling.py:cronbach_alpha)."""
    from breweries_etl_spark.operators.profiling import cronbach_alpha

    return cronbach_alpha(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


@query(oracle=f"""
WITH per_key AS (
  SELECT o_custkey AS k, SUM({_qm8('o_totalprice')}) AS r
  FROM orders GROUP BY 1 HAVING SUM({_qm8('o_totalprice')}) > 0
), folded AS (
  SELECT count(*) AS n,
    SUM(CAST(r AS DECIMAL(38,2))) AS total,
    SUM(CAST(round(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6))) AS lsum
  FROM per_key
)
SELECT CAST(n AS BIGINT) AS n_keys,
  CASE WHEN n > 0 THEN round({_ddwf('total')} / CAST(n AS DOUBLE), 6)
  END AS mean_value,
  CASE WHEN n > 0 THEN
    round(ln({_ddwf('total')} / CAST(n AS DOUBLE))
          - CAST(lsum AS DOUBLE) / CAST(n AS DOUBLE), 6)
  END AS theil_l,
  CASE WHEN n > 0 THEN
    round(1.0 - exp(-(ln({_ddwf('total')} / CAST(n AS DOUBLE))
                      - CAST(lsum AS DOUBLE) / CAST(n AS DOUBLE))), 6)
  END AS atkinson_1
FROM folded
""")
def q_theil_l_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil L (mean log deviation) + Atkinson(1) of per-customer
    revenue (operators/hypotests.py:theil_l_atkinson)."""
    from breweries_etl_spark.operators.hypotests import theil_l_atkinson

    return theil_l_atkinson(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    )


@query(oracle=f"""
WITH hits AS (
  SELECT lang, text,
    {_marker_hits("en")} AS h_en,
    {_marker_hits("es")} AS h_es,
    {_marker_hits("de")} AS h_de,
    {_marker_hits("fr")} AS h_fr
  FROM documents
), p AS (
  SELECT lang AS t,
    CASE WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
         WHEN {_GREATEST} = 0 THEN 'unknown'
         WHEN h_en = {_GREATEST} THEN 'en'
         WHEN h_es = {_GREATEST} THEN 'es'
         WHEN h_de = {_GREATEST} THEN 'de'
         ELSE 'fr' END AS pr
  FROM hits
), cells AS (
  SELECT t, pr, count(*) AS c FROM p
  WHERE t IS NOT NULL AND pr IS NOT NULL GROUP BY 1, 2
), tm AS (SELECT t AS cls, SUM(c) AS tk FROM cells GROUP BY 1),
pm AS (SELECT pr AS cls, SUM(c) AS pk FROM cells GROUP BY 1),
joint AS (
  SELECT coalesce(tk, 0) AS tk, coalesce(pk, 0) AS pk
  FROM tm FULL OUTER JOIN pm USING (cls)
), marg AS (
  SELECT SUM(tk) AS s, count(*) AS k,
    SUM(CAST(CAST(tk AS DECIMAL(19,0)) * CAST(pk AS DECIMAL(19,0))
        AS DECIMAL(38,0))) AS tp,
    SUM(CAST(CAST(tk AS DECIMAL(19,0)) * CAST(tk AS DECIMAL(19,0))
        AS DECIMAL(38,0))) AS t2,
    SUM(CAST(CAST(pk AS DECIMAL(19,0)) * CAST(pk AS DECIMAL(19,0))
        AS DECIMAL(38,0))) AS p2
  FROM joint
), diag AS (
  SELECT SUM(CASE WHEN t = pr THEN c ELSE 0 END) AS corr FROM cells
)
SELECT CAST(s AS BIGINT) AS n, CAST(k AS BIGINT) AS n_classes,
  CASE WHEN s > 0 THEN
    round(CAST(corr AS DOUBLE) / CAST(s AS DOUBLE), 6) END AS accuracy,
  CASE WHEN s > 0
    AND sqrt(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) - {_ddw('p2')})
      * sqrt(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) - {_ddw('t2')}) > 0
  THEN round((CAST(corr AS DOUBLE) * CAST(s AS DOUBLE) - {_ddw('tp')})
             / (sqrt(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) - {_ddw('p2')})
                * sqrt(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       - {_ddw('t2')})), 6)
  END AS mcc
FROM diag CROSS JOIN marg
""")
def q_mcc_lang_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass Matthews correlation of the heuristic language-ID
    prediction vs the corpus lang labels
    (operators/profiling.py:mcc_multiclass)."""
    from breweries_etl_spark.operators.profiling import mcc_multiclass

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        F.col("lang"), text.lang_pred_expr(F.col("text")).alias("lang_pred")
    )
    return mcc_multiclass(labeled, "lang", "lang_pred")


@query(oracle=f"""
WITH per_key AS (
  SELECT c_nationkey AS k,
    SUM({_qm8('o_totalprice')}) AS m0,
    count(*) AS m1,
    MAX({_qm8('o_totalprice')}) AS m2
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_nationkey IS NOT NULL GROUP BY 1
  HAVING SUM({_qm8('o_totalprice')}) IS NOT NULL
     AND MAX({_qm8('o_totalprice')}) IS NOT NULL
), ranked AS (
  SELECT k,
    2 * rank() OVER (ORDER BY m0) + count(*) OVER (PARTITION BY m0) - 1 AS r0,
    2 * rank() OVER (ORDER BY m1) + count(*) OVER (PARTITION BY m1) - 1 AS r1,
    2 * rank() OVER (ORDER BY m2) + count(*) OVER (PARTITION BY m2) - 1 AS r2,
    count(*) OVER () AS nk
  FROM per_key
), s4 AS (
  SELECT max(nk) AS n,
    SUM(CAST(CAST(CAST(r0 + r1 + r2 AS BIGINT) - 3 * (nk + 1)
        AS DECIMAL(19,0))
        * (CAST(r0 + r1 + r2 AS BIGINT) - 3 * (nk + 1))
        AS DECIMAL(38,0))) AS s4
  FROM ranked
), ties AS (
  SELECT SUM(tsum) AS tt FROM (
    SELECT SUM(CAST(CAST(t AS DECIMAL(19,0)) * t * t - t
        AS DECIMAL(38,0))) AS tsum
    FROM (SELECT m0 AS mv, count(*) AS t FROM per_key GROUP BY 1) GROUP BY ()
    UNION ALL
    SELECT SUM(CAST(CAST(t AS DECIMAL(19,0)) * t * t - t
        AS DECIMAL(38,0))) AS tsum
    FROM (SELECT m1 AS mv, count(*) AS t FROM per_key GROUP BY 1) GROUP BY ()
    UNION ALL
    SELECT SUM(CAST(CAST(t AS DECIMAL(19,0)) * t * t - t
        AS DECIMAL(38,0))) AS tsum
    FROM (SELECT m2 AS mv, count(*) AS t FROM per_key GROUP BY 1) GROUP BY ()
  )
)
SELECT CAST(n AS BIGINT) AS n_keys, CAST(3 AS BIGINT) AS m_judges,
  CASE WHEN n > 1
    AND 9.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               - CAST(n AS DOUBLE)) - 3.0 * {_ddw('tt')} > 0
  THEN round(3.0 * {_ddw('s4')}
             / (9.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))
                - 3.0 * {_ddw('tt')}), 6)
  END AS kendall_w
FROM s4 CROSS JOIN ties
""")
def q_kendalls_w_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W concordance of three per-nation revenue rankings:
    total, order count, max order (operators/profiling.py:kendalls_w)."""
    from breweries_etl_spark.operators.hypotests import quantized_money
    from breweries_etl_spark.operators.profiling import kendalls_w

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        orders.o_custkey == F.col("c_custkey"),
    )
    return kendalls_w(
        joined,
        "c_nationkey",
        [
            F.sum(quantized_money(F.col("o_totalprice"))),
            F.count(F.lit(1)),
            F.max(quantized_money(F.col("o_totalprice"))),
        ],
    )


@query(oracle=f"""
WITH per_key AS (
  SELECT o_custkey AS kk, SUM({_qm8('o_totalprice')}) AS ma,
    count(*) AS mb
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
), la AS (
  SELECT kk, row_number() OVER (ORDER BY ma DESC, kk ASC) AS ra
  FROM per_key QUALIFY row_number() OVER (ORDER BY ma DESC, kk ASC) <= 20
), lb AS (
  SELECT kk, row_number() OVER (ORDER BY mb DESC, kk ASC) AS rb
  FROM per_key QUALIFY row_number() OVER (ORDER BY mb DESC, kk ASC) <= 20
), matched AS (
  SELECT greatest(ra, rb) AS m FROM la JOIN lb USING (kk)
), depths AS (
  SELECT d, CAST(round(power(CAST(0.9 AS DOUBLE), CAST(d AS DOUBLE) - 1.0)
                       / CAST(d AS DOUBLE), 12) AS DECIMAL(14,12)) AS w
  FROM (SELECT unnest(range(1, 21)) AS d)
), folded AS (
  SELECT SUM(w) AS wsum FROM matched JOIN depths ON d >= m
), nm AS (SELECT count(*) AS n_matched FROM matched)
SELECT CAST(20 AS BIGINT) AS k, CAST(n_matched AS BIGINT) AS n_matched,
  round((CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE))
        * COALESCE(CAST(wsum AS DOUBLE), CAST(0.0 AS DOUBLE)), 6) AS rbo
FROM folded CROSS JOIN nm
""")
def q_rbo_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap of the top-20 customers by revenue vs by
    order count (operators/profiling.py:rank_biased_overlap)."""
    from breweries_etl_spark.operators.hypotests import quantized_money
    from breweries_etl_spark.operators.profiling import rank_biased_overlap

    return rank_biased_overlap(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        F.sum(quantized_money(F.col("o_totalprice"))),
        F.count(F.lit(1)),
    )


@query(oracle="""
WITH folded AS (
  SELECT
    count(DISTINCT CASE
      WHEN CAST('0x' || substring(md5(CAST(text AS VARCHAR)), 1, 4)
           AS BIGINT) < 6553 THEN CAST(text AS VARCHAR) END) AS n1,
    count(DISTINCT CASE
      WHEN CAST('0x' || substring(md5(CAST(text AS VARCHAR)), 5, 4)
           AS BIGINT) < 6553 THEN CAST(text AS VARCHAR) END) AS n2,
    count(DISTINCT CASE
      WHEN CAST('0x' || substring(md5(CAST(text AS VARCHAR)), 1, 4)
           AS BIGINT) < 6553
       AND CAST('0x' || substring(md5(CAST(text AS VARCHAR)), 5, 4)
           AS BIGINT) < 6553 THEN CAST(text AS VARCHAR) END) AS m
  FROM documents WHERE text IS NOT NULL
)
SELECT CAST(n1 AS BIGINT) AS n_sample1, CAST(n2 AS BIGINT) AS n_sample2,
  CAST(m AS BIGINT) AS n_both,
  round((CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
        / (CAST(m AS DOUBLE) + 1.0) - 1.0, 6) AS est_distinct
FROM folded
""")
def q_capture_recapture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the corpus's distinct
    document-text count from two independent 10% hash samples
    (operators/sampling.py:capture_recapture_distinct)."""
    from breweries_etl_spark.operators.sampling import (
        capture_recapture_distinct,
    )

    return capture_recapture_distinct(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH cells AS (
  SELECT l_quantity AS x, l_discount AS y, count(*) AS c FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL GROUP BY 1, 2
), mxr AS (SELECT x, SUM(c) AS lx FROM cells GROUP BY 1),
mx AS (
  SELECT x, 2 * COALESCE(SUM(lx) OVER (ORDER BY x
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + lx + 1 AS r2
  FROM mxr
), myr AS (SELECT y, SUM(c) AS ly FROM cells GROUP BY 1),
my AS (
  SELECT y, 2 * COALESCE(SUM(ly) OVER (ORDER BY y
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + ly + 1 AS s2
  FROM myr
), q4 AS (
  SELECT a.x, a.y, a.c,
    COALESCE(SUM(CASE
      WHEN b.x < a.x AND b.y < a.y THEN 4 * b.c
      WHEN b.x = a.x AND b.y < a.y THEN 2 * b.c
      WHEN b.x < a.x AND b.y = a.y THEN 2 * b.c
      ELSE 0 END), 0) + a.c - 1 AS q4
  FROM cells a LEFT JOIN cells b ON b.x <= a.x AND b.y <= a.y
  GROUP BY 1, 2, 3
), tot AS (SELECT SUM(c) AS n FROM cells),
fullc AS (
  SELECT q4.c, q4.q4, mx.r2, my.s2, tot.n, CAST(tot.n AS DOUBLE) AS nd
  FROM q4 JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
), terms AS (
  SELECT n, CAST(c AS DOUBLE) AS cd, nd,
    CAST(q4 AS DOUBLE) / 4.0 AS q1,
    (CAST(r2 AS DOUBLE) - 2.0) / 2.0 AS r1,
    (CAST(s2 AS DOUBLE) - 2.0) / 2.0 AS s1
  FROM fullc
), folded AS (
  SELECT max(n) AS n, count(*) AS n_cells,
    SUM(CAST(round(
      cd * ((nd - 2.0) * (nd - 3.0) * (q1 * (q1 - 1.0))
            + (r1 * (r1 - 1.0) * s1 * (s1 - 1.0))
            - 2.0 * (nd - 2.0) * ((r1 - 1.0) * (s1 - 1.0) * q1))
      / (nd * (nd - 1.0) * (nd - 2.0) * (nd - 3.0) * (nd - 4.0)),
      12) AS DECIMAL(38,12))) AS dsum
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
  CASE WHEN n > 4 THEN round(30.0 * CAST(dsum AS DOUBLE), 6)
  END AS hoeffding_d
FROM folded
""")
def q_hoeffding_d_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoeffding's D general-dependence test between l_quantity and
    l_discount (operators/hypotests.py:hoeffding_d)."""
    from breweries_etl_spark.operators.hypotests import hoeffding_d

    return hoeffding_d(
        load_table(spark, sf_dir, "lineitem"), "l_quantity", "l_discount"
    )


@query(oracle="""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), walked AS (
  SELECT y, lag(y) OVER (ORDER BY day) AS yp,
    lead(y) OVER (ORDER BY day) AS yn
  FROM daily
), folded AS (
  SELECT count(*) AS n_days,
    SUM(CASE WHEN (yp < y AND y > yn) OR (yp > y AND y < yn)
        THEN 1 ELSE 0 END) AS n_turning
  FROM walked
)
SELECT CAST(n_days AS BIGINT) AS n_days,
  CAST(n_turning AS BIGINT) AS n_turning,
  CASE WHEN n_days > 2 THEN
    round(2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0, 6) END AS expected,
  CASE WHEN n_days > 2 AND (16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0 > 0
  THEN round((CAST(n_turning AS DOUBLE)
              - 2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0)
             / sqrt((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0), 6)
  END AS z_score
FROM folded
""")
def q_turning_points_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Turning-points randomness test on the daily event-value totals
    (operators/temporal.py:turning_points_daily)."""
    from breweries_etl_spark.operators.temporal import turning_points_daily

    return turning_points_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), idx AS (
  SELECT row_number() OVER (ORDER BY day) - 1 AS i,
    CAST(y AS DOUBLE) AS y0,
    CAST(lead(y, 1) OVER (ORDER BY day) AS DOUBLE) AS y1,
    CAST(lead(y, 2) OVER (ORDER BY day) AS DOUBLE) AS y2
  FROM daily
), walked AS (SELECT * FROM idx WHERE y2 IS NOT NULL),
mom AS (
  SELECT count(*) AS n,
    SUM(CAST(y AS DECIMAL(38,2))) AS s,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS q
  FROM daily
), rr AS (
  SELECT n, 0.2 * sqrt(greatest(
    ({_ddwf('q')} - {_ddwf('s')} * {_ddwf('s')} / CAST(n AS DOUBLE))
    / CAST(n AS DOUBLE), 0.0)) AS r
  FROM mom
), folded AS (
  SELECT max(n) AS n_days, max(r) AS r,
    SUM(CASE WHEN greatest(abs(a.y0 - b.y0), abs(a.y1 - b.y1)) < r
        THEN 1 ELSE 0 END) AS b_cnt,
    SUM(CASE WHEN greatest(greatest(abs(a.y0 - b.y0), abs(a.y1 - b.y1)),
                           abs(a.y2 - b.y2)) < r
        THEN 1 ELSE 0 END) AS a_cnt
  FROM walked a JOIN walked b ON a.i < b.i CROSS JOIN rr
)
SELECT CAST(n_days AS BIGINT) AS n_days,
  round(r, 6) AS r_threshold,
  CAST(b_cnt AS BIGINT) AS b_count,
  CAST(a_cnt AS BIGINT) AS a_count,
  CASE WHEN a_cnt > 0 AND b_cnt > 0 THEN
    round(ln(CAST(b_cnt AS DOUBLE)) - ln(CAST(a_cnt AS DOUBLE)), 6)
  END AS sampen
FROM folded
""")
def q_sample_entropy_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SampEn(2, 0.2sigma) regularity of the daily event-value totals
    (operators/temporal.py:sample_entropy_daily)."""
    from breweries_etl_spark.operators.temporal import sample_entropy_daily

    return sample_entropy_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), idx AS (
  SELECT y, row_number() OVER (ORDER BY day) - 1 AS t FROM daily
), tot AS (
  SELECT count(*) AS n, SUM(CAST(y AS DECIMAL(38,2))) AS s FROM daily
), kt AS (
  SELECT y, k, n, s,
    CAST(round(cos(6.283185307179586
      * CAST((k * t) % n AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      AS DECIMAL(8,6)) AS cw,
    CAST(round(sin(6.283185307179586
      * CAST((k * t) % n AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      AS DECIMAL(8,6)) AS sw
  FROM idx CROSS JOIN tot
  CROSS JOIN (SELECT unnest(range(1, ((SELECT n FROM tot) - 1) // 2 + 1))
              AS k)
), per_k AS (
  SELECT k, max(n) AS n, max(s) AS s,
    SUM(CAST(y * cw AS DECIMAL(38,8))) AS yc,
    SUM(CAST(y * sw AS DECIMAL(38,8))) AS ys,
    SUM(CAST(cw AS DECIMAL(38,6))) AS sc,
    SUM(CAST(sw AS DECIMAL(38,6))) AS ss
  FROM kt GROUP BY 1
), powered AS (
  SELECT k, n,
    ({_ddwf('yc')} - ({_ddwf('s')} / CAST(n AS DOUBLE)) * {_ddwf('sc')})
    * ({_ddwf('yc')} - ({_ddwf('s')} / CAST(n AS DOUBLE)) * {_ddwf('sc')})
    + ({_ddwf('ys')} - ({_ddwf('s')} / CAST(n AS DOUBLE)) * {_ddwf('ss')})
    * ({_ddwf('ys')} - ({_ddwf('s')} / CAST(n AS DOUBLE)) * {_ddwf('ss')})
    AS p
  FROM per_k
), ptot AS (
  SELECT count(*) AS kk,
    SUM(CAST(round(p, 6) AS DECIMAL(38,6))) AS pt
  FROM powered
), peak AS (
  SELECT k, p FROM powered QUALIFY
    row_number() OVER (ORDER BY p DESC, k ASC) = 1
), hfold AS (
  SELECT SUM(CASE
    WHEN CAST(CAST(round(p, 6) AS DECIMAL(38,6)) AS DOUBLE)
         / {_ddwf('pt')} > 0
    THEN CAST(round(-(CAST(CAST(round(p, 6) AS DECIMAL(38,6)) AS DOUBLE)
                      / {_ddwf('pt')})
                    * ln(CAST(CAST(round(p, 6) AS DECIMAL(38,6)) AS DOUBLE)
                         / {_ddwf('pt')}), 6) AS DECIMAL(18,6))
    ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS h
  FROM powered CROSS JOIN ptot
)
SELECT CAST(tot.n AS BIGINT) AS n_days, CAST(kk AS BIGINT) AS n_freqs,
  CAST(peak.k AS BIGINT) AS peak_k,
  CASE WHEN {_ddwf('pt')} > 0 THEN
    round(round(peak.p, 6) / {_ddwf('pt')}, 6) END AS peak_share,
  CASE WHEN kk > 1 THEN
    round(CAST(h AS DOUBLE) / ln(CAST(kk AS DOUBLE)), 6)
  END AS spectral_entropy
FROM ptot CROSS JOIN hfold CROSS JOIN tot LEFT JOIN peak ON TRUE
""")
def q_spectral_entropy_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Normalized spectral entropy + dominant Fourier frequency of the
    daily event-value totals
    (operators/temporal.py:spectral_entropy_daily)."""
    from breweries_etl_spark.operators.temporal import spectral_entropy_daily

    return spectral_entropy_daily(load_events(spark, sf_dir))


@query(oracle="""
WITH tf AS (
  SELECT term, count(*) AS f FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS term
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY 1
), folded AS (
  SELECT SUM(f) AS n, count(*) AS v,
    SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS f1,
    SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS f2
  FROM tf
)
SELECT CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS n_types,
  CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
  CASE WHEN v > 0 THEN
    round(CAST(v AS DOUBLE)
          + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
          / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6)
  END AS chao1,
  CASE WHEN n > 0 THEN
    round(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
  END AS gt_unseen_mass
FROM folded
""")
def q_vocab_richness_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-size estimate + Good-Turing unseen mass over
    the documents corpus (operators/text.py:vocab_richness)."""
    from breweries_etl_spark.operators.text import vocab_richness

    return vocab_richness(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH toks AS (
  SELECT source AS src,
    unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS term
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
), tf AS (SELECT src, term, count(*) AS c FROM toks GROUP BY 1, 2),
totals AS (SELECT src, SUM(c) AS n_s FROM tf GROUP BY 1),
topk AS (
  SELECT term FROM (SELECT term, SUM(c) AS ct FROM tf GROUP BY 1)
  ORDER BY ct DESC, term ASC LIMIT 30
), grid AS (
  SELECT topk.term, totals.src,
    CAST(floor(CAST(COALESCE(tf.c, 0) AS DOUBLE) * 1e9
               / CAST(totals.n_s AS DOUBLE)) AS BIGINT) AS f9
  FROM topk CROSS JOIN totals
  LEFT JOIN tf ON tf.src = totals.src AND tf.term = topk.term
), per_term AS (
  SELECT term, count(*) AS s, SUM(f9) AS sf,
    SUM(CAST(CAST(f9 AS DECIMAL(19,0)) * f9 AS DECIMAL(38,0))) AS qf
  FROM grid GROUP BY 1
), stats AS (
  SELECT term, CAST(sf AS DOUBLE) / CAST(s AS DOUBLE) AS mu,
    sqrt(greatest({_ddw('qf')} / CAST(s AS DOUBLE)
                  - (CAST(sf AS DOUBLE) / CAST(s AS DOUBLE))
                  * (CAST(sf AS DOUBLE) / CAST(s AS DOUBLE)),
                  CAST(0.0 AS DOUBLE))) AS sd
  FROM per_term
), z AS (
  SELECT grid.term, grid.src,
    CASE WHEN sd > 0 THEN (CAST(f9 AS DOUBLE) - mu) / sd
         ELSE CAST(0.0 AS DOUBLE) END AS z
  FROM grid JOIN stats USING (term)
), pairs AS (
  SELECT a.src AS source_a, b.src AS source_b, a.z AS za, b.z AS zb
  FROM z a JOIN z b ON a.term = b.term AND a.src < b.src
)
SELECT source_a, source_b,
  CAST(count(*) AS BIGINT) AS n_terms,
  round(CAST(SUM(CAST(round(abs(za - zb), 6) AS DECIMAL(18,6)))
             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS burrows_delta
FROM pairs GROUP BY 1, 2
""")
def q_burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distances between document sources
    over the corpus top-30 terms (operators/text.py:burrows_delta)."""
    from breweries_etl_spark.operators.text import burrows_delta

    return burrows_delta(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH vals AS (
  SELECT l_extendedprice AS v,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ga
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), vc AS (
  SELECT v, SUM(ga) AS ca, count(*) - SUM(ga) AS cb FROM vals GROUP BY 1
), pc AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM vc
), agg AS (
  SELECT SUM(ca) AS n_a, SUM(cb) AS n_b,
    SUM(CAST(CAST(ca AS DECIMAL(19,0))
        * (2 * CAST(cum_a + cum_b AS DECIMAL(19,0)) - (ca + cb) + 1)
        AS DECIMAL(38,0))) AS t_a,
    SUM(CAST(CAST(cb AS DECIMAL(19,0))
        * (2 * CAST(cum_a + cum_b AS DECIMAL(19,0)) - (ca + cb) + 1)
        AS DECIMAL(38,0))) AS t_b,
    SUM(CAST(CAST(ca AS DECIMAL(19,0))
        * (2 * CAST(cum_b AS DECIMAL(19,0)) - cb) AS DECIMAL(38,0))) AS a1,
    SUM(CAST(CAST(ca AS DECIMAL(19,0))
        * (2 * CAST(cum_b AS DECIMAL(19,0)) - cb)
        * (2 * CAST(cum_b AS DECIMAL(19,0)) - cb) AS DECIMAL(38,0))) AS a2,
    SUM(CAST(CAST(cb AS DECIMAL(19,0))
        * (2 * CAST(cum_a AS DECIMAL(19,0)) - ca) AS DECIMAL(38,0))) AS b1,
    SUM(CAST(CAST(cb AS DECIMAL(19,0))
        * (2 * CAST(cum_a AS DECIMAL(19,0)) - ca)
        * (2 * CAST(cum_a AS DECIMAL(19,0)) - ca) AS DECIMAL(38,0))) AS b2
  FROM pc
), d AS (
  SELECT n_a, n_b,
    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
    {_ddw('t_a')} AS ta, {_ddw('t_b')} AS tb,
    {_ddw('a1')} AS a1d, {_ddw('a2')} AS a2d,
    {_ddw('b1')} AS b1d, {_ddw('b2')} AS b2d
  FROM agg
), e AS (
  SELECT *, ta - na * (na + 1.0) AS ua, tb - nb * (nb + 1.0) AS ub,
    ta / (2.0 * na) AS rca, tb / (2.0 * nb) AS rcb
  FROM d
), f AS (
  SELECT *,
    (a2d - (2.0 * ua * a1d - ua * ua) / na) / (4.0 * (na - 1.0)) AS s2a,
    (b2d - (2.0 * ub * b1d - ub * ub) / nb) / (4.0 * (nb - 1.0)) AS s2b
  FROM e
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CASE WHEN n_a > 0 AND n_b > 0 THEN
    round((rcb - (nb + 1.0) / 2.0) / na, 6) END AS p_hat,
  CASE WHEN n_a > 1 AND n_b > 1 AND na * s2a + nb * s2b > 0 THEN
    round(na * nb * (rcb - rca)
          / ((na + nb) * sqrt(na * s2a + nb * s2b)), 6)
  END AS bm_stat
FROM f
""")
def q_brunner_munzel_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel stochastic-superiority test of l_extendedprice,
    group B = returned lines (operators/hypotests.py:brunner_munzel)."""
    from breweries_etl_spark.operators.hypotests import brunner_munzel

    return brunner_munzel(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        F.col("l_returnflag") == "R",
    )


@query(oracle=f"""
WITH folded AS (
  SELECT
    {", ".join(
        f'''COUNT(CASE WHEN {cond} AND {c} IS NOT NULL THEN 1 END) AS n{arm}{i},
    SUM(CASE WHEN {cond} THEN CAST({{0}} AS DECIMAL(38,2)) END) AS s{arm}{i},
    SUM(CASE WHEN {cond} THEN CAST(CAST({{0}} AS DECIMAL(24,2)) * {{0}}
        AS DECIMAL(38,4)) END) AS q{arm}{i}'''.format(_qm8(c))
        for i, c in enumerate(
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
        for arm, cond in (
            ("t", "l_returnflag = 'R'"),
            ("c", "NOT (l_returnflag = 'R')"),
        )
    )}
  FROM lineitem
), rows_ AS (
  {" UNION ALL ".join(
      f"SELECT '{c}' AS covariate, nt{i} AS nt, st{i} AS st, qt{i} AS qt, "
      f"nc{i} AS nc, sc{i} AS sc, qc{i} AS qc FROM folded"
      for i, c in enumerate(
          ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
  )}
), v AS (
  SELECT covariate, nt, nc,
    {_ddwf('st')} / CAST(nt AS DOUBLE) AS mu1,
    {_ddwf('sc')} / CAST(nc AS DOUBLE) AS mu0,
    ({_ddwf('qt')} - {_ddwf('st')} * ({_ddwf('st')} / CAST(nt AS DOUBLE)))
      / (CAST(nt AS DOUBLE) - 1.0) AS v1,
    ({_ddwf('qc')} - {_ddwf('sc')} * ({_ddwf('sc')} / CAST(nc AS DOUBLE)))
      / (CAST(nc AS DOUBLE) - 1.0) AS v0
  FROM rows_
)
SELECT covariate, CAST(nt AS BIGINT) AS n_treat,
  CAST(nc AS BIGINT) AS n_control,
  CASE WHEN nt > 0 THEN round(mu1, 6) END AS mean_treat,
  CASE WHEN nc > 0 THEN round(mu0, 6) END AS mean_control,
  CASE WHEN nt > 1 AND nc > 1
    AND sqrt(greatest((v1 + v0) / 2.0, CAST(0.0 AS DOUBLE))) > 0
  THEN round((mu1 - mu0)
             / sqrt(greatest((v1 + v0) / 2.0, CAST(0.0 AS DOUBLE))), 6)
  END AS smd
FROM v
""")
def q_covariate_balance_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Standardized-mean-difference balance table of the four lineitem
    value columns across the returned-line flag
    (operators/profiling.py:covariate_balance)."""
    from breweries_etl_spark.operators.profiling import covariate_balance

    return covariate_balance(
        load_table(spark, sf_dir, "lineitem"),
        F.col("l_returnflag") == "R",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


@query(oracle="""
WITH base AS (
  SELECT (lang = 'en') AS in_a,
    unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS term
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT term, SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS ya,
    SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS yb
  FROM base GROUP BY 1
  HAVING SUM(CASE WHEN in_a THEN 1 ELSE 0 END)
       + SUM(CASE WHEN in_a THEN 0 ELSE 1 END) >= 5
), tot AS (
  SELECT SUM(ya) AS na, SUM(yb) AS nb, SUM(ya + yb) AS n FROM tf
), scored AS (
  SELECT term, ya, yb,
    round((ln((CAST(ya AS DOUBLE)
               + CAST(100.0 AS DOUBLE) * CAST(ya + yb AS DOUBLE)
                 / CAST(n AS DOUBLE))
              / (CAST(na AS DOUBLE) + CAST(100.0 AS DOUBLE)
                 - CAST(ya AS DOUBLE)
                 - CAST(100.0 AS DOUBLE) * CAST(ya + yb AS DOUBLE)
                   / CAST(n AS DOUBLE)))
           - ln((CAST(yb AS DOUBLE)
                 + CAST(100.0 AS DOUBLE) * CAST(ya + yb AS DOUBLE)
                   / CAST(n AS DOUBLE))
                / (CAST(nb AS DOUBLE) + CAST(100.0 AS DOUBLE)
                   - CAST(yb AS DOUBLE)
                   - CAST(100.0 AS DOUBLE) * CAST(ya + yb AS DOUBLE)
                     / CAST(n AS DOUBLE))))
          / sqrt(1.0 / (CAST(ya AS DOUBLE)
                        + CAST(100.0 AS DOUBLE) * CAST(ya + yb AS DOUBLE)
                          / CAST(n AS DOUBLE))
                 + 1.0 / (CAST(yb AS DOUBLE)
                          + CAST(100.0 AS DOUBLE) * CAST(ya + yb AS DOUBLE)
                            / CAST(n AS DOUBLE))), 6) AS z
  FROM tf CROSS JOIN tot
), top_a AS (
  SELECT term, 'a' AS side, CAST(ya AS BIGINT) AS y_a,
    CAST(yb AS BIGINT) AS y_b, z AS log_odds_z
  FROM scored QUALIFY row_number() OVER (ORDER BY z DESC, term ASC) <= 20
), top_b AS (
  SELECT term, 'b' AS side, CAST(ya AS BIGINT) AS y_a,
    CAST(yb AS BIGINT) AS y_b, z AS log_odds_z
  FROM scored QUALIFY row_number() OVER (ORDER BY z ASC, term ASC) <= 20
)
SELECT * FROM top_a UNION ALL SELECT * FROM top_b
""")
def q_log_odds_dirichlet_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe log-odds-with-Dirichlet-prior keyness: which terms
    distinguish English documents from the rest
    (operators/text.py:log_odds_dirichlet)."""
    from breweries_etl_spark.operators.text import log_odds_dirichlet

    return log_odds_dirichlet(
        load_table(spark, sf_dir, "documents"), F.col("lang") == "en"
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
), pooled AS (
  SELECT n, k,
    CASE WHEN num > 0 AND den > 0 THEN {_ddwf('num')} / {_ddwf('den')}
    END AS psi
  FROM folded
), terms AS (
  SELECT a, psi,
    CAST(a + b AS DOUBLE) AS m1, CAST(a + c AS DOUBLE) AS n1d,
    CAST(a + b + c + d AS DOUBLE) AS nn
  FROM per_k CROSS JOIN pooled
), q AS (
  SELECT *, 1.0 - psi AS qa,
    (m1 + n1d) * psi + (nn - m1 - n1d) AS qb,
    -psi * m1 * n1d AS qc
  FROM terms
), ee AS (
  SELECT *, CASE WHEN abs(qa) < 1e-12 THEN -qc / qb
    ELSE (-qb + sqrt(greatest(qb * qb - 4.0 * qa * qc,
                              CAST(0.0 AS DOUBLE)))) / (2.0 * qa)
    END AS e
  FROM q
), tt AS (
  SELECT CASE WHEN psi IS NOT NULL AND e > 0 AND m1 - e > 0
    AND n1d - e > 0 AND nn - m1 - n1d + e > 0
  THEN CAST(round((CAST(a AS DOUBLE) - e) * (CAST(a AS DOUBLE) - e)
                  * (1.0 / e + 1.0 / (m1 - e) + 1.0 / (n1d - e)
                     + 1.0 / (nn - m1 - n1d + e)), 6) AS DECIMAL(18,6))
  ELSE CAST(0.0 AS DECIMAL(18,6)) END AS term
  FROM ee
), chi AS (SELECT SUM(term) AS chi2 FROM tt)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_strata,
  CASE WHEN psi IS NOT NULL THEN round(psi, 6) END AS or_mh,
  CASE WHEN psi IS NOT NULL THEN round(CAST(chi2 AS DOUBLE), 6)
  END AS bd_chi2
FROM chi CROSS JOIN pooled
""")
def q_breslow_day_status_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow-Day homogeneity of the finished-status/high-value odds
    ratio across priority strata — the companion check for
    mantel_haenszel_status_price
    (operators/hypotests.py:breslow_day)."""
    from breweries_etl_spark.operators.hypotests import breslow_day

    return breslow_day(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        F.col("o_orderstatus") == "F",
        F.col("o_totalprice") > 150000,
    )


@query(oracle="""
WITH base AS (
  SELECT lang,
    len(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS nt,
    length(text) AS nc
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
), folded AS (
  SELECT lang, count(*) AS n_docs, SUM(nt) AS n_tokens,
    SUM(nc) AS n_chars
  FROM base GROUP BY 1
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_chars AS BIGINT) AS n_chars,
  CASE WHEN n_tokens > 0 THEN
    round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
  END AS chars_per_token,
  CASE WHEN n_docs > 0 THEN
    round(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
  END AS tokens_per_doc
FROM folded
""")
def q_token_fertility_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language chars/token and tokens/doc profile
    (operators/text.py:token_fertility_by_lang)."""
    from breweries_etl_spark.operators.text import token_fertility_by_lang

    return token_fertility_by_lang(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH mom AS (
  SELECT count(*) AS n,
    SUM(CAST({_qm8('o_totalprice')} AS DECIMAL(38,2))) AS s,
    SUM(CAST(CAST({_qm8('o_totalprice')} AS DECIMAL(24,2))
        * {_qm8('o_totalprice')} AS DECIMAL(38,4))) AS q,
    MIN({_qm8('o_totalprice')}) AS mn,
    MAX({_qm8('o_totalprice')}) AS mx
  FROM orders WHERE o_totalprice IS NOT NULL
), v AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_ddwf('s')} / CAST(n AS DOUBLE) AS mean,
    ({_ddwf('q')} - {_ddwf('s')} * ({_ddwf('s')} / CAST(n AS DOUBLE)))
      / (CAST(n AS DOUBLE) - 1.0) AS var,
    CAST(mx - mn AS DOUBLE) AS rng
  FROM mom
), h AS (
  SELECT *, sqrt(greatest(
      2.0 * var * CAST(4.094344562222 AS DECIMAL(18,12)) / nd,
      CAST(0.0 AS DOUBLE)))
    + 3.0 * rng * CAST(4.094344562222 AS DECIMAL(18,12)) / nd AS half
  FROM v
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN n > 0 THEN round(mean, 6) END AS mean_value,
  CASE WHEN n > 0 THEN round(rng, 6) END AS value_range,
  CASE WHEN n > 1 THEN round(half, 6) END AS half_width,
  CASE WHEN n > 1 THEN round(mean - half, 6) END AS ci_lo,
  CASE WHEN n > 1 THEN round(mean + half, 6) END AS ci_hi
FROM h
""")
def q_bernstein_ci_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bernstein 95% CI for the mean order price
    (operators/profiling.py:bernstein_ci)."""
    from breweries_etl_spark.operators.profiling import bernstein_ci

    return bernstein_ci(load_table(spark, sf_dir, "orders"), "o_totalprice")


@query(oracle=f"""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    count(*) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), folded AS (
  SELECT count(*) AS n, SUM(x) AS s,
    SUM(CAST(CAST(x AS DECIMAL(19,0)) * x AS DECIMAL(38,0))) AS q
  FROM daily
)
SELECT CAST(n AS BIGINT) AS n_days,
  CASE WHEN n > 0 THEN
    round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS mean_count,
  CASE WHEN n > 1 AND CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0 THEN
    round((({_ddw('q')} - CAST(s AS DOUBLE)
            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
           / (CAST(n AS DOUBLE) - 1.0))
          / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6)
  END AS fano,
  CASE WHEN n > 1 AND CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0 THEN
    round((CAST(n AS DOUBLE) - 1.0)
          * (({_ddw('q')} - CAST(s AS DOUBLE)
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(n AS DOUBLE) - 1.0))
          / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6)
  END AS dispersion_chi2
FROM folded
""")
def q_dispersion_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor + dispersion chi-square of the daily event counts
    (operators/temporal.py:dispersion_daily_counts)."""
    from breweries_etl_spark.operators.temporal import dispersion_daily_counts

    return dispersion_daily_counts(load_events(spark, sf_dir))


@query(oracle=f"""
WITH per_x AS (
  SELECT l_quantity AS x, count(*) AS nx,
    SUM(CAST({_qm8('l_extendedprice')} AS DECIMAL(38,2))) AS sy,
    SUM(CAST(CAST({_qm8('l_extendedprice')} AS DECIMAL(24,2))
        * {_qm8('l_extendedprice')} AS DECIMAL(38,4))) AS qy
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1
), tot AS (
  SELECT SUM(nx) AS n, SUM(sy) AS syt, SUM(qy) AS qyt, MAX(x) AS xmax
  FROM per_x
), pre AS (
  SELECT x,
    SUM(nx) OVER wo AS nl, SUM(sy) OVER wo AS syl, SUM(qy) OVER wo AS qyl
  FROM per_x
  WINDOW wo AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
), cand AS (
  SELECT x AS s,
    round(({_ddwf('qyl')} - {_ddwf('syl')} * {_ddwf('syl')}
           / CAST(nl AS DOUBLE))
          + (({_ddwf('qyt')} - {_ddwf('qyl')})
             - ({_ddwf('syt')} - {_ddwf('syl')})
               * ({_ddwf('syt')} - {_ddwf('syl')})
               / CAST(n - nl AS DOUBLE)), 6) AS sse,
    {_ddwf('syl')} / CAST(nl AS DOUBLE) AS pl,
    ({_ddwf('syt')} - {_ddwf('syl')}) / CAST(n - nl AS DOUBLE) AS pr
  FROM pre CROSS JOIN tot WHERE x < xmax
), best1 AS (
  SELECT sse AS sse_1, s AS split_1, pl, pr FROM cand
  QUALIFY row_number() OVER (ORDER BY sse, s) = 1
), resid AS (
  SELECT x, nx,
    CAST(round({_ddwf('sy')} - CAST(nx AS DOUBLE)
        * (CASE WHEN x <= split_1 THEN pl ELSE pr END), 6)
      AS DECIMAL(28,6)) AS rs,
    CAST(round({_ddwf('qy')} - 2.0
        * (CASE WHEN x <= split_1 THEN pl ELSE pr END) * {_ddwf('sy')}
        + CAST(nx AS DOUBLE)
          * (CASE WHEN x <= split_1 THEN pl ELSE pr END)
          * (CASE WHEN x <= split_1 THEN pl ELSE pr END), 6)
      AS DECIMAL(38,6)) AS rq
  FROM per_x CROSS JOIN best1
), rtot AS (
  SELECT SUM(nx) AS n, SUM(rs) AS rst, SUM(rq) AS rqt, MAX(x) AS xmax
  FROM resid
), rpre AS (
  SELECT x,
    SUM(nx) OVER wo AS nl, SUM(rs) OVER wo AS rsl, SUM(rq) OVER wo AS rql
  FROM resid
  WINDOW wo AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
), cand2 AS (
  SELECT x AS s,
    round(({_ddwf('rql')} - {_ddwf('rsl')} * {_ddwf('rsl')}
           / CAST(nl AS DOUBLE))
          + (({_ddwf('rqt')} - {_ddwf('rql')})
             - ({_ddwf('rst')} - {_ddwf('rsl')})
               * ({_ddwf('rst')} - {_ddwf('rsl')})
               / CAST(n - nl AS DOUBLE)), 6) AS sse,
    {_ddwf('rsl')} / CAST(nl AS DOUBLE) AS al,
    ({_ddwf('rst')} - {_ddwf('rsl')}) / CAST(n - nl AS DOUBLE) AS ar
  FROM rpre CROSS JOIN rtot WHERE x < xmax
), best2 AS (
  SELECT sse AS sse_2, s AS split_2, al, ar FROM cand2
  QUALIFY row_number() OVER (ORDER BY sse, s) = 1
)
SELECT CAST(n AS BIGINT) AS n,
  round({_ddwf('qyt')} - {_ddwf('syt')} * {_ddwf('syt')}
        / CAST(n AS DOUBLE), 6) AS sse_base,
  split_1,
  round(pl, 6) AS pred_left_1, round(pr, 6) AS pred_right_1,
  sse_1, split_2,
  round(al, 6) AS adj_left_2, round(ar, 6) AS adj_right_2,
  sse_2
FROM tot CROSS JOIN best1 CROSS JOIN best2
""")
def q_boosted_stumps_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-round boosted stump regression of extendedprice on the
    bounded quantity domain — trained in one fact scan
    (operators/mltrain.py:boosted_stumps_2)."""
    from breweries_etl_spark.operators.mltrain import boosted_stumps_2

    return boosted_stumps_2(
        load_table(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice"
    )


# sigma_N twin: h_fp/g_fp are all-integer floor(10^15/.) folds (DuckDB
# // mirrors Spark's div bit-exactly on positive operands); the pooled
# index j = 1..N-1 derives from row_number over the pool (DuckDB range()
# rejects subquery bounds); the eq. 4-7 polynomial mirrors the Spark
# column expressions in exact textual order.
@query(oracle=f"""
WITH {_adk_group_cte('ga', 'A')},
{_adk_group_cte('gn', 'N')},
{_adk_group_cte('gr', 'R')},
allp AS (
  SELECT nn, n_i, a_i FROM ga WHERE n_i > 0
  UNION ALL SELECT nn, n_i, a_i FROM gn WHERE n_i > 0
  UNION ALL SELECT nn, n_i, a_i FROM gr WHERE n_i > 0
), folded AS (
  SELECT max(nn) AS n, count(*) AS k,
    SUM(CAST(round(a_i, 6) AS DECIMAL(28,6))) AS a,
    SUM(1000000000000000 // n_i) AS hs_fp
  FROM allp
), pool AS (
  SELECT l_extendedprice AS v FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_returnflag IN ('A', 'N', 'R')
), idx AS (
  SELECT CAST(row_number() OVER () AS BIGINT) AS j FROM pool
  QUALIFY j <= (SELECT count(*) FROM pool) - 1
), harm AS (
  SELECT j, 1000000000000000 // j AS ht FROM idx
), hcum AS (
  SELECT j, SUM(ht) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS hc,
    SUM(ht) OVER () AS h_fp
  FROM harm
), gf AS (
  SELECT max(h_fp) AS h_fp,
    SUM((h_fp - hc) // ((SELECT count(*) FROM pool) - j)) AS g_fp
  FROM hcum WHERE j <= (SELECT count(*) FROM pool) - 2
), sc AS (
  SELECT n, k, a,
    CAST(k AS DOUBLE) AS kk, CAST(n AS DOUBLE) AS nn_d,
    {_ddw('h_fp')} / 1e15 AS hh,
    {_ddw('g_fp')} / 1e15 AS gg,
    (CAST(CAST(floor(hs_fp) AS BIGINT) AS DOUBLE)
     + CAST(hs_fp - floor(hs_fp) AS DOUBLE)) / 1e15 AS caph
  FROM folded, gf
), poly AS (
  SELECT n, k, a, kk, nn_d,
    (4.0*gg - 6.0)*(kk - 1.0) + (10.0 - 6.0*gg)*caph AS t_a,
    (2.0*gg - 4.0)*kk*kk + 8.0*hh*kk
      + (2.0*gg - 14.0*hh - 4.0)*caph - 8.0*hh + 4.0*gg - 6.0 AS t_b,
    (6.0*hh + 2.0*gg - 2.0)*kk*kk + (4.0*hh - 4.0*gg + 6.0)*kk
      + (2.0*hh - 6.0)*caph + 4.0*hh AS t_c,
    (2.0*hh + 6.0)*kk*kk - 4.0*hh*kk AS t_d
  FROM sc
), sig AS (
  SELECT n, k, a, kk, nn_d,
    (t_a*nn_d*nn_d*nn_d + t_b*nn_d*nn_d + t_c*nn_d + t_d)
      / ((nn_d - 1.0)*(nn_d - 2.0)*(nn_d - 3.0)) AS sig2
  FROM poly
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  round({_ddwf('a')}, 6) AS ad_ksample,
  CASE WHEN sig2 > 0.0 THEN
    round(({_ddwf('a')} / nn_d - (kk - 1.0)) / sqrt(sig2), 6)
  END AS standardized_stat
FROM sig
""")
def q_ad_ksample_standardized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scholz-Stephens k-sample AD with the eq. 4-7 standardized form
    (A2_kN - (k-1))/sigma_N — the run-size-free scale; sigma_N's
    harmonic sums fold from one bucketed-prefix pipeline over
    range(1, N) (operators/hypotests.py:ad_ksample standardized=True,
    the round-9 ADVICE item)."""
    from breweries_etl_spark.operators.hypotests import ad_ksample

    return ad_ksample(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        ["A", "N", "R"],
        standardized=True,
    )


@query(oracle=f"""
WITH vc AS (
  SELECT l_quantity AS v,
    SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS c0,
    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS c1,
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c2
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
    AND l_returnflag IN ('A', 'N', 'R')
  GROUP BY 1
), pc AS (
  SELECT c0, c1, c2, (c0 + c1 + c2) AS l,
    SUM(c0 + c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM vc
), mid AS (
  SELECT c0, c1, c2, l,
    CAST(2 * cum - l + 1 AS HUGEINT) AS mid2
  FROM pc
), folded AS (
  SELECT SUM(c0) AS n0, SUM(c1) AS n1, SUM(c2) AS n2,
    SUM(CAST(c0 AS HUGEINT) * mid2) AS r2_0,
    SUM(CAST(c1 AS HUGEINT) * mid2) AS r2_1,
    SUM(CAST(c2 AS HUGEINT) * mid2) AS r2_2,
    SUM(CAST(l AS HUGEINT) * mid2 * mid2) AS ss4
  FROM mid
), scalars AS (
  SELECT (n0 + n1 + n2) AS n,
    (r2_0 * 0 + r2_1 * 1 + r2_2 * 2) AS t2,
    (n0 * 0 + n1 * 1 + n2 * 2) AS snl,
    (n0 * 0 + n1 * 1 + n2 * 4) AS snl2,
    ss4
  FROM folded
), dbl AS (
  SELECT n,
    {_ddw('t2')} / 2.0 AS t_stat,
    CAST(snl AS DOUBLE) AS snl_d, CAST(snl2 AS DOUBLE) AS snl2_d,
    CAST(n AS DOUBLE) AS nd,
    {_ddw('ss4')} / 4.0 AS ssq
  FROM scalars
), fin AS (
  SELECT n, t_stat, nd,
    snl_d * (nd + 1.0) / 2.0 AS e_t,
    (snl2_d - snl_d * snl_d / nd)
      * (ssq - nd * ((nd + 1.0) / 2.0) * ((nd + 1.0) / 2.0))
      / (nd - 1.0) AS var_t
  FROM dbl
)
SELECT CAST(n AS BIGINT) AS n, CAST(3 AS BIGINT) AS k_groups,
  round(t_stat, 6) AS t_stat,
  CASE WHEN n > 0 THEN round(e_t, 6) END AS expected_t,
  CASE WHEN n > 1 AND var_t > 0
    THEN round((t_stat - e_t) / sqrt(var_t), 6) END AS z_score
FROM fin
""")
def q_cuzick_trend_qty_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuzick (1985) Wilcoxon-type trend across the ordered returnflag
    groups A < N < R on l_quantity — tie-exact midrank moments from one
    multigroup prefix-count pass
    (operators/hypotests.py:cuzick_trend)."""
    from breweries_etl_spark.operators.hypotests import cuzick_trend

    return cuzick_trend(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_quantity",
        ["A", "N", "R"],
    )


@query(oracle="""
WITH cells AS (
  SELECT o_orderstatus AS x, o_orderpriority AS y, count(*) AS c
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2
), per_x AS (
  SELECT x, max(c) AS mx_c, sum(c) AS row_c FROM cells GROUP BY x
), per_y AS (
  SELECT y, max(c) AS my_c, sum(c) AS col_c FROM cells GROUP BY y
), tot AS (
  SELECT sum(c) AS n, count(*) AS n_cells FROM cells
), fx AS (
  SELECT sum(mx_c) AS sum_max_y, max(row_c) AS max_row FROM per_x
), fy AS (
  SELECT sum(my_c) AS sum_max_x, max(col_c) AS max_col FROM per_y
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
  CASE WHEN CAST(n AS DOUBLE) > CAST(max_col AS DOUBLE) THEN
    round((CAST(sum_max_y AS DOUBLE) - CAST(max_col AS DOUBLE))
          / (CAST(n AS DOUBLE) - CAST(max_col AS DOUBLE)), 6)
  END AS lambda_y_given_x,
  CASE WHEN CAST(n AS DOUBLE) > CAST(max_row AS DOUBLE) THEN
    round((CAST(sum_max_x AS DOUBLE) - CAST(max_row AS DOUBLE))
          / (CAST(n AS DOUBLE) - CAST(max_row AS DOUBLE)), 6)
  END AS lambda_x_given_y,
  CASE WHEN 2.0 * CAST(n AS DOUBLE)
         > CAST(max_col AS DOUBLE) + CAST(max_row AS DOUBLE) THEN
    round((CAST(sum_max_y AS DOUBLE) + CAST(sum_max_x AS DOUBLE)
           - CAST(max_col AS DOUBLE) - CAST(max_row AS DOUBLE))
          / (2.0 * CAST(n AS DOUBLE)
             - CAST(max_col AS DOUBLE) - CAST(max_row AS DOUBLE)), 6)
  END AS lambda_sym
FROM tot, fx, fy
""")
def q_gk_lambda_status_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goodman-Kruskal lambda (both directions + symmetric) between
    order status and priority (operators/hypotests.py:gk_lambda)."""
    from breweries_etl_spark.operators.hypotests import gk_lambda

    return gk_lambda(
        load_table(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


@query(oracle=f"""
WITH {_DAILY_EVENTS},
walked AS (
  SELECT y,
    MAX(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
  FROM daily
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
  CAST(max(peak) AS DOUBLE) AS peak_value,
  CAST(max(peak - y) AS DOUBLE) AS max_drawdown,
  round(max(CASE WHEN peak > 0 THEN
    CAST(peak - y AS DOUBLE) / CAST(peak AS DOUBLE) END), 6)
    AS max_drawdown_pct
FROM walked
""")
def q_max_drawdown_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maximum drawdown (absolute + pct-of-peak) of the daily event
    value series (operators/temporal.py:max_drawdown_daily)."""
    from breweries_etl_spark.operators.temporal import max_drawdown_daily

    return max_drawdown_daily(load_events(spark, sf_dir))


@query(oracle=_empty_anchored(f"""
WITH vc AS (
  SELECT o_totalprice AS v,
    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS cb
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
), pc AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
    SUM(ca) OVER () AS n_pos, SUM(cb) OVER () AS n_neg
  FROM vc
), cand AS (
  SELECT n_pos, n_neg, v, cum_a, cum_b,
    CAST(n_neg * (n_pos - cum_a) - n_pos * (n_neg - cum_b) AS HUGEINT)
      AS jnum
  FROM pc
), best AS (
  SELECT * FROM cand
  QUALIFY row_number() OVER (ORDER BY jnum DESC, v ASC) = 1
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
  CAST(v AS DOUBLE) AS best_threshold,
  CASE WHEN n_pos > 0 THEN
    round((CAST(n_pos AS DOUBLE) - CAST(cum_a AS DOUBLE))
          / CAST(n_pos AS DOUBLE), 6) END AS tpr,
  CASE WHEN n_neg > 0 THEN
    round((CAST(n_neg AS DOUBLE) - CAST(cum_b AS DOUBLE))
          / CAST(n_neg AS DOUBLE), 6) END AS fpr,
  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
    round({_dd('jnum')}
          / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
  END AS youden_j
FROM best
""", (
    f"SELECT {_B} AS n_pos, {_B} AS n_neg, {_D} AS best_threshold, "
    f"{_D} AS tpr, {_D} AS fpr, {_D} AS youden_j"
)))
def q_youden_j_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal threshold of order price vs finished status —
    exact-integer argmax over the prefix-count relation, struct-max
    pick (operators/hypotests.py:youden_j)."""
    from breweries_etl_spark.operators.hypotests import youden_j

    o = load_table(spark, sf_dir, "orders")
    return youden_j(o, "o_totalprice", F.col("o_orderstatus") == "F")


@query(oracle=f"""
WITH vc AS (
  SELECT l_extendedprice AS v,
    SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN l_linestatus = 'O' THEN 0 ELSE 1 END) AS cb
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), pc AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
    SUM(ca) OVER () AS n_a, SUM(cb) OVER () AS n_b
  FROM vc
), mid AS (
  SELECT ca, cb, cum_a, cum_b, n_a, n_b,
    (2 * (cum_a + cum_b) - (ca + cb) + 1) AS mid2
  FROM pc
), {_bws_side_cte('ca', 'ca', 'cum_a', 'n_a', 'n_b')},
{_bws_side_cte('cb', 'cb', 'cum_b', 'n_b', 'n_a')}
SELECT CAST(fold_n_ca AS BIGINT) AS n_a,
  CAST(fold_n_cb AS BIGINT) AS n_b,
  round({_ddw('fold_t_ca')} / 1e9 / CAST(fold_n_ca AS DOUBLE), 6) AS b_a,
  round({_ddw('fold_t_cb')} / 1e9 / CAST(fold_n_cb AS DOUBLE), 6) AS b_b,
  round(({_ddw('fold_t_ca')} / 1e9 / CAST(fold_n_ca AS DOUBLE)
         + {_ddw('fold_t_cb')} / 1e9 / CAST(fold_n_cb AS DOUBLE))
        / 2.0, 6) AS bws_b
FROM fca, fcb
""")
def q_bws_test_price_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baumgartner-Weiss-Schindler tail-sensitive two-sample test of
    l_extendedprice between open and finished line items
    (operators/hypotests.py:bws_test)."""
    from breweries_etl_spark.operators.hypotests import bws_test

    li = load_table(spark, sf_dir, "lineitem")
    return bws_test(li, "l_extendedprice", F.col("l_linestatus") == "O")


@query(oracle=f"""
WITH base AS (
  SELECT {_qm8('l_extendedprice')} AS xq, {_qm8('l_quantity')} AS yq
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
), sums AS (
  SELECT count(*) AS n, SUM(xq) AS sx, SUM(yq) AS sy,
    SUM(CAST(xq * xq AS DECIMAL(38,4))) AS sxx,
    SUM(CAST(yq * yq AS DECIMAL(38,4))) AS syy,
    SUM(CAST(xq * yq AS DECIMAL(38,4))) AS sxy
  FROM base
), mom AS (
  SELECT n, {_MARDIA_MX} AS mx, {_MARDIA_MY} AS my,
    {_ddwf('sxx')} / CAST(n AS DOUBLE)
      - ({_MARDIA_MX}) * ({_MARDIA_MX}) AS vxx,
    {_ddwf('syy')} / CAST(n AS DOUBLE)
      - ({_MARDIA_MY}) * ({_MARDIA_MY}) AS vyy,
    {_ddwf('sxy')} / CAST(n AS DOUBLE)
      - ({_MARDIA_MX}) * ({_MARDIA_MY}) AS vxy
  FROM sums
), per AS (
  SELECT n, vxx, vyy, vxy, (vxx * vyy - vxy * vxy) AS det,
    CAST(xq AS DOUBLE) - mx AS dx, CAST(yq AS DOUBLE) - my AS dy
  FROM base, mom
), terms AS (
  SELECT n, CASE WHEN det > 0 THEN CAST(floor(
    (vyy * (dx * dx) - 2.0 * vxy * (dx * dy) + vxx * (dy * dy)) / det
    * ((vyy * (dx * dx) - 2.0 * vxy * (dx * dy) + vxx * (dy * dy))
       / det)
    * 1e9) AS HUGEINT) END AS q_fp
  FROM per
), folded AS (
  SELECT max(n) AS n, SUM(q_fp) AS qq_fp FROM terms
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN qq_fp IS NOT NULL THEN
    round({_ddw('qq_fp')} / 1e9 / CAST(n AS DOUBLE), 6)
  END AS b2_kurtosis,
  CASE WHEN qq_fp IS NOT NULL AND n > 0 THEN
    round(({_ddw('qq_fp')} / 1e9 / CAST(n AS DOUBLE) - 8.0)
          / sqrt(32.0 / CAST(n AS DOUBLE)), 6)
  END AS z_score
FROM folded
""")
def q_mardia_kurtosis_price_qty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mardia bivariate kurtosis of (price, quantity) — joint-tail
    normality screen, two map-combinable scans
    (operators/hypotests.py:mardia_kurtosis)."""
    from breweries_etl_spark.operators.hypotests import mardia_kurtosis

    li = load_table(spark, sf_dir, "lineitem")
    return mardia_kurtosis(li, "l_extendedprice", "l_quantity")


@query(oracle=f"""
WITH toks AS (
  SELECT source AS s,
    unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
), ts AS (
  SELECT term, s, count(*) AS c_ts FROM toks GROUP BY 1, 2
), src_tot AS (
  SELECT s, sum(c_ts) AS tok_s FROM ts GROUP BY 1
), term_tot AS (
  SELECT term, sum(c_ts) AS c_t, count(*) AS n_sources FROM ts GROUP BY 1
), big_t AS (
  SELECT sum(tok_s) AS tt FROM src_tot
), folded AS (
  SELECT term, max(c_t) AS c_t, max(n_sources) AS n_sources,
    max(tt) AS tt,
    SUM(abs(CAST(c_ts AS HUGEINT) * tt - CAST(tok_s AS HUGEINT) * c_t)
        - CAST(tok_s AS HUGEINT) * c_t) AS s_num
  FROM ts JOIN src_tot USING (s) JOIN term_tot USING (term)
  CROSS JOIN big_t
  GROUP BY term
)
SELECT term, CAST(c_t AS BIGINT) AS corpus_freq,
  CAST(n_sources AS BIGINT) AS n_sources,
  round(({_ddw('s_num')} / CAST(c_t AS DOUBLE) / CAST(tt AS DOUBLE)
         + 1.0) / 2.0, 6) AS dp
FROM folded WHERE c_t >= 10
ORDER BY corpus_freq DESC, term ASC LIMIT 25
""")
def q_term_dispersion_dp_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gries deviation-of-proportions dispersion of the top corpus
    terms across sources — exact-integer numerators, present-cells-only
    identity (operators/text.py:term_dispersion_dp)."""
    from breweries_etl_spark.operators.text import term_dispersion_dp

    return term_dispersion_dp(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH tf AS (
  SELECT term, count(*) AS f FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY 1
), folded AS (
  SELECT SUM(f) AS n, count(*) AS v,
    SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS v1,
    SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS v2
  FROM tf
)
SELECT CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS n_types,
  CAST(v1 AS BIGINT) AS v1, CAST(v2 AS BIGINT) AS v2,
  CASE WHEN n > 1 AND v > 0 THEN
    round(ln(CAST(v AS DOUBLE)) / ln(CAST(n AS DOUBLE)), 6)
  END AS herdan_c,
  CASE WHEN n > 1 AND v > 1 THEN
    round(exp(ln(CAST(n AS DOUBLE))
              * exp(-0.165 * ln(CAST(v AS DOUBLE)))), 6)
  END AS brunet_w,
  CASE WHEN v > 0 THEN
    round(CAST(v2 AS DOUBLE) / CAST(v AS DOUBLE), 6)
  END AS sichel_s,
  CASE WHEN n > 1 AND v > v1 THEN
    round(100.0 * ln(CAST(n AS DOUBLE))
          / (1.0 - CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE)), 6)
  END AS honore_r
FROM folded
""")
def q_lexical_constants_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herdan C / Brunet W / Sichel S / Honore R lexical-richness
    constants over the document corpus
    (operators/text.py:lexical_constants)."""
    from breweries_etl_spark.operators.text import lexical_constants

    return lexical_constants(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
tot AS (SELECT count(*) AS n, SUM(y) AS sy FROM daily),
walked AS (
  SELECT n, day,
    CAST(y AS DOUBLE) - {_dd('sy')} / CAST(n AS DOUBLE) AS e
  FROM daily CROSS JOIN tot
), cum AS (
  SELECT n, e,
    SUM(e) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s_t,
    lag(e, 1) OVER (ORDER BY day) AS e_lag1,
    lag(e, 2) OVER (ORDER BY day) AS e_lag2,
    lag(e, 3) OVER (ORDER BY day) AS e_lag3,
    lag(e, 4) OVER (ORDER BY day) AS e_lag4,
    lag(e, 5) OVER (ORDER BY day) AS e_lag5,
    lag(e, 6) OVER (ORDER BY day) AS e_lag6,
    lag(e, 7) OVER (ORDER BY day) AS e_lag7
  FROM walked
), folded AS (
  SELECT max(n) AS n,
    SUM(CAST(floor(s_t * s_t * 1e4) AS HUGEINT)) AS num_fp,
    SUM(CAST(floor(e * e * 1e4) AS HUGEINT)) AS g0_fp,
    SUM(CAST(floor(e * e_lag1 * 1e4) AS HUGEINT)) AS g1_fp,
    SUM(CAST(floor(e * e_lag2 * 1e4) AS HUGEINT)) AS g2_fp,
    SUM(CAST(floor(e * e_lag3 * 1e4) AS HUGEINT)) AS g3_fp,
    SUM(CAST(floor(e * e_lag4 * 1e4) AS HUGEINT)) AS g4_fp,
    SUM(CAST(floor(e * e_lag5 * 1e4) AS HUGEINT)) AS g5_fp,
    SUM(CAST(floor(e * e_lag6 * 1e4) AS HUGEINT)) AS g6_fp,
    SUM(CAST(floor(e * e_lag7 * 1e4) AS HUGEINT)) AS g7_fp
  FROM cum
), dbl AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_ddw('num_fp')} / 1e4 AS num,
    ({_ddw('g0_fp')} / 1e4
      + 2.0 * 0.875 * (COALESCE({_ddw('g1_fp')}, 0.0) / 1e4)
      + 2.0 * 0.75 * (COALESCE({_ddw('g2_fp')}, 0.0) / 1e4)
      + 2.0 * 0.625 * (COALESCE({_ddw('g3_fp')}, 0.0) / 1e4)
      + 2.0 * 0.5 * (COALESCE({_ddw('g4_fp')}, 0.0) / 1e4)
      + 2.0 * 0.375 * (COALESCE({_ddw('g5_fp')}, 0.0) / 1e4)
      + 2.0 * 0.25 * (COALESCE({_ddw('g6_fp')}, 0.0) / 1e4)
      + 2.0 * 0.125 * (COALESCE({_ddw('g7_fp')}, 0.0) / 1e4)
    ) / CAST(n AS DOUBLE) AS s2
  FROM folded
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(7 AS BIGINT) AS lags,
  CASE WHEN n > 0 THEN round(s2, 6) END AS s2_longrun,
  CASE WHEN n > 0 AND s2 > 0 THEN
    round(num / (nd * nd) / s2, 6) END AS kpss_stat
FROM dbl
""")
def q_kpss_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic of the daily event-value
    series, Bartlett bandwidth 7
    (operators/temporal.py:kpss_level_daily)."""
    from breweries_etl_spark.operators.temporal import kpss_level_daily

    return kpss_level_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH base AS (
  SELECT
    CAST(round(cos(2.0 * 3.141592653589793
      * CAST(epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000 AS DOUBLE)
      / 86400000000.0), 6) AS DECIMAL(8,6)) AS cw,
    CAST(round(sin(2.0 * 3.141592653589793
      * CAST(epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000 AS DOUBLE)
      / 86400000000.0), 6) AS DECIMAL(8,6)) AS sw
  FROM events WHERE ts IS NOT NULL
), folded AS (
  SELECT count(*) AS n,
    SUM(CAST(cw AS DECIMAL(38,6))) AS c,
    SUM(CAST(sw AS DECIMAL(38,6))) AS s
  FROM base
), pre AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_ddwf('c')} AS cd, {_ddwf('s')} AS sd
  FROM folded
), mid AS (
  SELECT n, nd, sqrt(cd * cd + sd * sd) / nd AS rbar,
    atan2(sd, cd) / 6.283185307179586 * 24.0 AS h0
  FROM pre
)
SELECT CAST(n AS BIGINT) AS n,
  CASE WHEN n > 0 THEN round(rbar, 6) END AS resultant_len,
  CASE WHEN n > 0 THEN round(nd * rbar * rbar, 6) END AS rayleigh_z,
  CASE WHEN n > 0 THEN
    round(CASE WHEN h0 < 0 THEN h0 + 24.0 ELSE h0 END, 6)
  END AS mean_hour
FROM mid
""")
def q_rayleigh_hour_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rayleigh circular-uniformity test of event time-of-day
    (operators/temporal.py:rayleigh_hour_uniformity)."""
    from breweries_etl_spark.operators.temporal import (
        rayleigh_hour_uniformity,
    )

    return rayleigh_hour_uniformity(load_events(spark, sf_dir))


@query(oracle=f"""
WITH vc AS (
  SELECT l_extendedprice AS v,
    SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN l_linestatus = 'O' THEN 0 ELSE 1 END) AS cb
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), pc AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
    SUM(ca) OVER () AS n_a, SUM(cb) OVER () AS n_b,
    SUM(ca + cb) OVER () AS nn
  FROM vc
), mid AS (
  SELECT ca, cb, n_a, n_b, nn,
    CAST((2 * (cum_a + cum_b) - (ca + cb) + 1) - (nn + 1) AS DOUBLE)
      / (2.0 * CAST(nn AS DOUBLE)) AS u
  FROM pc
), folded AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b, max(nn) AS nn,
    SUM(CAST(floor(CAST(ca AS DOUBLE) * (u * u) * 1e12) AS HUGEINT))
      AS t_fp,
    SUM(CAST(floor(CAST(ca + cb AS DOUBLE) * (u * u) * 1e12)
        AS HUGEINT)) AS sq_fp,
    SUM(CAST(floor(CAST(ca + cb AS DOUBLE) * ((u * u) * (u * u)) * 1e12)
        AS HUGEINT)) AS sqq_fp
  FROM mid
), dbl AS (
  SELECT n_a, n_b, nn,
    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
    CAST(nn AS DOUBLE) AS nd,
    {_ddw('t_fp')} / 1e12 AS t_stat,
    {_ddw('sq_fp')} / 1e12 AS sq,
    {_ddw('sqq_fp')} / 1e12 AS sqq
  FROM folded
), fin AS (
  SELECT n_a, n_b, nn, t_stat,
    na * sq / nd AS e_t,
    na * nb / (nd * (nd - 1.0)) * (sqq - sq * sq / nd) AS var_t
  FROM dbl
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round(t_stat, 6) AS t_stat,
  CASE WHEN nn > 0 THEN round(e_t, 6) END AS expected_t,
  CASE WHEN nn > 1 AND var_t > 0 THEN
    round((t_stat - e_t) / sqrt(var_t), 6) END AS z_score
FROM fin
""")
def q_mood_dispersion_price_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mood quadratic-score rank dispersion of l_extendedprice between
    open and finished line items
    (operators/hypotests.py:mood_dispersion)."""
    from breweries_etl_spark.operators.hypotests import mood_dispersion

    li = load_table(spark, sf_dir, "lineitem")
    return mood_dispersion(li, "l_extendedprice", F.col("l_linestatus") == "O")


@query(oracle=f"""
WITH allp AS (
{_jk_pair_sql('orders.custkey->customer.custkey', 'orders', 'o_custkey', 'customer', 'c_custkey')}
UNION ALL
{_jk_pair_sql('lineitem.orderkey->orders.orderkey', 'lineitem', 'l_orderkey', 'orders', 'o_orderkey')}
UNION ALL
{_jk_pair_sql('customer.nationkey->nation.nationkey', 'customer', 'c_nationkey', 'nation', 'n_nationkey')}
UNION ALL
{_jk_pair_sql('orders.orderkey->customer.custkey', 'orders', 'o_orderkey', 'customer', 'c_custkey')}
)
SELECT pair,
  CAST(n_rows_a AS BIGINT) AS n_rows_a,
  CAST(n_distinct_a AS BIGINT) AS n_distinct_a,
  CAST(n_rows_b AS BIGINT) AS n_rows_b,
  CAST(n_distinct_b AS BIGINT) AS n_distinct_b,
  CAST(n_intersect AS BIGINT) AS n_intersect,
  CASE WHEN CAST(n_distinct_a AS DOUBLE) > 0 THEN
    round(CAST(n_intersect AS DOUBLE) / CAST(n_distinct_a AS DOUBLE), 6)
  END AS containment_ab,
  CASE WHEN CAST(n_distinct_b AS DOUBLE) > 0 THEN
    round(CAST(n_intersect AS DOUBLE) / CAST(n_distinct_b AS DOUBLE), 6)
  END AS containment_ba,
  CASE WHEN CAST(n_distinct_a AS DOUBLE) + CAST(n_distinct_b AS DOUBLE)
         - CAST(n_intersect AS DOUBLE) > 0 THEN
    round(CAST(n_intersect AS DOUBLE)
          / (CAST(n_distinct_a AS DOUBLE) + CAST(n_distinct_b AS DOUBLE)
             - CAST(n_intersect AS DOUBLE)), 6)
  END AS jaccard,
  CASE WHEN raw_rows_a > 0 THEN
    round(CAST(n_distinct_a AS DOUBLE) / CAST(raw_rows_a AS DOUBLE), 6)
  END AS uniqueness_a,
  CASE WHEN raw_rows_b > 0 THEN
    round(CAST(n_distinct_b AS DOUBLE) / CAST(raw_rows_b AS DOUBLE), 6)
  END AS uniqueness_b
FROM allp
""")
def q_join_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency / joinability profile over four candidate
    column pairs incl. one negative
    (operators/profiling.py:join_key_profile)."""
    from breweries_etl_spark.operators.profiling import join_key_profile

    return join_key_profile(
        [
            (name, load_table(spark, sf_dir, ta), ca,
             load_table(spark, sf_dir, tb), cb)
            for name, ta, ca, tb, cb in _JK_PAIRS
        ]
    )


@query(oracle=f"""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), tot AS (
  SELECT count(*) AS n,
    SUM(CAST(y AS DECIMAL(38,2))) AS s,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS q
  FROM daily
), lags AS (SELECT unnest(range(1, 4)) AS lag),
pairs AS (
  SELECT lags.lag, a.y AS y, b.y AS y2
  FROM daily a CROSS JOIN lags JOIN daily b ON b.day = a.day + lags.lag
), per_lag AS (
  SELECT lag, count(*) AS n_pairs,
    SUM(CAST(y * y2 AS DECIMAL(38,4))) AS p,
    SUM(CAST(y AS DECIMAL(38,2))) AS a,
    SUM(CAST(y2 AS DECIMAL(38,2))) AS b
  FROM pairs GROUP BY lag
), rhos AS (
  SELECT lag,
    CASE WHEN {_dd('q')} - {_dd('s')} * ({_dd('s')} / CAST(n AS DOUBLE))
           > 0 THEN
      round(({_dd('p')}
             - ({_dd('s')} / CAST(n AS DOUBLE))
               * ({_dd('a')} + {_dd('b')})
             + CAST(n_pairs AS DOUBLE)
               * ({_dd('s')} / CAST(n AS DOUBLE))
               * ({_dd('s')} / CAST(n AS DOUBLE)))
            / ({_dd('q')}
               - {_dd('s')} * ({_dd('s')} / CAST(n AS DOUBLE))), 6)
    END AS rho
  FROM per_lag CROSS JOIN tot
), pivoted AS (
  SELECT max(CASE WHEN lag = 1 THEN rho END) AS rho1,
    max(CASE WHEN lag = 2 THEN rho END) AS rho2,
    max(CASE WHEN lag = 3 THEN rho END) AS rho3
  FROM rhos
), wide AS (
  SELECT n, rho1, rho2, rho3 FROM tot CROSS JOIN pivoted
), s1 AS (
  SELECT n, rho1, rho2, rho3, rho1 AS p11,
    CASE WHEN (1.0 - rho1 * rho1) <> 0 THEN
      (rho2 - rho1 * rho1) / (1.0 - rho1 * rho1) END AS p22
  FROM wide
), s2 AS (
  SELECT *, (p11 - p22 * p11) AS p21 FROM s1
)
SELECT CAST(n AS BIGINT) AS n_days, rho1, rho2, rho3,
  p11 AS pacf1, round(p22, 6) AS pacf2,
  round(CASE WHEN (1.0 - p21 * rho1 - p22 * rho2) <> 0 THEN
    (rho3 - p21 * rho2 - p22 * rho1)
      / (1.0 - p21 * rho1 - p22 * rho2) END, 6) AS pacf3
FROM s2
""")
def q_pacf_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (Durbin-Levinson, lags 1-3) of the daily
    event-value series (operators/temporal.py:pacf_daily)."""
    from breweries_etl_spark.operators.temporal import pacf_daily

    return pacf_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
base AS (
  SELECT day % 7 AS dow,
    CAST(y AS DOUBLE)
      - CAST(SUM(y) OVER (ORDER BY day
          RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE)
        / CAST(COUNT(y) OVER (ORDER BY day
          RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) AS detr
  FROM daily
), dmeans AS (
  SELECT dow, SUM(CAST(floor(detr * 1e6) AS HUGEINT)) AS sd_fp,
    count(*) AS c
  FROM base GROUP BY dow
), joined AS (
  SELECT detr,
    detr - ({_ddw('sd_fp')} / 1e6 / CAST(c AS DOUBLE)) AS resid
  FROM base JOIN dmeans USING (dow)
), folded AS (
  SELECT count(*) AS n,
    SUM(CAST(floor(detr * detr * 1e6) AS HUGEINT)) AS dd_fp,
    SUM(CAST(floor(detr * 1e6) AS HUGEINT)) AS d_fp,
    SUM(CAST(floor(resid * resid * 1e6) AS HUGEINT)) AS rr_fp,
    SUM(CAST(floor(resid * 1e6) AS HUGEINT)) AS r_fp
  FROM joined
), dbl AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_ddw('dd_fp')} / 1e6 / CAST(n AS DOUBLE)
      - ({_ddw('d_fp')} / 1e6 / CAST(n AS DOUBLE))
        * ({_ddw('d_fp')} / 1e6 / CAST(n AS DOUBLE)) AS var_d,
    {_ddw('rr_fp')} / 1e6 / CAST(n AS DOUBLE)
      - ({_ddw('r_fp')} / 1e6 / CAST(n AS DOUBLE))
        * ({_ddw('r_fp')} / 1e6 / CAST(n AS DOUBLE)) AS var_r
  FROM folded
)
SELECT CAST(n AS BIGINT) AS n_days,
  CASE WHEN n > 0 THEN round(var_d, 6) END AS var_detrended,
  CASE WHEN n > 0 THEN round(var_r, 6) END AS var_residual,
  CASE WHEN n > 0 AND var_d > 0 THEN
    round(greatest(0.0, 1.0 - var_r / var_d), 6)
  END AS seasonal_strength
FROM dbl
""")
def q_seasonal_strength_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style weekly seasonal-strength decomposition of the daily
    event-value series
    (operators/temporal.py:seasonal_strength_daily)."""
    from breweries_etl_spark.operators.temporal import (
        seasonal_strength_daily,
    )

    return seasonal_strength_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH g AS (
  SELECT l_returnflag AS g, count(*) AS n_i,
    SUM({_qm8('l_extendedprice')}) AS s_i,
    SUM(CAST({_qm8('l_extendedprice')} * {_qm8('l_extendedprice')}
        AS DECIMAL(38,4))) AS q_i
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    AND l_returnflag IN ('A', 'N', 'R')
  GROUP BY 1
), per AS (
  SELECT n_i, CAST(n_i AS DOUBLE) AS nd, m, v
  FROM (
    SELECT n_i,
      {_ddwf('s_i')} / CAST(n_i AS DOUBLE) AS m,
      ({_ddwf('q_i')} - {_ddwf('s_i')}
         * ({_ddwf('s_i')} / CAST(n_i AS DOUBLE)))
        / (CAST(n_i AS DOUBLE) - 1.0) AS v
    FROM g
  ) WHERE n_i >= 2 AND v > 0
), fold1 AS (
  SELECT count(*) AS k, SUM(n_i) AS n,
    SUM(CAST(round(nd / v, 12) AS DECIMAL(38,12))) AS w12,
    SUM(CAST(round(nd / v * m, 12) AS DECIMAL(38,12))) AS wm12
  FROM per
), per2 AS (
  SELECT k, n, nd, m, v, nd / v AS w,
    CAST(w12 AS DOUBLE) AS wtot,
    CAST(wm12 AS DOUBLE) / CAST(w12 AS DOUBLE) AS xbar
  FROM per CROSS JOIN fold1
), fold2 AS (
  SELECT max(k) AS k, max(n) AS n,
    SUM(CAST(round(w * (m - xbar) * (m - xbar), 12)
        AS DECIMAL(38,12))) AS a12,
    SUM(CAST(round((1.0 - w / wtot) * (1.0 - w / wtot) / (nd - 1.0),
        12) AS DECIMAL(38,12))) AS h12
  FROM per2
), fin AS (
  SELECT k, n, CAST(k AS DOUBLE) AS kd,
    CAST(a12 AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0) AS a_stat,
    1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0)
      / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
      * CAST(h12 AS DOUBLE) AS b_stat,
    CAST(h12 AS DOUBLE) AS lam
  FROM fold2
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  CASE WHEN k > 1 AND b_stat > 0 THEN round(a_stat / b_stat, 6)
  END AS w_stat,
  CASE WHEN k > 1 THEN (kd - 1.0) END AS df1,
  CASE WHEN k > 1 AND lam > 0 THEN
    round((kd * kd - 1.0) / (3.0 * lam), 6) END AS df2
FROM fin
""")
def q_welch_anova_price_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch heteroscedastic one-way ANOVA of l_extendedprice across
    the three returnflag groups
    (operators/hypotests.py:welch_anova)."""
    from breweries_etl_spark.operators.hypotests import welch_anova

    li = load_table(spark, sf_dir, "lineitem")
    return welch_anova(li, "l_returnflag", "l_extendedprice", ["A", "N", "R"])


@query(oracle=f"""
WITH vc AS (
  SELECT l_extendedprice AS v,
    SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS c0,
    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS c1,
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c2
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    AND l_returnflag IN ('A', 'N', 'R')
  GROUP BY 1
),
pc AS (
  SELECT v, c0, c1, c2,
    SUM(c0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m0,
    SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m1,
    SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m2,
    SUM(c0) OVER () AS n0,
    SUM(c1) OVER () AS n1,
    SUM(c2) OVER () AS n2,
    SUM(c0 + c1 + c2) OVER () AS nn
  FROM vc
),
scored AS (
  SELECT c0, c1, c2, (c0 + c1 + c2) AS l, n0, n1, n2, nn,
    CAST(round({_norm_ppf_sql('p')}, 6) AS DECIMAL(9,6)) AS a6
  FROM (
    SELECT c0, c1, c2, n0, n1, n2, nn,
      CAST(2 * (m0 + m1 + m2) - (c0 + c1 + c2) + 1 AS DOUBLE) / 2.0
        / (CAST(nn AS DOUBLE) + 1.0) AS p
    FROM pc
  )
), folded AS (
  SELECT max(nn) AS nn, max(n0) AS n0, max(n1) AS n1, max(n2) AS n2,
    SUM(CAST(CAST(c0 AS DECIMAL(19,0)) * a6 AS DECIMAL(38,6))) AS s0,
    SUM(CAST(CAST(c1 AS DECIMAL(19,0)) * a6 AS DECIMAL(38,6))) AS s1,
    SUM(CAST(CAST(c2 AS DECIMAL(19,0)) * a6 AS DECIMAL(38,6))) AS s2,
    SUM(CAST(CAST(l AS DECIMAL(19,0)) * a6 * a6 AS DECIMAL(38,12)))
      AS ss
  FROM scored
), allp AS (
  SELECT nn, ss, n0 AS n_i, s0 AS s_i FROM folded WHERE n0 > 0
  UNION ALL SELECT nn, ss, n1 AS n_i, s1 AS s_i FROM folded WHERE n1 > 0
  UNION ALL SELECT nn, ss, n2 AS n_i, s2 AS s_i FROM folded WHERE n2 > 0
), fin AS (
  SELECT max(nn) AS n, count(*) AS k, max(ss) AS ss,
    SUM(CAST(round({_ddwf('s_i')} * {_ddwf('s_i')}
        / CAST(n_i AS DOUBLE), 9) AS DECIMAL(38,9))) AS num9
  FROM allp
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  CASE WHEN n > 1 AND {_ddwf('ss')} / (CAST(n AS DOUBLE) - 1.0) > 0
  THEN round(CAST(num9 AS DOUBLE)
             / ({_ddwf('ss')} / (CAST(n AS DOUBLE) - 1.0)), 6)
  END AS t_stat
FROM fin
""")
def q_van_der_waerden_price_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Van der Waerden normal-scores k-sample test of l_extendedprice
    across returnflag groups
    (operators/hypotests.py:van_der_waerden)."""
    from breweries_etl_spark.operators.hypotests import van_der_waerden

    li = load_table(spark, sf_dir, "lineitem")
    return van_der_waerden(
        li, "l_returnflag", "l_extendedprice", ["A", "N", "R"]
    )


@query(oracle=f"""
WITH vc AS (
  SELECT l_extendedprice AS v,
    SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS c0,
    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS c1,
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS c2
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    AND l_returnflag IN ('A', 'N', 'R')
  GROUP BY 1
),
pc AS (
  SELECT v, c0, c1, c2,
    SUM(c0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m0,
    SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m1,
    SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m2,
    SUM(c0) OVER () AS n0,
    SUM(c1) OVER () AS n1,
    SUM(c2) OVER () AS n2,
    SUM(c0 + c1 + c2) OVER () AS nn
  FROM vc
),
meds AS (
  SELECT
    min(CASE WHEN m0 >= CAST(floor((n0 + 1) / 2) AS BIGINT) THEN CAST(v AS DOUBLE) END) AS vlo0,
    min(CASE WHEN m0 >= CAST(floor(n0 / 2) AS BIGINT) + 1 THEN CAST(v AS DOUBLE) END) AS vhi0,
    min(CASE WHEN m1 >= CAST(floor((n1 + 1) / 2) AS BIGINT) THEN CAST(v AS DOUBLE) END) AS vlo1,
    min(CASE WHEN m1 >= CAST(floor(n1 / 2) AS BIGINT) + 1 THEN CAST(v AS DOUBLE) END) AS vhi1,
    min(CASE WHEN m2 >= CAST(floor((n2 + 1) / 2) AS BIGINT) THEN CAST(v AS DOUBLE) END) AS vlo2,
    min(CASE WHEN m2 >= CAST(floor(n2 / 2) AS BIGINT) + 1 THEN CAST(v AS DOUBLE) END) AS vhi2
  FROM pc
), centered AS (
  SELECT l_returnflag AS g,
    abs(CAST(l_extendedprice AS DOUBLE) - CASE l_returnflag
      WHEN 'A' THEN (vlo0 + vhi0) / 2.0
      WHEN 'N' THEN (vlo1 + vhi1) / 2.0
      WHEN 'R' THEN (vlo2 + vhi2) / 2.0
    END) AS z
  FROM lineitem CROSS JOIN meds
), vc2 AS (
  SELECT z AS v,
    SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS c0,
    SUM(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS c1,
    SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS c2
  FROM centered
  WHERE z IS NOT NULL AND g IS NOT NULL AND g IN ('A', 'N', 'R')
  GROUP BY 1
), pc2 AS (
  SELECT v, c0, c1, c2,
    SUM(c0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m0,
    SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m1,
    SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS m2,
    SUM(c0) OVER () AS n0,
    SUM(c1) OVER () AS n1,
    SUM(c2) OVER () AS n2,
    SUM(c0 + c1 + c2) OVER () AS nn
  FROM vc2
), scored AS (
  SELECT c0, c1, c2, (c0 + c1 + c2) AS l, n0, n1, n2, nn,
    CAST(round({_norm_ppf_sql('p')}, 6) AS DECIMAL(9,6)) AS a6
  FROM (
    SELECT c0, c1, c2, n0, n1, n2, nn,
      0.5 + CAST(2 * (m0 + m1 + m2) - (c0 + c1 + c2) + 1 AS DOUBLE)
        / 2.0 / (2.0 * (CAST(nn AS DOUBLE) + 1.0)) AS p
    FROM pc2
  )
), folded AS (
  SELECT max(nn) AS nn, max(n0) AS n0, max(n1) AS n1, max(n2) AS n2,
    SUM(CAST(CAST(c0 AS DECIMAL(19,0)) * a6 AS DECIMAL(38,6))) AS s0,
    SUM(CAST(CAST(c1 AS DECIMAL(19,0)) * a6 AS DECIMAL(38,6))) AS s1,
    SUM(CAST(CAST(c2 AS DECIMAL(19,0)) * a6 AS DECIMAL(38,6))) AS s2,
    SUM(CAST(CAST(l AS DECIMAL(19,0)) * a6 AS DECIMAL(38,6))) AS sa,
    SUM(CAST(CAST(l AS DECIMAL(19,0)) * a6 * a6 AS DECIMAL(38,12)))
      AS ss
  FROM scored
), allp AS (
  SELECT nn, sa, ss, n0 AS n_i, s0 AS s_i FROM folded WHERE n0 > 0
  UNION ALL SELECT nn, sa, ss, n1 AS n_i, s1 AS s_i FROM folded
  WHERE n1 > 0
  UNION ALL SELECT nn, sa, ss, n2 AS n_i, s2 AS s_i FROM folded
  WHERE n2 > 0
), fin AS (
  SELECT max(nn) AS n, count(*) AS k, max(sa) AS sa, max(ss) AS ss,
    SUM(CAST(round(CAST(n_i AS DOUBLE)
        * ({_ddwf('s_i')} / CAST(n_i AS DOUBLE)
           - {_ddwf('sa')} / CAST(nn AS DOUBLE))
        * ({_ddwf('s_i')} / CAST(n_i AS DOUBLE)
           - {_ddwf('sa')} / CAST(nn AS DOUBLE)), 9)
        AS DECIMAL(38,9))) AS num9
  FROM allp
), dbl AS (
  SELECT n, k, num9, CAST(n AS DOUBLE) AS nd,
    {_ddwf('sa')} / CAST(n AS DOUBLE) AS gbar,
    {_ddwf('ss')} AS ssd
  FROM fin
), fin2 AS (
  SELECT n, k, num9,
    (ssd - nd * gbar * gbar) / (nd - 1.0) AS v_all
  FROM dbl
)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
  CASE WHEN n > 1 AND v_all > 0 THEN
    round(CAST(num9 AS DOUBLE) / v_all, 6) END AS x2_stat
FROM fin2
""")
def q_fligner_killeen_price_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fligner-Killeen robust scale test of l_extendedprice across
    returnflag groups (operators/hypotests.py:fligner_killeen)."""
    from breweries_etl_spark.operators.hypotests import fligner_killeen

    li = load_table(spark, sf_dir, "lineitem")
    return fligner_killeen(
        li, "l_returnflag", "l_extendedprice", ["A", "N", "R"]
    )


@query(oracle=f"""
WITH vc AS (
  SELECT l_extendedprice AS v,
    SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN l_linestatus = 'O' THEN 0 ELSE 1 END) AS cb
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), pc AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
    SUM(ca) OVER () AS n_a, SUM(cb) OVER () AS n_b,
    SUM(ca + cb) OVER () AS nn
  FROM vc
), mid AS (
  SELECT ca, n_a, n_b, nn,
    CAST(2 * (cum_a + cum_b) - (ca + cb) + 1 AS HUGEINT) AS mid2,
    CAST(2 * (nn + 1) AS HUGEINT)
      - CAST(2 * (cum_a + cum_b) - (ca + cb) + 1 AS HUGEINT) AS con2
  FROM pc
), folded AS (
  SELECT max(n_a) AS n_a, max(n_b) AS n_b, max(nn) AS nn,
    SUM(CAST(ca AS HUGEINT) * mid2 * mid2) AS r4,
    SUM(CAST(ca AS HUGEINT) * con2 * con2) AS s4
  FROM mid
), dbl AS (
  SELECT n_a, n_b, nn,
    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
    CAST(nn AS DOUBLE) AS nd,
    {_ddw('r4')} / 4.0 AS sum_r2,
    {_ddw('s4')} / 4.0 AS sum_s2
  FROM folded
), uv AS (
  SELECT n_a, n_b, nn, nd,
    (6.0 * sum_r2 - na * (nd + 1.0) * (2.0 * nd + 1.0))
      / sqrt(na * nb * (nd + 1.0) * (2.0 * nd + 1.0)
             * (8.0 * nd + 11.0) / 5.0) AS u,
    (6.0 * sum_s2 - na * (nd + 1.0) * (2.0 * nd + 1.0))
      / sqrt(na * nb * (nd + 1.0) * (2.0 * nd + 1.0)
             * (8.0 * nd + 11.0) / 5.0) AS v,
    2.0 * (nd * nd - 4.0)
      / ((2.0 * nd + 1.0) * (8.0 * nd + 11.0)) - 1.0 AS rho
  FROM dbl
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CASE WHEN nn > 1 THEN round(u, 6) END AS u_stat,
  CASE WHEN nn > 1 THEN round(v, 6) END AS v_stat,
  CASE WHEN nn > 2 AND 1.0 - rho * rho > 0 THEN
    round((u * u + v * v - 2.0 * rho * u * v)
          / (2.0 * (1.0 - rho * rho)), 6) END AS cucconi_c
FROM uv
""")
def q_cucconi_price_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi joint location-scale rank test of l_extendedprice
    between open and finished line items
    (operators/hypotests.py:cucconi_test)."""
    from breweries_etl_spark.operators.hypotests import cucconi_test

    li = load_table(spark, sf_dir, "lineitem")
    return cucconi_test(li, "l_extendedprice", F.col("l_linestatus") == "O")


@query(oracle=f"""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    count(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), tot AS (
  SELECT count(*) AS m, SUM(c) AS n FROM daily
), base0 AS (
  SELECT day, m,
    abs((CAST(c AS DOUBLE) - CAST(n AS DOUBLE) / CAST(m AS DOUBLE))
        / sqrt(CAST(n AS DOUBLE) / CAST(m AS DOUBLE))) AS az
  FROM daily CROSS JOIN tot
), base AS (
  SELECT day, m, round(2.0 * {_norm_sf_sql('az')}, 6) AS p FROM base0
), ranked AS (
  SELECT m, p,
    row_number() OVER (ORDER BY p ASC, day ASC) AS i
  FROM base
), folded AS (
  SELECT max(m) AS m,
    max(CASE WHEN p <= 0.05 * CAST(i AS DOUBLE) / CAST(m AS DOUBLE)
        THEN i END) AS khat,
    max(CASE WHEN p <= 0.05 * CAST(i AS DOUBLE) / CAST(m AS DOUBLE)
        THEN p END) AS thresh,
    min(p) AS min_p
  FROM ranked
)
SELECT CAST(m AS BIGINT) AS m_days,
  CAST(COALESCE(khat, 0) AS BIGINT) AS n_significant,
  thresh AS bh_threshold, min_p
FROM folded
""")
def q_bh_fdr_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR screen over per-day event-count z-scores
    (operators/temporal.py:bh_fdr_daily_counts)."""
    from breweries_etl_spark.operators.temporal import bh_fdr_daily_counts

    return bh_fdr_daily_counts(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
ranked AS (
  SELECT day, y, 2 * row_number() OVER (ORDER BY y) AS rr2_raw
  FROM daily
), mid AS (
  SELECT y, SUM(rr2_raw) AS sum2, count(*) AS c FROM ranked GROUP BY y
), r2 AS (
  SELECT day,
    CAST(CAST(sum2 AS DOUBLE) / CAST(c AS DOUBLE) AS BIGINT) AS r2
  FROM ranked JOIN mid USING (y)
), walked AS (
  SELECT r2, lead(r2) OVER (ORDER BY day) AS r2n FROM r2
), folded AS (
  SELECT count(*) AS n, SUM(r2) AS s2,
    SUM(CAST(CAST(r2 AS HUGEINT) * CAST(r2 AS HUGEINT) AS HUGEINT))
      AS q4,
    SUM(CAST(CAST(r2 - r2n AS HUGEINT) * CAST(r2 - r2n AS HUGEINT)
        AS HUGEINT)) AS d4
  FROM walked
), dbl AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_ddw('d4')} / 4.0 AS num,
    {_ddw('q4')} / 4.0
      - CAST(n AS DOUBLE)
        * (CAST(s2 AS DOUBLE) / 2.0 / CAST(n AS DOUBLE))
        * (CAST(s2 AS DOUBLE) / 2.0 / CAST(n AS DOUBLE)) AS den
  FROM folded
)
SELECT CAST(n AS BIGINT) AS n_days,
  CASE WHEN n > 1 AND den > 0 THEN round(num / den, 6) END
    AS rvn_ratio,
  CASE WHEN n > 1 AND den > 0 THEN
    round((num / den - 2.0) / sqrt(4.0 / nd), 6) END AS z_score
FROM dbl
""")
def q_bartels_rank_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bartels rank von Neumann serial-randomness ratio of the daily
    event-value series (operators/temporal.py:bartels_rank_daily)."""
    from breweries_etl_spark.operators.temporal import bartels_rank_daily

    return bartels_rank_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH {_DAILY_EVENTS},
walked AS (
  SELECT y, lag(y) OVER (ORDER BY day) AS yp FROM daily
), filtered AS (
  SELECT y, yp FROM walked WHERE yp IS NOT NULL
), folded AS (
  SELECT count(*) AS m,
    SUM(CASE WHEN y > yp THEN 1 ELSE 0 END) AS n_asc
  FROM filtered
)
SELECT CAST(m + 1 AS BIGINT) AS n_days, CAST(n_asc AS BIGINT) AS n_ascents,
  round(((CAST(m AS DOUBLE) + 1.0) - 1.0) / 2.0, 6) AS expected,
  CASE WHEN ((CAST(m AS DOUBLE) + 1.0) + 1.0) / 12.0 > 0 THEN
    round((CAST(n_asc AS DOUBLE)
           - ((CAST(m AS DOUBLE) + 1.0) - 1.0) / 2.0)
          / sqrt(((CAST(m AS DOUBLE) + 1.0) + 1.0) / 12.0), 6)
  END AS z_score
FROM folded
""")
def q_difference_sign_daily_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Difference-sign monotone-trend screen of the daily event-value
    series (operators/temporal.py:difference_sign_daily)."""
    from breweries_etl_spark.operators.temporal import (
        difference_sign_daily,
    )

    return difference_sign_daily(load_events(spark, sf_dir))


@query(oracle="""
WITH daily AS MATERIALIZED (
  SELECT day, y, day % 7 AS season FROM (
    SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      SUM(CAST(value AS DECIMAL(18,2))) AS y
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
  )
), s AS (
  SELECT SUM(CAST(sign(b.y - a.y) AS BIGINT)) AS s
  FROM daily a JOIN daily b
    ON a.day < b.day AND a.season = b.season
), nt AS (
  SELECT count(*) AS n, count(DISTINCT season) AS n_seasons FROM daily
), vn AS (
  SELECT SUM(CAST(c AS HUGEINT) * (c - 1) * (2 * c + 5)) AS var_n
  FROM (SELECT count(*) AS c FROM daily GROUP BY season)
), tie AS (
  SELECT SUM(CAST(c AS HUGEINT) * (c - 1) * (2 * c + 5)) AS tie_sum
  FROM (SELECT count(*) AS c FROM daily GROUP BY season, y)
), fin AS (
  SELECT n, n_seasons, s,
    CAST(var_n - COALESCE(tie_sum, 0) AS DOUBLE) / 18.0 AS var_s
  FROM nt CROSS JOIN s CROSS JOIN vn CROSS JOIN tie
)
SELECT CAST(n AS BIGINT) AS n_days,
  CAST(n_seasons AS BIGINT) AS n_seasons,
  CAST(s AS BIGINT) AS s_stat,
  CASE WHEN n > 1 THEN round(var_s, 6) END AS var_s,
  CASE WHEN n > 1 AND var_s > 0 THEN round(
    CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt(var_s)
         WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt(var_s)
         ELSE 0.0 END, 6) END AS z_score
FROM fin
""")
def q_seasonal_mann_kendall_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hirsch-Slack seasonal Mann-Kendall trend test (weekday seasons)
    on the daily event-value series
    (operators/temporal.py:seasonal_mann_kendall)."""
    from breweries_etl_spark.operators.temporal import (
        seasonal_mann_kendall,
    )

    return seasonal_mann_kendall(load_events(spark, sf_dir))


@query(oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    count(*) AS x,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
  HAVING SUM(CAST(value AS DECIMAL(18,2))) IS NOT NULL
), yc AS (
  SELECT y, count(*) AS c FROM daily GROUP BY y
), ycum AS (
  SELECT y, c,
    SUM(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS r
  FROM yc
), joined AS (
  SELECT day, x, r, c FROM daily JOIN ycum USING (y)
), walked AS (
  SELECT r, c, lead(r) OVER (ORDER BY x ASC, day ASC) AS rn
  FROM joined
), tot AS (
  SELECT count(*) AS n FROM daily
), folded AS (
  SELECT max(n) AS n, SUM(abs(r - rn)) AS sum_dr,
    SUM(CAST(n - (r - c) AS HUGEINT) * CAST(r - c AS HUGEINT))
      AS denom2
  FROM walked CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_days,
  CAST(sum_dr AS BIGINT) AS sum_abs_dr,
  CAST(denom2 AS BIGINT) AS denom,
  CASE WHEN denom2 > 0 THEN
    round(1.0 - CAST(n AS DOUBLE) * CAST(sum_dr AS DOUBLE)
          / (2.0 * {_ddw('denom2')}), 6) END AS xi
FROM folded
""")
def q_chatterjee_xi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee xi dependence between per-day event count and
    per-day total value (operators/temporal.py:chatterjee_xi_daily)."""
    from breweries_etl_spark.operators.temporal import chatterjee_xi_daily

    return chatterjee_xi_daily(load_events(spark, sf_dir))


@query(oracle="""
WITH g AS (
  SELECT o_orderpriority AS grp, count(*) AS n,
    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS successes
  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1
), dbl AS (
  SELECT grp, n, successes,
    CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
    1.959963984540054 * 1.959963984540054 AS z2,
    CAST(n AS DOUBLE) AS nd
  FROM g
), fin AS (
  SELECT grp, n, successes, p, nd,
    (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd) AS center,
    1.959963984540054
      * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
      / (1.0 + z2 / nd) AS half
  FROM dbl
)
SELECT grp AS "group", CAST(n AS BIGINT) AS n,
  CAST(successes AS BIGINT) AS successes,
  CASE WHEN n > 0 THEN round(p, 6) END AS p_hat,
  -- + 0.0 normalizes -0.0 (see wilson_ci_by_group)
  CASE WHEN n > 0 THEN round(center - half, 6) + 0.0 END AS ci_low,
  CASE WHEN n > 0 THEN round(center + half, 6) + 0.0 END AS ci_high
FROM fin
""")
def q_wilson_ci_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score intervals for the finished-order share per
    priority class (operators/profiling.py:wilson_ci_by_group)."""
    from breweries_etl_spark.operators.profiling import wilson_ci_by_group

    o = load_table(spark, sf_dir, "orders")
    return wilson_ci_by_group(
        o, "o_orderpriority", F.col("o_orderstatus") == "F"
    )


@query(oracle=f"""
WITH per_g AS (
  SELECT c_nationkey AS g,
    SUM(CAST(COALESCE(CAST(c_acctbal AS DECIMAL(18,2)), 0)
        AS DECIMAL(38,2))) AS x_g,
    count(*) AS n_g
  FROM customer
  WHERE c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL
  GROUP BY 1
), tot AS (
  SELECT count(*) AS gg, SUM(x_g) AS xx, SUM(n_g) AS nn FROM per_g
), base AS (
  SELECT * FROM per_g CROSS JOIN tot
), f1 AS (
  SELECT max(gg) AS gg, max(xx) AS xx, max(nn) AS nn,
    SUM(CAST(round({_ddwf('xx - x_g')}
        / CAST(nn - n_g AS DOUBLE), 9) AS DECIMAL(38,9))) AS s_loo
  FROM base
), b2 AS (
  SELECT base.*,
    CAST(f1.s_loo AS DOUBLE) / CAST(f1.gg AS DOUBLE) AS theta_bar
  FROM base CROSS JOIN f1
), f2 AS (
  SELECT max(gg) AS gg, max(xx) AS xx, max(nn) AS nn,
    max(theta_bar) AS theta_bar,
    SUM(CAST(round(
      ({_ddwf('xx - x_g')} / CAST(nn - n_g AS DOUBLE) - theta_bar)
      * ({_ddwf('xx - x_g')} / CAST(nn - n_g AS DOUBLE) - theta_bar),
      9) AS DECIMAL(38,9))) AS ss_dev
  FROM b2
)
SELECT CAST(gg AS BIGINT) AS n_groups,
  CASE WHEN nn > 0 THEN
    round({_ddwf('xx')} / CAST(nn AS DOUBLE), 6) END AS ratio,
  CASE WHEN gg > 1 THEN
    round(sqrt((CAST(gg AS DOUBLE) - 1.0) / CAST(gg AS DOUBLE)
               * CAST(ss_dev AS DOUBLE)), 6) END AS jackknife_se,
  CASE WHEN gg > 1 THEN
    round((CAST(gg AS DOUBLE) - 1.0)
          * (theta_bar - {_ddwf('xx')} / CAST(nn AS DOUBLE)), 6)
  END AS jackknife_bias
FROM f2
""")
def q_jackknife_ratio_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delete-one-nation jackknife SE for mean customer balance —
    cluster-respecting uncertainty
    (operators/profiling.py:jackknife_ratio_by_group)."""
    from breweries_etl_spark.operators.profiling import (
        jackknife_ratio_by_group,
    )

    c = load_table(spark, sf_dir, "customer")
    return jackknife_ratio_by_group(c, "c_nationkey", "c_acctbal")


@query(oracle="""
WITH us AS (
  SELECT user_id,
    MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
    count(*) AS n_ev
  FROM events GROUP BY user_id
), mx AS (
  SELECT MAX(last_us) AS max_us FROM us
), per AS (
  SELECT (last_us - first_us) // 86400000000 AS day,
    CASE WHEN last_us < max_us - 604800000000 THEN 1 ELSE 0 END
      AS churn,
    CASE WHEN n_ev >= 5 THEN 1 ELSE 0 END AS grp
  FROM us CROSS JOIN mx
), per_day AS (
  SELECT day,
    SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS ends_a,
    SUM(CASE WHEN grp = 1 AND churn = 1 THEN 1 ELSE 0 END) AS churn_a,
    SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS ends_b,
    SUM(CASE WHEN grp = 0 AND churn = 1 THEN 1 ELSE 0 END) AS churn_b
  FROM per GROUP BY day
), at_risk AS (
  SELECT day, churn_a, churn_b, ends_a, ends_b,
    SUM(ends_a) OVER (ORDER BY day DESC ROWS UNBOUNDED PRECEDING)
      AS nr_a,
    SUM(ends_b) OVER (ORDER BY day DESC ROWS UNBOUNDED PRECEDING)
      AS nr_b
  FROM per_day
), folded AS (
  SELECT SUM(ends_a) AS n_a, SUM(ends_b) AS n_b,
    SUM(churn_a) AS o1,
    SUM(CASE WHEN CAST(churn_a + churn_b AS DOUBLE) > 0 THEN
      CAST(round(CAST(churn_a + churn_b AS DOUBLE)
           * CAST(nr_a AS DOUBLE)
           / CAST(nr_a + nr_b AS DOUBLE), 9) AS DECIMAL(38,9))
      ELSE CAST(0 AS DECIMAL(38,9)) END) AS e1,
    SUM(CASE WHEN CAST(churn_a + churn_b AS DOUBLE) > 0
          AND CAST(nr_a + nr_b AS DOUBLE) > 1 THEN
      CAST(round(CAST(churn_a + churn_b AS DOUBLE)
           * (CAST(nr_a AS DOUBLE) / CAST(nr_a + nr_b AS DOUBLE))
           * (1.0 - CAST(nr_a AS DOUBLE)
              / CAST(nr_a + nr_b AS DOUBLE))
           * (CAST(nr_a + nr_b AS DOUBLE)
              - CAST(churn_a + churn_b AS DOUBLE))
           / (CAST(nr_a + nr_b AS DOUBLE) - 1.0), 9)
        AS DECIMAL(38,9))
      ELSE CAST(0 AS DECIMAL(38,9)) END) AS v
  FROM at_risk
)
SELECT CAST(n_a AS BIGINT) AS n_engaged,
  CAST(n_b AS BIGINT) AS n_casual,
  CAST(o1 AS BIGINT) AS observed_a,
  round(CAST(e1 AS DOUBLE), 6) AS expected_a,
  CASE WHEN CAST(v AS DOUBLE) > 0 THEN
    round((CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE))
          * (CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE))
          / CAST(v AS DOUBLE), 6) END AS chi2
FROM folded
""")
def q_logrank_retention_cohorts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mantel-Cox log-rank test between engaged (>= 5 events) and
    casual user retention cohorts, censoring identical to the KM
    operator (operators/behavior.py:logrank_retention)."""
    from breweries_etl_spark.operators.behavior import logrank_retention

    return logrank_retention(load_events(spark, sf_dir))
