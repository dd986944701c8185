"""Vocabulary shuffles and day-grid series over the corpus, events and
graph; ks and spiegelhalter are cheap, vocab-jaccard's term join runs
last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _B, _CLF_SCORE_SQL, _D, _GREATEST, _HEUR_QUALITY_SQL, _KS_GAP, _dd, _ddw, _ddwf,
    _empty_anchored, _marker_hits,
)
from breweries_etl_spark.sources.tables import load_events, load_table

query = family("r8corpus")


@query(oracle=_empty_anchored(f"""
WITH vc AS (
  SELECT n_chars AS v,
    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS cb
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, ca, cb,
    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM vc
), tot AS (SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM vc)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  round({_ddw(_KS_GAP)}
        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks_stat
FROM cum CROSS JOIN tot GROUP BY n_a, n_b
""", f"SELECT {_B} AS n_a, {_B} AS n_b, {_D} AS ks_stat"))
def q_ks_doclen_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS drift test between English and non-English document length
    distributions (operators/hypotests.py:ks_test_2samp reuse)."""
    from breweries_etl_spark.operators.hypotests import ks_test_2samp

    return ks_test_2samp(
        load_table(spark, sf_dir, "documents"),
        "n_chars",
        F.col("lang") == "en",
    )


@query(oracle=f"""
WITH daily AS (
  SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
    AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1
), blocks AS (
  SELECT day // 7 AS week,
    MAX(CASE WHEN day % 7 = 0 THEN y END) AS va,
    MAX(CASE WHEN day % 7 = 1 THEN y END) AS vb,
    MAX(CASE WHEN day % 7 = 2 THEN y END) AS vc
  FROM daily WHERE day % 7 < 3 GROUP BY 1
), ranked AS (
  SELECT week,
    2 + 2 * ((CASE WHEN vb < va THEN 1 ELSE 0 END)
             + (CASE WHEN vc < va THEN 1 ELSE 0 END))
      + (CASE WHEN vb = va THEN 1 ELSE 0 END)
      + (CASE WHEN vc = va THEN 1 ELSE 0 END) AS ra,
    2 + 2 * ((CASE WHEN va < vb THEN 1 ELSE 0 END)
             + (CASE WHEN vc < vb THEN 1 ELSE 0 END))
      + (CASE WHEN va = vb THEN 1 ELSE 0 END)
      + (CASE WHEN vc = vb THEN 1 ELSE 0 END) AS rb,
    2 + 2 * ((CASE WHEN va < vc THEN 1 ELSE 0 END)
             + (CASE WHEN vb < vc THEN 1 ELSE 0 END))
      + (CASE WHEN va = vc THEN 1 ELSE 0 END)
      + (CASE WHEN vb = vc THEN 1 ELSE 0 END) AS rc
  FROM blocks
  WHERE va IS NOT NULL AND vb IS NOT NULL AND vc IS NOT NULL
), sums AS (
  SELECT count(*) AS n,
    SUM(CAST(CAST(ra AS DECIMAL(19,0)) + 2 * CAST(rb AS DECIMAL(19,0))
             + 3 * CAST(rc AS DECIMAL(19,0)) AS DECIMAL(19,0))) AS l2
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_blocks,
  round({_dd('CAST(l2 AS DECIMAL(38,0))')} / 2.0, 6) AS page_l,
  CASE WHEN n > 0 THEN
    round(({_dd('CAST(l2 AS DECIMAL(38,0))')} / 2.0
           - 12.0 * CAST(n AS DOUBLE))
          / sqrt(2.0 * CAST(n AS DOUBLE)), 6)
  END AS z_score
FROM sums
""")
def q_page_trend_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered trend across weekday-0/1/2 daily totals per
    week block (operators/hypotests.py:page_trend_3)."""
    from breweries_etl_spark.operators.hypotests import page_trend_3

    ev = load_events(spark, sf_dir)
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .select(day.alias("day"), F.col("value").cast("decimal(18,2)").alias("y"))
        .groupBy("day")
        .agg(F.sum("y").alias("y"))
    )
    wk = daily.select(
        F.expr("day div 7").alias("week"),
        (F.col("day") % 7).alias("dow"),
        "y",
    ).filter(F.col("dow") < 3)
    blocks = (
        wk.groupBy("week")
        .agg(
            F.max(F.when(F.col("dow") == 0, F.col("y"))).alias("va"),
            F.max(F.when(F.col("dow") == 1, F.col("y"))).alias("vb"),
            F.max(F.when(F.col("dow") == 2, F.col("y"))).alias("vc"),
        )
        .filter(
            F.col("va").isNotNull()
            & F.col("vb").isNotNull()
            & F.col("vc").isNotNull()
        )
    )
    return page_trend_3(
        blocks, "week", F.col("va"), F.col("vb"), F.col("vc")
    )


@query(oracle="""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), idx AS (
  SELECT day, y, row_number() OVER (ORDER BY day) - 1 AS i FROM daily
), tot AS (SELECT count(*) AS n, (count(*) + 1) // 2 AS h FROM idx),
pairs AS (
  SELECT a.y AS y, b.y AS y2, n FROM idx a CROSS JOIN tot
  JOIN idx b ON a.i + h = b.i
), folded AS (
  SELECT max(n) AS n_days,
    SUM(CASE WHEN y2 > y THEN 1 ELSE 0 END) AS n_pos,
    SUM(CASE WHEN y2 < y THEN 1 ELSE 0 END) AS n_neg
  FROM pairs
)
SELECT CAST(n_days AS BIGINT) AS n_days,
  CAST(n_pos + n_neg AS BIGINT) AS n_pairs,
  CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
  CASE WHEN n_pos + n_neg > 0 THEN
    round((CAST(n_pos AS DOUBLE)
           - CAST(n_pos + n_neg AS DOUBLE) / 2.0)
          / sqrt(CAST(n_pos + n_neg AS DOUBLE) / 4.0), 6)
  END AS z_score
FROM folded
""")
def q_cox_stuart_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart half-distance sign trend test of the daily event
    totals (operators/temporal.py:cox_stuart_trend_daily)."""
    from breweries_etl_spark.operators.temporal import cox_stuart_trend_daily

    return cox_stuart_trend_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), tot AS (
  SELECT count(*) AS n, SUM(CAST(y AS DECIMAL(38,2))) AS s,
    SUM(CAST(y * y AS DECIMAL(38,4))) AS q
  FROM daily
), pp AS (
  SELECT p,
    SUM(CAST(y * CAST(round(cos(6.283185307179586
                                * CAST(day % p AS DOUBLE)
                                / CAST(p AS DOUBLE)), 6)
                      AS DECIMAL(8,6)) AS DECIMAL(38,8))) AS yc,
    SUM(CAST(y * CAST(round(sin(6.283185307179586
                                * CAST(day % p AS DOUBLE)
                                / CAST(p AS DOUBLE)), 6)
                      AS DECIMAL(8,6)) AS DECIMAL(38,8))) AS ys,
    SUM(CAST(CAST(round(cos(6.283185307179586
                            * CAST(day % p AS DOUBLE)
                            / CAST(p AS DOUBLE)), 6)
                  AS DECIMAL(8,6)) AS DECIMAL(38,6))) AS sc,
    SUM(CAST(CAST(round(sin(6.283185307179586
                            * CAST(day % p AS DOUBLE)
                            / CAST(p AS DOUBLE)), 6)
                  AS DECIMAL(8,6)) AS DECIMAL(38,6))) AS ss
  FROM daily CROSS JOIN (SELECT unnest([7, 30]) AS p) GROUP BY p
), d AS (
  SELECT p, n, {_ddwf('s')} / CAST(n AS DOUBLE) AS m,
    {_ddwf('yc')} AS ycd, {_ddwf('ys')} AS ysd,
    {_ddwf('sc')} AS scd, {_ddwf('ss')} AS ssd,
    {_ddwf('q')} AS qd, {_ddwf('s')} AS sd
  FROM pp CROSS JOIN tot
), c AS (
  SELECT p, n,
    ycd - m * scd AS a, ysd - m * ssd AS b, qd - sd * m AS den
  FROM d
)
SELECT CAST(p AS BIGINT) AS period, CAST(n AS BIGINT) AS n_days,
  CASE WHEN den > 0 THEN
    round(2.0 * (a * a + b * b) / (CAST(n AS DOUBLE) * den), 6)
  END AS power_fraction
FROM c
""")
def q_periodogram_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power fraction of the daily totals at periods 7 and
    30 (operators/temporal.py:seasonal_periodogram_daily)."""
    from breweries_etl_spark.operators.temporal import (
        seasonal_periodogram_daily,
    )

    return seasonal_periodogram_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y0
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), idx AS (
  SELECT row_number() OVER (ORDER BY day) - 1 AS i,
    CAST(y0 AS DECIMAL(18,2)) AS y
  FROM daily
), rows_ AS (
  SELECT s, i, y, i // s AS blk
  FROM idx CROSS JOIN (SELECT unnest([8, 16, 32]) AS s)
), t AS (
  SELECT s, blk, i, y,
    count(*) OVER (PARTITION BY s, blk) AS cnt,
    SUM(CAST(y AS DECIMAL(38,2))) OVER (PARTITION BY s, blk) AS tot,
    SUM(CAST(y * y AS DECIMAL(38,4))) OVER (PARTITION BY s, blk) AS q,
    SUM(CAST(y AS DECIMAL(38,2))) OVER (PARTITION BY s, blk ORDER BY i
      ROWS UNBOUNDED PRECEDING) AS cumy,
    row_number() OVER (PARTITION BY s, blk ORDER BY i) AS r
  FROM rows_
), full_t AS (SELECT * FROM t WHERE cnt = s),
per_blk AS (
  SELECT s, blk, max(cnt) AS cnt, max(tot) AS tot, max(q) AS q,
    max({_dd('cumy')} - CAST(r AS DOUBLE)
        * ({_dd('tot')} / CAST(cnt AS DOUBLE))) AS cd_max,
    min({_dd('cumy')} - CAST(r AS DOUBLE)
        * ({_dd('tot')} / CAST(cnt AS DOUBLE))) AS cd_min
  FROM full_t GROUP BY 1, 2
), scored AS (
  SELECT s,
    CASE WHEN {_dd('q')} / CAST(cnt AS DOUBLE)
              - ({_dd('tot')} / CAST(cnt AS DOUBLE))
                * ({_dd('tot')} / CAST(cnt AS DOUBLE)) > 0
    THEN round((cd_max - cd_min)
               / sqrt({_dd('q')} / CAST(cnt AS DOUBLE)
                      - ({_dd('tot')} / CAST(cnt AS DOUBLE))
                        * ({_dd('tot')} / CAST(cnt AS DOUBLE))), 6)
    END AS rs
  FROM per_blk
), per_size AS (
  SELECT s, count(*) AS nb, SUM(CAST(rs AS DECIMAL(28,6))) AS rs_sum
  FROM scored WHERE rs IS NOT NULL GROUP BY 1
  HAVING SUM(CAST(rs AS DECIMAL(28,6))) > 0
), logs AS (
  SELECT round(ln(CAST(s AS DOUBLE)), 6) AS lx,
    round(ln(CAST(rs_sum AS DOUBLE) / CAST(nb AS DOUBLE)), 6) AS ly,
    nb
  FROM per_size
), mom AS (
  SELECT count(*) AS np, SUM(nb) AS n_blocks_used,
    CAST(SUM(CAST(lx AS DECIMAL(18,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(ly AS DECIMAL(18,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(round(lx * lx, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(round(lx * ly, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(round(ly * ly, 12) AS DECIMAL(28,12))) AS DOUBLE) AS syy
  FROM logs
), nd AS (SELECT count(*) AS n_days FROM daily),
c AS (
  SELECT np, n_blocks_used, n_days,
    sxx - sx * sx / CAST(np AS DOUBLE) AS sxx_c,
    sxy - sx * sy / CAST(np AS DOUBLE) AS sxy_c,
    syy - sy * sy / CAST(np AS DOUBLE) AS syy_c
  FROM mom CROSS JOIN nd
)
SELECT CAST(n_days AS BIGINT) AS n_days,
  CAST(n_blocks_used AS BIGINT) AS n_blocks_used,
  CASE WHEN np > 1 AND sxx_c > 0 AND syy_c > 0 THEN
    round(sxy_c / sxx_c, 6) END AS hurst_h,
  CASE WHEN np > 1 AND sxx_c > 0 AND syy_c > 0 THEN
    round(sxy_c * sxy_c / (sxx_c * syy_c), 6) END AS r2
FROM c
""")
def q_hurst_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-value series by R/S analysis
    (operators/temporal.py:hurst_rs_daily)."""
    from breweries_etl_spark.operators.temporal import hurst_rs_daily

    return hurst_rs_daily(load_events(spark, sf_dir))


@query(oracle=f"""
WITH ev AS (
  SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), gaps AS (
  SELECT u, tsu - lag(tsu) OVER (PARTITION BY u ORDER BY tsu) AS g
  FROM ev
), gg AS (SELECT u, g FROM gaps WHERE g IS NOT NULL),
per_u AS (
  SELECT u, count(*) AS ng,
    SUM(CAST(g AS DECIMAL(38,0))) AS sg,
    SUM(CAST(CAST(g AS DECIMAL(19,0)) * g AS DECIMAL(38,0))) AS qg
  FROM gg GROUP BY 1
), scored AS (
  SELECT ng,
    CASE WHEN sqrt(greatest({_ddw('qg')} / CAST(ng AS DOUBLE)
                   - ({_ddw('sg')} / CAST(ng AS DOUBLE))
                     * ({_ddw('sg')} / CAST(ng AS DOUBLE)), 0.0))
              + {_ddw('sg')} / CAST(ng AS DOUBLE) > 0
    THEN round((sqrt(greatest({_ddw('qg')} / CAST(ng AS DOUBLE)
                     - ({_ddw('sg')} / CAST(ng AS DOUBLE))
                       * ({_ddw('sg')} / CAST(ng AS DOUBLE)), 0.0))
                - {_ddw('sg')} / CAST(ng AS DOUBLE))
               / (sqrt(greatest({_ddw('qg')} / CAST(ng AS DOUBLE)
                       - ({_ddw('sg')} / CAST(ng AS DOUBLE))
                         * ({_ddw('sg')} / CAST(ng AS DOUBLE)), 0.0))
                  + {_ddw('sg')} / CAST(ng AS DOUBLE)), 6)
    END AS b
  FROM per_u WHERE ng >= 2
), folded AS (
  SELECT count(*) AS n_users, SUM(ng) AS n_gaps,
    SUM(CAST(b AS DECIMAL(18,6))) AS sb,
    SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS nb
  FROM scored WHERE b IS NOT NULL
)
SELECT CAST(n_users AS BIGINT) AS n_users,
  CAST(n_gaps AS BIGINT) AS n_gaps,
  CASE WHEN n_users > 0 THEN
    round(CAST(sb AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
  END AS mean_burstiness,
  CASE WHEN n_users > 0 THEN
    round(CAST(nb AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
  END AS share_bursty
FROM folded
""")
def q_burstiness_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness of per-user inter-event times
    (operators/temporal.py:interarrival_burstiness)."""
    from breweries_etl_spark.operators.temporal import interarrival_burstiness

    return interarrival_burstiness(load_events(spark, sf_dir))


@query(oracle="""
WITH cells AS (
  SELECT event_type AS x,
    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS VARCHAR)
      AS y,
    count(*) AS c
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT x, y, c, SUM(c) OVER () AS n, SUM(c) OVER (PARTITION BY y) AS cy
  FROM cells
), folded AS (
  SELECT max(n) AS n, count(*) AS n_cells,
    CAST(SUM(CAST(round(
      -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      * ln((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           / (CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))), 6)
      AS DECIMAL(18,6))) AS DOUBLE) AS hxy
  FROM t
), hx AS (
  SELECT CAST(SUM(CAST(round(
    -(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
    * ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
    AS DECIMAL(18,6))) AS DOUBLE) AS hx
  FROM (SELECT cx, SUM(cx) OVER () AS n FROM
        (SELECT x, SUM(c) AS cx FROM cells GROUP BY 1))
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
  round(hx, 6) AS h_x, round(hxy, 6) AS h_x_given_y,
  CASE WHEN hx > 0 THEN round((hx - hxy) / hx, 6) END AS uncertainty_xy
FROM folded CROSS JOIN hx
""")
def q_uncertainty_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(event_type | weekday)
    (operators/hypotests.py:uncertainty_coefficient)."""
    from breweries_etl_spark.operators.hypotests import uncertainty_coefficient

    ev = load_events(spark, sf_dir).withColumn(
        "dow",
        (
            F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            % 7
        ).cast("string"),
    )
    return uncertainty_coefficient(ev, "event_type", "dow")


@query(oracle="""
WITH base AS (
  SELECT (user_id % 2 = 0) AS in_a,
    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS e
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), counts AS (
  SELECT SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS k_a,
    SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS k_b
  FROM base
), expo AS (
  SELECT SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS e_a,
    SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS e_b
  FROM (SELECT DISTINCT in_a, e FROM base)
)
SELECT CAST(k_a AS BIGINT) AS events_a, CAST(k_b AS BIGINT) AS events_b,
  CAST(e_a AS BIGINT) AS exposure_a, CAST(e_b AS BIGINT) AS exposure_b,
  CASE WHEN k_a > 0 AND k_b > 0 AND e_a > 0 AND e_b > 0 THEN
    round((CAST(k_a AS DOUBLE) / CAST(e_a AS DOUBLE))
          / (CAST(k_b AS DOUBLE) / CAST(e_b AS DOUBLE)), 6)
  END AS rate_ratio,
  CASE WHEN k_a > 0 AND k_b > 0 AND e_a > 0 AND e_b > 0 THEN
    round(ln((CAST(k_a AS DOUBLE) / CAST(e_a AS DOUBLE))
             / (CAST(k_b AS DOUBLE) / CAST(e_b AS DOUBLE)))
          / sqrt(1.0 / CAST(k_a AS DOUBLE) + 1.0 / CAST(k_b AS DOUBLE)), 6)
  END AS z_score
FROM counts CROSS JOIN expo
""")
def q_poisson_rate_ratio_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson event-rate ratio (events per active day) between even-
    and odd-id users (operators/hypotests.py:poisson_rate_ratio)."""
    from breweries_etl_spark.operators.hypotests import poisson_rate_ratio

    ev = load_events(spark, sf_dir).withColumn(
        "day", F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    )
    return poisson_rate_ratio(ev, F.col("user_id") % 2 == 0, "day")


@query(oracle=f"""
WITH scored AS (
  SELECT {_CLF_SCORE_SQL} AS p,
    CASE WHEN {_HEUR_QUALITY_SQL} >= 0.5 THEN 1 ELSE 0 END AS y
  FROM documents
), folded AS (
  SELECT count(*) AS n, SUM(y) AS n_pos,
    SUM(CAST(round((CAST(y AS DOUBLE) - p) * (1.0 - 2.0 * p), 6)
             AS DECIMAL(28,6))) AS num,
    SUM(CAST(round((1.0 - 2.0 * p) * (1.0 - 2.0 * p) * p * (1.0 - p), 6)
             AS DECIMAL(28,6))) AS den
  FROM scored
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
  CASE WHEN {_ddwf('den')} > 0 THEN
    round({_ddwf('num')} / sqrt({_ddwf('den')}), 6)
  END AS spiegelhalter_z
FROM folded
""")
def q_spiegelhalter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter calibration z of the hashed-linear classifier vs
    the heuristic quality label
    (operators/hypotests.py:spiegelhalter_z)."""
    from breweries_etl_spark.operators.filtering import classifier_score_expr
    from breweries_etl_spark.operators.hypotests import spiegelhalter_z
    from breweries_etl_spark.operators.text import quality_score_expr

    docs = load_table(spark, sf_dir, "documents")
    return spiegelhalter_z(
        docs,
        classifier_score_expr(F.col("text")),
        quality_score_expr(F.col("text")) >= F.lit(0.5),
    )


@query(oracle="""
WITH cells AS (
  SELECT source, lang, count(*) AS c FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2
), lang_tot AS (SELECT lang, SUM(c) AS cl FROM cells GROUP BY 1),
src_tot AS (SELECT source, SUM(c) AS cs FROM cells GROUP BY 1),
grid AS (
  SELECT s.source, l.lang, s.cs, l.cl, coalesce(cells.c, 0) AS c,
    SUM(l.cl) OVER (PARTITION BY s.source) AS n
  FROM src_tot s CROSS JOIN lang_tot l
  LEFT JOIN cells ON cells.source = s.source AND cells.lang = l.lang
)
SELECT source, CAST(max(cs) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_langs_corpus,
  round(
    (CASE WHEN SUM(CAST(abs(CAST(c AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                  - CAST(cl AS DECIMAL(19,0)) * CAST(cs AS DECIMAL(19,0)))
           AS DECIMAL(38,0))) < 0 THEN -1.0 ELSE 1.0 END *
     (CAST(CAST(abs(SUM(CAST(abs(CAST(c AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                  - CAST(cl AS DECIMAL(19,0)) * CAST(cs AS DECIMAL(19,0)))
           AS DECIMAL(38,0)))) AS HUGEINT) // 1000000000 AS DOUBLE) * 1e9
      + CAST(CAST(abs(SUM(CAST(abs(CAST(c AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                  - CAST(cl AS DECIMAL(19,0)) * CAST(cs AS DECIMAL(19,0)))
           AS DECIMAL(38,0)))) AS HUGEINT) % 1000000000 AS DOUBLE)))
    / (2.0 * CAST(max(cs) AS DOUBLE) * CAST(max(n) AS DOUBLE)), 6)
    AS tv_distance
FROM grid GROUP BY source
""")
def q_tv_distance_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance from the corpus language mix
    (operators/text.py:tv_distance_lang_by_source)."""
    from breweries_etl_spark.operators.text import tv_distance_lang_by_source

    return tv_distance_lang_by_source(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH st AS (
  SELECT source, term, count(*) AS c FROM (
    SELECT source,
      unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS term
    FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
  ) GROUP BY 1, 2
)
SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_types,
  CASE WHEN SUM(c) > 0 THEN
    round(CAST(count(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
  END AS ttr,
  CASE WHEN count(*) > 0 THEN
    round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6)
  END AS hapax_share
FROM st GROUP BY source
""")
def q_lexical_diversity_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token ratio and hapax share
    (operators/text.py:lexical_diversity_by_source)."""
    from breweries_etl_spark.operators.text import lexical_diversity_by_source

    return lexical_diversity_by_source(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH tf AS (
  SELECT term, count(*) AS f FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS term
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY 1
), folded AS (
  SELECT SUM(f) AS n, count(*) AS v,
    SUM(CAST(CAST(f AS DECIMAL(19,0)) * f AS DECIMAL(38,0))) AS f2
  FROM tf
)
SELECT CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS n_types,
  CASE WHEN n > 0 THEN
    round(1e4 * ({_ddw('f2')} - CAST(n AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
  END AS yules_k,
  CASE WHEN n > 1 THEN
    round(({_ddw('f2')} - CAST(n AS DOUBLE))
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
  END AS simpson_d
FROM folded
""")
def q_yules_k_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K / Simpson's D repeat-rate constants of the corpus
    (operators/text.py:yules_k)."""
    from breweries_etl_spark.operators.text import yules_k

    return yules_k(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH tokens AS (
  SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              AS BIGINT) % 32 AS chunk,
    unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS term
  FROM documents WHERE text IS NOT NULL
), per_term AS (
  SELECT term, min(chunk) AS first_chunk FROM tokens GROUP BY 1
), tok_per_chunk AS (
  SELECT chunk, count(*) AS nt FROM tokens GROUP BY 1
), new_per_chunk AS (
  SELECT first_chunk AS chunk, count(*) AS nv FROM per_term GROUP BY 1
), curve AS (
  SELECT chunk,
    SUM(coalesce(nt, 0)) OVER (ORDER BY chunk ROWS UNBOUNDED PRECEDING)
      AS t_cum,
    SUM(coalesce(nv, 0)) OVER (ORDER BY chunk ROWS UNBOUNDED PRECEDING)
      AS v_cum
  FROM tok_per_chunk FULL JOIN new_per_chunk USING (chunk)
), pts AS (SELECT * FROM curve WHERE t_cum > 0 AND v_cum > 0),
mom AS (
  SELECT count(*) AS n, max(t_cum) AS n_tokens, max(v_cum) AS vocab_size,
    SUM(CAST(round(ln(CAST(t_cum AS DOUBLE)), 6) AS DECIMAL(18,6))) AS sx,
    SUM(CAST(round(ln(CAST(v_cum AS DOUBLE)), 6) AS DECIMAL(18,6))) AS sy,
    SUM(CAST(round(round(ln(CAST(t_cum AS DOUBLE)), 6)
                   * round(ln(CAST(t_cum AS DOUBLE)), 6), 12)
             AS DECIMAL(28,12))) AS sxx,
    SUM(CAST(round(round(ln(CAST(t_cum AS DOUBLE)), 6)
                   * round(ln(CAST(v_cum AS DOUBLE)), 6), 12)
             AS DECIMAL(28,12))) AS sxy,
    SUM(CAST(round(round(ln(CAST(v_cum AS DOUBLE)), 6)
                   * round(ln(CAST(v_cum AS DOUBLE)), 6), 12)
             AS DECIMAL(28,12))) AS syy
  FROM pts
), d AS (
  SELECT n, n_tokens, vocab_size, CAST(n AS DOUBLE) AS nd,
    {_dd('sx')} AS sxd, {_dd('sy')} AS syd,
    {_dd('sxx')} AS sxxd, {_dd('sxy')} AS sxyd, {_dd('syy')} AS syyd
  FROM mom
), c AS (
  SELECT n, n_tokens, vocab_size, nd,
    sxxd - sxd * sxd / nd AS sxx_c,
    sxyd - sxd * syd / nd AS sxy_c,
    syyd - syd * syd / nd AS syy_c,
    sxd, syd
  FROM d
)
SELECT CAST(n AS BIGINT) AS n_chunks,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(vocab_size AS BIGINT) AS vocab_size,
  CASE WHEN n > 2 AND sxx_c > 0 AND syy_c > 0 THEN
    round(sxy_c / sxx_c, 6) END AS heaps_beta,
  CASE WHEN n > 2 AND sxx_c > 0 AND syy_c > 0 THEN
    round((syd - (sxy_c / sxx_c) * sxd) / nd, 6) END AS heaps_log_k,
  CASE WHEN n > 2 AND sxx_c > 0 AND syy_c > 0 THEN
    round(sxy_c * sxy_c / (sxx_c * syy_c), 6) END AS r2
FROM c
""")
def q_heaps_law_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law vocabulary-growth fit over md5 hash chunks
    (operators/text.py:heaps_law_fit)."""
    from breweries_etl_spark.operators.text import heaps_law_fit

    return heaps_law_fit(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH norm AS (
  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
    'g'), ' +', ' ', 'g')) AS nt
  FROM documents WHERE text IS NOT NULL
), words AS (SELECT string_split(nt, ' ') AS w FROM norm),
pairs AS (
  SELECT w1, w2, count(*) AS c FROM (
    SELECT unnest([w[i] FOR i IN range(1, len(w))]) AS w1,
      unnest([w[i + 1] FOR i IN range(1, len(w))]) AS w2
    FROM words
  ) WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2
), hb AS (
  SELECT max(n) AS nb, count(*) AS tb,
    CAST(SUM(CAST(round(
      -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      AS DECIMAL(18,6))) AS DOUBLE) AS h_b
  FROM (SELECT c, SUM(c) OVER () AS n FROM pairs)
), hp AS (
  SELECT count(*) AS tp,
    CAST(SUM(CAST(round(
      -(CAST(cp AS DOUBLE) / CAST(n AS DOUBLE))
      * ln(CAST(cp AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      AS DECIMAL(18,6))) AS DOUBLE) AS h_p
  FROM (SELECT cp, SUM(cp) OVER () AS n FROM
        (SELECT w1, SUM(c) AS cp FROM pairs GROUP BY 1))
)
SELECT CAST(nb AS BIGINT) AS n_bigrams, CAST(tb AS BIGINT) AS n_bigram_types,
  CAST(tp AS BIGINT) AS n_prefix_types,
  round(h_b, 6) AS h_bigram, round(h_p, 6) AS h_prefix,
  round(h_b - h_p, 6) AS cond_entropy
FROM hb CROSS JOIN hp
""")
def q_bigram_cond_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram conditional entropy H(w2|w1)
    (operators/text.py:bigram_cond_entropy)."""
    from breweries_etl_spark.operators.text import bigram_cond_entropy

    return bigram_cond_entropy(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH st AS (
  SELECT DISTINCT source, term FROM (
    SELECT source,
      unnest(regexp_extract_all(lower(text), '[A-Za-z0-9_]+')) AS term
    FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
  )
), sizes AS (SELECT source, count(*) AS nv FROM st GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b,
  CAST(sa.nv AS BIGINT) AS n_a, CAST(sb.nv AS BIGINT) AS n_b,
  CAST(n_common AS BIGINT) AS n_common,
  round(CAST(n_common AS DOUBLE)
        / CAST(sa.nv + sb.nv - n_common AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = inter.source_a
JOIN sizes sb ON sb.source = inter.source_b
""")
def q_source_vocab_jaccard_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources
    (operators/text.py:source_vocab_jaccard)."""
    from breweries_etl_spark.operators.text import source_vocab_jaccard

    return source_vocab_jaccard(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH cells AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    event_type AS t, count(*) AS c
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2
), td AS (
  SELECT day, c, SUM(c) OVER (PARTITION BY day) AS nd FROM cells
), per_day AS (
  SELECT day,
    SUM(CAST(round(-(CAST(c AS DOUBLE) / CAST(nd AS DOUBLE))
                   * ln(CAST(c AS DOUBLE) / CAST(nd AS DOUBLE)), 6)
             AS DECIMAL(18,6))) AS h
  FROM td GROUP BY 1
), idx AS (
  SELECT row_number() OVER (ORDER BY day) - 1 AS i, h FROM per_day
), mom AS (
  SELECT count(*) AS n,
    SUM(CAST(i AS DECIMAL(38,0))) AS sx,
    SUM(CAST(h AS DECIMAL(38,6))) AS sy,
    SUM(CAST(CAST(i AS DECIMAL(19,0)) * i AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(round(CAST(i AS DOUBLE) * CAST(h AS DOUBLE), 12)
             AS DECIMAL(38,12))) AS sxy,
    SUM(CAST(round(CAST(h AS DOUBLE) * CAST(h AS DOUBLE), 12)
             AS DECIMAL(38,12))) AS syy
  FROM idx
), c AS (
  SELECT n, CAST(n AS DOUBLE) AS nd,
    {_ddw('sx')} AS sxd, {_ddwf('sy')} AS syd,
    {_ddw('sxx')} AS sxxd, {_ddwf('sxy')} AS sxyd, {_ddwf('syy')} AS syyd
  FROM mom
), cc AS (
  SELECT n, nd, syd,
    sxxd - sxd * sxd / nd AS sxx_c,
    sxyd - sxd * syd / nd AS sxy_c,
    syyd - syd * syd / nd AS syy_c
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_days,
  CASE WHEN n > 0 THEN round(syd / nd, 6) END AS mean_entropy,
  CASE WHEN n > 1 AND sxx_c > 0 THEN round(sxy_c / sxx_c, 6)
  END AS slope_per_day,
  CASE WHEN n > 1 AND sxx_c > 0 AND syy_c > 0 THEN
    round(sxy_c * sxy_c / (sxx_c * syy_c), 6)
  END AS r2
FROM cc
""")
def q_type_mix_entropy_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type mix entropy and its linear trend
    (operators/temporal.py:type_mix_entropy_trend)."""
    from breweries_etl_spark.operators.temporal import type_mix_entropy_trend

    return type_mix_entropy_trend(load_events(spark, sf_dir))


@query(oracle=f"""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), blocks AS (
  SELECT day // 7 AS blk, max(CAST(y AS DECIMAL(18,2))) AS m
  FROM daily GROUP BY 1
), mom AS (
  SELECT count(*) AS n,
    SUM(CAST(m AS DECIMAL(38,2))) AS s,
    SUM(CAST(m * m AS DECIMAL(38,4))) AS q
  FROM blocks
), c AS (
  SELECT n,
    {_ddwf('s')} / CAST(n AS DOUBLE) AS mean,
    sqrt(greatest(({_ddwf('q')} - {_ddwf('s')}
                   * ({_ddwf('s')} / CAST(n AS DOUBLE)))
                  / (CAST(n AS DOUBLE) - 1.0), 0.0)) AS sd
  FROM mom
), g AS (
  SELECT n, mean, sd, sd * 0.7796968012336293 AS beta FROM c
), g2 AS (
  SELECT n, mean, sd, beta,
    mean - 0.5772156649015329 * beta AS mu
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_blocks,
  CASE WHEN n > 0 THEN round(mean, 6) END AS max_mean,
  CASE WHEN n > 2 THEN round(sd, 6) END AS max_sd,
  CASE WHEN n > 2 THEN round(mu, 6) END AS gumbel_mu,
  CASE WHEN n > 2 THEN round(beta, 6) END AS gumbel_beta,
  CASE WHEN n > 2 THEN round(mu + beta * 2.250367327069, 6)
  END AS return_level_10
FROM g2
""")
def q_evt_block_maxima_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel block-maxima fit + 10-week return level of the daily
    event totals (operators/temporal.py:evt_block_maxima)."""
    from breweries_etl_spark.operators.temporal import evt_block_maxima

    return evt_block_maxima(load_events(spark, sf_dir))


@query(oracle=f"""
WITH daily AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    SUM(CAST(value AS DECIMAL(18,2))) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1
), m1 AS (
  SELECT count(*) AS n_one,
    SUM(CAST(abs(a.y - b.y) AS DECIMAL(38,2))) AS s_one
  FROM daily a JOIN daily b ON a.day = b.day + 1
), ms AS (
  SELECT count(*) AS n_sea,
    SUM(CAST(abs(a.y - b.y) AS DECIMAL(38,2))) AS s_sea
  FROM daily a JOIN daily b ON a.day = b.day + 7
), nd AS (SELECT count(*) AS n_days FROM daily)
SELECT CAST(n_days AS BIGINT) AS n_days,
  CAST(n_one AS BIGINT) AS n_pairs_1, CAST(n_sea AS BIGINT) AS n_pairs_s,
  CASE WHEN n_one > 0 THEN
    round({_ddwf('s_one')} / CAST(n_one AS DOUBLE), 6) END AS mae_naive,
  CASE WHEN n_sea > 0 THEN
    round({_ddwf('s_sea')} / CAST(n_sea AS DOUBLE), 6) END AS mae_seasonal,
  CASE WHEN n_one > 0 AND n_sea > 0
       AND {_ddwf('s_sea')} / CAST(n_sea AS DOUBLE) > 0 THEN
    round(({_ddwf('s_one')} / CAST(n_one AS DOUBLE))
          / ({_ddwf('s_sea')} / CAST(n_sea AS DOUBLE)), 6)
  END AS mase
FROM m1 CROSS JOIN ms CROSS JOIN nd
""")
def q_mase_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-vs-seasonal-naive MASE of the daily event totals
    (operators/temporal.py:mase_daily)."""
    from breweries_etl_spark.operators.temporal import mase_daily

    return mase_daily(load_events(spark, sf_dir))


@query(oracle=_empty_anchored("""
WITH ex AS (
  SELECT unnest(embedding) AS x0,
    unnest(range(1, len(embedding) + 1)) AS ord
  FROM embeddings WHERE embedding IS NOT NULL
), dims AS (
  SELECT CAST(ord - 1 AS BIGINT) AS pos, count(*) AS n,
    SUM(CAST(round(CAST(x0 AS DOUBLE), 6) AS DECIMAL(28,6))) AS s,
    SUM(CAST(round(CAST(x0 AS DOUBLE) * CAST(x0 AS DOUBLE), 12)
             AS DECIMAL(28,12))) AS q
  FROM ex GROUP BY 1
), scored AS (
  SELECT pos, n,
    round(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS v
  FROM dims
), folded AS (
  SELECT max(n) AS n_vectors, count(*) AS n_dims,
    SUM(CAST(v AS DECIMAL(28,6))) AS vsum,
    max(v) AS vmax, min(v) AS vmin
  FROM scored
), top AS (
  SELECT pos AS max_var_dim FROM scored ORDER BY v DESC, pos ASC LIMIT 1
)
SELECT CAST(n_vectors AS BIGINT) AS n_vectors,
  CAST(n_dims AS BIGINT) AS n_dims,
  round(CAST(vsum AS DOUBLE) / CAST(n_dims AS DOUBLE), 6) AS mean_var,
  vmax AS max_var, vmin AS min_var,
  CASE WHEN vmin > 0 THEN round(vmax / vmin, 6) END AS anisotropy_ratio,
  CAST(max_var_dim AS BIGINT) AS max_var_dim
FROM folded CROSS JOIN top
""", (
    f"SELECT {_B} AS n_vectors, CAST(0 AS BIGINT) AS n_dims, "
    f"{_D} AS mean_var, {_D} AS max_var, {_D} AS min_var, "
    f"{_D} AS anisotropy_ratio, {_B} AS max_var_dim"
)))
def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance / anisotropy health row of the embedding
    table (operators/similarity.py:embedding_dim_profile)."""
    from breweries_etl_spark.operators.similarity import embedding_dim_profile

    return embedding_dim_profile(load_table(spark, sf_dir, "embeddings"))


@query(oracle=f"""
WITH hits AS (
  SELECT lang, text,
    {_marker_hits("en")} AS h_en,
    {_marker_hits("es")} AS h_es,
    {_marker_hits("de")} AS h_de,
    {_marker_hits("fr")} AS h_fr
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
), p AS (
  SELECT lang AS a,
    CASE WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
         WHEN {_GREATEST} = 0 THEN 'unknown'
         WHEN h_en = {_GREATEST} THEN 'en'
         WHEN h_es = {_GREATEST} THEN 'es'
         WHEN h_de = {_GREATEST} THEN 'de'
         ELSE 'fr' END AS b
  FROM hits
), cells AS (SELECT a, b, count(*) AS c FROM p GROUP BY 1, 2),
ma AS (SELECT a AS cls, SUM(c) AS n_true FROM cells GROUP BY 1),
mb AS (SELECT b AS cls, SUM(c) AS n_pred FROM cells GROUP BY 1),
tp AS (SELECT a AS cls, c AS tp FROM cells WHERE a = b),
marg AS (
  SELECT cls, coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
    coalesce(tp, 0) AS tp
  FROM ma FULL OUTER JOIN mb USING (cls) LEFT JOIN tp USING (cls)
)
SELECT cls AS lang, CAST(n_true AS BIGINT) AS n_true,
  CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
  CASE WHEN n_pred > 0 THEN
    round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END AS precision,
  CASE WHEN n_true > 0 THEN
    round(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6) END AS recall,
  CASE WHEN n_pred > 0 AND n_true > 0
       AND CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
           + CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) > 0 THEN
    round(2.0 * (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
          * (CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE))
          / (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
             + CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)), 6)
  END AS f1
FROM marg
""")
def q_lang_pred_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the heuristic language router
    vs the labeled lang column (operators/text.py:lang_pred_quality)."""
    from breweries_etl_spark.operators.text import lang_pred_quality

    return lang_pred_quality(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH e0 AS (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e0 WHERE src <> dst
), ends AS (
  SELECT a AS node FROM canon UNION ALL SELECT b AS node FROM canon
), deg AS (SELECT node, count(*) AS deg FROM ends GROUP BY 1),
vv AS (SELECT deg AS v, count(*) AS c FROM deg GROUP BY 1),
cum AS (
  SELECT v, c, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumc
  FROM vv
), sums AS (
  SELECT SUM(c) AS n_nodes,
    SUM(CAST(CAST(v AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS sum_deg,
    SUM(CAST(CAST(v AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
             * (2 * CAST(cumc AS DECIMAL(19,0))
                - CAST(c AS DECIMAL(19,0)) + 1)
             AS DECIMAL(38,0))) AS num2,
    max(v) AS d_max,
    SUM(CAST(CAST(CAST(v AS DECIMAL(19,0))
                  * (CAST(v AS DECIMAL(19,0)) - 1) AS DECIMAL(38,0))
             * CAST(c AS DECIMAL(19,0)) AS DECIMAL(38,0))) AS wedge2
  FROM cum
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
  CAST(sum_deg // 2 AS BIGINT) AS n_edges,
  CAST(d_max AS BIGINT) AS max_degree,
  CASE WHEN n_nodes > 2 THEN
    round((CAST(n_nodes AS DOUBLE) * CAST(d_max AS DOUBLE)
           - {_ddw('sum_deg')})
          / ((CAST(n_nodes AS DOUBLE) - 1.0)
             * (CAST(n_nodes AS DOUBLE) - 2.0)), 6)
  END AS centralization,
  CASE WHEN n_nodes > 0 AND sum_deg > 0 THEN
    round({_ddw('num2')} / (CAST(n_nodes AS DOUBLE) * {_ddw('sum_deg')})
          - (CAST(n_nodes AS DOUBLE) + 1.0) / CAST(n_nodes AS DOUBLE), 6)
  END AS degree_gini,
  CAST({_ddw('wedge2')} / 2.0 AS BIGINT) AS wedge_count
FROM sums
""")
def q_graph_degree_centralization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Freeman centralization + degree Gini + wedge count of the
    customer-supplier purchase graph
    (operators/graph.py:degree_centralization)."""
    from breweries_etl_spark.operators.graph import degree_centralization

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
    return degree_centralization(edges, "src", "dst")
