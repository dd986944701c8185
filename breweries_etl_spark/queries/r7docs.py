"""Document scans (see ``r7stats`` for the split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_etl_spark.queries.record import family
from breweries_etl_spark.queries.shared import (
    _CLF_SCORE_SQL, _HEUR_QUALITY_SQL, _dd, _ddw,
)
from breweries_etl_spark.sources.tables import load_table

query = family("r7docs")


@query(oracle="""
WITH per AS (
  SELECT source, count(*) AS n_docs,
    SUM(length(text)) AS n_chars,
    SUM(len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS n_emails,
    SUM(len(regexp_extract_all(text,
      '\\+?[0-9][0-9()\\- ]{7,}[0-9]'))) AS n_phones
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
  GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(n_emails AS BIGINT) AS n_emails,
  CAST(n_phones AS BIGINT) AS n_phones,
  CASE WHEN n_chars > 0 THEN
    round(CAST(n_emails AS DOUBLE) * 1000.0 / CAST(n_chars AS DOUBLE), 6)
  END AS emails_per_1k_chars,
  CASE WHEN n_chars > 0 THEN
    round(CAST(n_phones AS DOUBLE) * 1000.0 / CAST(n_chars AS DOUBLE), 6)
  END AS phones_per_1k_chars
FROM per
""")
def q_pii_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone pattern density per ingest source — the redaction
    triage table (operators/text.py:pii_density_by_source)."""
    from breweries_etl_spark.operators.text import pii_density_by_source

    return pii_density_by_source(load_table(spark, sf_dir, "documents"))


@query(oracle="""
WITH per AS (
  SELECT source, count(*) AS n_docs,
    SUM(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))) AS n_words,
    SUM(greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
      AS n_sentences,
    SUM(len(regexp_extract_all(text, '[AEIOUYaeiouy]+'))) AS n_syllables
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
  GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_words AS BIGINT) AS n_words,
  CAST(n_sentences AS BIGINT) AS n_sentences,
  CAST(n_syllables AS BIGINT) AS n_syllables,
  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
    round(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE), 6)
  END AS words_per_sentence,
  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
    round(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
  END AS syllables_per_word,
  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
    round(206.835
          - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
          6)
  END AS flesch_reading_ease
FROM per
""")
def q_readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per ingest source from regex word/sentence/
    vowel-group counts (operators/text.py:readability_by_source)."""
    from breweries_etl_spark.operators.text import readability_by_source

    return readability_by_source(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH per AS (
  SELECT source,
    SUM(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))) AS n_tokens
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
  GROUP BY source
), tot AS (
  SELECT SUM(CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6)
                  AS DECIMAL(38,0))) AS sq_sum
  FROM per
), d AS (
  SELECT source, n_tokens,
    floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) / {_ddw('sq_sum')} AS share
  FROM per CROSS JOIN tot
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
  CASE WHEN n_tokens > 0 THEN round(share, 6) END AS share,
  CASE WHEN n_tokens > 0 THEN
    CAST(floor(least(share * 1000000.0 / CAST(n_tokens AS DOUBLE), 4.0)
               * CAST(n_tokens AS DOUBLE)) AS BIGINT)
  END AS alloc_tokens,
  CASE WHEN n_tokens > 0 THEN
    round(least(share * 1000000.0 / CAST(n_tokens AS DOUBLE), 4.0), 6)
  END AS epochs
FROM d
""")
def q_token_budget_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sqrt-proportional token-budget allocation across sources with an
    epoch cap (operators/corpus.py:token_budget_mix)."""
    from breweries_etl_spark.operators.corpus import token_budget_mix

    return token_budget_mix(load_table(spark, sf_dir, "documents"), 1_000_000)


@query(oracle="""
WITH p AS (
  SELECT a.vec_id AS i,
    unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
), d AS (
  SELECT i, sum(x*y) AS dp, sum(x*x) AS na, sum(y*y) AS nb
  FROM p GROUP BY i
), c AS (
  SELECT round(dp / sqrt(na * nb), 6) AS cs FROM d
), binned AS (
  SELECT least(CAST(19 AS BIGINT),
               CAST(round((cs + 1.0) * 1000000.0) AS BIGINT) // 100000)
    AS bin
  FROM c
)
SELECT bin,
  round(-1.0 + CAST(bin AS DOUBLE) * CAST(0.1 AS DOUBLE), 6) AS lo,
  round(-1.0 + CAST(bin + 1 AS DOUBLE) * CAST(0.1 AS DOUBLE), 6) AS hi,
  CAST(count(*) AS BIGINT) AS cnt
FROM binned GROUP BY bin
""")
def q_embedding_pair_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine histogram over consecutive-id embedding pairs — the O(n)
    isotropy/collapse diagnostic
    (operators/similarity.py:pair_cosine_histogram)."""
    from breweries_etl_spark.operators.similarity import pair_cosine_histogram

    return pair_cosine_histogram(load_table(spark, sf_dir, "embeddings"))


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
), per_bin AS (
  SELECT bin, count(*) AS n_b,
    SUM(CAST(round(pred, 6) AS DECIMAL(18,6))) AS p_sum,
    SUM(pos) AS pos_b
  FROM binned GROUP BY bin
), folded AS (
  SELECT SUM(n_b) AS n, count(*) AS n_bins_used,
    SUM(CAST(floor(CAST(n_b AS DOUBLE)
      * abs({_dd('p_sum')} / CAST(n_b AS DOUBLE)
            - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1e8)
      AS DECIMAL(38,0))) AS ece_fp,
    max(CAST(floor(abs({_dd('p_sum')} / CAST(n_b AS DOUBLE)
                       - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                   * 1e6) AS BIGINT)) AS mce_fp
  FROM per_bin
)
SELECT CAST(n AS BIGINT) AS n,
  CAST(n_bins_used AS BIGINT) AS n_bins_used,
  round({_ddw('ece_fp')} / 1e8 / CAST(n AS DOUBLE), 6) AS ece,
  CAST(mce_fp AS DOUBLE) / 1e6 AS mce
FROM folded
""")
def q_ece_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected + maximum calibration error scalar gate for the
    hashed-linear classifier (operators/filtering.py:ece_summary)."""
    from breweries_etl_spark.operators.filtering import ece_summary

    return ece_summary(load_table(spark, sf_dir, "documents"))


@query(oracle=f"""
WITH scored AS (
  SELECT {_CLF_SCORE_SQL} AS p,
    CASE WHEN {_HEUR_QUALITY_SQL} >= 0.5 THEN 1 ELSE 0 END AS y
  FROM documents
), rows_ AS (
  SELECT least(CAST(9 AS BIGINT),
               CAST(round(p * 1000000.0) AS BIGINT) // 100000) AS bin,
    p, y,
    CAST(floor((p - y) * (p - y) * 1e8) AS DECIMAL(38,0)) AS bs_fp
  FROM scored
), per_bin AS (
  SELECT bin, count(*) AS n_b,
    SUM(CAST(round(p, 6) AS DECIMAL(18,6))) AS p_sum,
    SUM(y) AS pos_b,
    SUM(bs_fp) AS bs_fp
  FROM rows_ GROUP BY bin
), tot AS (SELECT SUM(n_b) AS n, SUM(pos_b) AS pos FROM per_bin),
folded AS (
  SELECT max(n) AS n, max(pos) AS pos, SUM(bs_fp) AS bs_fp,
    SUM(CAST(floor(CAST(n_b AS DOUBLE)
      * ({_dd('p_sum')} / CAST(n_b AS DOUBLE)
         - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      * ({_dd('p_sum')} / CAST(n_b AS DOUBLE)
         - CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      * 1e8) AS DECIMAL(38,0))) AS rel_fp,
    SUM(CAST(floor(CAST(n_b AS DOUBLE)
      * (CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
      * (CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
      * 1e8) AS DECIMAL(38,0))) AS res_fp
  FROM per_bin CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n,
  round({_ddw('bs_fp')} / 1e8 / CAST(n AS DOUBLE), 6) AS brier,
  round({_ddw('rel_fp')} / 1e8 / CAST(n AS DOUBLE), 6) AS reliability,
  round({_ddw('res_fp')} / 1e8 / CAST(n AS DOUBLE), 6) AS resolution,
  round((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
        * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS uncertainty
FROM folded
""")
def q_brier_decomposition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the hashed-linear classifier's Brier
    score vs the heuristic quality label — same two independent signals
    as score_calibration_bins (operators/hypotests.py:
    brier_decomposition)."""
    from breweries_etl_spark.operators.filtering import classifier_score_expr
    from breweries_etl_spark.operators.hypotests import brier_decomposition
    from breweries_etl_spark.operators.text import quality_score_expr

    docs = load_table(spark, sf_dir, "documents")
    return brier_decomposition(
        docs,
        classifier_score_expr(F.col("text")),
        quality_score_expr(F.col("text")) >= F.lit(0.5),
    )


@query(oracle=f"""
WITH norm AS (
  SELECT source AS s,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                        ' +', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
), grams AS (
  SELECT s, substring(t, i, 3) AS g FROM (
    SELECT s, t, unnest(range(1, greatest(length(t) - 1, 1))) AS i
    FROM norm
  )
), gc AS MATERIALIZED (
  SELECT s, g, count(*) AS c FROM grams GROUP BY s, g
), norms AS (
  SELECT s,
    SUM(CAST(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS nrm2,
    SUM(c) AS n_grams
  FROM gc GROUP BY s
), dots AS (
  SELECT a.s AS sa, b.s AS sb,
    SUM(CAST(CAST(a.c AS DECIMAL(19,0)) * CAST(b.c AS DECIMAL(19,0))
             AS DECIMAL(38,0))) AS dp
  FROM gc a JOIN gc b ON a.g = b.g AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT sa AS source_a, sb AS source_b,
  CAST(na.n_grams AS BIGINT) AS n_grams_a,
  CAST(nb.n_grams AS BIGINT) AS n_grams_b,
  round({_ddw('dp')} / sqrt({_ddw('na.nrm2')} * {_ddw('nb.nrm2')}), 6)
    AS cosine
FROM dots
JOIN norms na ON na.s = dots.sa
JOIN norms nb ON nb.s = dots.sb
""")
def q_source_ngram_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise char-trigram cosine between source profiles — the
    near-duplicate-source screen
    (operators/text.py:source_char_ngram_cosine)."""
    from breweries_etl_spark.operators.text import source_char_ngram_cosine

    return source_char_ngram_cosine(load_table(spark, sf_dir, "documents"))
