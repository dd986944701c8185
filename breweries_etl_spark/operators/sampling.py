"""Deterministic sampling and splits for training-data pipelines.

``df.sample()`` is partition-order dependent — rerun the job with
different parallelism and you get a different sample. These operators key
every decision off a content hash (md5 of the row key), so the same row
lands in the same bucket on any cluster, any partitioning, any engine —
which is what reproducible corpus subsampling and train/test splits
require (and what makes them oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import lifecycle
from ..functions.partitioning import ensure_parallelism

# 4 hex chars = 65536 buckets → fraction granularity ~0.0015%
_BUCKETS = 65536


def hash_bucket_expr(key: Column) -> Column:
    """Stable bucket in [0, 65536) from the md5 of the key's string form
    (conv(hex, 16, 10) — portable arithmetic, no engine hash functions)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("long")


def hash_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by content hash: reproducible
    across runs/partitionings, and the complement of a sample at f is
    exactly the sample over the remaining buckets."""
    threshold = int(fraction * _BUCKETS)
    return df.filter(hash_bucket_expr(F.col(key)) < threshold)


def train_test_split(
    df: DataFrame, key: str, test_fraction: float = 0.1
) -> tuple[DataFrame, DataFrame]:
    """(train, test) keyed by content hash — a row can never migrate
    between splits when the pipeline reruns or the corpus grows."""
    threshold = int(test_fraction * _BUCKETS)
    bucket = hash_bucket_expr(F.col(key))
    return df.filter(bucket >= threshold), df.filter(bucket < threshold)


def stratified_hash_sample(
    df: DataFrame, key: str, strata_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Per-stratum hash sampling (the deterministic `df.sampleBy`):
    stratum s keeps ~fractions[s] of its rows, chosen by the SAME
    content-hash bucket as `hash_sample` — so the stratified sample of a
    stratum at fraction f is exactly its plain hash_sample at f, nested
    samples are subsets, and membership never changes with partitioning.
    Strata absent from ``fractions`` are dropped (sampleBy semantics).

    The fraction table enters the plan as a literal CASE chain — no join,
    pure scan-parallel filter at any corpus size.
    """
    bucket = hash_bucket_expr(F.col(key))
    threshold = F.lit(0)  # strata not listed keep nothing
    for stratum, frac in sorted(fractions.items(), reverse=True):
        threshold = F.when(
            F.col(strata_col) == stratum, F.lit(int(frac * _BUCKETS))
        ).otherwise(threshold)
    return df.filter(bucket < threshold)


# 15 hex chars = 60 uniform bits; +1 keeps u in (0, 1] so ln(u) is finite.
_U_BITS = 60


def uniform_expr(key: Column) -> Column:
    """Deterministic uniform in (0, 1] derived from md5 of the key's
    string form — the content-hash analogue of ``rand()``, reproducible
    on any partitioning/engine (same idiom as ``hash_bucket_expr``, 60
    bits instead of 16)."""
    v = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    return (v + F.lit(1)).cast("double") / F.lit(float(2**_U_BITS))


def weighted_sample(
    df: DataFrame, key: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Vassilvitskii
    A-ES keys (Efraimidis & Spirakis 2006): each row gets key
    ln(u)/w (monotone in u^(1/w)); the k largest keys are the sample.
    Inclusion probability is proportional to weight, membership is
    a pure function of row content — deterministic across reruns,
    partitionings, and engines, which is what a reproducible
    quality-weighted corpus subsample needs.

    Scale shape: the A-ES key is a scan-local expression; top-k is
    sort+limit, which Spark executes as TakeOrderedAndProject — each
    partition keeps only its k best rows and the driver merges k-sized
    heaps, so nothing resembling a global sort ever materializes. At
    100 TB this is the ONLY distributed weighted-sampling shape that
    needs no second pass (threshold-estimation variants need two).

    Rows with non-positive weight are excluded (their A-ES key is
    undefined), matching the algorithm's w > 0 precondition.
    """
    u = uniform_expr(F.col(key))
    aes_key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("aes_key", aes_key)
        .orderBy(F.desc("aes_key"), F.col(key))
        .limit(k)
        .drop("aes_key")
    )


def reservoir_sample_per_group(
    df: DataFrame, group_col: str, key_col: str, k: int
) -> DataFrame:
    """Fixed-size-k per-group sample via hash ranking: the k rows with
    the smallest md5(key) per group. Deterministic (content-addressed,
    partition/run-invariant — unlike a true streaming reservoir, whose
    output depends on arrival order) while preserving the reservoir
    property that each group yields EXACTLY min(k, n) rows, which a
    threshold hash_sample cannot guarantee for small groups.

    One window shuffle on (group, hash-rank); at scale the ORDER BY
    runs per group after map-side pre-filtering is impossible (rank
    needs global group order), so groups are the parallelism unit —
    the standard top-k-per-key shape AQE handles well.
    """
    hx = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(hx, key_col)
    return (
        df.select(F.col(group_col), F.col(key_col), hx.alias("__hx"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(group_col, key_col, "rk")
    )


# Poisson(1) inverse-CDF thresholds (cumulative pmf, capped at k = 6):
# the multinomial bootstrap's per-row resample count is Poisson(1) in
# the limit, and a content-hash uniform mapped through these exact
# double constants is deterministic and engine-portable.
_POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]


def _poisson1_from_u(u: Column) -> Column:
    w: Column = F.lit(6)
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    return w


def poisson1_weight_expr(key: Column, replicate: Column) -> Column:
    """Deterministic Poisson(1) bootstrap weight for (row, replicate):
    u = md5-bucket(key ‖ replicate)/65536 (the portable hash-sampling
    uniform — no engine RNG), folded through the Poisson(1) CDF.
    Capped at 6 (P ≈ 6·10⁻⁴ of mass, standard practice)."""
    u = hash_bucket_expr(
        F.concat(key.cast("string"), F.lit("_b"), replicate.cast("string"))
    ).cast("double") / F.lit(65536.0)
    return _poisson1_from_u(u)


def bootstrap_mean_ci(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_replicates: int = 32,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
) -> DataFrame:
    """Distributed Poisson bootstrap percentile CI for the mean — the
    standard single-pass bootstrap at cluster scale (Chamandy et al.,
    Google 2012): instead of resampling n rows B times (undistributable),
    every row draws an independent Poisson(1) count PER REPLICATE from
    its content hash, so one scan of B·n weighted rows computes all B
    replicate means, reproducibly on any partitioning.

    Weighted sums are exact decimals (weight ≤ 6 keeps the product in
    DECIMAL(18,2)·int range); the B-row replicate-mean relation takes
    its percentile bounds by exact ``percentile_disc`` picks (B is
    bounded — this is the only ordered step).

    Hash economy: an md5 yields 32 hex chars = EIGHT independent
    16-bit uniforms, so the per-row hash count is ⌈B/8⌉, not B —
    the ⌈B/8⌉ digests are computed once per row BEFORE the replicate
    explode (md5 dominates the scan cost at 100 TB; measured 4×
    cheaper than one digest per (row, replicate)).

    Why the explode and not one B-wide aggregate: a single pass with
    2B conditional aggregate expressions (no row multiplication) was
    MEASURED ~2× SLOWER at sf0.1 — 64 CASE-chain aggregates blow past
    whole-stage-codegen limits and fall back to interpreted
    evaluation, while the exploded form keeps one tight codegen'd
    loop over B·n narrow rows with map-side partial aggregation.
    Output one row: (n_rows, n_replicates, mean_full, ci_lo, ci_hi)."""
    # ensure_parallelism (r12): the per-replicate md5/explode pass below
    # is the expensive part and inherits the scan's split count — a
    # single-file table would run the whole B·n expansion on ONE core
    # (guide §2.5 input skew / §4.2 per-task work; measured 12 s of
    # single-task compute at sf0.1). No-op when the scan already has
    # ≥ defaultParallelism splits, i.e. at any real scale.
    base = ensure_parallelism(
        df.select(
            F.col(key_col).alias("__k"),
            F.col(value_col).cast("decimal(18,2)").alias("__v"),
        ).filter(F.col("__v").isNotNull())
    )
    full = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("__v").cast("decimal(38,2)")).alias("s"),
    )
    n_hashes = (n_replicates + 7) // 8
    pre = base.select(
        "__v",
        F.array(
            *[
                F.md5(
                    F.concat(
                        F.col("__k").cast("string"),
                        F.lit("_w"),
                        F.lit(h).cast("string"),
                    )
                )
                for h in range(n_hashes)
            ]
        ).alias("__m"),
    )
    u = (
        F.conv(
            F.expr(
                "substring(element_at(__m, cast(b div 8 as int) + 1),"
                " cast(1 + 4 * (b % 8) as int), 4)"
            ),
            16,
            10,
        ).cast("double")
        / F.lit(65536.0)
    )
    reps = pre.select(
        "__v",
        F.explode(
            F.sequence(F.lit(0), F.lit(n_replicates - 1))
        ).alias("b"),
        "__m",
    ).select(
        "b",
        "__v",
        _poisson1_from_u(u).alias("w"),
    )
    per_rep = reps.groupBy("b").agg(
        F.sum("w").alias("nw"),
        F.sum(
            (F.col("__v") * F.col("w").cast("decimal(3,0)")).cast(
                "decimal(38,2)"
            )
        ).alias("sw"),
    )
    from .hypotests import dec_double_wide_frac

    means = per_rep.filter(F.col("nw") > 0).select(
        (
            dec_double_wide_frac(F.col("sw"))
            / F.col("nw").cast("double")
        ).alias("m")
    )
    ci = means.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.expr(
            f"percentile_disc({lo_q}) WITHIN GROUP (ORDER BY m)"
        ).alias("lo"),
        F.expr(
            f"percentile_disc({hi_q}) WITHIN GROUP (ORDER BY m)"
        ).alias("hi"),
    )
    return full.crossJoin(F.broadcast(ci)).select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_reps").cast("long").alias("n_replicates"),
        F.round(
            dec_double_wide_frac(F.col("s"))
            / F.col("n_rows").cast("double"),
            6,
        ).alias("mean_full"),
        F.round(F.col("lo"), 6).alias("ci_lo"),
        F.round(F.col("hi"), 6).alias("ci_hi"),
    )


@lifecycle.operator
def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_n: int = 1000,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: for a fixed total
    budget, the variance-minimizing per-stratum sample size is
    n_h ∝ N_h·S_h (stratum size × stratum SD) — the allocation table a
    pipeline computes before drawing a stratified QA or labeling
    sample, instead of proportional allocation that oversamples
    homogeneous strata.

    One moment pass per stratum (exact half-up-quantized decimals);
    shares and integer allocations close on the k-row relation (the
    allocation rounds DOWN — the unallocated remainder is reported via
    the share column rather than redistributed, a closed form). Output
    per stratum: (stratum, n_rows, sd, share, alloc_n)."""
    from .hypotests import dec_double_wide_frac, quantized_money

    per_h = (
        df.filter(
            F.col(stratum_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(stratum_col).alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                quantized_money(F.col(value_col)).cast("decimal(38,2)")
            ).alias("s"),
            F.sum(
                (
                    quantized_money(F.col(value_col))
                    * quantized_money(F.col(value_col))
                ).cast("decimal(38,4)")
            ).alias("q"),
        )
    )
    n = F.col("n_rows").cast("double")
    mu = dec_double_wide_frac(F.col("s")) / n
    var = (
        dec_double_wide_frac(F.col("q")) - dec_double_wide_frac(F.col("s")) * mu
    ) / (n - F.lit(1.0))
    sd = F.when(F.col("n_rows") > 1, F.sqrt(F.greatest(var, F.lit(0.0))))
    scored = per_h.select(
        "stratum",
        "n_rows",
        F.round(sd, 6).alias("sd"),
        F.round(n * sd, 6).alias("w"),
    ).transform(lifecycle.persist)
    scored.count()
    tot = scored.agg(
        F.sum(F.col("w").cast("decimal(28,6)")).alias("wsum")
    )
    share = F.col("w") / dec_double_wide_frac(F.col("wsum"))
    result = scored.crossJoin(F.broadcast(tot)).select(
        "stratum",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sd"),
        F.when(F.col("wsum") > 0, F.round(share, 6)).alias("share"),
        F.when(
            F.col("wsum") > 0,
            F.floor(share * F.lit(float(total_n))).cast("long"),
        ).alias("alloc_n"),
    )
    return result


def capture_recapture_distinct(
    df: DataFrame,
    key_col: str = "text",
    f1: float = 0.1,
    f2: float = 0.1,
) -> DataFrame:
    """Chapman capture–recapture estimate of the DISTINCT population
    size from two independent content-hash samples — "how many unique
    documents does this corpus hold" WITHOUT ever shuffling the full
    distinct set: at 100 TB an exact count-distinct of document text
    is a corpus-wide shuffle of the texts themselves, while this scans
    once and shuffles only the two ~f-fraction samples. Two disjoint
    md5 slices give independent marks; the estimator
    N̂ = (n₁+1)(n₂+1)/(m+1) − 1 is unbiased when m > 0 (Chapman 1951);
    the same trick estimates a corpus's dedup rate before committing
    to the full dedup pass.

    The md5-slice buckets are the repo's portable hash grid (never
    engine hash functions). Output one row:
    (n_sample1, n_sample2, n_both, est_distinct)."""
    key = F.col(key_col).cast("string")
    b1 = F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("long")
    b2 = F.conv(F.substring(F.md5(key), 5, 4), 16, 10).cast("long")
    t1 = int(f1 * _BUCKETS)
    t2 = int(f2 * _BUCKETS)
    folded = df.filter(F.col(key_col).isNotNull()).agg(
        F.count_distinct(F.when(b1 < t1, key)).alias("n1"),
        F.count_distinct(F.when(b2 < t2, key)).alias("n2"),
        F.count_distinct(F.when((b1 < t1) & (b2 < t2), key)).alias("m"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m = F.col("m").cast("double")
    return folded.select(
        F.col("n1").cast("long").alias("n_sample1"),
        F.col("n2").cast("long").alias("n_sample2"),
        F.col("m").cast("long").alias("n_both"),
        F.round(
            (n1 + F.lit(1.0)) * (n2 + F.lit(1.0)) / (m + F.lit(1.0))
            - F.lit(1.0),
            6,
        ).alias("est_distinct"),
    )
