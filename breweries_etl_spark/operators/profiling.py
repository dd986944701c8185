"""Data profiling: the one-pass table profile every ingest pipeline runs
before trusting a new drop (extends the reference's per-column null
accounting, SURVEY.md §2.3 P4, to a full profile).

One aggregation pass computes nulls/min/max/distinct per column — never a
per-column loop of actions (which would scan the table N times).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import lifecycle

_NUMERIC = (T.IntegerType, T.LongType, T.ShortType, T.DoubleType, T.FloatType, T.DecimalType)


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long-format profile: one row per column with count/nulls/distinct
    plus min/max (rendered as strings so heterogeneous column types fit
    one result schema)."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs.extend(
            [
                F.count(F.col(c)).alias(f"{c}__nonnull"),
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
                F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
                F.min(F.col(c)).cast("string").alias(f"{c}__min"),
                F.max(F.col(c)).cast("string").alias(f"{c}__max"),
            ]
        )
    wide = df.agg(*aggs)
    # unpivot the single wide row into (column, metric...) rows
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__nonnull").alias("n_nonnull"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(structs).alias("p")).select("p.*")


def numeric_outliers(
    df: DataFrame, value_col: str, group_col: str | None = None, z: float = 3.0
) -> DataFrame:
    """Rows whose value deviates more than ``z`` sample standard
    deviations from the (per-group) mean — join-against-aggregate shape,
    no window over the full table."""
    group = [group_col] if group_col else []
    stats = df.groupBy(*group).agg(
        F.avg(value_col).alias("__mean"), F.stddev_samp(value_col).alias("__sd")
    )
    joined = df.join(F.broadcast(stats), on=group) if group else df.crossJoin(
        F.broadcast(stats)
    )
    return (
        joined.filter(
            (F.col("__sd") > 0)
            & (F.abs(F.col(value_col) - F.col("__mean")) > z * F.col("__sd"))
        )
        .drop("__mean", "__sd")
    )


def zscore_outliers_exact(
    df: DataFrame,
    value_col: str,
    key_col: str,
    group_col: str,
    z: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier flags with ENGINE-EXACT statistics:
    mean and variance are derived from decimal sums (sum, sum-of-squares
    — both exact on 2-decimal money values), converted to double only
    for the final arithmetic, every engine performing the identical
    operation sequence. That makes the z-scores — not just the flag —
    hash-comparable, unlike double-accumulated ``stddev_samp`` whose
    last ulps depend on partitioning.

    Same join-against-aggregate shape as ``numeric_outliers``: the stats
    relation is one row per group (broadcast), the fact table is scanned
    once, no global window.
    """
    v = F.col(value_col).cast("decimal(12,2)")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(v).alias("__s"),
        F.sum((v * v).cast("decimal(38,4)")).alias("__ss"),
    )
    mean = F.col("__s").cast("double") / F.col("__n")
    # population variance from exact sums: (ss - s^2/n) / n, all double
    var = (
        F.col("__ss").cast("double")
        - F.col("__s").cast("double") * F.col("__s").cast("double") / F.col("__n")
    ) / F.col("__n")
    joined = df.join(F.broadcast(stats), on=group_col)
    zscore = (F.col(value_col).cast("double") - mean) / F.sqrt(var)
    return (
        joined.filter(var > 0)
        .select(
            F.col(key_col),
            F.col(group_col),
            F.round(zscore, 6).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > z)
    )


def key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = 20
) -> DataFrame:
    """Pre-join skew diagnostic: the ``top_n`` heaviest join-key values
    with their row share and heat relative to a uniform key (cnt /
    avg-rows-per-key). The operator a pipeline runs BEFORE a big join to
    decide between plain shuffle, AQE skew split, and salting — at 100 TB
    the difference between a 1.2× and a 40× heat factor is the difference
    between a working join and a straggler task that never finishes.

    One hash aggregate (map-side partial) over the key column only, one
    single-row aggregate joined back by broadcast, and a
    TakeOrderedAndProject for the top-n — no global sort, no second scan.
    Ties rank by key ascending so the result is deterministic.
    """
    counts = df.select(key_col).groupBy(key_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").alias("__total"), F.count(F.lit(1)).alias("__nkeys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col(key_col),
            F.col("cnt"),
            F.round(F.col("cnt") / F.col("__total"), 6).alias("share"),
            F.round(
                F.col("cnt") * F.col("__nkeys") / F.col("__total"), 6
            ).alias("heat"),
        )
        .orderBy(F.desc("cnt"), F.asc(key_col))
        .limit(top_n)
    )


def equi_width_histogram(
    df: DataFrame, value_col: str, n_buckets: int = 20
) -> DataFrame:
    """Equi-width histogram of a numeric column: (bucket, lo, hi, cnt),
    empty buckets absent. The profiling primitive behind skew-aware
    bucket sizing and range-partition boundary picks.

    Two aggregation passes over ONE scan each: a single-row min/max
    aggregate broadcast back over the column, then the bucket group-count
    (map-side partial). The bucket arithmetic is plain IEEE double ops in
    a fixed order, so any engine reproduces the assignment bit-for-bit
    (no reliance on engine-specific width_bucket).
    """
    v = F.col(value_col).cast("double")
    stats = df.agg(
        F.min(v).alias("__mn"), F.max(v).alias("__mx")
    )
    mn, mx = F.col("__mn"), F.col("__mx")
    width_ratio = (v - mn) / (mx - mn)
    bucket = F.when(mx == mn, F.lit(1)).otherwise(
        F.least(F.lit(n_buckets), F.floor(width_ratio * n_buckets) + 1)
    )
    lo = mn + (F.col("bucket") - 1) * (mx - mn) / n_buckets
    hi = mn + F.col("bucket") * (mx - mn) / n_buckets
    return (
        df.select(v.alias(value_col))
        .crossJoin(F.broadcast(stats))
        .select(bucket.cast("long").alias("bucket"), "__mn", "__mx")
        .groupBy("bucket", "__mn", "__mx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bucket",
            F.round(lo, 6).alias("lo"),
            F.round(hi, 6).alias("hi"),
            "cnt",
        )
    )


def mergeable_distinct_sketches(
    df: DataFrame, value_col: str, group_col: str, rel_tol: float = 0.05
) -> DataFrame:
    """Distinct-count via *mergeable* HLL sketches: one Datasketches HLL
    per group (`hll_sketch_agg`), union-merged to a global estimate
    (`hll_union_agg` → `hll_sketch_estimate`).

    Why this exists as a first-class operator: at 100 TB you cannot
    re-scan to count distincts per reporting window — you persist
    per-partition/per-day sketches (a few KB each) and merge them on
    demand; the merge is associative and lossless w.r.t. the sketch, so
    estimates over any rollup of stored sketches equal a direct sketch
    of the union. That mergeability is exactly what this operator's
    output asserts: the merged-estimate is checked against the exact
    distinct count and reported as a tolerance boolean (the raw
    estimate is implementation-defined — Datasketches vs DuckDB HLL
    differ — so the *checked contract*, not the estimate, is the
    oracle-stable surface).

    Output: one row — n_groups, n_exact (exact distinct of
    ``value_col``), est_ok (merged estimate within ``rel_tol`` of
    exact).
    """
    per_group = df.groupBy(group_col).agg(
        F.hll_sketch_agg(F.col(value_col)).alias("__sk")
    )
    merged = per_group.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("__sk"))).alias("__est"),
    )
    exact = df.agg(F.countDistinct(F.col(value_col)).alias("n_exact"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_groups",
        "n_exact",
        (
            F.abs(F.col("__est") - F.col("n_exact"))
            <= F.lit(rel_tol) * F.col("n_exact")
        ).alias("est_ok"),
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold: int,
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """EXACT heavy hitters (keys with ≥ ``threshold`` rows) found via a
    Count-Min-Sketch candidate phase plus an exact verify phase.

    Why not just ``groupBy(key).count().filter(...)``? That keeps one
    partial-aggregate state PER DISTINCT KEY on every task — at 100 TB
    with billions of wide keys (URLs, doc hashes) the partial map
    spills and the shuffle carries every distinct key. The sketch path
    bounds state at ``depth × width`` cells TOTAL regardless of key
    cardinality:

    1. **Sketch build** — every row increments ``depth`` cells
       (``pmod(xxhash64(key, seed_d), width)``); the groupBy has at
       most depth×width groups (128 KB of longs here), so the shuffle
       after map-side combine is a few KB per task.
    2. **Candidate probe** — the sketch is tiny, so each row of the
       fact re-derives its cells and broadcast-joins the cell counts;
       a row survives iff ``least(count_1..count_depth) ≥ threshold``.
       CMS never under-counts, so the candidate set PROVABLY contains
       every true heavy key (no false negatives); collisions only add
       candidates.
    3. **Exact verify** — the surviving rows (heavy keys + a few
       collision victims) are exactly counted; ``HAVING count ≥
       threshold`` trims the false positives. Per-key state now exists
       only for candidates — a set whose size is bounded by
       total_rows/threshold + collisions, not by key cardinality.

    Output: (key, cnt) with cnt the EXACT row count — identical to the
    direct groupBy/HAVING, which is what the oracle runs.
    """
    cells = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(d)), F.lit(width)).alias(
            f"__c{d}"
        )
        for d in range(depth)
    ]
    keyed = df.select(F.col(key_col), *cells)
    sketch = (
        keyed.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"), F.col(f"__c{d}").alias("b")
                        )
                        for d in range(depth)
                    ]
                )
            ).alias("cell")
        )
        .groupBy("cell.d", "cell.b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Fold the (d, b, cnt) cells into ONE row of per-depth lookup maps
    # and broadcast it ONCE. The earlier shape joined a filtered view of
    # `sketch` per depth — four references to the same lazy plan, which
    # physical planning expanded into four independent scan+aggregate
    # subtrees of the FACT table (exchange reuse can't unify them once
    # the per-depth filter pushes below the aggregate). One bounded
    # pivot (≤ depth×width rows → depth rows → 1 row) keeps the fact
    # scan count at one for the whole sketch phase.
    per_depth = sketch.groupBy("d").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("b"), F.col("cnt")))
        ).alias("m")
    )
    one_row = per_depth.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("d"), F.col("m")))
        ).alias("mm")
    )
    probe_counts = [
        F.coalesce(
            F.element_at(F.element_at(F.col("mm"), F.lit(d)), F.col(f"__c{d}")),
            F.lit(0),
        )
        for d in range(depth)
    ]
    candidates = (
        keyed.crossJoin(F.broadcast(one_row))
        .filter(F.least(*probe_counts) >= F.lit(threshold))
        .select(key_col)
        .distinct()
    )
    # NULL-SAFE verify join: SQL GROUP BY keeps NULL as a real group,
    # and the sketch candidate phase carries it (xxhash64 hashes the
    # NULL row to a seed-stable cell) — but an equality semi-join
    # silently dropped the NULL-key group even when it was heavy
    # (r12 skewdegen catch: 588 NULL-user events ≥ threshold).
    cand = candidates.withColumnRenamed(key_col, "__cand_key")
    return (
        df.join(
            F.broadcast(cand),
            F.col(key_col).eqNullSafe(F.col("__cand_key")),
            "left_semi",
        )
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= threshold)
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo_p: float = 0.05,
    hi_p: float = 0.95,
) -> DataFrame:
    """Per-group winsorized (clipped-at-percentile) statistics — the
    outlier-robust normalization step a feature pipeline runs before
    feeding scale-sensitive models.

    Percentiles are ``percentile_disc`` (an ACTUAL data element, no
    interpolation arithmetic), so every engine picks the identical clip
    bound; the clipped sum accumulates in decimal, so it is
    order-independent and hash-comparable across engines and
    partitionings. Two scans total: one per-group percentile aggregate
    (broadcast back), one clip-and-sum pass — never a per-row window.

    Output per group: the clip bounds, the exact decimal sum of clipped
    values, and how many rows were clipped at each end.
    """
    bounds = df.groupBy(group_col).agg(
        F.expr(
            f"percentile_disc({lo_p}) WITHIN GROUP (ORDER BY {value_col})"
        ).alias("p_lo"),
        F.expr(
            f"percentile_disc({hi_p}) WITHIN GROUP (ORDER BY {value_col})"
        ).alias("p_hi"),
    )
    v = F.col(value_col)
    clipped = F.greatest(F.col("p_lo"), F.least(F.col("p_hi"), v)).cast(
        "decimal(14,2)"
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.min("p_lo").cast("decimal(14,2)").alias("p_lo"),
            F.min("p_hi").cast("decimal(14,2)").alias("p_hi"),
            F.sum(clipped).alias("sum_clipped"),
            # coalesce the NULL comparison (all-NULL group → NULL clip
            # bounds, the skew⊕degen composed case) to 0 — the SQL
            # twin's CASE…ELSE 0 tallies 0, a bare NULL sum diverged
            # (r12 skewdegen catch)
            F.sum(
                F.coalesce((v < F.col("p_lo")).cast("long"), F.lit(0))
            ).alias("n_clipped_low"),
            F.sum(
                F.coalesce((v > F.col("p_hi")).cast("long"), F.lit(0))
            ).alias("n_clipped_high"),
        )
    )


@lifecycle.operator(release=False)
def robust_scale_stats(
    df: DataFrame,
    value_col: str,
    group_col: str,
    z_cut: float = 3.0,
) -> DataFrame:
    """Per-group MEDIAN/MAD robust-scaling statistics — the
    outlier-immune alternative to mean/stddev normalization (one wild
    value moves a mean arbitrarily; it moves a median not at all).

    Both statistics are ``percentile_disc`` picks of ACTUAL data
    elements (median of the values, then median of the absolute
    deviations), so every engine selects identical numbers with zero
    interpolation arithmetic; the deviation comparison for the outlier
    tally runs in exact decimal. Three scans total (median pass,
    MAD pass over deviations, tally pass) — each a broadcast-joined
    aggregate, never a per-row window.

    Output per group: n, med, mad, n_outliers (|x − med| > z_cut·mad;
    0 when mad = 0 — a degenerate group where scaling is undefined).
    """
    v = F.col(value_col).cast("decimal(14,2)")
    # The per-group median table is referenced by both the deviation
    # pass and the tally pass — persist it (group-cardinality rows) so
    # each reference reads the cache instead of re-running the median
    # aggregate over the fact table (r5 plan audit: 4 scans → the
    # documented 3-scan floor). The tally derives from the deviation
    # relation, which already carries med and |x − med|.
    med = (
        df.groupBy(group_col)
        .agg(
            F.expr(
                f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {value_col})"
            )
            .cast("decimal(14,2)")
            .alias("med")
        )
        .transform(lifecycle.persist)
    )
    devs = df.join(F.broadcast(med), group_col).select(
        group_col, "med", F.abs(v - F.col("med")).alias("__dev")
    )
    mad = devs.groupBy(group_col).agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __dev)").alias("mad")
    )
    z10 = int(round(z_cut * 10))
    result = (
        devs.join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").cast("double").alias("med"),
            F.min("mad").cast("double").alias("mad"),
            # exact-decimal comparison: 10·|x−med| > z10·mad (z given
            # to 0.1) — no doubles until the output projection; NULL
            # comparisons (all-NULL group → NULL med/mad, the
            # skew⊕degen composed case) tally as 0 like the twin's
            # CASE…ELSE 0 (r12 skewdegen catch)
            F.sum(
                F.coalesce(
                    (
                        (F.col("__dev") * 10 > F.col("mad") * z10)
                        & (F.col("mad") > 0)
                    ).cast("long"),
                    F.lit(0),
                )
            ).alias("n_outliers"),
        )
    )
    return result


def distribution_shift(
    df_a: DataFrame,
    df_b: DataFrame,
    category_col: str,
) -> DataFrame:
    """Categorical drift readout between two table slices (yesterday vs
    today, train vs incoming): per-category Laplace-smoothed
    probabilities, each category's KL contribution, and the summed
    KL(a‖b) / total-variation distance — the monitoring numbers a
    corpus pipeline alerts on when the source/language mix moves.

    Determinism across engines: probabilities and log terms are fixed
    double expressions (identical operation order), each per-category
    term is rounded to 6 dp, and the TOTALS are sums of the ROUNDED
    terms carried in decimal — order-independent, so the aggregate
    hashes identically on any partitioning. Two count aggregates
    (category-level, tiny) full-outer-joined, never a raw-row join.
    """
    counts_a = df_a.groupBy(category_col).agg(F.count(F.lit(1)).alias("n_a"))
    counts_b = df_b.groupBy(category_col).agg(F.count(F.lit(1)).alias("n_b"))
    cats = counts_a.join(counts_b, category_col, "full_outer").select(
        category_col,
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
    )
    # Totals and the final KL/TV sums come from single-partition WINDOWS
    # over the bounded category relation (one row per category) so the
    # whole computation is ONE plan chain. The earlier totals/sums
    # crossJoin shape referenced `cats` and `terms` twice each, and the
    # r5 plan audit showed Catalyst re-expanding every reference into
    # its own pair of input scans (8 total; per-branch pruning defeats
    # exchange reuse). Two input scans — one per slice — remain.
    from pyspark.sql import Window as _W

    whole = _W.partitionBy()
    enriched = cats.select(
        category_col,
        "n_a",
        "n_b",
        F.sum("n_a").over(whole).alias("__ta"),
        F.sum("n_b").over(whole).alias("__tb"),
        F.count(F.lit(1)).over(whole).alias("__k"),
    )
    p_a = (F.col("n_a") + 1).cast("double") / (F.col("__ta") + F.col("__k"))
    p_b = (F.col("n_b") + 1).cast("double") / (F.col("__tb") + F.col("__k"))
    kl_term = F.round(p_a * F.log(p_a / p_b), 6)
    tv_term = F.round(F.abs(p_a - p_b) / 2, 6)
    terms = enriched.select(
        category_col,
        "n_a",
        "n_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        kl_term.alias("kl_term"),
        tv_term.alias("tv_term"),
    )
    return terms.select(
        "*",
        F.sum(F.col("kl_term").cast("decimal(18,6)"))
        .over(whole)
        .cast("double")
        .alias("total_kl"),
        F.sum(F.col("tv_term").cast("decimal(18,6)"))
        .over(whole)
        .cast("double")
        .alias("total_tv"),
    )


def categorical_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy (bits) and distinct count per categorical column
    — the screening statistic for feature selection and drift baselines
    (a column whose entropy collapses overnight stopped carrying
    information).

    One scan per column-value aggregate (unpivoted into (column, value)
    first, so ALL columns share a single groupBy pass); the entropy sum
    runs over round-6 per-value terms carried in decimal — order-
    independent, engine-identical. NULL is counted as its own category
    (missingness is information).
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00null")).alias(
                            "val"
                        ),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.*")
    counts = pairs.groupBy("col_name", "val").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("col_name").agg(
        F.sum("n").alias("__total"), F.count(F.lit(1)).alias("n_distinct")
    )
    p = F.col("n").cast("double") / F.col("__total")
    term = F.round(-p * F.log2(p), 6)
    return (
        counts.join(F.broadcast(totals), "col_name")
        .select("col_name", "n_distinct", term.alias("__t"))
        .groupBy("col_name", "n_distinct")
        .agg(
            F.sum(F.col("__t").cast("decimal(18,6)"))
            .cast("double")
            .alias("entropy_bits")
        )
    )


def join_size_estimate(
    left: DataFrame, right: DataFrame, left_key: str, right_key: str
) -> DataFrame:
    """EXACT output cardinality of ``left ⋈ right`` WITHOUT running the
    join: Σ_k count_left(k) · count_right(k) over the key-count tables —
    the pre-flight check before a 100 TB join that tells you whether
    you are about to produce 10⁹ or 10¹⁵ rows (a key-multiplicity
    mistake is the most common way a pipeline ODs a cluster).

    Cost: one map-side-combined count per side (key-cardinality-sized
    relations), one equi-join of the COUNTS — never the payloads. Also
    reports the heaviest key's contribution, the number of matching
    keys, and each side's row count for fan-out ratios.
    """
    lc = left.groupBy(F.col(left_key).alias("__k")).agg(
        F.count(F.lit(1)).alias("__nl")
    )
    rc = right.groupBy(F.col(right_key).alias("__k")).agg(
        F.count(F.lit(1)).alias("__nr")
    )
    per_key = lc.join(rc, "__k").select(
        "__k", (F.col("__nl") * F.col("__nr")).alias("__out")
    )
    totals_l = left.agg(F.count(F.lit(1)).alias("n_left"))
    totals_r = right.agg(F.count(F.lit(1)).alias("n_right"))
    return (
        per_key.agg(
            F.coalesce(F.sum("__out"), F.lit(0)).alias("n_join_rows"),
            F.count(F.lit(1)).alias("n_matching_keys"),
            F.coalesce(F.max("__out"), F.lit(0)).alias("max_key_rows"),
        )
        .crossJoin(F.broadcast(totals_l))
        .crossJoin(F.broadcast(totals_r))
    )


def embedding_norm_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Embedding-quality profile: vector count, dimension, mean/min/max
    L2 norm, and the norm of the MEAN vector — the anisotropy smell
    test (a mean-vector norm close to the mean norm means all vectors
    point the same way and cosine similarity has collapsed).

    Norms are per-row array folds (no shuffle); the mean vector comes
    from per-dimension sums via posexplode + groupBy (one shuffle of
    dim-sized rows). Per-row norms round to 6 dp before the decimal-
    carried aggregate so results are order-independent.
    """
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    per_row = df.select(
        norm.alias("__norm"), F.size(vec_col).alias("__dim")
    )
    base = per_row.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.max("__dim").alias("dim"),
        F.round(
            F.sum(F.col("__norm").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_norm"),
        F.min("__norm").alias("min_norm"),
        F.max("__norm").alias("max_norm"),
    )
    dims = df.select(
        F.posexplode(F.col(vec_col)).alias("__i", "__x")
    ).groupBy("__i").agg(
        F.round(F.sum(F.col("__x").cast("decimal(28,8)")).cast("double"), 6).alias(
            "__s"
        ),
        F.count(F.lit(1)).alias("__n"),
    )
    mean_vec_norm = dims.agg(
        F.round(
            F.sqrt(
                F.sum(
                    F.round(
                        (F.col("__s") / F.col("__n"))
                        * (F.col("__s") / F.col("__n")),
                        8,
                    ).cast("decimal(28,8)")
                ).cast("double")
            ),
            6,
        ).alias("mean_vector_norm")
    )
    return base.crossJoin(F.broadcast(mean_vec_norm))


def loo_target_encoding(
    df: DataFrame, key_col: str, group_col: str, value_col: str
) -> DataFrame:
    """Leave-one-out target encoding: each row's category mean computed
    EXCLUDING the row itself — (Σ_group − x)/(n_group − 1) — the
    standard leakage-free categorical encoder for tree/linear models
    (a plain group mean leaks each row's own target into its feature).

    One window over the group (no self-join): the group sum rides
    decimal, the LOO mean is a fixed double sequence, singleton groups
    surface NULL explicitly. Shuffle = one exchange on the group key.
    """
    v = F.col(value_col).cast("decimal(18,2)")
    w = Window.partitionBy(group_col)
    s = F.sum(v).over(w)
    n = F.count(F.lit(1)).over(w)
    loo = (s - v).cast("double") / (n - F.lit(1))
    return df.select(
        F.col(key_col),
        F.col(group_col),
        F.col(value_col).cast("double").alias(value_col),
        F.when(n > 1, F.round(loo, 6)).alias("loo_mean"),
    )


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual information between two categorical columns in nats —
    the dependence profile a schema-audit runs to find redundant or
    leaking columns (MI ≈ H means one column determines the other;
    ≈ 0 means independent).

    Exact recipe (the repo's log-term rule): each cell's
    p·ln(p/(px·py)) term computes as a fixed double sequence from
    integer counts, rounds to 6 dp, and sums as decimal — order
    independent, engine-identical. Three tiny aggregates over one scan
    (cells, x-marginals, y-marginals joined back on the cell relation).
    """
    from pyspark.sql import Window as _W

    # Marginals and the total are WINDOWS over the bounded cell relation
    # (|x|·|y| rows) — one plan chain, ONE fact scan (the join-back
    # shape referenced `cells` four times; each reference re-expanded
    # into its own scan — r5 plan audit).
    cells = (
        df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("nxy"))
    )
    n = F.col("n").cast("double")
    term = (
        (F.col("nxy") / n)
        * F.log(
            (F.col("nxy").cast("double") * n)
            / (F.col("nx").cast("double") * F.col("ny").cast("double"))
        )
    )
    joined = cells.select(
        "nxy",
        F.sum("nxy").over(_W.partitionBy("x")).alias("nx"),
        F.sum("nxy").over(_W.partitionBy("y")).alias("ny"),
        F.sum("nxy").over(_W.partitionBy()).alias("n"),
    )
    return joined.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.round(term, 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("mi_nats"),
    )


@lifecycle.operator
def cohens_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's κ agreement between two categorical labelings of the same
    rows (Cohen 1960) — the inter-annotator / model-vs-heuristic
    agreement statistic a labeling pipeline reports before trusting
    either source: κ = (p_o − p_e)/(1 − p_e), chance-corrected via the
    marginal product p_e = Σ_c p_a(c)·p_b(c).

    Rows with NULL in either column are excluded up front (explicit
    contract — NULL-join semantics would otherwise drop marginal mass
    differently from the diagonal mass).

    Scale shape: ONE corpus scan collapses to the |A|·|B| cell-count
    relation (persisted — p_o needs its diagonal, p_e needs both
    marginals, and without the persist each reference re-expands into
    its own full scan). Marginals are tiny groupBys of the cells joined
    full-outer on class; everything after the first aggregate is
    bounded by label-set size, not data size."""
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("nab"))
        .transform(lifecycle.persist)
    )
    cells.count()
    ma = cells.groupBy(F.col("a").alias("cls")).agg(F.sum("nab").alias("na"))
    mb = cells.groupBy(F.col("b").alias("cls")).agg(F.sum("nab").alias("nb"))
    marg = ma.join(mb, "cls", "full_outer").select(
        F.coalesce(F.col("na"), F.lit(0)).alias("na"),
        F.coalesce(F.col("nb"), F.lit(0)).alias("nb"),
    )
    totals = cells.agg(
        F.sum("nab").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("nab")).otherwise(F.lit(0)))
        .alias("n_agree"),
    )
    pe_num = marg.agg(
        F.sum((F.col("na") * F.col("nb")).cast("decimal(28,0)")).alias("pe_num")
    )
    n = F.col("n").cast("double")
    po = F.col("n_agree").cast("double") / n
    pe = F.col("pe_num").cast("double") / (n * n)
    result = totals.crossJoin(F.broadcast(pe_num)).select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_agree").cast("long").alias("n_agree"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(pe < 1.0, F.round((po - pe) / (F.lit(1.0) - pe), 6)).alias("kappa"),
    )
    return result


def chi2_drift(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Chi-square homogeneity statistic between even- and odd-day event
    type distributions — the drift alarm for "did the event mix change?"
    that a mean/volume check misses. (Day parity is the deterministic
    stand-in for week-over-week; the statistic's shape is identical.)

    Counts are exact integers; each cell's (obs−exp)²/exp term is a
    fixed double sequence rounded to 6 dp and decimal-summed. One
    map-side-combinable aggregate over the scan; everything after runs
    on |types|×2 rows.
    """
    parity = F.expr(f"unix_micros({ts_col}) div {86_400 * 1_000_000}") % 2
    from pyspark.sql import Window as _W

    # Same windows-over-cells shape as mutual_information: marginals
    # come from the |types|×2 cell relation in one chain — one scan.
    cells = (
        df.select(F.col(type_col).alias("t"), parity.cast("int").alias("p"))
        .groupBy("t", "p")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.col("n").cast("double")
    joined = cells.select(
        "c",
        F.sum("c").over(_W.partitionBy("t")).alias("ct"),
        F.sum("c").over(_W.partitionBy("p")).alias("cp"),
        F.sum("c").over(_W.partitionBy()).alias("n"),
    )
    exp = F.col("ct").cast("double") * F.col("cp").cast("double") / n
    term = (F.col("c") - exp) * (F.col("c") - exp) / exp
    return joined.agg(
        F.max("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.round(term, 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("chi2"),
    )


def numeric_corr_matrix(
    df: DataFrame, cols: list[str]
) -> DataFrame:
    """Pairwise Pearson correlations over numeric columns in ONE scan:
    all component sums (n, Σx, Σx², Σxy for every pair) accumulate in a
    single map-side-combinable aggregate — the profiling step that
    flags redundant measures before feature selection. With k columns
    the aggregate carries k(k+3)/2 + 1 cells; the correlation itself is
    a fixed double sequence from exact decimal sums, rounded to 6 dp.
    Constant columns yield NULL (undefined), not a division artifact.
    """
    d6 = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(d6(c)).alias(f"s_{c}"))
        aggs.append(F.sum((d6(c) * d6(c)).cast("decimal(38,8)")).alias(f"ss_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(
            F.sum((d6(a) * d6(b)).cast("decimal(38,8)")).alias(f"sp_{a}_{b}")
        )
    wide = df.agg(*aggs)

    def corr_expr(a: str, b: str):
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sab = F.col(f"sp_{a}_{b}").cast("double")
        va = n * ssa - sa * sa
        vb = n * ssb - sb * sb
        return F.when(
            (va > 0) & (vb > 0),
            F.round((n * sab - sa * sb) / (F.sqrt(va) * F.sqrt(vb)), 6),
        )

    structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                corr_expr(a, b).alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return wide.select(F.explode(structs).alias("p")).select(
        "p.col_a", "p.col_b", "p.corr"
    )


def shipping_sla_report(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Order-to-ship SLA distribution per priority: exact integer day
    deltas between each line's ship date and its order's date, reduced
    to count / p50 / p90 (percentile_disc — actual elements, engine-
    identical) / max / late share (> 90 days). The join is the standard
    orderkey equi-join; deltas shuffle as one BIGINT per line.
    """
    o = orders.select(
        F.col("o_orderkey").alias("ok"),
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").alias("od"),
        "o_orderpriority",
    )
    l = lineitem.select(
        F.col("l_orderkey").alias("ok"),
        F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").alias("sd"),
    )
    sla = l.join(o, "ok").select(
        "o_orderpriority", (F.col("sd") - F.col("od")).alias("days")
    )
    return sla.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY days)")
        .cast("long")
        .alias("p50_days"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY days)")
        .cast("long")
        .alias("p90_days"),
        F.max("days").alias("max_days"),
        F.round(
            F.sum(F.when(F.col("days") > 90, 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("late_share"),
    )


def psi_value_drift(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between even- and odd-day value
    distributions — the standard ML-ops drift score for NUMERIC
    features (chi2_drift's categorical sibling). Bins are the GLOBAL
    distribution's exact deciles (percentile_disc picks — actual
    elements), so both populations are binned identically; each bin's
    (p_a − p_b)·ln(p_a/p_b) term follows the repo's rounded
    decimal-sum recipe. Empty bins on either side are excluded
    explicitly (their PSI term is undefined) and reported in n_bins_used.

    Two passes: one tiny percentile aggregate (broadcast as an array
    literal is avoided — the cut array rides a one-row cross join), one
    binned count aggregate.
    """
    us_day = F.expr(f"unix_micros({ts_col}) div {86_400 * 1_000_000}")
    v = F.col(value_col).cast("double")
    qs = [i / n_bins for i in range(1, n_bins)]
    cuts = df.agg(
        F.expr(
            f"array({', '.join(f'percentile_disc({q}) WITHIN GROUP (ORDER BY {value_col})' for q in qs)})"
        ).alias("cuts")
    )
    tagged = df.select(
        (us_day % 2).cast("int").alias("p"), v.alias("__v")
    ).crossJoin(F.broadcast(cuts))
    # bin index = number of cut points <= v (0..n_bins-1)
    bin_idx = F.aggregate(
        F.col("cuts"),
        F.lit(0),
        lambda acc, c: acc + F.when(F.col("__v") > c, 1).otherwise(0),
    )
    cells = (
        tagged.select("p", bin_idx.alias("bin"))
        .groupBy("p", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Per-side totals and the global denominators come from WINDOWS over
    # the bounded cell/bin aggregates (≤ 2·n_bins rows), not from
    # re-referencing the aggregate in a join — the r5 plan audit showed
    # each such reference re-expanding into a full fact scan (8 scans
    # total; per-branch pruning defeats exchange reuse). Two fact scans
    # remain: the percentile pass and the binned count pass — the
    # algorithm's floor.
    from pyspark.sql import Window as _W

    cells2 = cells.select(
        "p", "bin", "c", F.sum("c").over(_W.partitionBy("p")).alias("tp")
    )
    wide = (
        cells2.select(
            "bin",
            F.when(F.col("p") == 0, F.col("c")).alias("c0"),
            F.when(F.col("p") == 1, F.col("c")).alias("c1"),
            F.when(F.col("p") == 0, F.col("tp")).alias("t0"),
            F.when(F.col("p") == 1, F.col("tp")).alias("t1"),
        )
        .groupBy("bin")
        .agg(
            F.sum("c0").alias("c0"),
            F.sum("c1").alias("c1"),
            F.max("t0").alias("t0"),
            F.max("t1").alias("t1"),
        )
    )
    whole = _W.partitionBy()
    both = wide.select(
        "*",
        F.max("t0").over(whole).alias("ta"),
        F.max("t1").over(whole).alias("tb"),
    ).filter(F.col("c0").isNotNull() & F.col("c1").isNotNull())
    pa = F.col("c0").cast("double") / F.col("ta")
    pb = F.col("c1").cast("double") / F.col("tb")
    term = (pa - pb) * F.log(pa / pb)
    return both.agg(
        F.count(F.lit(1)).alias("n_bins_used"),
        F.sum(F.round(term, 6).cast("decimal(18,6)")).cast("double").alias("psi"),
    )


def categorical_split_gain(
    df: DataFrame, cat_col: str, flag_expr
) -> DataFrame:
    """Information gain AND Gini gain of splitting a binary target by
    a categorical column — the two decision-tree split criteria as a
    one-row feature-usefulness score (the categorical companion to
    ``decision_stump``'s numeric threshold search).

    One conditional-count shuffle to the k-row category relation;
    parent/child impurities fold with the round-6 decimal log recipe.
    Output one row: (n, k_categories, parent_entropy, info_gain,
    parent_gini, gini_gain)."""
    from pyspark.sql import Window as _W

    y = flag_expr.cast("int")
    per_c = (
        df.filter(F.col(cat_col).isNotNull())
        .groupBy(F.col(cat_col).alias("c"))
        .agg(F.count(F.lit(1)).alias("n_c"), F.sum(y).alias("y_c"))
    )
    w = _W.partitionBy()
    t = per_c.select(
        "c",
        "n_c",
        "y_c",
        F.sum("n_c").over(w).alias("n"),
        F.sum("y_c").over(w).alias("yt"),
    )
    nc = F.col("n_c").cast("double")
    p1 = F.col("y_c").cast("double") / nc
    p0 = F.lit(1.0) - p1

    def ent(p):
        return F.when((p > 0), -p * F.log(p)).otherwise(F.lit(0.0))

    child_h = F.round(
        nc / F.col("n").cast("double") * (ent(p1) + ent(p0)), 6
    ).cast("decimal(18,6)")
    child_g = F.round(
        nc
        / F.col("n").cast("double")
        * (F.lit(1.0) - p1 * p1 - p0 * p0),
        6,
    ).cast("decimal(18,6)")
    folded = t.agg(
        F.max("n").alias("n"),
        F.max("yt").alias("yt"),
        F.count(F.lit(1)).alias("k"),
        F.sum(child_h).alias("ch"),
        F.sum(child_g).alias("cg"),
    )
    n = F.col("n").cast("double")
    pp = F.col("yt").cast("double") / n
    pq = F.lit(1.0) - pp
    parent_h = (
        F.when(pp > 0, -pp * F.log(pp)).otherwise(F.lit(0.0))
        + F.when(pq > 0, -pq * F.log(pq)).otherwise(F.lit(0.0))
    )
    parent_g = F.lit(1.0) - pp * pp - pq * pq
    return folded.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k_categories"),
        F.round(parent_h, 6).alias("parent_entropy"),
        F.round(parent_h - F.col("ch").cast("double"), 6).alias(
            "info_gain"
        ),
        F.round(parent_g, 6).alias("parent_gini"),
        F.round(parent_g - F.col("cg").cast("double"), 6).alias(
            "gini_gain"
        ),
    )


@lifecycle.operator
def concentration_ratios(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ks: tuple = (4, 8, 20),
) -> DataFrame:
    """CR-k concentration ratios: the share of total value held by the
    top k keys (CR4/CR8 are the antitrust classics; CR20 reads the
    head of a corpus) — the "how whale-dominated is this" number that
    complements Gini's whole-curve view.

    Per-key exact decimal totals; the top-k read is a
    TakeOrderedAndProject over (total desc, key) — deterministic ties,
    no global sort materialized; the grand total folds separately.
    Output one row per k: (k, n_keys, total_value, top_share)."""
    from .hypotests import dec_double_wide_frac, quantized_money

    per_key = (
        df.filter(F.col(key_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("k"))
        .agg(F.sum(quantized_money(F.col(value_col))).alias("r"))
        .transform(lifecycle.persist)
    )
    per_key.count()
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("r").cast("decimal(38,2)")).alias("total"),
    )
    kmax = max(ks)
    top = (
        per_key.orderBy(F.col("r").desc(), F.col("k"))
        .limit(kmax)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("r").desc(), F.col("k")))
            .alias("rank"),
            "r",
        )
    )
    parts = []
    for k in ks:
        parts.append(
            top.filter(F.col("rank") <= k).agg(
                F.lit(int(k)).alias("k"),
                F.sum(F.col("r").cast("decimal(38,2)")).alias("top_sum"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionAll(p)
    result = allp.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("long").alias("k"),
        F.col("n_keys").cast("long").alias("n_keys"),
        dec_double_wide_frac(F.col("total")).alias("total_value"),
        F.when(
            F.col("total") > 0,
            F.round(
                dec_double_wide_frac(F.col("top_sum"))
                / dec_double_wide_frac(F.col("total")),
                6,
            ),
        ).alias("top_share"),
    )
    return result


@lifecycle.operator
def hill_tail_index(
    df: DataFrame, value_col: str, k: int = 100
) -> DataFrame:
    """Hill estimator of the power-law tail index over the top-k order
    statistics: α̂ = k / Σᵢ ln(x_(i)/x_(k+1)) — the standard "how heavy
    is this tail really" number deciding whether means/variances are
    even meaningful for a metric.

    The top k+1 values ride one TakeOrderedAndProject (bounded k, no
    global sort); the log-spacing fold uses the round-6 decimal
    recipe. Output one row: (n, k, x_k1, hill_alpha)."""
    from pyspark.sql import Window as _W

    base = df.filter(F.col(value_col) > 0).select(
        F.col(value_col).cast("double").alias("x")
    )
    nn = base.agg(F.count(F.lit(1)).alias("n"))
    top = (
        base.orderBy(F.col("x").desc())
        .limit(k + 1)
        .select(
            F.row_number().over(_W.orderBy(F.col("x").desc())).alias("rank"),
            "x",
        )
        .transform(lifecycle.persist)
    )
    top.count()
    # Aggregate (not filter) so xk1 is ALWAYS one row: when the
    # positive-value count is <= k there is no rank k+1 and a filter
    # would yield zero rows, annihilating the final crossJoins — the
    # operator must emit its documented single row (with NULL x_k1 /
    # hill_alpha) instead of vanishing.
    xk1 = top.agg(
        F.max(F.when(F.col("rank") == k + 1, F.col("x"))).alias("xk1")
    )
    lsum = (
        top.filter(F.col("rank") <= k)
        .crossJoin(F.broadcast(xk1))
        .agg(
            F.sum(
                F.round(F.log(F.col("x") / F.col("xk1")), 6).cast(
                    "decimal(18,6)"
                )
            ).alias("ls")
        )
    )
    ls = F.col("ls").cast("double")
    result = (
        lsum.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(xk1))
        .select(
            F.col("n").cast("long").alias("n"),
            F.lit(int(k)).cast("long").alias("k"),
            F.col("xk1").alias("x_k1"),
            F.when(ls > 0, F.round(F.lit(float(k)) / ls, 6)).alias(
                "hill_alpha"
            ),
        )
    )
    return result


def ranking_stability(
    df: DataFrame,
    key_col: str,
    value_a,
    value_b,
) -> DataFrame:
    """Kendall tau-distance between two rankings of the same BOUNDED
    key set (e.g. nations ranked by revenue vs by order count) — do
    the two metrics tell the same story about who is on top?
    τ = 1 − 4·D/(n(n−1)) with D the discordant pair count.

    One aggregation to the k-row key relation (two exact decimal
    metric totals per key), then the k²-bounded pair self-join counts
    discordances exactly (ties in either metric count half). Output
    one row: (n_keys, n_discordant2, kendall_tau)."""
    d19 = "decimal(19,0)"
    per_key = df.filter(F.col(key_col).isNotNull()).groupBy(
        F.col(key_col).alias("k")
    ).agg(
        value_a.alias("ma"),
        value_b.alias("mb"),
    )
    a = per_key.select(
        F.col("k").alias("k1"), F.col("ma").alias("a1"), F.col("mb").alias("b1")
    )
    b = per_key.select(
        F.col("k").alias("k2"), F.col("ma").alias("a2"), F.col("mb").alias("b2")
    )
    # explicit broadcast: the k-row key relation is bounded by
    # contract, and without the hint the non-equi self-join can plan
    # as CartesianProduct (banned by the plans/audit.py rule — a BNLJ
    # with an aggregate-rooted build side is the sanctioned shape)
    pairs = a.join(F.broadcast(b), F.col("k1") < F.col("k2"))
    # Half-tie convention: penalty 1 only for pairs tied in EXACTLY
    # one metric. A pair tied in BOTH metrics is full agreement (the
    # two rankings treat it identically) and must score 0 — counting
    # it half-discordant would bias tau downward on duplicate values.
    disc2 = F.when(
        ((F.col("a1") < F.col("a2")) & (F.col("b1") > F.col("b2")))
        | ((F.col("a1") > F.col("a2")) & (F.col("b1") < F.col("b2"))),
        F.lit(2),
    ).when(
        (F.col("a1") == F.col("a2")) & (F.col("b1") == F.col("b2")),
        F.lit(0),
    ).when(
        (F.col("a1") == F.col("a2")) | (F.col("b1") == F.col("b2")),
        F.lit(1),
    ).otherwise(F.lit(0))
    folded = pairs.agg(
        F.sum(disc2.cast(d19)).alias("d2"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    kk = per_key.agg(F.count(F.lit(1)).alias("n_keys"))
    n = F.col("n_keys").cast("double")
    tau = F.lit(1.0) - F.lit(4.0) * (
        F.col("d2").cast("double") / F.lit(2.0)
    ) / (n * (n - F.lit(1.0)))
    return folded.crossJoin(F.broadcast(kk)).select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("d2").cast("long").alias("n_discordant2"),
        F.when(F.col("n_keys") > 1, F.round(tau, 6)).alias("kendall_tau"),
    )


def cronbach_alpha(df: DataFrame, item_cols: list) -> DataFrame:
    """Cronbach's α internal-consistency coefficient across k item
    columns measured on the same rows: α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total)
    with σ²_total the variance of the per-row item SUM — the standard
    "do these k signals measure one underlying thing" check (e.g. k
    quality sub-scores that are supposed to agree before being
    averaged into one filter score).

    ONE map-combinable aggregate carries all k item sums, k item
    square-sums, and the total's moments as exact decimals (the
    quantized-money grid); sample variances materialize from the
    portable wide-split doubles. Rows with ANY null item are excluded
    (listwise deletion — the classical convention). Output one row:
    (n, k_items, alpha)."""
    from .hypotests import dec_double_wide_frac, quantized_money

    k = len(item_cols)
    keep = None
    for c in item_cols:
        cond = F.col(c).isNotNull()
        keep = cond if keep is None else (keep & cond)
    items = [quantized_money(F.col(c)).alias(f"x{i}")
             for i, c in enumerate(item_cols)]
    base = df.filter(keep).select(*items)
    tot = None
    for i in range(k):
        c = F.col(f"x{i}")
        tot = c if tot is None else tot + c
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(k):
        c = F.col(f"x{i}")
        aggs.append(F.sum(c.cast("decimal(38,2)")).alias(f"s{i}"))
        aggs.append(F.sum((c * c).cast("decimal(38,4)")).alias(f"q{i}"))
    t = tot.cast("decimal(18,2)")
    aggs.append(F.sum(t.cast("decimal(38,2)")).alias("st"))
    aggs.append(F.sum((t * t).cast("decimal(38,4)")).alias("qt"))
    folded = base.agg(*aggs)
    n = F.col("n").cast("double")

    def svar(s, q):
        sd = dec_double_wide_frac(F.col(s))
        qd = dec_double_wide_frac(F.col(q))
        return (qd - sd * sd / n) / (n - F.lit(1.0))

    item_var_sum = None
    for i in range(k):
        v = svar(f"s{i}", f"q{i}")
        item_var_sum = v if item_var_sum is None else item_var_sum + v
    total_var = svar("st", "qt")
    alpha = (
        F.lit(float(k) / (k - 1.0))
        * (F.lit(1.0) - item_var_sum / total_var)
    )
    return folded.select(
        F.col("n").cast("long").alias("n"),
        F.lit(k).cast("long").alias("k_items"),
        F.when((F.col("n") > 1) & (total_var > 0), F.round(alpha, 6)).alias(
            "alpha"
        ),
    )


@lifecycle.operator
def mcc_multiclass(df: DataFrame, true_col: str, pred_col: str) -> DataFrame:
    """Multiclass Matthews correlation coefficient (Gorodkin's R_K)
    from the true×pred contingency: MCC = (c·s − Σ_k t_k·p_k) /
    √((s² − Σp²)(s² − Σt²)) with c = correct, s = total, t_k/p_k the
    true/pred marginals — the single-number classifier score that
    (unlike accuracy) stays honest under class imbalance, and (unlike
    cohens_kappa's chance model) is a true correlation in [−1, 1].

    One contingency aggregate over the fact rows; the marginal folds
    run on the bounded k²-cell relation in exact decimal integers.
    Output one row: (n, n_classes, accuracy, mcc)."""
    d19 = "decimal(19,0)"
    d38 = "decimal(38,0)"
    cells = (
        df.filter(F.col(true_col).isNotNull() & F.col(pred_col).isNotNull())
        .groupBy(
            F.col(true_col).alias("t"), F.col(pred_col).alias("p")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(lifecycle.persist)
    )
    cells.count()
    tm = cells.groupBy("t").agg(F.sum("c").alias("tk"))
    pm = cells.groupBy("p").agg(F.sum("c").alias("pk"))
    joint = tm.join(pm, tm.t == pm.p, "full_outer").select(
        F.coalesce(F.col("tk"), F.lit(0)).alias("tk"),
        F.coalesce(F.col("pk"), F.lit(0)).alias("pk"),
    )
    marg = joint.agg(
        F.sum("tk").alias("s"),
        F.count(F.lit(1)).alias("k"),
        F.sum((F.col("tk").cast(d19) * F.col("pk").cast(d19)).cast(d38)).alias(
            "tp"
        ),
        F.sum((F.col("tk").cast(d19) * F.col("tk").cast(d19)).cast(d38)).alias(
            "t2"
        ),
        F.sum((F.col("pk").cast(d19) * F.col("pk").cast(d19)).cast(d38)).alias(
            "p2"
        ),
    )
    diag = cells.agg(
        F.sum(F.when(F.col("t") == F.col("p"), F.col("c")).otherwise(0)).alias(
            "corr"
        )
    )
    from .hypotests import dec_double_wide

    s = F.col("s").cast("double")
    c = F.col("corr").cast("double")
    tp = dec_double_wide(F.col("tp"))
    t2 = dec_double_wide(F.col("t2"))
    p2 = dec_double_wide(F.col("p2"))
    denom = F.sqrt(s * s - p2) * F.sqrt(s * s - t2)
    result = diag.crossJoin(F.broadcast(marg)).select(
        F.col("s").cast("long").alias("n"),
        F.col("k").cast("long").alias("n_classes"),
        F.when(F.col("s") > 0, F.round(c / s, 6)).alias("accuracy"),
        F.when(
            (F.col("s") > 0) & (denom > 0),
            F.round((c * s - tp) / denom, 6),
        ).alias("mcc"),
    )
    return result


def kendalls_w(df: DataFrame, key_col: str, metrics: list) -> DataFrame:
    """Kendall's W coefficient of concordance across m "judges" (metric
    aggregates) ranking the same BOUNDED key set — the k-ranking
    generalization of ``ranking_stability``'s pairwise tau: W = 1
    means every metric orders the keys identically, 0 means no
    agreement. Tie-corrected: W = 12·S / (m²(n³−n) − m·ΣT_j) with
    midranks and T_j = Σ(t³−t) over each judge's tie groups.

    One aggregation to the n-row key relation, then rank windows over
    that bounded relation only (the ranking_stability k²-bound
    contract). EVERYTHING is exact integers: doubled midranks
    2R = 2·rank + eq − 1, deviation sum S4 = Σ(Σ_j 2R_ij − m(n+1))²,
    W = 3·S4 / (m²(n³−n) − m·ΣT). Output one row:
    (n_keys, m_judges, kendall_w)."""
    d19 = "decimal(19,0)"
    d38 = "decimal(38,0)"
    m = len(metrics)
    per_key = df.filter(F.col(key_col).isNotNull()).groupBy(
        F.col(key_col).alias("k")
    ).agg(*[mm.alias(f"m{j}") for j, mm in enumerate(metrics)])
    # a NULL metric aggregate must not enter any ranking: Spark's
    # window sort puts NULLs FIRST, DuckDB's LAST — a silent
    # engine-divergence if a judge is NULL for some key (e.g. sum of
    # an all-NULL group). Listwise-drop such keys, mirrored in the
    # SQL twin.
    notnull = None
    for j in range(m):
        cond = F.col(f"m{j}").isNotNull()
        notnull = cond if notnull is None else (notnull & cond)
    per_key = per_key.filter(notnull)
    ranked = per_key
    for j in range(m):
        ranked = ranked.withColumn(
            f"r2_{j}",
            F.lit(2) * F.rank().over(Window.orderBy(f"m{j}"))
            + F.count(F.lit(1)).over(Window.partitionBy(f"m{j}"))
            - F.lit(1),
        )
    rsum = None
    for j in range(m):
        c = F.col(f"r2_{j}")
        rsum = c if rsum is None else rsum + c
    dev = rsum.cast("long") - F.lit(m) * (F.col("__nk") + 1)
    kk = ranked.select(
        "*", F.count(F.lit(1)).over(Window.partitionBy()).alias("__nk")
    )
    s4 = kk.agg(
        F.max("__nk").alias("n"),
        F.sum((dev.cast(d19) * dev.cast(d19)).cast(d38)).alias("s4"),
    )
    ties = None
    for j in range(m):
        tj = (
            per_key.groupBy(f"m{j}")
            .agg(F.count(F.lit(1)).alias("t"))
            .agg(
                F.sum(
                    (
                        F.col("t").cast(d19) * F.col("t") * F.col("t")
                        - F.col("t")
                    ).cast(d38)
                ).alias("tsum")
            )
        )
        ties = tj if ties is None else ties.unionAll(tj)
    tfold = ties.agg(F.sum("tsum").alias("tt"))
    from .hypotests import dec_double_wide

    n = F.col("n").cast("double")
    denom = (
        F.lit(float(m * m)) * (n * n * n - n)
        - F.lit(float(m)) * dec_double_wide(F.col("tt"))
    )
    return s4.crossJoin(F.broadcast(tfold)).select(
        F.col("n").cast("long").alias("n_keys"),
        F.lit(m).cast("long").alias("m_judges"),
        F.when(
            (F.col("n") > 1) & (denom > 0),
            F.round(F.lit(3.0) * dec_double_wide(F.col("s4")) / denom, 6),
        ).alias("kendall_w"),
    )


@lifecycle.operator
def rank_biased_overlap(
    df: DataFrame,
    key_col: str,
    metric_a,
    metric_b,
    k: int = 20,
    p: float = 0.9,
) -> DataFrame:
    """Truncated rank-biased overlap (Webber et al. 2010) between the
    top-k rankings two metrics induce on the same keys:
    RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·|A_{1..d} ∩ B_{1..d}|/d — the
    top-weighted agreement number search/recsys evaluation uses where
    Kendall's tau (which weighs all positions equally) misleads.

    Each list is a TakeOrderedAndProject (metric desc, key asc —
    deterministic ties); ranks come from windows over the k-row
    relations; a matched key at ranks (ra, rb) contributes to every
    depth d ≥ max(ra, rb), so the fold is one bounded
    matched×depth join. The p^{d−1}/d weights round to 12 dp on BOTH
    engines before the exact decimal term products (libm pow last-ulp
    drift can never flip a 12-dp rounding). Output one row:
    (k, n_matched, rbo)."""
    per_key = df.filter(F.col(key_col).isNotNull()).groupBy(
        F.col(key_col).alias("kk")
    ).agg(metric_a.alias("ma"), metric_b.alias("mb"))
    per_key = lifecycle.persist(per_key)
    per_key.count()

    def toplist(metric, rank_name):
        lst = (
            per_key.select("kk", metric)
            .orderBy(F.desc(metric), F.asc("kk"))
            .limit(k)
        )
        w = Window.orderBy(F.desc(metric), F.asc("kk"))
        return lst.select(
            "kk", F.row_number().over(w).alias(rank_name)
        )
    la = toplist("ma", "ra")
    lb = toplist("mb", "rb")
    matched = la.join(lb, "kk").select(
        F.greatest("ra", "rb").alias("m")
    )
    depths = per_key.sparkSession.range(1, k + 1).select(
        F.col("id").alias("d"),
        F.round(
            F.pow(F.lit(float(p)), F.col("id").cast("double") - F.lit(1.0))
            / F.col("id").cast("double"),
            12,
        ).cast("decimal(14,12)").alias("w"),
    )
    folded = (
        matched.join(F.broadcast(depths), F.col("d") >= F.col("m"))
        .agg(F.sum("w").alias("wsum"))
    )
    nm = matched.agg(F.count(F.lit(1)).alias("n_matched"))
    return folded.crossJoin(F.broadcast(nm)).select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_matched").cast("long").alias("n_matched"),
        F.round(
            F.lit(1.0 - float(p))
            * F.coalesce(F.col("wsum").cast("double"), F.lit(0.0)),
            6,
        ).alias("rbo"),
    )


def covariate_balance(
    df: DataFrame, treat_expr, covariates: list
) -> DataFrame:
    """Standardized-mean-difference balance table between a treatment
    flag and k covariates: SMD = (μ₁−μ₀)/√((s₁²+s₀²)/2) per covariate
    — the experiment-health check run BEFORE reading any A/B effect
    (|SMD| > 0.1 means the split is confounded and the effect
    estimate is not trustworthy).

    ONE map-combinable aggregate carries both arms' exact-decimal
    moments for every covariate (2k sums + 2k square-sums + 2
    counts); the k-row table materializes from a stack of the single
    aggregate row. Rows with a NULL covariate are excluded per
    covariate (pairwise deletion — each covariate's row reports its
    own arm sizes). Output per covariate:
    (covariate, n_treat, n_control, mean_treat, mean_control, smd)."""
    from .hypotests import dec_double_wide_frac, quantized_money

    t = treat_expr.cast("boolean")
    aggs = []
    for i, c in enumerate(covariates):
        v = quantized_money(F.col(c))
        for arm, cond in (("t", t), ("c", ~t)):
            w = F.when(cond & F.col(c).isNotNull(), v)
            aggs.extend(
                [
                    F.count(w).alias(f"n{arm}{i}"),
                    F.sum(w.cast("decimal(38,2)")).alias(f"s{arm}{i}"),
                    F.sum((w * w).cast("decimal(38,4)")).alias(f"q{arm}{i}"),
                ]
            )
    folded = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nt{i}, st{i}, qt{i}, nc{i}, sc{i}, qc{i}"
        for i, c in enumerate(covariates)
    )
    rows = folded.select(
        F.expr(
            f"stack({len(covariates)}, {stack_args}) as "
            "(covariate, nt, st, qt, nc, sc, qc)"
        )
    )

    def arm(nc, sc, qc):
        n = F.col(nc).cast("double")
        mu = dec_double_wide_frac(F.col(sc)) / n
        var = (
            dec_double_wide_frac(F.col(qc))
            - dec_double_wide_frac(F.col(sc)) * mu
        ) / (n - F.lit(1.0))
        return n, mu, var

    n1, mu1, v1 = arm("nt", "st", "qt")
    n0, mu0, v0 = arm("nc", "sc", "qc")
    pooled = F.sqrt(
        F.greatest((v1 + v0) / F.lit(2.0), F.lit(0.0))
    )
    ok = (F.col("nt") > 1) & (F.col("nc") > 1)
    return rows.select(
        "covariate",
        F.col("nt").cast("long").alias("n_treat"),
        F.col("nc").cast("long").alias("n_control"),
        F.when(F.col("nt") > 0, F.round(mu1, 6)).alias("mean_treat"),
        F.when(F.col("nc") > 0, F.round(mu0, 6)).alias("mean_control"),
        F.when(ok & (pooled > 0), F.round((mu1 - mu0) / pooled, 6)).alias(
            "smd"
        ),
    )


def bernstein_ci(
    df: DataFrame, value_col: str, delta: float = 0.05
) -> DataFrame:
    """Empirical-Bernstein confidence interval for the mean of a
    BOUNDED metric (Maurer & Pontil 2009): half-width =
    √(2·V·ln(3/δ)/n) + 3·R·ln(3/δ)/n with V the sample variance and
    R the observed range — variance-adaptive, so on low-variance
    metrics it is far tighter than Hoeffding at the same n. The CI a
    data-quality monitor or bandit evaluator attaches to a sampled
    mean before alerting on drift.

    One exact-decimal moment pass (sum, sum of squares, min, max);
    ln(3/δ) enters as a 12-dp literal so both engines use the
    identical constant. Output one row:
    (n, mean_value, value_range, half_width, ci_lo, ci_hi)."""
    import math

    from .hypotests import dec_double_wide_frac, quantized_money

    l3d = round(math.log(3.0 / delta), 12)
    v = quantized_money(F.col(value_col))
    mom = df.filter(F.col(value_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(38,2)")).alias("s"),
        F.sum((v * v).cast("decimal(38,4)")).alias("q"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )
    n = F.col("n").cast("double")
    mean = dec_double_wide_frac(F.col("s")) / n
    var = (
        dec_double_wide_frac(F.col("q"))
        - dec_double_wide_frac(F.col("s")) * mean
    ) / (n - F.lit(1.0))
    rng = (F.col("mx") - F.col("mn")).cast("double")
    half = F.sqrt(
        F.greatest(
            F.lit(2.0) * var * F.lit(l3d) / n, F.lit(0.0)
        )
    ) + F.lit(3.0) * rng * F.lit(l3d) / n
    ok = F.col("n") > 1
    return mom.select(
        F.col("n").cast("long").alias("n"),
        F.when(F.col("n") > 0, F.round(mean, 6)).alias("mean_value"),
        F.when(F.col("n") > 0, F.round(rng, 6)).alias("value_range"),
        F.when(ok, F.round(half, 6)).alias("half_width"),
        F.when(ok, F.round(mean - half, 6)).alias("ci_lo"),
        F.when(ok, F.round(mean + half, 6)).alias("ci_hi"),
    )


def join_key_profile(pairs: list) -> DataFrame:
    """Join-key discovery profile over CANDIDATE column pairs — the
    data-discovery numbers (Aurum/Spider-style inclusion-dependency
    mining) that tell a pipeline author whether two columns are
    joinable BEFORE any join is written, generalizing the known-FK
    orphan audit (``referential_integrity_audit``) to unlabeled
    candidates: per pair, both containment directions
    |A∩B|/|A| and |A∩B|/|B| (containment_ab = 1 ⇒ A ⊆ B, an inclusion
    dependency — B can serve as A's dimension), the distinct-set
    Jaccard, and each side's uniqueness (distinct/rows — is it a key).

    ``pairs`` is a BOUNDED caller list of (name, df_a, col_a, df_b,
    col_b) — the bounded-pair contract of the jonckheere group loop;
    each pair costs two distinct aggregations and one co-partitioned
    distinct-distinct join (never a row-level join), all unioned into
    one result. All-integer until the closing ratios. Output per pair:
    (pair, n_rows_a, n_distinct_a, n_rows_b, n_distinct_b,
    n_intersect, containment_ab, containment_ba, jaccard,
    uniqueness_a, uniqueness_b)."""
    outs = []
    for name, df_a, col_a, df_b, col_b in pairs:
        va = df_a.filter(F.col(col_a).isNotNull()).select(
            F.col(col_a).cast("string").alias("v")
        )
        vb = df_b.filter(F.col(col_b).isNotNull()).select(
            F.col(col_b).cast("string").alias("v")
        )
        da = va.groupBy("v").agg(F.count(F.lit(1)).alias("ra"))
        db = vb.groupBy("v").agg(F.count(F.lit(1)).alias("rb"))
        j = da.join(db, "v", "full_outer").agg(
            F.sum("ra").alias("n_rows_a"),
            F.count(F.col("ra")).alias("n_distinct_a"),
            F.sum("rb").alias("n_rows_b"),
            F.count(F.col("rb")).alias("n_distinct_b"),
            F.count(
                F.when(
                    F.col("ra").isNotNull() & F.col("rb").isNotNull(), 1
                )
            ).alias("n_intersect"),
        )
        outs.append(j.select(F.lit(name).alias("pair"), "*"))
    unioned = outs[0]
    for o in outs[1:]:
        unioned = unioned.unionByName(o)
    inter = F.col("n_intersect").cast("double")
    d_a = F.col("n_distinct_a").cast("double")
    d_b = F.col("n_distinct_b").cast("double")
    union_sz = d_a + d_b - inter
    return unioned.select(
        "pair",
        F.coalesce(F.col("n_rows_a"), F.lit(0)).cast("long").alias(
            "n_rows_a"
        ),
        F.col("n_distinct_a").cast("long").alias("n_distinct_a"),
        F.coalesce(F.col("n_rows_b"), F.lit(0)).cast("long").alias(
            "n_rows_b"
        ),
        F.col("n_distinct_b").cast("long").alias("n_distinct_b"),
        F.col("n_intersect").cast("long").alias("n_intersect"),
        F.when(d_a > 0, F.round(inter / d_a, 6)).alias("containment_ab"),
        F.when(d_b > 0, F.round(inter / d_b, 6)).alias("containment_ba"),
        F.when(union_sz > 0, F.round(inter / union_sz, 6)).alias(
            "jaccard"
        ),
        F.when(
            F.col("n_rows_a") > 0,
            F.round(d_a / F.col("n_rows_a").cast("double"), 6),
        ).alias("uniqueness_a"),
        F.when(
            F.col("n_rows_b") > 0,
            F.round(d_b / F.col("n_rows_b").cast("double"), 6),
        ).alias("uniqueness_b"),
    )


def wilson_ci_by_group(
    df: DataFrame,
    group_col: str,
    success_expr,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Wilson score confidence interval for a per-group proportion —
    the interval that behaves at p̂ ≈ 0/1 and small n where the naive
    Wald ±z√(p̂q̂/n) collapses to zero width or leaves [0,1]
    (Brown-Cai-DasGupta's recommendation): center = (p̂ + z²/2n)/(1 +
    z²/n), half-width = z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n).

    One map-combinable groupBy; all-integer counts into a fixed double
    sequence (z literal mirrored exactly). Output per group:
    (group, n, successes, p_hat, ci_low, ci_high)."""
    g = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(success_expr, 1).otherwise(0)
            ).alias("successes"),
        )
    )
    nd = F.col("n").cast("double")
    p = F.col("successes").cast("double") / nd
    z2 = F.lit(z) * F.lit(z)
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(z)
        * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + z2 / (F.lit(4.0) * nd * nd)
        )
        / denom
    )
    return g.select(
        "group",
        F.col("n").cast("long").alias("n"),
        F.col("successes").cast("long").alias("successes"),
        F.when(F.col("n") > 0, F.round(p, 6)).alias("p_hat"),
        # + 0.0 normalizes IEEE negative zero: at p̂ = 0 the bound is
        # exactly 0 mathematically but center − half lands at ±ε and
        # round() keeps the sign — Spark printed 0.0 where DuckDB
        # printed -0.0 (r12 skewdegen catch on a 1-row group); −0+0=+0
        # is exact on both engines, identity everywhere else
        F.when(
            F.col("n") > 0, F.round(center - half, 6) + F.lit(0.0)
        ).alias("ci_low"),
        F.when(
            F.col("n") > 0, F.round(center + half, 6) + F.lit(0.0)
        ).alias("ci_high"),
    )


def jackknife_ratio_by_group(
    df: DataFrame, group_col: str, num_col: str, den_count: bool = True
) -> DataFrame:
    """Delete-one-GROUP jackknife for a ratio estimator θ = ΣX/ΣN —
    the standard error that respects CLUSTERING (rows within a nation/
    source/day are correlated, so the iid bootstrap understates the
    ratio's variance; deleting whole groups is the survey-statistics
    answer): θ₍₋g₎ = (ΣX − x_g)/(ΣN − n_g),
    SE² = (G−1)/G · Σ(θ₍₋g₎ − θ̄_J)², bias ≈ (G−1)(θ̄_J − θ).

    One exact-decimal moment pass to the BOUNDED group relation; every
    leave-one-out ratio is a closed form in (totals − group), so the
    "resampling" costs G arithmetic rows, not G scans. The G-row folds
    sum 9-dp-rounded decimals (the k-fold determinism rule). Output
    one row: (n_groups, ratio, jackknife_se, jackknife_bias)."""
    from .hypotests import dec_double_wide_frac

    x = F.col(num_col).cast("decimal(18,2)")
    per_g = (
        df.filter(F.col(group_col).isNotNull() & F.col(num_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.sum(F.coalesce(x, F.lit(0)).cast("decimal(38,2)")).alias(
                "x_g"
            ),
            F.count(F.lit(1)).alias("n_g"),
        )
    )
    tot = per_g.agg(
        F.count(F.lit(1)).alias("gg"),
        F.sum("x_g").alias("xx"),
        F.sum("n_g").alias("nn"),
    )
    base = per_g.crossJoin(F.broadcast(tot))
    theta_loo = (
        dec_double_wide_frac(F.col("xx") - F.col("x_g"))
        / (F.col("nn") - F.col("n_g")).cast("double")
    )
    d9 = "decimal(38,9)"
    fold1 = base.agg(
        F.max("gg").alias("gg"),
        F.max("xx").alias("xx"),
        F.max("nn").alias("nn"),
        F.sum(F.round(theta_loo, 9).cast(d9)).alias("s_loo"),
    )
    base2 = base.crossJoin(
        F.broadcast(
            fold1.select(
                (F.col("s_loo").cast("double") / F.col("gg").cast("double"))
                .alias("theta_bar")
            )
        )
    )
    dev = theta_loo - F.col("theta_bar")
    fold2 = base2.agg(
        F.max("gg").alias("gg"),
        F.max("xx").alias("xx"),
        F.max("nn").alias("nn"),
        F.max("theta_bar").alias("theta_bar"),
        F.sum(F.round(dev * dev, 9).cast(d9)).alias("ss_dev"),
    )
    gd = F.col("gg").cast("double")
    theta = dec_double_wide_frac(F.col("xx")) / F.col("nn").cast(
        "double"
    )
    se = F.sqrt(
        (gd - F.lit(1.0)) / gd * F.col("ss_dev").cast("double")
    )
    bias = (gd - F.lit(1.0)) * (F.col("theta_bar") - theta)
    return fold2.select(
        F.col("gg").cast("long").alias("n_groups"),
        F.when(F.col("nn") > 0, F.round(theta, 6)).alias("ratio"),
        F.when(F.col("gg") > 1, F.round(se, 6)).alias("jackknife_se"),
        F.when(F.col("gg") > 1, F.round(bias, 6)).alias(
            "jackknife_bias"
        ),
    )


def fleiss_kappa_binary(
    df: DataFrame, rater_exprs: list
) -> DataFrame:
    """Fleiss' κ agreement across m ≥ 2 deterministic binary "raters"
    (boolean Columns) judging every row — the multi-rater
    generalization of ``cohens_kappa`` a labeling pipeline runs before
    trusting an ensemble of heuristics: κ = (P̄ − P̄_e)/(1 − P̄_e) with
    P_i = (Σ_j n_ij² − m)/(m(m−1)) per subject and chance agreement
    P̄_e = Σ_j p_j² from the pooled category shares (Fleiss 1971).

    For binary categories every subject's state is one integer
    n_pass ∈ {0..m}, so the WHOLE statistic folds from three exact
    integer sums in one scan: N, S1 = Σ n_pass, S2 = Σ n_pass²
    (Σ_j Σ_i n_ij² = S2 + Σ(m − n_pass)² = 2·S2 − 2m·S1 + m²·N). A
    rater whose expression is NULL on a row votes FAIL (the CASE-ELSE
    convention shared with the two-sample group predicates). Output
    one row: (n_subjects, m_raters, p_pass, p_bar, p_e, fleiss_kappa)."""
    m = len(rater_exprs)
    if m < 2:
        raise ValueError(f"fleiss_kappa_binary needs >= 2 raters; got {m}")
    n_pass = None
    for e in rater_exprs:
        t = F.coalesce(e.cast("int"), F.lit(0))
        n_pass = t if n_pass is None else (n_pass + t)
    d38 = "decimal(38,0)"
    sums = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(n_pass.cast(d38)).alias("s1"),
        F.sum(
            (n_pass.cast("decimal(19,0)") * n_pass.cast("decimal(19,0)"))
            .cast(d38)
        ).alias("s2"),
    )
    from .hypotests import dec_double_wide

    nd = F.col("n").cast("double")
    md = F.lit(float(m))
    s1 = dec_double_wide(F.col("s1"))
    s2 = dec_double_wide(F.col("s2"))
    p_pass = s1 / (md * nd)
    # sum over BOTH categories of n_ij^2, then P-bar
    ss_all = F.lit(2.0) * s2 - F.lit(2.0) * md * s1 + md * md * nd
    p_bar = (ss_all - md * nd) / (nd * md * (md - F.lit(1.0)))
    p_e = p_pass * p_pass + (F.lit(1.0) - p_pass) * (F.lit(1.0) - p_pass)
    kappa = (p_bar - p_e) / (F.lit(1.0) - p_e)
    ok = (F.col("n") > 0) & (F.lit(1.0) - p_e > 0)
    return sums.select(
        F.col("n").cast("long").alias("n_subjects"),
        F.lit(m).cast("long").alias("m_raters"),
        F.when(F.col("n") > 0, F.round(p_pass, 6)).alias("p_pass"),
        F.when(F.col("n") > 0, F.round(p_bar, 6)).alias("p_bar"),
        F.when(F.col("n") > 0, F.round(p_e, 6)).alias("p_e"),
        F.when(ok, F.round(kappa, 6)).alias("fleiss_kappa"),
    )
