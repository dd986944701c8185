"""Behavioral / product-analytics operators over the events stream:
ordered funnel conversion and cohort retention.

Both are single-key (user_id) aggregation pipelines: every stage keys by
user, so Catalyst reuses ONE hash partitioning across the chained
aggregations and joins — at 100 TB the events table shuffles on user_id
once, and the per-user intermediates (a handful of timestamps) are
negligible. No windows over the full stream, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import lifecycle
from ..functions.exact import round_half_up as _r6


def funnel_steps(
    df: DataFrame, steps: tuple[str, str, str] = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered three-step funnel: users who did step1, then step2 AFTER
    their first step1, then step3 after that first qualifying step2
    (t1 = first step1; t2 = first step2 ≥ t1; t3 = first step3 ≥ t2).

    Output: one row (n_step1, n_step2, n_step3) — funnel counts.
    """
    s1, s2, s3 = steps
    us = F.unix_micros(F.col("ts"))
    # ONE scan, one user-keyed shuffle. The chained per-stage
    # groupBy+join formulation referenced each prior stage from two
    # branches and the r5 plan audit showed Catalyst expanding every
    # reference into its own fact scan (6 total). Instead: shuffle the
    # step-filtered (us, type) pairs once, sort per user executor-side,
    # and fold the "first step_{i+1} at-or-after t_i" chain as array
    # expressions — state per user is its own (3-type-filtered) event
    # list, the same bound the sessionizers carry.
    # NULL user_id is not a user: Spark's joinless per-row chain kept
    # it while the SQL replay's per-step joins dropped it (degen r10)
    ev = df.where(
        F.col("event_type").isin(list(steps))
        & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        F.struct(us.alias("us"), F.col("event_type").alias("et")).alias("e"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("e")).alias("a")
    )

    def first_at_or_after(arr, step, lo):
        hits = F.filter(
            arr, lambda e: (e["et"] == step) & (e["us"] >= lo)
        )
        return F.try_element_at(F.transform(hits, lambda e: e["us"]), F.lit(1))

    staged = (
        per_user.select(
            "a",
            first_at_or_after(
                F.col("a"), s1, F.lit(-(2**62)).cast("long")
            ).alias("t1"),
        )
        .select("a", "t1", first_at_or_after(F.col("a"), s2, F.col("t1")).alias("t2"))
        .select("t1", "t2", first_at_or_after(F.col("a"), s3, F.col("t2")).alias("t3"))
    )
    return staged.agg(
        F.count("t1").alias("n_step1"),
        F.count("t2").alias("n_step2"),
        F.count("t3").alias("n_step3"),
    )


VALUE_TREND_BASE_S = 1_704_067_200  # 2024-01-01 UTC; any constant works


def value_trend(df: DataFrame, base_epoch_s: int = VALUE_TREND_BASE_S) -> DataFrame:
    """Per-user OLS slope of event value over time (value units/hour) —
    "is this user's spend trending up?" at population scale.

    Computed from EXACT component sums (integer seconds, decimal values):
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). Integer/decimal sums are
    order-independent, so the result is bit-identical across partitioning
    degrees and engines (the ``corr``-from-exact-sums pattern). ``x`` is
    centered on a CONSTANT epoch base — slope is shift-invariant, and
    centering keeps Σx² inside 64-bit/decimal range for decade-scale
    spans.

    One hash aggregation on user_id; no window, no Python.
    """
    from ..functions.exact import money

    x = (F.unix_micros(F.col("ts")) / F.lit(1_000_000)).cast("long") - F.lit(
        base_epoch_s
    )
    y = money("value")
    # sxx and the denom squares fold in DECIMAL, not long: at
    # decade-scale x (~3e8 s) x² ≈ 9e16, so a long Σx² ANSI-overflows
    # past ~100 rows per user (found by the r11 large-product
    # regression test); DuckDB's SUM(BIGINT) is already HUGEINT, so
    # decimal on the Spark side preserves the bit-exact twin contract.
    agg = df.select(F.col("user_id"), x.alias("x"), y.alias("y")).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(
            (F.col("x").cast("decimal(19,0)") * F.col("x")).cast(
                "decimal(38,0)"
            )
        ).alias("sxx"),
    )
    denom = (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(19,0)") * F.col("sx").cast("decimal(19,0)")
    )
    num = (
        F.col("n").cast("decimal(38,2)") * F.col("sxy")
        - F.col("sx").cast("decimal(38,2)") * F.col("sy")
    )
    slope_per_hour = num.cast("double") / denom.cast("double") * F.lit(3600.0)
    return (
        agg.where(denom > 0)
        .select(
            "user_id",
            F.round(slope_per_hour, 6).alias("slope_per_hour"),
            F.col("n").alias("n_events"),
        )
    )


def value_trend_pandas(
    df: DataFrame, base_epoch_s: int = VALUE_TREND_BASE_S
) -> DataFrame:
    """Grouped-map ``applyInPandas`` twin of value_trend — the shape for
    per-group logic the built-ins can't express (model fits, scipy calls).
    Shares value_trend's oracle: rows are sorted inside the UDF and the
    component sums use Python ints / cent-scaled ints, so the arithmetic
    is exact and matches the JVM decimal path bit-for-bit after round-6.

    Scale: one shuffle on user_id, Arrow-batched; per-user groups must be
    executor-sized (same contract as any grouped-map)."""
    import pandas as pd

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL semantics mirror the JVM twin exactly: n counts EVERY
        # row of the group, each SUM skips its own NULLs (sum(x*y)
        # skips the pair when either side is NULL), the group is
        # dropped only when denom = n*sxx - sx^2 is NULL-or-<=0, and an
        # all-NULL y leaves slope NULL with the row kept. NaN-blind
        # .astype("int64") crashed here on the first NULL value the
        # clean testdata never contained. Component sums fold over
        # PYTHON-OBJECT INTS after the NaN masks: per-element products
        # (span-seconds x cents, up to ~1e16) and the x^2 fold both
        # breach 2^53, where a float64 sum silently rounds and an
        # int64 numpy sum can wrap - either way a 6dp divergence from
        # the JVM decimal twin (ADVICE r10 low).
        pdf = pdf.sort_values("event_id")
        empty = pd.DataFrame(
            {"user_id": pd.array([], dtype="int64"),
             "slope_per_hour": pd.array([], dtype="float64"),
             "n_events": pd.array([], dtype="int64")}
        )
        n = len(pdf)
        xv = (pdf["us"] // 1_000_000 - base_epoch_s).dropna()
        if len(xv) == 0:
            return empty  # sx/sxx NULL -> denom NULL -> JVM row dropped
        xl = [int(v) for v in xv.tolist()]
        sx = sum(xl)
        sxx = sum(v * v for v in xl)
        denom = n * sxx - sx * sx
        if denom <= 0:
            return empty
        cv = (pdf["value"].round(2) * 100).round()
        pair_mask = pdf["us"].notna() & pdf["value"].notna()
        if cv.notna().sum() == 0 or pair_mask.sum() == 0:
            slope = None  # num NULL on the JVM side
        else:
            sy_c = sum(int(v) for v in cv.dropna().tolist())
            xp = pdf["us"][pair_mask] // 1_000_000 - base_epoch_s
            sxy_c = sum(
                int(a) * int(b)
                for a, b in zip(xp.tolist(), cv[pair_mask].tolist())
            )
            num_c = n * sxy_c - sx * sy_c  # exact, in cent-seconds
            slope = _r6(num_c / 100.0 / denom * 3600.0)
        uid = pdf["user_id"].iloc[0]
        return pd.DataFrame(
            # the NULL-user group arrives as NaN: emit NULL, as the JVM
            # groupBy does, instead of crashing the int() cast
            {"user_id": [None if pd.isna(uid) else int(uid)],
             "slope_per_hour": [slope],
             "n_events": [n]}
        )

    prepared = df.select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us"), "value"
    )
    return prepared.groupBy("user_id").applyInPandas(
        fit, schema="user_id long, slope_per_hour double, n_events long"
    )


def retention_cohorts(df: DataFrame, max_offset_days: int = 30) -> DataFrame:
    """Classic cohort retention: users grouped by first-active day; for
    each (cohort_day, day_offset) count distinct users active that day.

    Days are epoch-day integers (``floor(us / 86400e6)``) — exact integer
    arithmetic, portable across engines and timezone-proof under the
    session's UTC posture.

    Scale: the events→first-day aggregation and the join both key on
    user_id (one shuffle); the final (cohort, offset) aggregation is a
    ~(days × offsets)-row result, map-side combined.
    """
    day = F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
    activity = df.select("user_id", day.alias("active_day")).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("active_day").alias("cohort_day"))
    return (
        activity.join(cohorts, "user_id")
        .withColumn("day_offset", F.col("active_day") - F.col("cohort_day"))
        .where(F.col("day_offset") <= max_offset_days)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


def top_event_paths(
    df: DataFrame,
    k: int = 20,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Most common 3-step behavior paths: per-user event sequences →
    sliding event-type trigrams → global counts, top-k (ties broken by
    path text so the result is reproducible). The path-mining primitive
    behind "what do users do before purchasing" questions.

    Scale shape: ONE window shuffle on user (two lead() reads off the
    same sorted run), then a map-side-combinable count; top-k is
    TakeOrderedAndProject, never a global sort.
    """
    from pyspark.sql import Window

    order = Window.partitionBy(key_col).orderBy(
        F.unix_micros(F.col(ts_col).cast("timestamp")), tiebreak_col
    )
    tri = df.select(
        F.col(state_col).alias("s1"),
        F.lead(state_col, 1).over(order).alias("s2"),
        F.lead(state_col, 2).over(order).alias("s3"),
    ).filter(F.col("s3").isNotNull())
    return (
        tri.groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .select(
            F.concat_ws(" > ", "s1", "s2", "s3").alias("path"), "n_paths"
        )
        .orderBy(F.desc("n_paths"), "path")
        .limit(k)
    )


def rfm_segments(df: DataFrame, buckets: int = 4) -> DataFrame:
    """RFM segmentation of purchasers: recency (last purchase instant),
    frequency (purchase count), monetary (exact decimal spend) per user,
    each quartiled by ntile with a user-id tiebreak so bucket assignment
    is total-order deterministic — reproducible across engines and
    partitionings.

    Scale note: ntile needs a global order; at this output granularity
    (one row per USER, not per event) the ordered set is already small
    relative to the corpus. For billions of users swap ntile for
    percentile-threshold bucketing (two-pass: approx thresholds, then a
    scan-local CASE) — same output contract.
    """
    from pyspark.sql import Window

    from ..functions.exact import money

    per_user = (
        df.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_purchase_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(money("value")).cast("double").alias("monetary"),
        )
    )
    # explicit NULL placement on every sort key: Spark DESC defaults
    # to NULLS LAST but DuckDB DESC to NULLS FIRST (and the ASC
    # tiebreak is the opposite pair), so an all-NULL-value purchaser
    # rotated every ntile bucket against the SQL replay (degen r10)
    uid = F.asc_nulls_last("user_id")
    r_w = Window.orderBy(F.desc_nulls_last("last_purchase_us"), uid)
    f_w = Window.orderBy(F.desc_nulls_last("frequency"), uid)
    m_w = Window.orderBy(F.desc_nulls_last("monetary"), uid)
    return per_user.select(
        "user_id",
        "frequency",
        "monetary",
        F.ntile(buckets).over(r_w).cast("long").alias("r_bucket"),
        F.ntile(buckets).over(f_w).cast("long").alias("f_bucket"),
        F.ntile(buckets).over(m_w).cast("long").alias("m_bucket"),
    ).withColumn(
        "segment",
        F.concat_ws("-", "r_bucket", "f_bucket", "m_bucket"),
    )


def rfm_segments_scalable(df: DataFrame, buckets: int = 4) -> DataFrame:
    """Two-pass percentile-threshold RFM — the billions-of-users form of
    ``rfm_segments`` (which runs THREE global-sort ``ntile`` windows
    over the per-user frame).

    Pass 1: per-user R/F/M aggregates (one shuffle on user_id — same as
    the exact twin). Pass 2: ONE tiny aggregate computes the
    ``buckets − 1`` thresholds for all three metrics as
    ``percentile_disc`` picks; the single-row threshold frame broadcasts
    back and bucket assignment is a scan-local array comparison — no
    window, no sort, no single-partition exchange over user rows
    (pinned by tests/test_plan_budgets.py).

    Bucket semantics: bucket 1 is the TOP of each metric
    (``m >= p_{(buckets-1)/buckets}``); ties AT a threshold land in the
    better bucket, so populations are equal only up to tie mass. The
    exact equal-count form stays available as ``rfm_segments``.
    """
    from ..functions.exact import money

    per_user = (
        df.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_purchase_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(money("value")).cast("double").alias("monetary"),
        )
    )
    qs = [round(k / buckets, 6) for k in range(1, buckets)]

    def _disc_array(col: str, cast: str) -> F.Column:
        return F.expr(
            "array("
            + ", ".join(
                f"CAST(percentile_disc({q}) WITHIN GROUP (ORDER BY {col}) AS {cast})"
                for q in qs
            )
            + ")"
        )

    th = per_user.agg(
        _disc_array("last_purchase_us", "LONG").alias("__tr"),
        _disc_array("frequency", "LONG").alias("__tf"),
        _disc_array("monetary", "DOUBLE").alias("__tm"),
    )

    def _bucket(mcol: str, tarr: str) -> F.Column:
        return (
            F.lit(buckets)
            - F.size(F.filter(tarr, lambda t: F.col(mcol) >= t))
        ).cast("long")

    return (
        per_user.crossJoin(F.broadcast(th))
        .select(
            "user_id",
            "frequency",
            "monetary",
            _bucket("last_purchase_us", "__tr").alias("r_bucket"),
            _bucket("frequency", "__tf").alias("f_bucket"),
            _bucket("monetary", "__tm").alias("m_bucket"),
        )
        .withColumn(
            "segment",
            F.concat_ws("-", "r_bucket", "f_bucket", "m_bucket"),
        )
    )


def ab_test_stats(
    df: DataFrame,
    assign_col: str = "user_id",
    value_col: str = "value",
    buckets: int = 2,
) -> DataFrame:
    """Two-sample experiment readout over a HASH-ASSIGNED split: each
    unit lands in arm A/B by a deterministic content hash (the same
    partition-invariant assignment the sampling operators use — no
    stored assignment table needed), then the z-statistic for the mean
    difference comes out of EXACT component sums.

    Engine-exact arithmetic: n, Σx, Σx² accumulate in decimal (order
    independent); mean, Welford-free variance (Σx² − (Σx)²/n)/(n−1) and
    z = (x̄_A − x̄_B)/√(s²_A/n_A + s²_B/n_B) are then a FIXED sequence of
    double ops every engine reproduces bit-for-bit. One aggregation
    pass over the fact table — the shuffle carries 2 rows.

    Output: one row per arm (n, mean, var) plus the pooled z and its
    |z| ≥ 1.96 significance flag repeated on both rows (keeps the
    result a single flat frame).
    """
    from .sampling import hash_bucket_expr

    # Two-arm readout only: the conditional-aggregation pass below
    # enumerates arms 0 and 1 explicitly, so any other bucket count
    # would silently drop the remaining arms' rows (ADVICE r3) — fail
    # loudly instead.
    if buckets != 2:
        raise ValueError(
            f"ab_test_stats is a two-arm readout (buckets=2); got {buckets}. "
            "For k-arm experiments aggregate per arm with groupBy(arm)."
        )

    # portable md5 bucketing (same primitive as the sampling/split
    # operators) — any engine reproduces the assignment
    # ONE conditional-aggregation pass: the naive per-arm groupBy then
    # self-filtered join referenced the aggregate three times (stats +
    # each arm's branch), and Catalyst re-scanned the fact table for
    # each — measured 3x the single-scan cost at the 6M-row SF. All six
    # components come out of one scan; arms explode from the wide row.
    arm = F.pmod(hash_bucket_expr(F.col(assign_col)), F.lit(buckets))
    v = F.col(value_col).cast("decimal(12,2)")
    keyed = df.select(arm.alias("arm"), v.alias("__v"))
    wide = keyed.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("__v"))).alias("s0"),
        F.sum(
            F.when(F.col("arm") == 0, (F.col("__v") * F.col("__v")).cast("decimal(38,4)"))
        ).alias("ss0"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("__v"))).alias("s1"),
        F.sum(
            F.when(F.col("arm") == 1, (F.col("__v") * F.col("__v")).cast("decimal(38,4)"))
        ).alias("ss1"),
    )

    def _mean(sc, n):
        return F.col(sc).cast("double") / F.col(n)

    def _var(ssc, sc, n):
        # explicit NULL for degenerate arms (n <= 1): the sample
        # variance is undefined there, and relying on divide-by-zero
        # null propagation hides the condition (ADVICE r3)
        return F.when(
            F.col(n) > 1,
            (
                F.col(ssc).cast("double")
                - F.col(sc).cast("double") * F.col(sc).cast("double") / F.col(n)
            ) / (F.col(n) - 1),
        )

    derived = wide.select(
        F.col("n0"),
        F.col("n1"),
        F.round(_mean("s0", "n0"), 6).alias("m0"),
        F.round(_var("ss0", "s0", "n0"), 6).alias("v0"),
        F.round(_mean("s1", "n1"), 6).alias("m1"),
        F.round(_var("ss1", "s1", "n1"), 6).alias("v1"),
    )
    z = (F.col("m0") - F.col("m1")) / F.sqrt(
        F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    )
    with_z = derived.select(
        "*", F.round(z, 6).alias("z"), (F.abs(z) >= 1.96).alias("significant")
    )
    return with_z.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).cast("long").alias("arm"),
                    F.col("n0").alias("n"),
                    F.col("m0").alias("mean"),
                    F.col("v0").alias("var"),
                ),
                F.struct(
                    F.lit(1).cast("long").alias("arm"),
                    F.col("n1").alias("n"),
                    F.col("m1").alias("mean"),
                    F.col("v1").alias("var"),
                ),
            )
        ).alias("s"),
        "z",
        "significant",
    ).select("s.arm", "s.n", "s.mean", "s.var", "z", "significant")


def conversion_latency_percentiles(
    df: DataFrame,
    from_event: str = "click",
    to_event: str = "purchase",
) -> DataFrame:
    """Latency distribution from each user's FIRST ``from_event`` to
    their first ``to_event`` AFTER it — the time-to-convert readout
    behind funnel dashboards. Percentiles are ``percentile_disc`` picks
    over integer microsecond deltas: exact, engine-identical, no
    interpolation.

    Two tiny aggregates (first click per user, first qualifying
    purchase per user) joined on user — never a window over raw events;
    the percentile runs over one row per converting user.
    """
    us = F.unix_micros(F.col("ts"))
    first_from = (
        df.filter(F.col("event_type") == from_event)
        .groupBy("user_id")
        .agg(F.min(us).alias("t0"))
    )
    joined = (
        df.filter(F.col("event_type") == to_event)
        .join(first_from, "user_id")
        .filter(us >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min(us - F.col("t0")).alias("latency_us"))
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_converted"),
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY latency_us)"
            ).cast("long").alias(f"p{int(p * 100)}_us")
            for p in (0.5, 0.9, 0.99)
        ],
    )


@lifecycle.operator(release=False)
def event_cooccurrence_lift(
    df: DataFrame,
    min_users: int = 5,
) -> DataFrame:
    """Market-basket lift between event types at user granularity:
    lift(a,b) = P(a,b) / (P(a)·P(b)) over the user population — which
    behaviors travel together (>1) or repel (<1).

    The per-user event-type SET collapses first into one sorted array
    per user (distinct + collect — bounded by users × |type
    vocabulary|); pair expansion, per-type counts, and the population
    size all derive from that PERSISTED relation, so the raw events
    table is scanned exactly once (the earlier four-branch shape
    re-expanded the distinct subtree into five fact scans — r5 plan
    audit). Pair expansion is the executor-local posexplode+slice
    pattern (bounded by types-per-user²), never a join over raw events.
    """
    per_user = (
        df.select("user_id", "event_type")
        # a NULL user_id is an unknown visitor, not one user: letting
        # the NULL groupBy bucket pair its types inflated n_both and
        # n_users against the SQL replay, whose self-join drops NULL
        # keys (degen r10). NULL event_type already drops on both
        # sides (collect_list skips NULLs; SQL < is NULL-false).
        .filter(F.col("user_id").isNotNull())
        .distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("event_type")).alias("ts_"))
        .transform(lifecycle.persist)
    )
    per_user.count()
    n_users = per_user.agg(F.count(F.lit(1)).alias("__n_users"))
    type_counts = (
        per_user.select(F.explode("ts_").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_type"))
    )
    pos = per_user.select(F.posexplode("ts_").alias("_p", "type_a"), "ts_")
    pair_counts = (
        pos.select(
            "type_a",
            F.explode(
                F.slice("ts_", F.col("_p") + 2, F.size("ts_"))
            ).alias("type_b"),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= min_users)
    )
    ta = type_counts.select(
        F.col("event_type").alias("type_a"), F.col("n_type").alias("n_a")
    )
    tb = type_counts.select(
        F.col("event_type").alias("type_b"), F.col("n_type").alias("n_b")
    )
    lift = (
        F.col("n_both").cast("double")
        * F.col("__n_users").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    result = (
        pair_counts.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a", "type_b", "n_both", F.round(lift, 6).alias("lift")
        )
    )
    return result


def user_event_novelty(df: DataFrame) -> DataFrame:
    """Per-event exploration curve: for each event, how many DISTINCT
    event types the user has encountered up to and including it — the
    novelty/exploration feature behind engagement models ("is this user
    still discovering the product?").

    Two window passes, two exchanges: a first-occurrence flag per
    (user, type) — row_number inside the composite key — then a running
    sum of the flags re-partitioned by user. Both shuffles carry only
    (ids, flag, ts) — the narrow projection, never payload columns —
    and both keys have full user-level parallelism.
    """
    us = F.unix_micros(F.col("ts"))
    w_type = Window.partitionBy("user_id", "event_type").orderBy(us, "event_id")
    w_user = (
        Window.partitionBy("user_id")
        .orderBy("__us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = df.select(
        "event_id",
        "user_id",
        (F.row_number().over(w_type) == 1).cast("long").alias("__is_new"),
        us.alias("__us"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("__is_new").over(w_user).alias("n_types_seen"),
    )


def session_bounce_rate(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """One-row engagement readout over gap-sessionized events: session
    count, bounce count (single-event sessions), bounce rate, and mean
    events per session. Builds on temporal.sessionize (same 30-min gap
    rule the session suite oracles), then reduces the per-session frame
    to four scalars — the whole post-session aggregate shuffles two
    numbers per partition.
    """
    from .temporal import sessionize

    sessions = sessionize(df, gap_minutes=gap_minutes)
    return sessions.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
        F.round(F.sum("n_events") / F.count(F.lit(1)), 6).alias(
            "mean_events_per_session"
        ),
    )


def cohort_ltv(df: DataFrame) -> DataFrame:
    """Cohort lifetime-value accumulation: users cohort by their FIRST
    event's epoch week; each (cohort, age-in-weeks) cell reports active
    users, revenue, and the running revenue-per-cohort-member — the
    canonical "when does a cohort pay back" curve.

    Shape: per-user first week (one user-keyed aggregate), broadcast
    back onto the weekly fact aggregate, cumulative window over the
    tiny (cohort × age) frame. Revenue rides decimal end-to-end; the
    per-member division is one fixed round at the end.
    """
    week = F.expr("unix_micros(ts) div 86400000000 div 7")
    ev = df.select(
        "user_id",
        week.alias("wk"),
        F.col("value").cast("decimal(12,2)").alias("__v"),
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        ev.join(F.broadcast(first), "user_id")
        .select(
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).alias("age_weeks"),
            "user_id",
            "__v",
        )
        .groupBy("cohort_week", "age_weeks")
        .agg(
            F.countDistinct("user_id").alias("n_active_users"),
            F.sum("__v").alias("revenue"),
        )
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "n_active_users",
            F.col("revenue").cast("double").alias("revenue"),
            F.round(
                F.sum("revenue").over(w).cast("double") / F.col("cohort_size"),
                6,
            ).alias("cum_revenue_per_member"),
        )
    )


def conversion_ab_ztest(
    df: DataFrame,
    user_col: str = "user_id",
    convert_type: str = "purchase",
    type_col: str = "event_type",
) -> DataFrame:
    """Two-proportion z-test on a hash-assigned A/B split of USERS:
    did arm B convert (≥1 ``convert_type`` event) at a different rate
    than arm A? The binary-outcome counterpart of ``ab_test_stats``
    (which tests a continuous mean).

    Per-user conversion collapses first (one shuffle, map-combinable
    max), the arm comes from the same portable md5 bucket as the
    sampling operators (partition-invariant, no assignment table), and
    the final aggregate carries FOUR integers — n and conversions per
    arm — from which rates, the pooled proportion and
    z = (p_b − p_a)/√(p̂(1−p̂)(1/n_a + 1/n_b)) are a fixed double
    sequence any engine replays. Scan-bound at 100 TB."""
    from .sampling import hash_bucket_expr

    per_user = df.groupBy(user_col).agg(
        F.max(
            F.when(F.col(type_col) == convert_type, F.lit(1)).otherwise(F.lit(0))
        ).alias("conv")
    )
    arm = (hash_bucket_expr(F.col(user_col)) % 2).alias("arm")
    counts = per_user.select(arm, "conv").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("conv_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("conv_a").cast("double") / na
    pb = F.col("conv_b").cast("double") / nb
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (na + nb)
    se2 = pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    z = (pb - pa) / F.sqrt(se2)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se2 > 0)
    return counts.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_a").cast("long").alias("conv_a"),
        F.col("conv_b").cast("long").alias("conv_b"),
        F.when(F.col("n_a") > 0, F.round(pa, 6)).alias("rate_a"),
        F.when(F.col("n_b") > 0, F.round(pb, 6)).alias("rate_b"),
        F.when(ok, F.round(z, 6)).alias("z_score"),
        F.when(ok, F.abs(z) >= F.lit(1.96)).alias("significant"),
    )


@lifecycle.operator
def kaplan_meier_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_days: int = 7,
) -> DataFrame:
    """Kaplan–Meier survival curve over user LIFETIMES (days from first
    to last event), with right-censoring: users still active in the
    final ``censor_days`` of the observation window are censored at
    their last day, not counted as churned — the retention estimator
    product analytics runs instead of a naive "days until last event"
    histogram (which treats censored users as churned and biases
    retention down).

    Shape: one fact shuffle to per-user (first, last) micros; the
    persisted user relation yields both the observation-window end
    (broadcast one-row max) and the per-day (churned, ended) counts.
    The day grid is BOUNDED (≤ observation days), so the at-risk
    suffix counts and the cumulative product run as windows over a
    tiny relation — never over users. S(t) multiplies (1 − d_s/n_s)
    via the repo's portable log recipe: each factor's ln rounds to
    6 dp and sums in decimal, exp at the end (absorbs last-ulp libm
    differences); a step with d_s = n_s pins survival to exactly 0
    from that day on (no ln(0))."""
    day_us = 86_400_000_000
    us = (
        df.groupBy(user_col)
        .agg(
            F.min(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("first_us"),
            F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("last_us"),
        )
        .transform(lifecycle.persist)
    )
    us.count()
    mx = us.agg(F.max("last_us").alias("max_us"))
    per = us.crossJoin(F.broadcast(mx)).select(
        F.expr(f"(last_us - first_us) div {day_us}").alias("day"),
        F.when(
            F.col("last_us") < F.col("max_us") - F.lit(censor_days * day_us),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("churn"),
    )
    per_day = per.groupBy("day").agg(
        F.sum("churn").alias("n_churned"), F.count(F.lit(1)).alias("ends")
    )
    wdesc = (
        Window.orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wasc = (
        Window.orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    at_risk = per_day.withColumn("n_at_risk", F.sum("ends").over(wdesc))
    dt = F.col("n_churned").cast("double")
    nt = F.col("n_at_risk").cast("double")
    term = (
        F.when(
            (F.col("n_churned") > 0) & (F.col("n_churned") < F.col("n_at_risk")),
            F.round(F.log(F.lit(1.0) - dt / nt), 6),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
    )
    dead = F.when(
        (F.col("n_churned") > 0) & (F.col("n_churned") >= F.col("n_at_risk")),
        F.lit(1),
    ).otherwise(F.lit(0))
    curve = at_risk.select(
        "day",
        "n_at_risk",
        "n_churned",
        F.sum(term).over(wasc).alias("cum_term"),
        F.sum(dead).over(wasc).alias("cum_dead"),
    )
    result = curve.select(
        "day",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_churned").cast("long").alias("n_churned"),
        F.when(F.col("cum_dead") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_term").cast("double")), 6))
        .alias("survival"),
    )
    return result


def event_transition_stats(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov view of user journeys: for every observed
    event-type transition cur→next, its count, conditional probability
    p(next|cur), and per-source-state entropy H(next|cur) — the
    navigation fingerprint behind "where do users go from here" and
    sequence-anomaly baselines.

    One per-user window (lead over (ts, id) — the repo's deterministic
    event order), one (cur, next) count aggregate (map-side
    combinable, output bounded by the event-type domain squared), then
    probabilities and the round-6 decimal-summed entropy over that
    bounded relation. Output per (cur, next):
    (cur_type, next_type, n_transitions, p_next, cur_entropy)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    pairs = (
        events.select(
            F.col(type_col).alias("cur"),
            F.lead(type_col, 1).over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = pairs.groupBy("cur").agg(F.sum("c").alias("ct"))
    p = F.col("c").cast("double") / F.col("ct").cast("double")
    scored = pairs.join(totals, "cur").select(
        "cur",
        "nxt",
        "c",
        F.round(p, 6).alias("p_next"),
        F.round(-p * F.log(p), 6).cast("decimal(18,6)").alias("__h_term"),
    )
    ent = scored.groupBy(F.col("cur").alias("cur2")).agg(
        F.sum("__h_term").alias("h")
    )
    return (
        scored.join(ent, scored.cur == ent.cur2)
        .select(
            F.col("cur").alias("cur_type"),
            F.col("nxt").alias("next_type"),
            F.col("c").cast("long").alias("n_transitions"),
            "p_next",
            F.col("h").cast("double").alias("cur_entropy"),
        )
    )


@lifecycle.operator
def logrank_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_days: int = 7,
    min_events: int = 5,
) -> DataFrame:
    """Log-rank (Mantel-Cox) test between two retention cohorts — the
    significance companion to ``kaplan_meier_retention``: "do engaged
    users (≥ min_events events) actually survive longer, or do the two
    KM curves differ by luck". Right-censoring identical to the KM
    operator (users active in the final censor_days are censored, not
    churned). At each churn day t: O₁ += d₁ₜ, E₁ += dₜ·n₁ₜ/nₜ,
    V += dₜ·(n₁ₜ/nₜ)(1 − n₁ₜ/nₜ)(nₜ − dₜ)/(nₜ − 1) (the ties-adjusted
    hypergeometric variance); χ² = (O₁ − E₁)²/V, df = 1.

    Shape: one fact shuffle to per-user (first, last, n_events); the
    day grid is BOUNDED, so the per-group at-risk suffix counts are
    windows over a tiny relation — never over users. The per-day E/V
    terms fold as 9-dp-rounded decimals (bounded row count, engine-
    deterministic). Output one row: (n_engaged, n_casual, observed_a,
    expected_a, chi2)."""
    day_us = 86_400_000_000
    us = (
        df.groupBy(user_col)
        .agg(
            F.min(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("first_us"),
            F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("last_us"),
            F.count(F.lit(1)).alias("n_ev"),
        )
        .transform(lifecycle.persist)
    )
    us.count()
    mx = us.agg(F.max("last_us").alias("max_us"))
    per = us.crossJoin(F.broadcast(mx)).select(
        F.expr(f"(last_us - first_us) div {day_us}").alias("day"),
        F.when(
            F.col("last_us")
            < F.col("max_us") - F.lit(censor_days * day_us),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("churn"),
        F.when(F.col("n_ev") >= min_events, F.lit(1))
        .otherwise(F.lit(0))
        .alias("grp"),
    )
    per_day = per.groupBy("day").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("ends_a"),
        F.sum(
            F.when((F.col("grp") == 1) & (F.col("churn") == 1), 1)
            .otherwise(0)
        ).alias("churn_a"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("ends_b"),
        F.sum(
            F.when((F.col("grp") == 0) & (F.col("churn") == 1), 1)
            .otherwise(0)
        ).alias("churn_b"),
    )
    wdesc = Window.orderBy(F.col("day").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = per_day.select(
        "day",
        "churn_a",
        "churn_b",
        "ends_a",
        "ends_b",
        F.sum("ends_a").over(wdesc).alias("nr_a"),
        F.sum("ends_b").over(wdesc).alias("nr_b"),
    )
    dt = (F.col("churn_a") + F.col("churn_b")).cast("double")
    n1 = F.col("nr_a").cast("double")
    nt = (F.col("nr_a") + F.col("nr_b")).cast("double")
    e_term = dt * n1 / nt
    v_term = (
        dt
        * (n1 / nt)
        * (F.lit(1.0) - n1 / nt)
        * (nt - dt)
        / (nt - F.lit(1.0))
    )
    d9 = "decimal(38,9)"
    folded = at_risk.agg(
        F.sum("ends_a").alias("n_a"),
        F.sum("ends_b").alias("n_b"),
        F.sum("churn_a").alias("o1"),
        F.sum(
            F.when(dt > 0, F.round(e_term, 9).cast(d9)).otherwise(
                F.lit(0).cast(d9)
            )
        ).alias("e1"),
        F.sum(
            F.when(
                (dt > 0) & (nt > 1), F.round(v_term, 9).cast(d9)
            ).otherwise(F.lit(0).cast(d9))
        ).alias("v"),
    )
    o1d = F.col("o1").cast("double")
    e1d = F.col("e1").cast("double")
    vd = F.col("v").cast("double")
    chi2 = (o1d - e1d) * (o1d - e1d) / vd
    result = folded.select(
        F.col("n_a").cast("long").alias("n_engaged"),
        F.col("n_b").cast("long").alias("n_casual"),
        F.col("o1").cast("long").alias("observed_a"),
        F.round(e1d, 6).alias("expected_a"),
        F.when(vd > 0, F.round(chi2, 6)).alias("chi2"),
    )
    return result
