"""Distributed model TRAINING expressed as DataFrame plans: full-batch
logistic regression over hashed bag-of-words features — the shape of a
fastText-style quality/language filter being FIT on the corpus itself
(the inference-only sibling is ``filtering.quality_classifier``).

Why this is Spark-first: each iteration is ONE distributed aggregate —
per-row error in micro-units, exploded per feature bucket, summed by
bucket (map-side combinable, 33 output rows) — and the tiny model rides
into the next iteration's plan as ARRAY LITERALS, exactly like the
KMeans centroids in clustering.py. The driver never touches row data;
it collects a 33-number gradient per iteration (inherent to iterative
optimization, same as any parameter-server step).

Why it is oracle-replayable (the hard part): float SUMS across rows are
partition-order dependent, so the gradient is accumulated in integer
MICRO-UNITS — per-row error canonicalized by ``floor(err × 1e6)`` into
a long BEFORE summation; long sums are exact, hence order-independent,
hence bit-identical on any engine/partitioning (the same trick
text.bigram_lm_scores uses for log-prob sums). Everything downstream of
the gradient (weight update, next margins) is then arithmetic on exact
inputs in a fixed evaluation order. Per-row margins fold the weight
array in SORTED bucket order on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import lifecycle
from ..functions.partitioning import ensure_parallelism

MICRO = 1_000_000


def hashed_bucket_expr(tok: Column, dims: int) -> Column:
    """Portable feature hash: md5-derived bucket in [0, dims) — identical
    arithmetic in any engine (same idiom as sampling.hash_bucket_expr)."""
    return F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long") % dims


def train_logreg_hashed(
    df: DataFrame,
    label_expr: Column,
    text_col: str = "text",
    dims: int = 32,
    lr: float = 0.5,
    iterations: int = 5,
) -> DataFrame:
    """Fit logistic regression by full-batch gradient descent and return
    the model as (dim, weight) rows — dim -1 is the bias, dims 0..D-1
    the hashed-token weights, rounded to 6 dp.

    Features are binary presence indicators over md5-hashed tokens
    (sorted distinct buckets per doc). Per iteration: margin and
    sigmoid per row (scan-local), error floored to integer micro-units,
    one explode + groupBy aggregate for the 33-bucket gradient, one
    driver collect of those 33 longs, literal weight update. Determinism
    note in the module docstring; scale note: the only shuffle per
    iteration carries (bucket, micro-error) pairs — never text.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9_]+"), 0)
    # NULL inputs stay IN the training set with defined semantics
    # (degen r10): a NULL label means "not the positive class" (the SQL
    # replay's CASE-ELSE), a NULL text is an empty feature vector
    # (contributes to the bias gradient only). Unguarded, NULL rows
    # silently fell out of the gradient but stayed in n.
    with lifecycle.scope():
        feats = df.select(
            F.coalesce(label_expr.cast("long"), F.lit(0)).alias("y"),
            F.coalesce(
                F.array_sort(
                    F.array_distinct(
                        F.transform(toks, lambda t: hashed_bucket_expr(t, dims))
                    )
                ),
                F.array().cast("array<bigint>"),
            ).alias("bs"),
        ).transform(lifecycle.persist)
        n = feats.count()
        spark = df.sparkSession
        if n == 0:
            return spark.createDataFrame(
                [(j, 0.0) for j in range(-1, dims)], "dim long, weight double"
            )
        bias = 0.0
        w = [0.0] * dims
        for _ in range(iterations):
            welems = F.array(*[F.lit(float(x)) for x in w])
            margin = F.lit(float(bias)) + F.aggregate(
                F.col("bs"),
                F.lit(0.0),
                lambda acc, b: acc + F.element_at(welems, (b + 1).cast("int")),
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            err_micro = F.floor((p - F.col("y").cast("double")) * MICRO).cast("long")
            grad = (
                feats.select(
                    err_micro.alias("e"),
                    F.explode(
                        F.concat(F.array(F.lit(-1).cast("long")), F.col("bs"))
                    ).alias("b"),
                )
                .groupBy("b")
                .agg(F.sum("e").alias("g"))
                .collect()
            )
            gmap = {int(r["b"]): int(r["g"]) for r in grad}
            bias = bias - lr * (gmap.get(-1, 0) / MICRO) / n
            w = [w[j] - lr * (gmap.get(j, 0) / MICRO) / n for j in range(dims)]
    # Round via Spark's SQL round (not Python's) so the decimal rounding
    # rule is the same one the DuckDB oracle applies.
    rows = [(-1, bias)] + [(j, w[j]) for j in range(dims)]
    return spark.createDataFrame(rows, "dim long, weight double").select(
        "dim", F.round("weight", 6).alias("weight")
    )


def _truncdiv(s: int, m: int) -> int:
    """Integer division truncating toward zero (C/DuckDB `//` semantics;
    Python's // floors, which differs on negative sums)."""
    q = abs(s) // m
    return q if s >= 0 else -q


def kmeans_train_exact(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    scale: int = MICRO,
) -> DataFrame:
    """Lloyd's KMeans TRAINING with fully EXACT arithmetic: vectors are
    quantized once to an integer micro-lattice (floor(x·1e6)), after
    which every distance is an exact int64 sum of squares and every
    centroid update an exact integer mean (truncating division) — zero
    floating point inside the loop. Assignment ties break toward the
    lower cluster id. The result is bit-identical on any engine and any
    partitioning, which makes a full multi-iteration clustering run
    oracle-checkable (pyspark.ml's KMeans — used by the IVF index — is
    seed- and partition-dependent by design; this is the reproducible
    twin for pipelines that need stable cluster ids across reruns).

    Scale shape per iteration: assignment is scan-local expression work
    against k broadcast centroid literals; the update is one
    posexplode + groupBy(cluster, dim) aggregate — (k·D) output rows —
    then a driver-side literal refresh, the same parameter-server step
    KMeans always needs. Empty clusters keep their previous centroid.

    Output: (cluster_id, dim, centroid_micro) — k·D integer rows.
    """
    spark = emb.sparkSession
    q = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * scale).cast("long")
    )
    pts = emb.select(F.col(id_col).alias("pid"), q.alias("q"))
    # Iteration-invariant exploded form (pid, dim, value): the quantize
    # lambda runs ONCE; every iteration then stays in codegen'd joins
    # and hash aggregates. The expression form (per-centroid
    # aggregate(zip_with(...)) literals) kept the interpreted lambda in
    # the per-row hot path — 27 s vs ~3 s at sf0.1 for this rewrite.
    with lifecycle.scope():
        ex = lifecycle.persist(pts.select("pid", F.posexplode("q").alias("j", "v")))
        seed_rows = pts.orderBy("pid").limit(k).collect()
        if not seed_rows:
            return spark.createDataFrame([], "cluster_id long, dim long, centroid_micro long")
        cents = [list(r["q"]) for r in seed_rows]
        dims = len(cents[0])
        for _ in range(iterations):
            cdf = F.broadcast(
                spark.createDataFrame(
                    [(ci, j, int(cents[ci][j])) for ci in range(k) for j in range(dims)],
                    "cid long, j int, c long",
                )
            )
            diff = F.col("v") - F.col("c")
            dists = (
                ex.join(cdf, "j")
                .groupBy("pid", "cid")
                .agg(F.sum(diff * diff).alias("d"))
            )
            best = dists.groupBy("pid").agg(
                F.min(F.struct("d", "cid")).alias("b")
            ).select("pid", F.col("b.cid").alias("cid"))
            agg = (
                ex.join(best, "pid")
                .groupBy("cid", "j")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("m"))
                .collect()
            )
            stats = {(int(r["cid"]), int(r["j"])): (int(r["s"]), int(r["m"])) for r in agg}
            cents = [
                [
                    _truncdiv(*stats[(ci, j)]) if (ci, j) in stats else cents[ci][j]
                    for j in range(dims)
                ]
                for ci in range(k)
            ]
    rows = [
        (ci, j, int(cents[ci][j])) for ci in range(k) for j in range(dims)
    ]
    return spark.createDataFrame(rows, "cluster_id long, dim long, centroid_micro long")


def train_naive_bayes(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    alpha: int = 1,
) -> DataFrame:
    """Multinomial Naive Bayes training (the third trainer shape: pure
    counting, no iterations): per-(label, token) add-alpha smoothed
    log-likelihoods, canonicalized to integer micro-nats (floor(ln·1e6))
    so the emitted model is partition-order independent and replays in
    SQL — same canonicalization as the bigram LM.

    One exploded token relation, two hash aggregates, broadcast joins
    for the per-label totals and the vocab scalar. At 100 TB this is a
    scan plus token-keyed combines — the classic counting trainer that
    needs no parameter server at all.
    """
    toks = df.select(
        F.col(label_col).alias("label"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9_]+"), 0)
        ).alias("tok"),
    )
    c = toks.groupBy("label", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.groupBy("label").agg(F.count(F.lit(1)).alias("total"))
    vocab = toks.select(F.countDistinct("tok").alias("v"))
    lp = F.floor(
        F.log(
            (F.col("c") + F.lit(alpha)).cast("double")
            / (F.col("total") + F.lit(alpha) * F.col("v")).cast("double")
        )
        * F.lit(1_000_000)
    ).cast("long")
    return (
        c.join(F.broadcast(tot), "label")
        .crossJoin(F.broadcast(vocab))
        .select("label", "tok", "c", lp.alias("logprob_micro"))
    )


def ols_fit(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group closed-form simple linear regression (normal
    equations): slope, intercept, r² from the five exact component sums
    (n, Σx, Σy, Σxy, Σx², Σy²) — the "fit a trend per segment" workhorse
    that needs no iterative training.

    ONE map-side-combinable aggregation pass; all sums ride decimal so
    the reduction is order/partitioning-independent, and the final
    slope/intercept/r² are a fixed sequence of double ops — bit-exact
    in any engine (the property the SQL oracle replays). Degenerate
    groups (constant x) surface NULL slope explicitly."""
    x = F.col(x_col).cast("decimal(18,2)")
    y = F.col(y_col).cast("decimal(18,2)")
    sums = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,4)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,4)")).alias("sxx"),
        F.sum((y * y).cast("decimal(38,4)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return sums.select(
        group_col,
        F.col("n"),
        F.when(var_x > 0, F.round(slope, 6)).alias("slope"),
        F.when(var_x > 0, F.round((sy - slope * sx) / n, 6)).alias("intercept"),
        F.when(
            (var_x > 0) & (var_y > 0),
            F.round((cov_n * cov_n) / (var_x * var_y), 6),
        ).alias("r2"),
    )


def ols2_fit(
    df: DataFrame, group_col: str, x1_col: str, x2_col: str, y_col: str
) -> DataFrame:
    """Per-group closed-form TWO-feature linear regression (2×2 normal
    equations solved explicitly): y ~ b0 + b1·x1 + b2·x2 from the nine
    exact component sums — multivariate trend fitting without an
    iterative trainer.

    Same discipline as ``ols_fit``: ONE map-side-combinable aggregation
    pass, all moments ride decimal (order/partition-independent), and
    the coefficient solve is a fixed sequence of double ops the SQL
    oracle replays bit-exactly. Collinear groups (singular centered
    Gram determinant) surface NULL coefficients explicitly."""
    x1 = F.col(x1_col).cast("decimal(18,2)")
    x2 = F.col(x2_col).cast("decimal(18,2)")
    y = F.col(y_col).cast("decimal(18,2)")

    def prod(a, b):
        return F.sum((a * b).cast("decimal(38,4)"))

    sums = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        prod(x1, x1).alias("s11"),
        prod(x1, x2).alias("s12"),
        prod(x2, x2).alias("s22"),
        prod(x1, y).alias("s1y"),
        prod(x2, y).alias("s2y"),
        prod(y, y).alias("syy"),
    )
    n = F.col("n").cast("double")
    d = {c: F.col(c).cast("double") for c in
         ["s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy"]}
    c11 = n * d["s11"] - d["s1"] * d["s1"]
    c12 = n * d["s12"] - d["s1"] * d["s2"]
    c22 = n * d["s22"] - d["s2"] * d["s2"]
    c1y = n * d["s1y"] - d["s1"] * d["sy"]
    c2y = n * d["s2y"] - d["s2"] * d["sy"]
    det = c11 * c22 - c12 * c12
    sst = n * d["syy"] - d["sy"] * d["sy"]
    b1 = (c1y * c22 - c2y * c12) / det
    b2 = (c2y * c11 - c1y * c12) / det
    ok = det > 0
    return sums.select(
        group_col,
        F.col("n"),
        F.when(ok, F.round(b1, 6)).alias("b1"),
        F.when(ok, F.round(b2, 6)).alias("b2"),
        F.when(
            ok, F.round((d["sy"] - b1 * d["s1"] - b2 * d["s2"]) / n, 6)
        ).alias("intercept"),
        F.when(
            ok & (sst > 0), F.round((b1 * c1y + b2 * c2y) / sst, 6)
        ).alias("r2"),
    )


def decision_stump(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group best binary split of a numeric target on a
    bounded-cardinality feature — the CART/GBDT building block (split
    maximizing SSE reduction), as two aggregations instead of a
    trainer loop.

    Pass 1 (full scan, map-side combinable): per (group, x) → count and
    exact decimal Σy, Σy². Pass 2 (window over the TINY per-group
    distinct-x relation — bounded by feature cardinality, NOT data
    size): prefix sums ordered by x give, for every candidate threshold
    t, left/right SSE in closed form; the best split is
    row_number()=1 by round-6 reduction desc then threshold asc (the
    rounding makes the ranking engine-independent — raw-double
    ordering can flip on last-ulp ties).

    Contract: ``x_col`` is bounded-cardinality (here quantity's ≤ 50
    distinct values; for continuous features, pre-bucket to deciles
    first — the window is per-group over distinct x only, so the
    shuffle after pass 1 carries |groups|·|distinct x| rows, scan-bound
    at 100 TB). A group with a single distinct x has no valid split and
    is absent from the output (mirrored by the oracle's cn < tn
    filter), not emitted with NULLs."""
    y = F.col(y_col).cast("decimal(18,2)")
    # NULL feature/target rows drop up front: a NULL threshold sorts to
    # OPPOSITE ends of the prefix walk on Spark vs SQL engines, and a
    # NULL target inflates counts without contributing to the SSE sums
    # (degen r10)
    per_x = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(group_col, x_col)
        .agg(
            F.count(F.lit(1)).alias("nx"),
            F.sum(y).alias("sy_x"),
            F.sum((y * y).cast("decimal(38,4)")).alias("syy_x"),
        )
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(x_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(group_col)
    cum = per_x.select(
        group_col,
        F.col(x_col).alias("threshold"),
        F.sum("nx").over(w).alias("cn"),
        F.sum("sy_x").over(w).alias("csy"),
        F.sum("syy_x").over(w).alias("csyy"),
        F.sum("nx").over(wt).alias("tn"),
        F.sum("sy_x").over(wt).alias("tsy"),
        F.sum("syy_x").over(wt).alias("tsyy"),
    ).filter(F.col("cn") < F.col("tn"))
    from .hypotests import dec_double_wide_frac

    # portable decimal→double: the squared-price prefix sums carry >15
    # significant digits, where a DIRECT decimal cast is not correctly
    # rounded on DuckDB (dec_double contract) — a 1-ulp difference in
    # csyy flipped the 6th decimal of sse_reduction under composed
    # skew⊕degen data (r12 catch)
    cn = F.col("cn").cast("double")
    csy = dec_double_wide_frac(F.col("csy"))
    csyy = dec_double_wide_frac(F.col("csyy"))
    tn = F.col("tn").cast("double")
    tsy = dec_double_wide_frac(F.col("tsy"))
    tsyy = dec_double_wide_frac(F.col("tsyy"))
    rn_ = tn - cn
    rsy = tsy - csy
    rsyy = tsyy - csyy
    sse_total = tsyy - tsy * tsy / tn
    sse_left = csyy - csy * csy / cn
    sse_right = rsyy - rsy * rsy / rn_
    red = sse_total - sse_left - sse_right
    # 2-dp FIXED-POINT half-up instead of round(·, 6): SSE magnitudes
    # are Σy²-sized (4e9 at sf0.01), where round's scaled |x|·1e6
    # exceeds the double tie grid and DuckDB's half-away-from-zero on
    # the ...xxx.5 artifact diverges from Spark's exact-BigDecimal
    # rounding by 1e-6 (r12 skewdegen catch). floor of identical IEEE
    # doubles is engine-identical at ANY magnitude; cents precision is
    # ample for an SSE.
    red_fp = (
        F.signum(red)
        * F.floor(F.abs(red) * F.lit(100.0) + F.lit(0.5))
        / F.lit(100.0)
        + F.lit(0.0)  # normalize IEEE -0.0 (signum(-0)·0 = -0)
    )
    scored = cum.select(
        group_col,
        "threshold",
        F.col("cn").alias("n_left"),
        (F.col("tn") - F.col("cn")).alias("n_right"),
        F.round(csy / cn, 6).alias("mean_left"),
        F.round(rsy / rn_, 6).alias("mean_right"),
        red_fp.alias("sse_reduction"),
    )
    rank = Window.partitionBy(group_col).orderBy(
        F.col("sse_reduction").desc(), F.col("threshold").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def pca_top_component(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    iterations: int = 3,
) -> DataFrame:
    """Distributed PCA, top principal component by power iteration —
    with the same bit-exact-replay discipline as the other trainers
    (logreg/kmeans/NB): every floating reduction rounds its terms to
    8 dp and sums in decimal, so a SQL oracle replays the whole
    computation including the iterations.

    Phases:
    1. Per-dimension means (one posexplode + decimal-sum pass — the
       only full scan besides the scatter pass).
    2. Scatter matrix S = Σ (x−m)(x−m)ᵀ over the upper triangle: the
       exploded centered values self-join on the row id (i ≤ j), each
       product term rounds to 8 dp, and the (i, j) decimal sums are
       order/partition-independent. d²/2 shuffle rows per input row is
       the honest cost of EXACT replay; a production fit at large d
       would swap phase 2 for mapInPandas per-partition numpy Gram
       partials (same API, float-order-dependent).
    3. Power iteration runs ON the (mirrored) d×d scatter DataFrame as
       plain Spark joins/aggregates — tiny frames, no driver math, so
       engine-vs-oracle arithmetic parity is Spark-round vs DuckDB-round
       (the combination every other replayed trainer already proves).

    Output (one row): n, dim, trace (of the covariance), top_eigenvalue,
    explained_ratio = λ₁/trace. Eigenvector components are deliberately
    not emitted — their global sign is init-dependent; the invariants
    are not.
    """
    x = F.col("col").cast("double")
    # ensure_parallelism (r12): the d-way posexplode and the d²/2 scatter
    # expansion below inherit the scan's split count — a single-file
    # embeddings table ran the whole n·d²/2 term generation on ONE core
    # (guide §2.5 input skew). No-op when the scan already has splits.
    exploded = ensure_parallelism(
        emb.select(F.col(id_col).alias("rid"), F.col(vec_col))
    ).select(F.col("rid"), F.posexplode(vec_col)).select(
        "rid", F.col("pos").alias("i"), x.alias("x")
    )
    means = (
        exploded.groupBy("i")
        .agg(
            F.sum(F.col("x").cast("decimal(28,8)")).alias("s"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "i", F.round(F.col("s").cast("double") / F.col("cnt"), 6).alias("m")
        )
    )
    n_rows = emb.count()
    if n_rows == 0:
        # empty input: the power phase would KeyError on the empty
        # matvec (empty-table sweep r10); emit the 1-row NULL contract
        return emb.sparkSession.createDataFrame(
            [(0, dim, None, None, None)],
            "n long, dim int, trace_cov double, top_eigenvalue double, "
            "explained_ratio double",
        )
    centered = exploded.join(F.broadcast(means), "i").select(
        "rid", "i", (F.col("x") - F.col("m")).alias("c")
    )
    a = centered.select("rid", F.col("i").alias("ia"), F.col("c").alias("ca"))
    b = centered.select("rid", F.col("i").alias("jb"), F.col("c").alias("cb"))
    # The scope frees the cached d×d frames on EVERY exit path: an
    # exception mid-iteration must not pin them for the session (ADVICE r4).
    with lifecycle.scope():
        scatter = (
            a.join(b, "rid")
            .filter(F.col("ia") <= F.col("jb"))
            # Terms are scaled to INTEGER 1e-8 units (codegen'd long round,
            # ~2x the throughput of per-term decimal construction — measured
            # 5-7 s vs 2.5-3 s at sf0.1) and summed as DECIMAL(28,0) so the
            # reduction cannot overflow at any corpus size. Same
            # order-independence guarantee: integer-valued terms, exact sum.
            .select(
                F.col("ia").alias("i"),
                F.col("jb").alias("j"),
                F.expr("CAST(round(ca * cb * 100000000.0) AS BIGINT)")
                .cast("decimal(28,0)")
                .alias("t"),
            )
            .groupBy("i", "j")
            .agg(F.sum("t").alias("sm"))
            # d(d+1)/2 rows: single-partition from here on — every
            # downstream matvec/aggregate is one task instead of 32
            # scheduler round-trips per tiny stage (measured: the iteration
            # phase drops ~4x with the coalesce)
            .coalesce(1)
            .transform(lifecycle.persist)
        )
        # Mirror the strict upper triangle to get the full symmetric matrix.
        full = scatter.unionByName(
            scatter.filter(F.col("i") < F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "sm"
            )
        ).select(
            "i", "j", (F.col("sm").cast("double") / F.lit(1e8)).alias("a")
        )
        full = lifecycle.persist(full.coalesce(1))
        return _pca_power_phase(emb, scatter, full, dim, n_rows, iterations)


def _pca_power_phase(
    emb: DataFrame,
    scatter: DataFrame,
    full: DataFrame,
    dim: int,
    n_rows: int,
    iterations: int,
) -> DataFrame:
    full.count()

    spark = emb.sparkSession
    # Power iteration with the kmeans-centroid pattern: the d-component
    # vector rides into each round as an ARRAY LITERAL (no broadcast
    # join, no lazy-plan doubling — the naive u-referenced-twice plan
    # spent 9 of 12 s scheduling 2^k tiny jobs at sf0.1), the matvec +
    # norm + normalize run as ONE single-task query over the cached d×d
    # frame, and the driver collects d doubles per round. All rounding
    # stays in-engine so oracle parity is Spark-round vs DuckDB-round.
    v0 = spark.range(1).select(
        (F.lit(1.0) / F.sqrt(F.lit(float(dim)))).alias("v")
    ).collect()[0]["v"]
    vlist = [v0] * dim

    def matvec_u(vvals):
        varr = F.array(*[F.lit(float(x)) for x in vvals])
        return (
            full.select(
                "i",
                F.round(F.col("a") * F.element_at(varr, F.col("j") + 1), 8)
                .cast("decimal(28,8)")
                .alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").cast("double").alias("u"))
        )

    from pyspark.sql import Window as _W

    whole = _W.partitionBy()
    for _ in range(iterations):
        u = matvec_u(vlist)
        v_next = u.select(
            "i",
            F.round(
                F.col("u")
                / F.sqrt(
                    F.sum(
                        F.round(F.col("u") * F.col("u"), 8).cast("decimal(28,8)")
                    )
                    .over(whole)
                    .cast("double")
                ),
                6,
            ).alias("v"),
        )
        got = {r["i"]: r["v"] for r in v_next.collect()}
        vlist = [got[i] for i in range(dim)]
    varr_final = F.array(*[F.lit(float(x)) for x in vlist])
    ray = matvec_u(vlist).agg(
        F.sum(
            F.round(F.element_at(varr_final, F.col("i") + 1) * F.col("u"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("double")
        .alias("num"),
        F.sum(
            F.round(
                F.element_at(varr_final, F.col("i") + 1)
                * F.element_at(varr_final, F.col("i") + 1),
                8,
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("den"),
    )
    trace = scatter.filter(F.col("i") == F.col("j")).agg(
        (F.sum("sm").cast("double") / F.lit(1e8)).alias("tr")
    )
    lam = F.col("num") / F.col("den")
    result = (
        ray.crossJoin(F.broadcast(trace))
        .select(
            F.lit(n_rows).cast("long").alias("n"),
            F.lit(dim).cast("int").alias("dim"),
            F.round(F.col("tr") / (F.lit(n_rows) - 1), 6).alias("trace_cov"),
            F.round(lam / (F.lit(n_rows) - 1), 6).alias("top_eigenvalue"),
            F.round(lam / F.col("tr"), 6).alias("explained_ratio"),
        )
    )
    rows = result.collect()
    return spark.createDataFrame(
        rows,
        "n long, dim int, trace_cov double, top_eigenvalue double, "
        "explained_ratio double",
    )


def ridge2_fit(
    df: DataFrame,
    group_col: str,
    x1_col: str,
    x2_col: str,
    y_col: str,
    lam: float = 1_000_000.0,
) -> DataFrame:
    """Per-group closed-form TWO-feature RIDGE regression: minimizes
    Σ(y − b0 − b1·x1 − b2·x2)² + λ·(b1² + b2²) over centered features,
    solved explicitly — in the n-scaled component form the penalty adds
    λ·n to the centered Gram diagonal: a11 = c11 + λn, a22 = c22 + λn
    (c·· as in ``ols2_fit``), b = [a]⁻¹·c·y. The intercept is exact on
    centered data (unpenalized), and ``explained`` reports
    (b1·c1y + b2·c2y)/SST — the in-sample explained fraction, which for
    λ>0 is a shrunk, not least-squares-optimal, quantity (labelled so).

    Same scale shape as ``ols2_fit``: ONE map-side-combinable moment
    pass, decimal-exact sums, fixed double solve; λ>0 makes the system
    positive definite, so no singular-determinant NULL path is needed.
    λ defaults to an illustrative 10⁶ (visible shrinkage at testdata
    scale); the parity contract holds for any fixed λ."""
    x1 = F.col(x1_col).cast("decimal(18,2)")
    x2 = F.col(x2_col).cast("decimal(18,2)")
    y = F.col(y_col).cast("decimal(18,2)")

    def prod(a, b):
        return F.sum((a * b).cast("decimal(38,4)"))

    sums = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        prod(x1, x1).alias("s11"),
        prod(x1, x2).alias("s12"),
        prod(x2, x2).alias("s22"),
        prod(x1, y).alias("s1y"),
        prod(x2, y).alias("s2y"),
        prod(y, y).alias("syy"),
    )
    n = F.col("n").cast("double")
    d = {c: F.col(c).cast("double") for c in
         ["s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy"]}
    c11 = n * d["s11"] - d["s1"] * d["s1"]
    c12 = n * d["s12"] - d["s1"] * d["s2"]
    c22 = n * d["s22"] - d["s2"] * d["s2"]
    c1y = n * d["s1y"] - d["s1"] * d["sy"]
    c2y = n * d["s2y"] - d["s2"] * d["sy"]
    a11 = c11 + F.lit(lam) * n
    a22 = c22 + F.lit(lam) * n
    det = a11 * a22 - c12 * c12
    sst = n * d["syy"] - d["sy"] * d["sy"]
    b1 = (c1y * a22 - c2y * c12) / det
    b2 = (c2y * a11 - c1y * c12) / det
    return sums.select(
        group_col,
        F.col("n"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round((d["sy"] - b1 * d["s1"] - b2 * d["s2"]) / n, 6).alias(
            "intercept"
        ),
        F.when(sst > 0, F.round((b1 * c1y + b2 * c2y) / sst, 6)).alias(
            "explained"
        ),
    )


@lifecycle.operator
def boosted_stumps_2(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Two rounds of gradient boosting with depth-1 regression trees
    (squared loss) over a BOUNDED feature domain — a real distributed
    training loop whose every step is exact and SQL-replayable: the
    fact table collapses ONCE to the per-x relation (n, Σy, Σy²);
    stage 1 scores every candidate split from exact decimal prefix
    sums and picks argmin SSE; stage 2's residual moments per x are
    CLOSED FORMS in the stage-1 leaf constants (Σ(y−p) = Σy − n·p,
    Σ(y−p)² = Σy² − 2pΣy + np²), so the second stump trains with NO
    second data scan. Split ties break on the smaller x (struct-min,
    deterministic on every engine).

    The bounded-domain contract is kendall_tau_b's (candidate splits
    = distinct x values); windows run over the ≤|dom|-row relation
    only. Residual per-x terms round to 6 dp before the exact decimal
    prefix sums, so nothing order-dependent survives. Output one row:
    (n, sse_base, split_1, pred_left_1, pred_right_1, sse_1,
    split_2, adj_left_2, adj_right_2, sse_2)."""
    from breweries_etl_spark.operators.hypotests import (
        dec_double_wide_frac,
        quantized_money,
    )

    yq = quantized_money(F.col(y_col))
    per_x = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("x"))
        .agg(
            F.count(F.lit(1)).alias("nx"),
            F.sum(yq.cast("decimal(38,2)")).alias("sy"),
            F.sum((yq * yq).cast("decimal(38,4)")).alias("qy"),
        )
        .transform(lifecycle.persist)
    )
    per_x.count()
    tot = per_x.agg(
        F.sum("nx").alias("n"),
        F.sum("sy").alias("syt"),
        F.sum("qy").alias("qyt"),
        F.max("x").alias("xmax"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    pre = per_x.select(
        "x",
        F.sum("nx").over(w).alias("nl"),
        F.sum("sy").over(w).alias("syl"),
        F.sum("qy").over(w).alias("qyl"),
    ).crossJoin(F.broadcast(tot))
    nl = F.col("nl").cast("double")
    nr = (F.col("n") - F.col("nl")).cast("double")
    syl = dec_double_wide_frac(F.col("syl"))
    syr = dec_double_wide_frac(F.col("syt")) - syl
    qyl = dec_double_wide_frac(F.col("qyl"))
    qyr = dec_double_wide_frac(F.col("qyt")) - qyl
    sse1 = (qyl - syl * syl / nl) + (qyr - syr * syr / nr)
    cand = pre.filter(F.col("x") < F.col("xmax")).select(
        F.struct(
            F.round(sse1, 6).alias("sse"),
            F.col("x").alias("s"),
            (syl / nl).alias("pl"),
            (syr / nr).alias("pr"),
        ).alias("c")
    )
    best1 = cand.agg(F.min("c").alias("b")).select(
        F.col("b.sse").alias("sse_1"),
        F.col("b.s").alias("split_1"),
        F.col("b.pl").alias("pl"),
        F.col("b.pr").alias("pr"),
    )
    # stage 2: residual moments per x from stage-1 constants
    staged = per_x.crossJoin(F.broadcast(best1))
    pred = F.when(F.col("x") <= F.col("split_1"), F.col("pl")).otherwise(
        F.col("pr")
    )
    nxd = F.col("nx").cast("double")
    syd = dec_double_wide_frac(F.col("sy"))
    qyd = dec_double_wide_frac(F.col("qy"))
    rsum = F.round(syd - nxd * pred, 6).cast("decimal(28,6)")
    rsq = F.round(
        qyd - F.lit(2.0) * pred * syd + nxd * pred * pred, 6
    ).cast("decimal(38,6)")
    resid = staged.select(
        "x", "nx", rsum.alias("rs"), rsq.alias("rq"),
        "sse_1", "split_1", "pl", "pr",
    )
    rtot = resid.agg(
        F.sum("nx").alias("n"),
        F.sum("rs").alias("rst"),
        F.sum("rq").alias("rqt"),
        F.max("x").alias("xmax"),
        F.max("sse_1").alias("sse_1"),
        F.max("split_1").alias("split_1"),
        F.max("pl").alias("pl"),
        F.max("pr").alias("pr"),
    )
    rpre = resid.select(
        "x",
        F.sum("nx").over(w).alias("nl"),
        F.sum("rs").over(w).alias("rsl"),
        F.sum("rq").over(w).alias("rql"),
    ).crossJoin(F.broadcast(rtot))
    rnl = F.col("nl").cast("double")
    rnr = (F.col("n") - F.col("nl")).cast("double")
    rsl = dec_double_wide_frac(F.col("rsl"))
    rsr = dec_double_wide_frac(F.col("rst")) - rsl
    rql = dec_double_wide_frac(F.col("rql"))
    rqr = dec_double_wide_frac(F.col("rqt")) - rql
    sse2 = (rql - rsl * rsl / rnl) + (rqr - rsr * rsr / rnr)
    cand2 = rpre.filter(F.col("x") < F.col("xmax")).select(
        "n", "sse_1", "split_1", "pl", "pr",
        F.struct(
            F.round(sse2, 6).alias("sse"),
            F.col("x").alias("s"),
            (rsl / rnl).alias("al"),
            (rsr / rnr).alias("ar"),
        ).alias("c"),
    )
    base_sse = (
        dec_double_wide_frac(F.col("qyt"))
        - dec_double_wide_frac(F.col("syt"))
        * dec_double_wide_frac(F.col("syt"))
        / F.col("n").cast("double")
    )
    sse0 = tot.select(
        F.round(base_sse, 6).alias("sse_base")
    )
    best2 = cand2.groupBy("n", "sse_1", "split_1", "pl", "pr").agg(
        F.min("c").alias("b")
    )
    result = best2.crossJoin(F.broadcast(sse0)).select(
        F.col("n").cast("long").alias("n"),
        "sse_base",
        F.col("split_1"),
        F.round(F.col("pl"), 6).alias("pred_left_1"),
        F.round(F.col("pr"), 6).alias("pred_right_1"),
        F.col("sse_1"),
        F.col("b.s").alias("split_2"),
        F.round(F.col("b.al"), 6).alias("adj_left_2"),
        F.round(F.col("b.ar"), 6).alias("adj_right_2"),
        F.col("b.sse").alias("sse_2"),
    )
    return result
