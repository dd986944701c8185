"""Similarity search over embedding columns (driver extension mandate):
brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH-bucketed variant as the scale path.

Scale design:
- The dot product is a native array expression (zip_with + aggregate in
  doubles) — JVM-side, no Python.
- Top-k uses a TWO-PHASE ranking: rank within (query, physical partition)
  first, keep k, then rank the k·P survivors globally per query. The
  all-pairs scores never shuffle — only the per-partition winners do.
- LSH buckets corpus vectors by hyperplane sign signature; a query probes
  only its own bucket (optionally multi-probe neighbors). Hyperplanes are
  seeded numpy normals baked into the plan as literals — deterministic
  across runs and executors.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import lifecycle
from ..functions.exact import round_half_up as _r6

from ..functions.partitioning import ensure_parallelism


def cosine_expr(a: Column, b: Column, precision: int = 6) -> Column:
    """Cosine similarity of two float arrays, computed in double and
    rounded so independently-computed values (Spark vs oracle, different
    partitionings) agree exactly."""

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return F.round(dot(a, b) / F.sqrt(dot(a, a) * dot(b, b)), precision)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, two-phase rank. Ties break on corpus id for determinism."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("c_vec"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    # Phase 1: top-k within each (query, partition) — no data movement yet.
    local = Window.partitionBy("query_id", F.spark_partition_id()).orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    survivors = scored.withColumn("r", F.row_number().over(local)).filter(
        F.col("r") <= k
    )
    # Phase 2: global top-k per query over the k·P survivors only.
    final = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        survivors.drop("r")
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def brute_force_topk_pandas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Same exact top-k as ``brute_force_topk``, alternate physical
    strategy: the query matrix is collected (it is small by contract),
    shipped in the task closure, and each corpus partition scores against
    it with ONE numpy matmul per Arrow batch — the vectorized path that
    wins when the JVM-expression dot product becomes the bottleneck
    (interpreted higher-order exprs, very wide vectors). Scores, ranking,
    and tie-breaks are identical to the expression version.
    """
    from collections.abc import Iterator

    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        # zero queries -> zero result rows, with the contract schema
        # (an empty np.array is 1-D and the axis-1 norm crashed;
        # empty-table sweep r10)
        spark = queries.sparkSession
        return spark.createDataFrame(
            [], "query_id long, corpus_id long, cosine double, rank long"
        )
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_unit = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            c_unit = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_unit @ q_unit.T  # (batch, n_queries)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "corpus_id": np.tile(pdf[id_col].to_numpy(), len(q_ids)),
                    "cosine_raw": sims.T.reshape(-1),
                }
            )

    scored = (
        ensure_parallelism(corpus.select(id_col, vec_col))
        .mapInPandas(score, schema="query_id long, corpus_id long, cosine_raw double")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id", F.round("cosine_raw", 6).alias("cosine"))
    )
    local = Window.partitionBy("query_id", F.spark_partition_id()).orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    survivors = scored.withColumn("r", F.row_number().over(local)).filter(F.col("r") <= k)
    final = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        survivors.drop("r")
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_signature_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i = 1 iff dot(vec, plane_i) > 0. Planes are
    literal arrays in the plan — broadcast implicitly with the task
    binary, no driver state at run time."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(float(x)) for x in plane]),
                    lambda p, q: p.cast("double") * q,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for plane in planes
    ]
    sig = F.lit(0)
    for bit in bits:
        sig = sig * 2 + bit
    return sig


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: bucket corpus by hyperplane signature; MULTI-PROBE
    the query's bucket plus every bucket within ``probe_hamming`` sign
    flips (Lv et al., multi-probe LSH). A near neighbor that lands one
    plane-decision away is the dominant failure of single-probe
    sign-LSH, so probing Hamming≤1 costs (1 + n_planes)/2^n_planes of
    the corpus per query (~11% at 6 planes) and recovers most of it.
    Only the QUERY side fans out — the corpus is bucketed once, so the
    join stays a bucket-equi-join, never a scan per probe."""
    planes = hyperplanes(dim, n_planes, seed)
    sig = lsh_signature_expr(F.col(vec_col), planes)
    probe_sigs = [sig]
    if probe_hamming >= 1:
        probe_sigs += [sig.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    if probe_hamming >= 2:
        probe_sigs += [
            sig.bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(F.array(*probe_sigs)).alias("sig"),
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_signature_expr(F.col(vec_col), planes).alias("sig"),
    )
    # probe signatures are distinct and each corpus vector lives in one
    # bucket, so (query, corpus) pairs cannot repeat — no dedup needed
    scored = (
        c.join(F.broadcast(q), "sig")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


@lifecycle.operator
def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus with
    KMeans, then search each query only in its ``n_probe`` nearest
    cells — the classic coarse-quantizer ANN layout.

    Cluster assignment is a one-time indexing cost (in production the
    assignments persist as a partition/bucket column of the corpus
    table); the query path scores |corpus|·n_probe/n_clusters vectors
    instead of |corpus|. Approximate in recall, exact in the scores it
    returns. Centroids are small → shipped as literals in the probe plan.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    prepared = ensure_parallelism(corpus.select(id_col, vec_col)).withColumn(
        "__v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    if prepared.limit(1).count() == 0:
        # KMeans cannot fit zero vectors (empty-table sweep r10);
        # zero corpus -> zero neighbors, contract schema preserved
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, corpus_id long, cosine double, rank long"
        )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="__v").fit(prepared)
    assigned = model.transform(prepared).select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("prediction").alias("cell"),
    ).transform(lifecycle.persist)
    assigned.count()

    centroids = [np.asarray(c).tolist() for c in model.clusterCenters()]

    def nearest_cells(vec: Column) -> Column:
        # distance^2 to each centroid as literal-array expressions; take
        # the n_probe smallest cell ids
        dists = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            vec,
                            F.array(*[F.lit(float(x)) for x in c]),
                            lambda p, q: (p.cast("double") - q)
                            * (p.cast("double") - q),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ).alias("d"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(centroids)
            ]
        )
        return F.slice(F.array_sort(dists), 1, n_probe)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(nearest_cells(F.col(vec_col))).alias("probe"),
    ).select("query_id", "q_vec", F.col("probe.cell").alias("cell"))

    scored = (
        assigned.join(F.broadcast(q), "cell")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist an IVF index: corpus vectors written PARTITIONED BY their
    KMeans cell, plus a tiny ``centroids`` table. Build once, probe many
    — the serving shape ``ivf_topk`` only simulates in-session. The
    cell partitioning is the entire point: a probe filters on
    ``cell IN (...)`` and Spark's partition pruning means only
    n_probe/n_clusters of the index FILES are ever read (asserted via
    ``inputFiles`` in tests) — at 100 TB that is the difference between
    an index probe and a table scan."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    prepared = ensure_parallelism(corpus.select(id_col, vec_col)).withColumn(
        "__v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="__v").fit(prepared)
    assigned = model.transform(prepared).select(
        F.col(id_col), F.col(vec_col), F.col("prediction").alias("cell")
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "vectors")
    )
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in np.asarray(c)]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )


def ivf_topk_indexed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index (``build_ivf_index``): nearest
    ``n_probe`` centroids per query from the (collected, tiny) centroid
    table, then score only the matching cell partitions — the
    ``cell`` equi-join pushes down as a partition filter on the index
    scan. Same scoring/rank semantics as ``ivf_topk``."""
    centroids = [
        (r["cell"], r["centroid"])
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    ]

    def nearest_cells(vec: Column) -> Column:
        dists = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            vec,
                            F.array(*[F.lit(float(x)) for x in c]),
                            lambda p, q: (p.cast("double") - q)
                            * (p.cast("double") - q),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ).alias("d"),
                    F.lit(int(i)).alias("cell"),
                )
                for i, c in centroids
            ]
        )
        return F.slice(F.array_sort(dists), 1, n_probe)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(nearest_cells(F.col(vec_col))).alias("probe"),
    ).select("query_id", "q_vec", F.col("probe.cell").alias("cell"))
    # Collect the (small-by-contract) probe cells so the index scan gets a
    # LITERAL partition filter — broadcast-join pruning alone would still
    # list every partition.
    probe_cells = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
    index = spark.read.parquet(os.path.join(path, "vectors")).filter(
        F.col("cell").isin(probe_cells)
    )
    scored = (
        index.select(
            F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("c_vec"), "cell"
        )
        .join(F.broadcast(q), "cell")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            cosine_expr(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-dup pairs. With ``block_col`` the join is
    blocked (e.g. by cluster/label/shard) so the pair space is
    sum-of-squares per block instead of n² global — the practical pattern
    for corpus-scale near-dup. ``block_col=None`` is the exact all-pairs
    ground truth."""
    cols = [F.col(id_col), F.col(vec_col)] + (
        [F.col(block_col)] if block_col else []
    )
    base = ensure_parallelism(df.select(*cols))
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the compression step before shipping vectors to an ANN index (4×
    smaller than float32, dot products stay proportional within one
    scale factor per vector).

    Exploded (id, pos, qval, scale) output: one Arrow batch per input
    partition through ``mapInPandas`` with the whole batch quantized as
    a single numpy matrix op — no per-row Python. Rounding is explicit
    half-away-from-zero (SQL ``round`` semantics, NOT numpy's
    banker's-rounding ``rint``) so any SQL engine reproduces the codes
    bit-for-bit; a zero vector quantizes to zeros with scale 0.
    """
    import pandas as pd

    def quant(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf[vec_col].to_numpy()), dtype=np.float64)
            scale = np.abs(mat).max(axis=1) / 127.0
            safe = np.where(scale == 0.0, 1.0, scale)
            x = mat / safe[:, None]
            q = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))
            q = np.where(scale[:, None] == 0.0, 0.0, q).astype(np.int64)
            n, dim = q.shape
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), dim),
                    "pos": np.tile(np.arange(dim, dtype=np.int64), n),
                    "qval": q.reshape(-1),
                    "scale": np.repeat([_r6(s) for s in scale], dim),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        quant, f"{id_col} long, pos long, qval long, scale double"
    )


def label_centroid_similarity(
    emb: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Pairwise cosine similarity between per-label mean vectors — the
    class-separation readout behind embedding-space health checks (two
    labels whose centroids cosine-converge are merging in the
    representation).

    Centroids come from one posexplode + (label, dim) decimal-sum
    aggregate — the only pass over the big table; the per-dim mean is a
    fixed round(sum/n, 6). The pairwise stage runs over |labels|²/2
    centroid pairs (tiny by contract), with every product term rounded
    to 8 dp and summed in decimal so the reduction is
    order-independent — hash-stable in any engine.
    """
    dims = (
        emb.select(F.col(label_col).alias("label"), F.posexplode(vec_col))
        .select("label", F.col("pos"), F.col("col").cast("double").alias("x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("x").cast("decimal(28,8)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "pos",
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("m"),
        )
    )
    term = lambda a, b: F.round(a * b, 8).cast("decimal(28,8)")  # noqa: E731
    norms = dims.groupBy("label").agg(
        F.sum(term(F.col("m"), F.col("m"))).cast("double").alias("sq")
    )
    a = dims.select(F.col("label").alias("label_a"), "pos", F.col("m").alias("ma"))
    b = dims.select(F.col("label").alias("label_b"), "pos", F.col("m").alias("mb"))
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(term(F.col("ma"), F.col("mb"))).cast("double").alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("sq").alias("sqa"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("sq").alias("sqb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot") / (F.sqrt(F.col("sqa")) * F.sqrt(F.col("sqb"))), 6
            ).alias("cosine"),
        )
    )


def pair_cosine_histogram(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bins: int = 20,
) -> DataFrame:
    """Histogram of cosine similarities between CONSECUTIVE-id vector
    pairs — the O(n) embedding-space diagnostic (isotropy/collapse
    check: a healthy space piles mass near 0, a collapsed one near 1)
    that stands in for the O(n²) all-pairs histogram. Ids are arbitrary
    keys, so consecutive pairing is an unbiased deterministic sample of
    pairs, reproducible on any partitioning (no RNG, no shuffle beyond
    one self-join on id+1).

    Cosine follows ``cosine_expr``'s fixed sequence (ordered fold,
    round 6); bins are [-1, 1] in 2/n_bins steps via the scaled-int
    path (round(c·10⁶) then integer div — no double floor at bin
    edges). Output per non-empty bin: (bin, lo, hi, cnt)."""
    a = embeddings.select(
        F.col(id_col).alias("i"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(
        (F.col(id_col) - F.lit(1)).alias("i"), F.col(vec_col).alias("vb")
    )
    step = int(2_000_000 // n_bins)
    cos = cosine_expr(F.col("va"), F.col("vb"))
    binned = (
        a.join(b, "i")
        .select(cos.alias("c"))
        .select(
            F.least(
                F.lit(n_bins - 1).cast("long"),
                F.expr(
                    f"cast(round((c + 1.0) * 1000000.0) as long)"
                    f" div {step}"
                ),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = 2.0 / n_bins
    return binned.select(
        F.col("bin").cast("long").alias("bin"),
        F.round(F.lit(-1.0) + F.col("bin") * F.lit(w), 6).alias("lo"),
        F.round(F.lit(-1.0) + (F.col("bin") + 1) * F.lit(w), 6).alias("hi"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def embedding_dim_profile(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension variance profile of an embedding column, folded
    to one health row: dimension count, mean/max/min per-dim variance,
    the anisotropy ratio max/min (rogue or dead dimensions — the
    cheap precursor to a whitening decision), and the argmax
    dimension. A collapsed representation (anisotropy ≫ 1) breaks
    cosine retrieval long before downstream metrics notice.

    One posexplode shuffle keyed by dimension (bounded #dims
    partitions); per-dim moments use the round-6/round-12 portable
    folds; the final fold is over the #dims-row relation. Output one
    row: (n_vectors, n_dims, mean_var, max_var, min_var,
    anisotropy_ratio, max_var_dim)."""
    dims = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.posexplode(vec_col))
        .select("pos", F.col("col").cast("double").alias("x"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("x"), 6).cast("decimal(28,6)")).alias("s"),
            F.sum(
                F.round(F.col("x") * F.col("x"), 12).cast("decimal(28,12)")
            ).alias("q"),
        )
    )
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    var = F.round(F.col("q").cast("double") / n - mean * mean, 6)
    scored = dims.select("pos", "n", var.alias("v"))
    folded = scored.agg(
        F.max("n").alias("n_vectors"),
        F.count(F.lit(1)).alias("n_dims"),
        F.sum(F.col("v").cast("decimal(28,6)")).alias("vsum"),
        F.max("v").alias("vmax"),
        F.min("v").alias("vmin"),
        F.max(
            F.struct(F.col("v").alias("v"), (-F.col("pos")).alias("np"))
        ).alias("top"),
    )
    return folded.select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.col("n_dims").cast("long").alias("n_dims"),
        F.round(
            F.col("vsum").cast("double") / F.col("n_dims").cast("double"), 6
        ).alias("mean_var"),
        F.col("vmax").alias("max_var"),
        F.col("vmin").alias("min_var"),
        F.when(F.col("vmin") > 0, F.round(F.col("vmax") / F.col("vmin"), 6))
        .alias("anisotropy_ratio"),
        (-F.col("top.np")).cast("long").alias("max_var_dim"),
    )
