"""Explicit skew-handling equi-join: heavy-hitter salting.

AQE's skew-join rule (`spark.sql.adaptive.skewJoin.enabled`) splits
oversized *sort-merge* partitions at runtime, but it only sees skew
after the shuffle files exist, and it cannot help a shuffle-hash join
whose single hot key overflows one task. This operator is the classic
static alternative for the "one key is 1% of 100 TB" case: replicate
the dimension row for hot keys across N salt buckets and spread the
fact side's hot-key rows uniformly over those buckets, so no task ever
receives more than ~1/N of the hottest key.

The transformation is result-invariant: salting only refines the join
partitioning, every (fact row, dim row) match still meets on exactly
one (key, salt) pair — the oracle asserts equality with the plain join.

Cost model: heavy-key detection is one map-side-combined count over
the fact's join column (narrow scan), and the replicated dim adds
(n_heavy × n_salts) rows — both negligible against the skewed shuffle
it removes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import lifecycle


@lifecycle.operator(release=False)
def heavy_keys(
    fact: DataFrame, key: str, heat_factor: float = 4.0
) -> DataFrame:
    """Join keys whose fact-side row count exceeds ``heat_factor`` × the
    uniform-key average. Exact integer arithmetic → the heavy set is
    identical on any partitioning. Output: one column, ``key``."""
    # The per-key count relation is referenced by both the totals
    # aggregate and the heavy filter, and the heavy-key frame itself is
    # consumed by BOTH join sides — without a cache, Catalyst re-expands
    # every reference into its own fact scan+aggregate (r5 plan audit:
    # 5 fact scans for one salted join). Persisting the narrow
    # (key, count) relation pins detection to ONE fact pass; it spills
    # to disk via the default MEMORY_AND_DISK level if the key domain
    # outgrows executor storage. The joined result is corpus-scale, so
    # the cache is never checkpoint-released here: it goes out on the
    # lifecycle handle (through ``salted_join`` too), and a long-lived
    # caller frees it with ``lifecycle.release`` once the join has
    # materialized (ADVICE r5).
    counts = lifecycle.persist(
        fact.groupBy(key).agg(F.count(F.lit(1)).alias("__cnt"))
    )
    totals = counts.agg(
        F.sum("__cnt").alias("__total"), F.count(F.lit(1)).alias("__nkeys")
    )
    heavy = (
        counts.crossJoin(F.broadcast(totals))
        # cnt > factor * total / nkeys, kept in exact integer form:
        # cnt * nkeys * 10 > factor*10 * total  (factor given to 0.1)
        .filter(
            F.col("__cnt") * F.col("__nkeys") * 10
            > F.lit(int(round(heat_factor * 10))) * F.col("__total")
        )
        .select(key)
    )
    return heavy


@lifecycle.operator(release=False)
def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
    heat_factor: float = 4.0,
    salt_on: str | Column | None = None,
    force_shuffle: bool = False,
) -> DataFrame:
    """Inner equi-join of ``fact`` and ``dim`` with hot-key salting.

    - ``salt_on``: fact column(s expression) hashed to pick the salt
      bucket for heavy keys (default: the fact key itself is NOT usable
      — every row of a hot key shares it — so callers pass a row-level
      column like a line number; falling back to a whole-row hash).
    - ``force_shuffle``: apply a SHUFFLE_HASH hint to the dim side so
      the salted exchange actually materializes in local tests (a dim
      under the broadcast threshold would otherwise broadcast, which
      needs no salting in the first place — at 100 TB the dim that
      motivates this operator never broadcasts).

    Returns the joined frame (all fact columns + all dim columns).
    """
    if salt_on is None:
        salt_src = F.xxhash64(*[F.col(c) for c in fact.columns])
    elif isinstance(salt_on, str):
        salt_src = F.xxhash64(F.col(salt_on))
    else:
        salt_src = F.xxhash64(salt_on)

    heavy = heavy_keys(fact, fact_key, heat_factor).withColumn("__heavy", F.lit(True))

    f = (
        fact.join(F.broadcast(heavy), fact_key, "left")
        .withColumn(
            "__salt",
            F.when(
                F.col("__heavy").isNotNull(),
                F.pmod(salt_src, F.lit(n_salts)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("__heavy")
    )
    d = (
        dim.join(
            F.broadcast(heavy.withColumnRenamed(fact_key, dim_key)),
            dim_key,
            "left",
        )
        .withColumn(
            "__salt",
            F.explode(
                F.when(
                    F.col("__heavy").isNotNull(),
                    F.sequence(F.lit(0), F.lit(n_salts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("__heavy")
    )
    if force_shuffle:
        d = d.hint("shuffle_hash")
    joined = f.join(
        d,
        (f[fact_key] == d[dim_key]) & (f["__salt"] == d["__salt"]),
    )
    return joined.drop(d["__salt"]).drop(f["__salt"])
