"""Continuous near-dup admission: a foreachBatch stream that maintains a
growing ACCEPTED corpus and flags each micro-batch's documents against
it — the streaming face of ``operators/dedup.prefix_jaccard_incremental``
(web-crawl ingestion: admit a page only if nothing sufficiently similar
was already admitted).

Semantics are FIRST-ARRIVER-WINS by processing order: a document is
rejected iff it near-duplicates (Jaccard ≥ t) something accepted in an
EARLIER batch. That order-dependence is inherent to continuous dedup
(the real-world contract) — within a batch, documents are admitted
together; the pytest pins behavior by fixing batch boundaries
(maxFilesPerTrigger=1) and comparing against a batch-by-batch fold of
the batch operator.

Replay-safety: each epoch writes its accepted slice and pair log under
``e{epoch}/`` (same epoch → same directory, overwrite), so a replayed
micro-batch cannot double-admit — the same snapshot-per-epoch idempotency
contract as ``streaming/merge_sink.py``.

Scale notes: the base side is re-read per epoch as parquet, but the
expensive side of the incremental join is proportional to the BATCH
(the base contributes its prefix index — in production a persisted,
bucketed table; see prefix_jaccard_incremental's docstring). The
accepted store only ever appends whole epoch directories.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import lifecycle
from ..operators.dedup import prefix_jaccard_incremental


def _accepted_dirs(base_dir: str, before_epoch: int | None = None) -> list[str]:
    dirs = glob.glob(os.path.join(base_dir, "e*"))
    if before_epoch is not None:
        dirs = [
            d for d in dirs
            if int(os.path.basename(d)[1:]) < before_epoch
        ]
    return sorted(dirs, key=lambda d: int(os.path.basename(d)[1:]))


def read_accepted(
    spark: SparkSession, work_dir: str, before_epoch: int | None = None
) -> DataFrame | None:
    """Union of committed epochs' accepted slices (None before the first
    epoch). ``before_epoch`` restricts to STRICTLY EARLIER epochs — the
    replay contract: a re-run epoch must see exactly the base state its
    first run saw, never its own (or a later epoch's) output."""
    dirs = _accepted_dirs(os.path.join(work_dir, "accepted"), before_epoch)
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def read_match_log(spark: SparkSession, work_dir: str) -> DataFrame | None:
    dirs = sorted(glob.glob(os.path.join(work_dir, "pairs", "e*")))
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def neardup_admission_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    work_dir: str,
    threshold: float = 0.5,
    n: int = 3,
) -> None:
    """One epoch of the admission pipeline (exposed for foreachBatch and
    for the deterministic batch-fold the tests replay)."""
    accepted_dir = os.path.join(work_dir, "accepted", f"e{epoch_id}")
    pairs_dir = os.path.join(work_dir, "pairs", f"e{epoch_id}")
    base = read_accepted(spark, work_dir, before_epoch=epoch_id)
    if base is None:
        batch_df.write.mode("overwrite").parquet(accepted_dir)
        return
    # the scope frees the persisted matches AND the shingle caches the
    # hand-over join merged into it
    with lifecycle.scope():
        matches = lifecycle.persist(
            prefix_jaccard_incremental(base, batch_df, threshold=threshold, n=n)
        )
        flagged = matches.select(F.col("incoming_id").alias("doc_id")).distinct()
        batch_df.join(flagged, "doc_id", "left_anti").write.mode(
            "overwrite"
        ).parquet(accepted_dir)
        matches.withColumn("epoch", F.lit(epoch_id)).write.mode(
            "overwrite"
        ).parquet(pairs_dir)


def streaming_neardup_admission(
    docs_stream: DataFrame,
    work_dir: str,
    threshold: float = 0.5,
    n: int = 3,
):
    """Wire the admission pipeline as a foreachBatch sink. Returns the
    started query; callers trigger(availableNow) + awaitTermination."""
    spark = docs_stream.sparkSession

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        neardup_admission_batch(
            spark, batch_df, int(epoch_id), work_dir, threshold, n
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
