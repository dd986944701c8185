"""Deduplication operators for training-data pipelines (driver extension
mandate): exact, MinHash+LSH near-dup, SimHash, and exact n-gram Jaccard.

Scale design:
- Exact dedup is a hash groupBy on the content key — one shuffle of
  (key, id) pairs, map-side combined.
- MinHash signatures are per-row array expressions (no shuffle); the LSH
  band join shuffles only (band_idx, band_hash, doc_id) triples —
  32 bytes/doc/band — never the documents themselves. Candidate pairs are
  then verified with exact Jaccard. Hot buckets (boilerplate shingles) are
  capped with an explicit, logged bound rather than exploding
  quadratically.
- SimHash is the one Python step (bit-vote needs numpy); it runs as an
  Arrow-batched ``mapInPandas`` over only (doc_id, text), and its banding
  join is pigeonhole-exact for the chosen radius.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import lifecycle
from ..functions.partitioning import ensure_parallelism
from .text import normalize_text_expr, shingle_hashes_expr, shingles_expr

# 32 permutations, 8 bands × 4 rows: catches Jaccard ≳ 0.5 with high
# probability while keeping the signature at 256 bytes/doc.
MINHASH_PERMS = 32
LSH_BANDS = 8
LSH_ROWS = MINHASH_PERMS // LSH_BANDS


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalized: bool = True,
) -> DataFrame:
    """Exact dedup: keep the minimum id per (normalized) content.

    groupBy on a content hash rather than a window over raw text: the
    shuffle key is the md5, so 100 TB of text never moves — only
    (md5, id) pairs do.
    """
    key = normalize_text_expr(F.col(text_col)) if normalized else F.col(text_col)
    return (
        df.select(F.md5(key).alias("content_key"), F.col(id_col))
        .groupBy("content_key")
        .agg(F.min(id_col).alias(id_col))
    )


def dedup_exact_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Exact dedup with a QUALITY keep-policy: per content group keep
    the highest-scoring copy (longest/cleanest, ties → min id) instead
    of the first-seen one — what production corpora actually do when
    near-identical pages differ in truncation or boilerplate.

    Same scale shape as ``dedup_exact``: one groupBy on the md5 content
    key, so only (md5, score, id) triples shuffle; the argmax travels
    as a max over a (score, -id)-ordered struct — a single map-side-
    combinable aggregate, no window over the raw rows.
    """
    key = normalize_text_expr(F.col(text_col))
    best = F.max(
        F.struct(
            F.col(score_col).alias("s"), (-F.col(id_col)).alias("neg_id")
        )
    )
    return (
        df.select(
            F.md5(key).alias("content_key"), F.col(id_col), F.col(score_col)
        )
        .groupBy("content_key")
        .agg(best.alias("b"), F.count(F.lit(1)).alias("n_copies"))
        .select(
            "content_key",
            (-F.col("b.neg_id")).alias(id_col),
            F.col("b.s").alias(score_col),
            "n_copies",
        )
    )


@lifecycle.operator(release=False)
def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    cache: bool = True,
    hashed: bool = False,
) -> DataFrame:
    """(id, distinct shingle array) — spread thin inputs across cores
    first (no-op when the scan already has splits). With ``hashed=True``
    the array holds 64-bit shingle hashes instead of strings — the form
    the dedup pipelines persist (8 bytes/shingle; Jaccard identical up
    to 2^-64 collisions).

    The persist sits BETWEEN the shingle projection and the non-empty
    filter: shingling is an interpreted higher-order expression, and
    letting Catalyst push the ``size(shingles) > 0`` predicate below the
    projection would re-evaluate the whole transform in the filter
    (measured ~8× slower). The cache is a materialization barrier.
    """
    expr = shingle_hashes_expr if hashed else shingles_expr
    projected = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), expr(F.col(text_col), n).alias("shingles")
    )
    if cache:
        projected = lifecycle.persist(projected)
    return projected.filter(F.size("shingles") > 0)


def minhash_mins(
    sh: DataFrame, id_col: str = "doc_id", perms: int = MINHASH_PERMS
) -> DataFrame:
    """Per-permutation minima as WIDE COLUMNS h0..h{perms-1}.

    Formulated as explode → hash aggregate with ``perms`` min() columns
    rather than nested array lambdas: Spark's higher-order functions
    (transform/aggregate) are CodegenFallback — interpreted per element —
    while min(xxhash64(...)) aggregates run inside whole-stage codegen.
    On 5k docs this is ~30× faster; at corpus scale it also gets map-side
    partial aggregation for free (the shuffle carries perms longs per doc
    per map task, not shingles).
    """
    exploded = sh.select(F.col(id_col), F.explode("shingles").alias("s"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"h{i}") for i in range(perms)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


@lifecycle.operator(release=False)
def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    perms: int = MINHASH_PERMS,
) -> DataFrame:
    """(id, shingles, signature array) — array form for tests/inspection;
    the pipeline itself stays on the wide columns."""
    sh = shingle_sets(df, text_col, id_col, n, hashed=True)
    mins = minhash_mins(sh, id_col, perms)
    return sh.join(mins, id_col).select(
        F.col(id_col),
        F.col("shingles"),
        F.array(*[f"h{i}" for i in range(perms)]).alias("signature"),
    )


def bucket_candidate_pairs(
    membership: DataFrame, bucket_cols: list[str], id_col: str, max_bucket: int
) -> DataFrame:
    """Distinct (id_a < id_b) pairs co-occurring in some bucket, with
    oversized buckets dropped — ONE shuffle of (bucket, id) rows.

    groupBy → sorted id array → pairwise expansion via
    ``posexplode + slice`` (both codegen'd array ops, no interpreted
    higher-order lambdas). The earlier size-filter formulation (count
    aggregate, join back, then a self equi-join) shuffled the membership
    relation three times on the same key and ran ~3× slower; here the
    per-bucket array is bounded by ``max_bucket`` ids (~8 KB at the
    default cap), pair expansion is executor-local, and the only other
    shuffle is the final ``distinct`` over the (small) pair list.
    """
    buckets = (
        membership.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pos = buckets.select(F.posexplode("ids").alias("_pos", "id_a"), "ids")
    return pos.select(
        "id_a",
        F.explode(F.slice("ids", F.col("_pos") + 2, F.size("ids"))).alias("id_b"),
    ).distinct()


def lsh_candidate_pairs(
    mins: DataFrame,
    id_col: str = "doc_id",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the minima columns, bucket, emit distinct candidate pairs.

    Band hashes are plain ``xxhash64(band_idx, h_i...h_j)`` column
    expressions over the wide minima — fully codegen'd, no array lambdas.

    ``max_bucket`` bounds quadratic blowup on degenerate buckets (e.g.
    every page sharing a boilerplate header): buckets above the cap are
    dropped — at 100 TB this is the difference between a band join and an
    accidental cross join.
    """
    banded = mins.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            F.lit(b), *[F.col(f"h{b * rows + j}") for j in range(rows)]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")
    return bucket_candidate_pairs(banded, ["band_idx", "band_hash"], id_col, max_bucket)


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct-shingle arrays (per-row, no shuffle)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


@lifecycle.operator(release=False)
def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash→LSH candidates → exact-Jaccard verification.

    Joins shingle sets back onto the (small) candidate pair list, so the
    expensive array intersection runs only on pairs that collided in some
    band — the standard near-dup pipeline shape for web-scale corpora.

    Shingle sets and minima are persisted AND materialized eagerly: the
    downstream plan references each from multiple branches that run
    concurrently within one job — lazily, every branch would recompute
    them before the cache fills. The minima are tiny (~256 bytes/doc);
    the shingle-HASH arrays (8 bytes/shingle ≈ 8 bytes/word) are smaller
    than the raw text but still corpus-scale, so they are handed over
    with the result (``functions/lifecycle.py``).
    """
    sh = shingle_sets(df, text_col, id_col, n, hashed=True)
    mins = lifecycle.persist(minhash_mins(sh, id_col))
    mins.count()
    pairs = lsh_candidate_pairs(mins, id_col, max_bucket=max_bucket)
    result = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard_expr(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return result


@lifecycle.operator(release=False)
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
    max_df: int | None = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs: candidates = pairs sharing ≥1
    *sufficiently rare* shingle, verified per-row with exact Jaccard.

    ``max_df`` caps candidate generation by shingle document frequency —
    the analog of ``lsh_candidate_pairs``' ``max_bucket``. A shingle
    shared by k documents emits O(k²) candidate pairs, so one
    boilerplate header shared corpus-wide turns the inverted-index join
    into an accidental cross join; dropping shingles with df > max_df
    bounds every bucket at max_df² pairs.

    Exactness bound: a true pair (Jaccard ≥ threshold) is missed only
    if EVERY shingle it shares is boilerplate (df > max_df). At
    threshold 0.5 a pair shares at least half of either document's
    shingles — for any document with even one rare shingle in the
    shared half, candidacy is preserved. ``max_df=None`` disables the
    cap (full ground truth).
    """
    sh = shingle_sets(df, text_col, id_col, n, hashed=True)
    # Set-group collapse (see _set_group_collapse): Jaccard is a pure
    # set measure, so pair generation and verification run once per
    # DISTINCT shingle set and the verified pairs expand back through
    # the copy-group membership — identical result, immune to the
    # duplicate-density quadratic.
    rep_sh, members = _set_group_collapse(sh, id_col)
    inverted = rep_sh.select(
        F.col("__rid").alias(id_col), F.explode("shingles").alias("shingle")
    )
    if max_df is not None:
        cands = bucket_candidate_pairs(inverted, ["shingle"], id_col, max_df)
    else:
        # Uncapped ground truth: keep the join formulation — a hot
        # shingle's per-bucket id ARRAY would be unbounded in one task,
        # while the join at least spreads the quadratic work.
        a = inverted.alias("a")
        b = inverted.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .distinct()
        )
    rep_pairs = (
        cands.join(
            rep_sh.select(
                F.col("__rid").alias("id_a"),
                F.col("shingles").alias("sh_a"),
                F.col("__g").alias("__ga"),
            ),
            "id_a",
        )
        .join(
            rep_sh.select(
                F.col("__rid").alias("id_b"),
                F.col("shingles").alias("sh_b"),
                F.col("__g").alias("__gb"),
            ),
            "id_b",
        )
        .select(
            "__ga",
            "__gb",
            F.round(jaccard_expr(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # symmetric measure: expansion needs no direction swap
    ma = members.select(F.col("__g").alias("__ga"), F.col(id_col).alias("__ida"))
    mb = members.select(F.col("__g").alias("__gb"), F.col(id_col).alias("__idb"))
    cross = (
        rep_pairs.join(ma, "__ga")
        .join(mb, "__gb")
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "jaccard",
        )
    )
    g1 = members.select("__g", F.col(id_col).alias("__ida"))
    g2 = members.select("__g", F.col(id_col).alias("__idb"))
    within = (
        g1.join(g2, "__g")
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    result = cross.unionByName(within)
    return result


@lifecycle.operator(release=False)
def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    family — Bayardo et al. WWW'07, Xiao et al. WWW'08): provably no
    false negatives, unlike ``ngram_jaccard_pairs``' df-cap heuristic,
    while still never joining on common shingles.

    Principle: order every document's shingles by global rarity
    (ascending document frequency, then hash). For J(x,y) ≥ t the
    overlap is ≥ ⌈t·|x|⌉, so at least one shared shingle must fall in
    the first |x| − ⌈t·|x|⌉ + 1 shingles of x — and symmetrically for y.
    Indexing ONLY those prefixes, candidates are pairs sharing a prefix
    shingle; everything else is provably below threshold. Boilerplate
    shingles (high df) sort to the END of every document, so they never
    enter the index — the hot-shingle cross join the df cap guards
    against cannot happen here BY CONSTRUCTION, at the cost of a df
    aggregation + per-doc rank window (both narrow, key-partitioned).

    ⌈t·size⌉ is computed in exact integer arithmetic (t as a rational)
    — a double ceil that lands one ulp high would silently shorten a
    prefix and break the no-false-negative guarantee.

    Verification is the same exact-Jaccard join as the inverted-index
    path, compared in integers (2·overlap vs union for t = a/b).
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator

    sh = shingle_sets(df, text_col, id_col, n, hashed=True)
    # The per-doc set size rides along from the array — one window
    # (the rank) instead of two (a count(*) over the same partition
    # would re-sort the exploded relation for a number the array
    # already knows).
    inverted = sh.select(
        id_col,
        F.size("shingles").alias("size"),
        F.explode("shingles").alias("shingle"),
    )
    dfreq = inverted.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = inverted.join(dfreq, "shingle").withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy("df", "shingle")
        ),
    )
    # prefix length = size - ceil(t*size) + 1; ceil(a/b) = -((-a) div b)
    alpha = (-F.floor(F.lit(-num) * F.col("size") / den)).cast("long")
    prefix = ranked.filter(F.col("rank") <= F.col("size") - alpha + 1).select(
        id_col, "shingle"
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    overlap = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - overlap
    result = (
        cands.join(sh.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}), "id_b")
        .filter(F.lit(den) * overlap >= F.lit(num) * union)
        .select(
            "id_a",
            "id_b",
            F.round(jaccard_expr(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
    )
    return result


@lifecycle.operator(release=False)
def prefix_jaccard_incremental(
    base: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Incremental EXACT near-dup: which INCOMING docs have Jaccard ≥ t
    against some BASE doc — the daily-ingestion shape. In production the
    base side's two artifacts are PERSISTED tables built once (the
    rarity-ordered prefix index and the shingle-hash store); each new
    slice only shingles ITSELF, ranks against the stored df table, and
    joins its prefixes into the index — the corpus is never re-shingled.

    Exactness (no false negatives): the prefix-filter lemma holds for
    ANY consistent global shingle order, so ordering by the BASE
    document frequency (unseen incoming shingles get df 0 — still a
    fixed function of the shingle) preserves the guarantee while
    keeping the persisted index keyed by base-side rarity. Same
    integer-exact ⌈t·size⌉ arithmetic as
    ``prefix_filtered_jaccard_pairs``.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator

    sh_b = shingle_sets(base, text_col, id_col, n, hashed=True)
    sh_i = shingle_sets(incoming, text_col, id_col, n, hashed=True)
    dfreq = (
        sh_b.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    def prefixes(sh: DataFrame, out_id: str) -> DataFrame:
        inv = sh.select(
            F.col(id_col).alias(out_id),
            F.size("shingles").alias("size"),
            F.explode("shingles").alias("shingle"),
        )
        ranked = (
            inv.join(dfreq, "shingle", "left")
            .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
            .withColumn(
                "rank",
                F.row_number().over(Window.partitionBy(out_id).orderBy("df", "shingle")),
            )
        )
        alpha = (-F.floor(F.lit(-num) * F.col("size") / den)).cast("long")
        return ranked.filter(F.col("rank") <= F.col("size") - alpha + 1).select(
            out_id, "shingle"
        )

    cands = (
        prefixes(sh_i, "incoming_id")
        .join(prefixes(sh_b, "base_id"), "shingle")
        .select("incoming_id", "base_id")
        .distinct()
    )
    overlap = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - overlap
    result = (
        cands.join(
            sh_i.withColumnsRenamed({id_col: "incoming_id", "shingles": "sh_a"}),
            "incoming_id",
        )
        .join(
            sh_b.withColumnsRenamed({id_col: "base_id", "shingles": "sh_b"}),
            "base_id",
        )
        .filter(F.lit(den) * overlap >= F.lit(num) * union)
        .select(
            "incoming_id",
            "base_id",
            F.round(jaccard_expr(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
    )
    return result


def dedup_incremental(
    base: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: which INCOMING docs already exist (by
    normalized content) in the BASE corpus — the shape of daily ingestion
    against a persisted fingerprint index. Only content keys join; at
    100 TB the base side is a pre-computed (key, id) index table, not a
    re-scan."""
    key = F.md5(normalize_text_expr(F.col(text_col)))
    base_keys = base.select(key.alias("content_key"), F.col(id_col).alias("base_id"))
    base_index = base_keys.groupBy("content_key").agg(F.min("base_id").alias("base_id"))
    incoming_keys = incoming.select(
        F.col(id_col).alias("incoming_id"), key.alias("content_key")
    )
    return incoming_keys.join(base_index, "content_key").select(
        "incoming_id", "base_id", "content_key"
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash via Arrow-batched mapInPandas (the bit-vote matrix
    wants numpy). Token hashes come from MD5 — deterministic across
    executors and runs, unlike Python's salted ``hash``."""
    import hashlib

    import numpy as np
    import pandas as pd

    id_field = df.schema[id_col].dataType.simpleString()
    df = ensure_parallelism(df.select(id_col, text_col))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_sig = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                tokens = str(text or "").lower().split()
                votes = np.zeros(64, dtype=np.int64)
                for tok in tokens:
                    digest = hashlib.md5(tok.encode("utf-8")).digest()[:8]
                    bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
                    votes += np.where(bits == 1, 1, -1)
                sig = 0
                for j in range(64):
                    if votes[j] > 0:
                        sig |= 1 << j
                if sig >= 1 << 63:  # wrap to signed 64-bit for LongType
                    sig -= 1 << 64
                out_ids.append(doc_id)
                out_sig.append(sig)
            yield pd.DataFrame(
                {id_col: out_ids, "simhash": pd.array(out_sig, dtype="int64")}
            )

    return df.select(id_col, text_col).mapInPandas(
        compute, schema=f"{id_col} {id_field}, simhash long"
    )


@lifecycle.operator(release=False)
def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dups within Hamming radius ≤ 3 via pigeonhole banding:
    split the 64-bit signature into 4×16-bit chunks — any pair within the
    radius must agree on at least one chunk, so the chunk equi-join is an
    exact candidate generator (no false negatives)."""
    # persist: the Pandas-UDF signature pass feeds both join sides
    sigs = lifecycle.persist(simhash_signatures(df, text_col, id_col))
    chunks = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk_val")
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    result = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return result


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    max_dist: int = 16,
    bucket_width: int = 32,
) -> DataFrame:
    """Near-duplicate pairs verified by EXACT Levenshtein distance ≤
    ``max_dist`` — the precision stage a dedup pipeline runs on
    candidate pairs when Jaccard/SimHash recall is not evidence enough
    (e.g. legal dedup of contracts, or measuring template drift).

    Candidate generation is length-bucket blocking, and it is PROVABLY
    lossless: any pair within edit distance d differs in length by at
    most d, so with ``bucket_width ≥ max_dist`` the partner lives in
    the same or an adjacent bucket. The left side explodes into its
    {b-1, b, b+1} buckets and equi-joins the right side's single bucket
    — each unordered pair meets on exactly one offset (no distinct
    needed). ``block_col`` bounds block membership the way a real
    corpus does (per-source, per-shard); the O(len²) Levenshtein DP
    runs only on pairs that survived both the block AND the
    length-window predicate.

    Cost at scale: blocks are (block_col × bucket) cells, so the join
    never goes quadratic in the corpus — only in a cell. A corpus with
    pathological length concentration should lower ``bucket_width``
    (more cells, same exactness bound as long as it stays ≥ max_dist).

    Output: (id_a, id_b, dist), id_a < id_b, dist ≤ max_dist.
    """
    if bucket_width < max_dist:
        raise ValueError(
            f"bucket_width ({bucket_width}) must be >= max_dist "
            f"({max_dist}) or adjacent-bucket blocking loses pairs"
        )
    # ensure_parallelism: a single-file corpus scan would otherwise run
    # the whole blocked join (and every Levenshtein DP) as ONE task —
    # measured 220 s single-task vs ~2 s spread over the cores.
    base = ensure_parallelism(
        df.select(
            F.col(id_col),
            F.col(block_col).alias("__blk"),
            F.col(text_col).alias("__txt"),
            F.floor(F.length(text_col) / bucket_width).alias("__b"),
            F.length(text_col).alias("__len"),
        )
    )
    left = base.select(
        "*", F.explode(F.array(F.col("__b") - 1, F.col("__b"), F.col("__b") + 1)).alias("__jb")
    )
    a, b = left.alias("a"), base.alias("b")
    # BANDED DP: levenshtein with a threshold is O(len·d), not O(len²)
    # — it returns -1 the moment the band proves dist > max_dist, which
    # on real corpora is almost every candidate pair. The exact
    # distance is still produced for every surviving (≤ max_dist) pair,
    # so results are identical to the unbanded form the oracle runs.
    dist = F.levenshtein(F.col("a.__txt"), F.col("b.__txt"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.__jb") == F.col("b.__b"))
            & (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.abs(F.col("a.__len") - F.col("b.__len"))
                <= F.lit(max_dist)
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def _set_group_collapse(sh: DataFrame, id_col: str):
    """Collapse shingle-set-identical documents to one representative:
    returns (rep_sh: (__g, __rid, shingles) one row per DISTINCT set,
    members: (__g, id) full membership). Set-level measures (Jaccard,
    containment) are invariant within a group, so pair pipelines run on
    rep_sh and expand results through members afterwards — identical
    output, ~(copy multiplicity)^2 less pair-generation work on
    duplicate-dense corpora (measured 116 s -> 3.5 s on the x10-
    duplicated probe SF)."""
    grouped = sh.select(
        F.col(id_col),
        F.col("shingles"),
        F.xxhash64(F.sort_array("shingles")).alias("__g"),
    )
    # PERSISTED (r13): rep_sh feeds THREE consumers (the inverted index
    # and both sides of the verification join) and members FOUR (cross
    # expansion a/b + within-group a/b). Unpersisted, every consumer
    # re-ran the xxhash64(sort_array(shingles)) pass over the whole
    # shingle cache — profiled at sf0.1 as three identical 3-6
    # task-second broadcast-future stages per query (guide §2.4: don't
    # recompute what one pass already knows). Both are freed with the
    # caller's scope; the block-manager's per-block locking dedupes the
    # concurrent broadcast-future computations of the same cached
    # partition.
    members = lifecycle.persist(grouped.select("__g", F.col(id_col)))
    rep_sh = (
        grouped.groupBy("__g")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("shingles").alias("sh"))
            ).alias("m")
        )
        .select("__g", F.col("m.i").alias("__rid"), F.col("m.sh").alias("shingles"))
        .transform(lifecycle.persist)
    )
    return rep_sh, members


@lifecycle.operator(release=False)
def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
    max_df: int | None = 1000,
) -> DataFrame:
    """Directional CONTAINMENT near-dup pairs: C(A→B) = |A∩B| / |A| —
    the asymmetric overlap measure that catches quotes, excerpts, and
    wrapper pages that Jaccard misses (a 100-shingle doc embedded inside
    a 10,000-shingle page has Jaccard ≈ 0.01 but containment 1.0).
    The dedup policy it feeds: drop the CONTAINED side, keep the
    superset document.

    Same inverted-index candidate machinery as ``ngram_jaccard_pairs``
    (shared-rare-shingle join, ``max_df`` boilerplate cap with the same
    exactness bound — a true pair at threshold t shares ≥ t·|smaller
    side| shingles, so it is missed only if EVERY shared shingle is
    corpus-boilerplate). Verification is per-row array intersection on
    the candidate pair list only.

    Output: (id_a, id_b, containment_ab, containment_ba) with id_a <
    id_b, kept when EITHER direction reaches ``threshold``;
    containment_ab = |A∩B|/|A| (how much of A lives inside B).
    """
    sh = shingle_sets(df, text_col, id_col, n, hashed=True)
    # --- set-group collapse -------------------------------------------
    # Containment depends ONLY on the shingle SET, so documents with
    # identical sets (exact copies, whitespace variants) are
    # interchangeable. On duplicate-dense corpora the naive inverted
    # index emits every copy-pair once PER SHARED SHINGLE — a group of
    # k copies with m shingles emits k(k-1)/2 x m rows before the
    # distinct (measured 116 s at the x10-duplicated probe SF). Collapse
    # each set-group to its min-id representative first: pair
    # generation and verification run on DISTINCT sets, and the result
    # expands back through the group membership afterwards — provably
    # the same pair list (same sets => same intersections => same
    # rounded containments), ~(copy multiplicity)^2 less work.
    rep_sh, members = _set_group_collapse(sh, id_col)

    inverted = rep_sh.select(
        F.col("__rid").alias(id_col), F.explode("shingles").alias("shingle")
    )
    if max_df is not None:
        cands = bucket_candidate_pairs(inverted, ["shingle"], id_col, max_df)
    else:
        a = inverted.alias("a")
        b = inverted.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .distinct()
        )
    sets = rep_sh.select(F.col("__rid"), F.col("shingles"), F.col("__g"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    c_ab = F.round(inter / F.size("sh_a"), 6)
    c_ba = F.round(inter / F.size("sh_b"), 6)
    rep_pairs = (
        cands.join(
            sets.select(
                F.col("__rid").alias("id_a"),
                F.col("shingles").alias("sh_a"),
                F.col("__g").alias("__ga"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("__rid").alias("id_b"),
                F.col("shingles").alias("sh_b"),
                F.col("__g").alias("__gb"),
            ),
            "id_b",
        )
        .select(
            "__ga",
            "__gb",
            c_ab.alias("c_ab"),
            c_ba.alias("c_ba"),
        )
        .filter((F.col("c_ab") >= threshold) | (F.col("c_ba") >= threshold))
    )
    # Cross-group expansion: every (member of A-group, member of B-group)
    # combo inherits the representative pair's containments; the pair is
    # re-ordered by id, swapping the directional values when needed.
    ma = members.select(F.col("__g").alias("__ga"), F.col(id_col).alias("__ida"))
    mb = members.select(F.col("__g").alias("__gb"), F.col(id_col).alias("__idb"))
    cross = (
        rep_pairs.join(ma, "__ga")
        .join(mb, "__gb")
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            F.when(F.col("__ida") < F.col("__idb"), F.col("c_ab"))
            .otherwise(F.col("c_ba"))
            .alias("containment_ab"),
            F.when(F.col("__ida") < F.col("__idb"), F.col("c_ba"))
            .otherwise(F.col("c_ab"))
            .alias("containment_ba"),
        )
    )
    # Within-group pairs: identical sets contain each other fully.
    g1 = members.select("__g", F.col(id_col).alias("__ida"))
    g2 = members.select("__g", F.col(id_col).alias("__idb"))
    within = (
        g1.join(g2, "__g")
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.lit(1.0).alias("containment_ab"),
            F.lit(1.0).alias("containment_ba"),
        )
    )
    result = cross.unionByName(within)
    return result
